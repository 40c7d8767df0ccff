"""Unit tests: as-of join, range join, IVF ANN recall, tf-idf."""

import datetime as dt

from pyspark.sql import functions as F

from task_on_dataframes_spark.operators.joins import asof_join, range_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),
            (2, 10, _ts("2024-01-01 12:00:00")),
            (3, 20, _ts("2024-01-01 09:00:00")),  # no prior right row
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 09:30:00"), 100.0),
            (10, _ts("2024-01-01 10:00:00"), 200.0),  # ties left ts: <= wins
            (10, _ts("2024-01-01 11:00:00"), 300.0),
            (20, _ts("2024-01-01 09:30:00"), 999.0),  # after left's ts
        ],
        "user_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: r["asof_value"]
        for r in asof_join(
            left, right, on=["user_id"], left_ts="ts", right_cols=["value"]
        ).collect()
    }
    assert out == {1: 200.0, 2: 300.0, 3: None}


def test_asof_join_tiebreak_on_equal_right_ts(spark):
    left = spark.createDataFrame(
        [(1, 5, _ts("2024-01-01 10:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (5, _ts("2024-01-01 09:00:00"), 7, 70.0),
            (5, _ts("2024-01-01 09:00:00"), 9, 90.0),
        ],
        "user_id long, ts timestamp, pid long, value double",
    )
    row = asof_join(
        left, right, on=["user_id"], left_ts="ts",
        right_cols=["pid", "value"], tiebreak="pid",
    ).collect()[0]
    assert (row["asof_pid"], row["asof_value"]) == (9, 90.0)


def test_asof_join_null_payload_keeps_row_consistency(spark):
    # matched row's NULL must not be back-filled from an older row
    left = spark.createDataFrame(
        [(1, 5, _ts("2024-01-01 10:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (5, _ts("2024-01-01 08:00:00"), 1, 10.0),
            (5, _ts("2024-01-01 09:00:00"), 2, None),
        ],
        "user_id long, ts timestamp, pid long, value double",
    )
    row = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_cols=["pid", "value"]
    ).collect()[0]
    assert row["asof_pid"] == 2
    assert row["asof_value"] is None


def test_range_join_half_open_intervals(spark):
    big = spark.createDataFrame([(0.0,), (9.99,), (10.0,), (99.0,)], "v double")
    buckets = spark.createDataFrame(
        [(0.0, 10.0, "a"), (10.0, 100.0, "b")], "lo double, hi double, label string"
    )
    out = {
        r["v"]: r["label"] for r in range_join(big, buckets, "v").collect()
    }
    assert out == {0.0: "a", 9.99: "a", 10.0: "b", 99.0: "b"}


def test_ivf_recall_against_brute_force(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, q, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_ann_topk(emb, q, k=10, n_centroids=8, n_probe=4).collect()
    }
    assert len(approx) == 50  # k x queries, deterministic size
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_pack_sequences_is_partitioning_invariant(spark):
    """The distributed prefix sum must yield identical pack assignments
    at any partition count (offsets telescope across boundaries)."""
    from task_on_dataframes_spark.operators.text import pack_sequences

    rows = [(i // 7, i % 7, 10 + (i % 23)) for i in range(500)]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, n_tokens long"
    )
    def packs(p):
        return {
            (r["doc_id"], r["chunk_id"]): r["pack_id"]
            for r in pack_sequences(
                chunks, ["doc_id", "chunk_id"], "n_tokens",
                budget=256, partitions=p,
            ).collect()
        }

    p1, p4, p13 = packs(1), packs(4), packs(13)
    assert p1 == p4 == p13
    # budget respected: each pack's chunks START inside its window
    totals = {}
    for key in sorted(p1):
        totals.setdefault(p1[key], 0)
    assert min(p1.values()) == 0 and len(set(p1.values())) > 1


def test_chunks_reassemble_to_original_tokens(spark):
    """Chunking invariant: concatenating a doc's chunks in chunk_id
    order reproduces the original token sequence, and every chunk but
    the last is full."""
    from task_on_dataframes_spark.operators.text import chunk_text

    texts = [
        ("a " * 130).strip(),       # 130 tokens -> 64 + 64 + 2
        "one two three",            # shorter than a chunk
        ("w " * 64).strip(),        # exactly one chunk
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = chunk_text(docs, "doc_id", "text", chunk_tokens=64).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_id"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        rows = by_doc[i]
        assert " ".join(r["chunk"] for r in rows) == t
        assert all(r["n_tokens"] == 64 for r in rows[:-1])
        assert sum(r["n_tokens"] for r in rows) == len(t.split())


def test_tfidf_prefers_rare_terms(spark):
    from task_on_dataframes_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common rare1"),
            (2, "common common rare2"),
            (3, "common common common"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=1)
    top = {r["doc_id"]: r["token"] for r in out.collect()}
    # 'common' appears in every doc -> idf = ln(1) = 0
    assert top[1] == "rare1" and top[2] == "rare2"


def test_upsert_semantics_and_plan(spark):
    from task_on_dataframes_spark.operators.joins import upsert
    import re as _re

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, val double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (9, "new", 90.0)], "k long, name string, val double"
    )
    out = {r["k"]: (r["name"], r["val"]) for r in upsert(base, updates, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 9: ("new", 90.0)}
    # the base side must not shuffle: anti-join against broadcast keys
    plan = upsert(base, updates, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    # schema mismatch is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        upsert(base, updates.drop("val"), ["k"])
