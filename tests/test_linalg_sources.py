"""Embedding linalg, shard assignment, ORC/JSONL round-trips, and the
drained streaming coverage queries.

Numeric tests pin the distributed results to driver-side NumPy on the
same data; plan tests pin the scale shape (the Gram reduction must
shuffle partials, never the corpus).
"""

import numpy as np
import pytest

import __spark_entry__ as entrymod
from task_on_dataframes_spark.registry.common import _events


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    x = np.asarray([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    labels = np.asarray([r["label"] for r in rows])
    return x, labels


def test_gram_matches_numpy(spark, sf_dir, emb_np):
    x, _ = emb_np
    expect = x.T @ x
    got = entrymod.queries()["emb_gram"](spark, sf_dir).collect()
    assert len(got) == 64 * 65 // 2
    for r in got[:200]:
        assert abs(r["v"] - expect[r["i"] - 1, r["j"] - 1]) < 1e-5


def test_gram_shuffles_partials_not_corpus(spark, sf_dir):
    # exactly one Exchange: the d^2-key partial shuffle. A corpus-wide
    # shuffle (e.g. exploding to n x d^2 rows first) would add more.
    plan = _physical(entrymod.queries()["emb_gram"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan


def test_pca_top_matches_numpy_power_iteration(spark, sf_dir, emb_np):
    x, _ = emb_np
    g = np.round(x.T @ x, 6)
    v = np.ones(64)
    for _ in range(8):
        v = g @ v
        v = v / np.sqrt((v * v).sum())
    if v[int(np.argmax(np.abs(np.round(v, 12))))] < 0:
        v = -v
    got = {
        r["pos"]: r["loading"]
        for r in entrymod.queries()["emb_pca_top"](spark, sf_dir).collect()
    }
    assert len(got) == 64
    for i in range(64):
        assert abs(got[i + 1] - round(float(v[i]), 5)) < 1e-4


def test_label_centroids_match_numpy(spark, sf_dir, emb_np):
    x, labels = emb_np
    got = entrymod.queries()["emb_label_centroids"](spark, sf_dir).collect()
    for r in got[:200]:
        expect = x[labels == r["label"], r["pos"] - 1].mean()
        assert abs(r["mean"] - expect) < 1e-5


def test_shard_assign_is_deterministic_and_balanced(spark, sf_dir):
    q = entrymod.queries()["shard_assign"]
    a = sorted((r["shard"], r["n_docs"]) for r in q(spark, sf_dir).collect())
    b = sorted((r["shard"], r["n_docs"]) for r in q(spark, sf_dir).collect())
    assert a == b
    counts = [n for _, n in a]
    total = sum(counts)
    # md5-uniform: no shard should hold more than 4x its fair share
    assert max(counts) <= 4 * total / 16 + 1


def test_orc_and_jsonl_roundtrips_agree_with_parquet(spark, sf_dir):
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter("l_quantity <= 10")
        .count()
    )
    for name in ("s9_orc_roundtrip", "s10_jsonl_roundtrip"):
        rows = entrymod.queries()[name](spark, sf_dir).collect()
        assert sum(r["n"] for r in rows) == li, name


def test_stream_dedup_equals_batch_distinct(spark, sf_dir):
    got = entrymod.queries()["stream_dedup"](spark, sf_dir)
    expect = (
        _events(spark, sf_dir)
        .select("user_id", "event_type")
        .distinct()
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_stream_sessionize_drained_equals_batch(spark, sf_dir):
    """The sentinel drain must emit EVERY session — open-at-end-of-input
    ones included — bit-identical to the batch gaps-and-islands twin."""
    got = entrymod.queries()["stream_sessionize"](spark, sf_dir).collect()
    expect = entrymod.queries()["ev_sessionize"](spark, sf_dir).collect()
    key = lambda r: (r["user_id"], r["session_seq"])
    gs = {key(r): (r["n_events"], round(r["session_value"], 4)) for r in got}
    es = {key(r): (r["n_events"], round(r["session_value"], 4)) for r in expect}
    assert gs == es


def test_partition_prune_reaches_scan(spark, sf_dir):
    plan = _physical(
        entrymod.queries()["s11_partition_prune"](spark, sf_dir)
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan


def test_pagerank_rank_vector_broadcasts(spark, sf_dir):
    # DISTRIBUTED path (forced via local_edge_cap=0): the edge list may
    # shuffle; the rank vector must broadcast into every iteration
    # join, never trigger a sort-merge join
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 5, (i + 1) % 5, 1 + i % 3) for i in range(20)],
        "src int, dst int, w long",
    ).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    nodes = spark.createDataFrame([(i,) for i in range(5)], "node int")
    df = pagerank(edges, nodes, iters=3, local_edge_cap=0)
    plan = _physical(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_pagerank_local_path_matches_distributed(spark, sf_dir):
    # the dimension-bounded driver iteration must replay the
    # distributed chain bit-identically (same round-12/round-8 sync
    # points, HALF_UP)
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [
            (s, d, w)
            for i, (s, d, w) in enumerate(
                ((i * 7) % 9, (i * 5 + 2) % 9, 1 + (i % 4))
                for i in range(40)
            )
        ],
        "src int, dst int, w long",
    ).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    nodes = spark.createDataFrame([(i,) for i in range(9)], "node int")
    local = {
        r["node"]: r["rank"]
        for r in pagerank(edges, nodes, iters=5).collect()
    }
    dist = {
        r["node"]: r["rank"]
        for r in pagerank(edges, nodes, iters=5, local_edge_cap=0).collect()
    }
    assert local == dist


def test_heavy_hitters_within_misra_gries_bounds(spark, sf_dir):
    from task_on_dataframes_spark.operators.sketches import heavy_hitters

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(__import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n"))
        .collect()
    }
    n = sum(exact.values())
    got = {
        r["item"]: r["est_count"]
        for r in heavy_hitters(ev, "event_type", k=5).collect()
    }
    # every estimate is an undercount bounded by n/capacity per
    # partition pass; with capacity 256 >> 5 distinct types the
    # estimates here should be exact
    for item, est in got.items():
        assert est <= exact[item]
        assert est >= exact[item] - n / 256
    # the true majority item must surface
    assert max(exact, key=exact.get) in got


def test_curation_reason_consistent_and_exhaustive(spark, sf_dir):
    rows = entrymod.queries()["pipeline_c4_curation"](spark, sf_dir).collect()
    reasons = {
        "lang", "too_short", "low_stopword", "repetitive", "duplicate", "kept"
    }
    assert {r["reason"] for r in rows} <= reasons
    for r in rows:
        assert r["kept"] == (r["reason"] == "kept")
    # one verdict per document
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == docs


def test_pagerank_is_a_distribution_up_to_dangling_loss(spark, sf_dir):
    rows = entrymod.queries()["graph_pagerank"](spark, sf_dir).collect()
    total = sum(r["rank"] for r in rows)
    assert all(r["rank"] >= 0 for r in rows)
    # mass <= 1 (dangling nodes leak), and most mass retained
    assert 0.5 < total <= 1.0 + 1e-6


def test_registry_and_oracles_stay_in_sync():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(qs) == set(oracles), (
        set(qs) ^ set(oracles)
    )  # every query needs an oracle twin and vice versa
    assert len(qs) >= 140
