"""Sources/sinks, result cache, browse codec, and streaming tests."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def test_glob_and_whole_file_sources(spark, tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("hello world")
    (d / "b.txt").write_text("line one\nline two")
    from task_on_dataframes_spark.sources import glob_source, whole_file_text

    paths = glob_source(spark, str(d / "*.txt"))
    assert paths.count() == 2
    texts = whole_file_text(spark, str(d / "*.txt"))
    rows = {os.path.basename(r["path"]): r["text"] for r in texts.collect()}
    assert rows["a.txt"] == "hello world"
    assert "line two" in rows["b.txt"]


def test_csv_roundtrip_and_literal(spark, tmp_path):
    from task_on_dataframes_spark.sources import (
        csv_sink,
        csv_source,
        literal_source,
        schema_peek,
    )

    df = literal_source(spark, [(1, "x"), (2, "y")], "id long, name string")
    out = str(tmp_path / "out_csv")
    csv_sink(df, out)
    back = csv_source(spark, out)
    assert sorted([(r["id"], r["name"]) for r in back.collect()]) == [
        (1, "x"),
        (2, "y"),
    ]
    assert schema_peek(spark, out, fmt="csv") == ["id", "name"]


def test_events_reader_retries_only_the_nanos_layout(spark, tmp_path):
    """``read_events`` sets ``nanosAsLong`` only when Spark rejects a
    TIMESTAMP(NANOS) column; any other error (here a missing path)
    propagates with the conf at its prior value."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from task_on_dataframes_spark.sources.readers import read_events

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf)
    try:
        with pytest.raises(AnalysisException):
            read_events(spark, str(tmp_path / "missing.parquet"))
        assert spark.conf.get(conf) == old

        path = str(tmp_path / "nanos.parquet")
        nanos = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
        pq.write_table(pa.table({"ts": nanos}), path)
        ev = read_events(spark, path)
        assert spark.conf.get(conf) == "true"
        assert ev.selectExpr("unix_micros(ts)").first()[0] == 1_700_000_000_123_456
    finally:
        spark.conf.set(conf, old)


def test_result_cache_roundtrip(spark, sf_dir, tmp_path):
    from task_on_dataframes_spark.cache import ResultCache, plan_key

    cache = ResultCache(root=str(tmp_path / "cache"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").count()
    key = plan_key([], ["l_returnflag", "count"])
    assert cache.status(key) == "missing"
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return agg

    schema = cache.get_or_compute(spark, key, compute)
    assert cache.status(key) == "done"
    first = cache.load(spark, key)
    assert cache.get_or_compute(spark, key, compute) == schema == first.schema
    second = cache.load(spark, key)
    assert calls["n"] == 1, "second call must hit the cache"
    assert sorted(map(tuple, first.collect())) == sorted(
        map(tuple, second.collect())
    )


def test_browse_state_url_roundtrip(spark, sf_dir):
    import task_on_dataframes_spark as tada
    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.browse import BrowseState
    from task_on_dataframes_spark.plans.solve import find_path

    registry = register_document_tasks(spark, sf_dir)
    path = find_path([], [["docs.text.clean_tokens.top90"]], registry=registry)
    actions = [a for a, _ in path if a]
    st = BrowseState(files=["documents.parquet"], actions=actions, registry=registry)
    q = st.to_url_q()
    st2 = BrowseState.from_url_q(q, registry=registry)
    assert st2.files == st.files
    assert [a.Task for a in st2.actions] == [a.Task for a in actions]
    assert st2.actions == actions
    # replaying the decoded actions reaches the same abstract state
    s1 = st.abstract_state([])
    s2 = st2.abstract_state([])
    assert s1 == s2
    # lookahead lists legal next actions
    more = st2.further_actions([])
    assert isinstance(more, list)


def test_streaming_hourly_counts_matches_batch(spark, tmp_path):
    """availableNow drain of the windowed stream == batch aggregation."""
    from task_on_dataframes_spark.streaming import (
        events_stream,
        hourly_counts_stream,
        run_available_now,
    )

    src = "/root/testdata/sf0.001"
    stream = hourly_counts_stream(events_stream(spark, f"{src}/events.parquet"))
    run_available_now(stream, "hourly_mem", str(tmp_path / "ckpt1"), output_mode="complete")
    got = spark.sql(
        "SELECT hour, event_type, n, sum_value FROM hourly_mem"
    ).collect()

    import __spark_entry__ as entrymod

    want = entrymod.queries()["ev_hourly_agg"](spark, src).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_streaming_sliding_counts_matches_batch(spark, tmp_path):
    from task_on_dataframes_spark.streaming import (
        events_stream,
        run_available_now,
        sliding_counts_stream,
    )

    src = "/root/testdata/sf0.001"
    stream = sliding_counts_stream(events_stream(spark, f"{src}/events.parquet"))
    run_available_now(stream, "sliding_mem", str(tmp_path / "ckpt3"), output_mode="complete")
    got = spark.sql(
        "SELECT win_start, event_type, n, sum_value FROM sliding_mem"
    ).collect()

    import __spark_entry__ as entrymod

    want = entrymod.queries()["ev_sliding_agg"](spark, src).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_streaming_sessionize_runs_stateful(spark, tmp_path):
    from task_on_dataframes_spark.streaming import (
        events_stream,
        run_available_now,
        sessionize_stream,
    )

    src = "/root/testdata/sf0.001"
    stream = sessionize_stream(events_stream(spark, f"{src}/events.parquet"))
    run_available_now(stream, "session_mem", str(tmp_path / "ckpt2"), output_mode="append")
    got = spark.sql("SELECT * FROM session_mem")
    # closed sessions only (open ones wait for the watermark) — compare
    # against the batch gaps-and-islands equivalent as a superset check
    assert got.columns == [
        "user_id",
        "session_start",
        "n_events",
        "session_value",
    ]
    n_closed = got.count()
    import __spark_entry__ as entrymod

    batch = entrymod.queries()["ev_sessionize"](spark, src)
    n_batch = batch.count()
    assert 0 < n_closed <= n_batch
    # prefix parity: every CLOSED stream session matches a batch twin
    # session on (user, event count, cent-rounded value) — the batch
    # twin keys sessions by sequence number (no start ts) and sums in
    # decimal where the state fn sums in float, so the 4th decimal can
    # legitimately differ; boundaries and counts cannot
    stream_rows = {
        (r["user_id"], r["n_events"], round(r["session_value"], 2))
        for r in got.collect()
    }
    batch_rows = {
        (r["user_id"], r["n_events"], round(r["session_value"], 2))
        for r in batch.collect()
    }
    assert stream_rows <= batch_rows, stream_rows - batch_rows


def test_stream_static_enrichment_matches_batch_join(spark, tmp_path):
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.streaming import (
        enrich_stream,
        events_stream,
        run_available_now,
    )

    src = "/root/testdata/sf0.001"
    dim = spark.range(0, 2000).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("cohort")
    )
    stream = enrich_stream(
        events_stream(spark, f"{src}/events.parquet"), dim, on="user_id"
    ).select("event_id", "user_id", "cohort")
    q = (
        stream.writeStream.format("memory")
        .queryName("enriched_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM enriched_mem").collect()

    from task_on_dataframes_spark.registry.common import _events

    batch = (
        _events(spark, src)
        .join(F.broadcast(dim), on="user_id", how="left")
        .select("event_id", "user_id", "cohort")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_stream_dedup_bounded_state(spark, tmp_path):
    from task_on_dataframes_spark.streaming import dedup_stream, events_stream

    src = "/root/testdata/sf0.001"
    stream = dedup_stream(
        events_stream(spark, f"{src}/events.parquet"), ["user_id", "event_type"]
    ).select("user_id", "event_type")
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt5"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM dedup_mem")
    n = got.count()
    distinct_keys = got.distinct().count()
    assert n == distinct_keys  # no duplicate (user, type) pairs emitted

    from task_on_dataframes_spark.registry.common import _events

    n_batch = (
        _events(spark, src)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # the single availableNow drain keeps dedup state for the whole
    # run, so the stream result equals the batch distinct; in a live
    # stream, only duplicates within the watermark horizon are dropped
    assert n == n_batch


def test_orc_and_jsonl_roundtrip(spark, tmp_path):
    from task_on_dataframes_spark.sources import jsonl_sink, orc_sink

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double"
    )
    orc = str(tmp_path / "o.orc")
    orc_sink(df, orc)
    back = spark.read.orc(orc)
    assert sorted(r["id"] for r in back.collect()) == [1, 2]
    assert back.schema == df.schema

    jl = str(tmp_path / "d.jsonl")
    jsonl_sink(df, jl)
    back2 = spark.read.schema(df.schema).json(jl)
    assert sorted((r["id"], r["s"], r["v"]) for r in back2.collect()) == [
        (1, "a", 1.5),
        (2, "b", 2.5),
    ]


def test_partitioned_sink_prunes_on_read(spark, tmp_path):
    from task_on_dataframes_spark.sources import partitioned_parquet_sink

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(10)],
        "id long, lang string",
    )
    out = str(tmp_path / "part")
    partitioned_parquet_sink(df, out, ["lang"])
    got = spark.read.parquet(out).filter("lang = 'en'")
    assert got.count() == 5
    # pruning: only the lang=en directory is scanned
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join (click -> purchase within 1h per
    user) drains to the same pair set as the batch join."""
    from pyspark.sql import functions as F

    from task_on_dataframes_spark.streaming import (
        events_stream,
        run_available_now,
        stream_stream_window_join,
    )

    src = "/root/testdata/sf0.001"
    ev = events_stream(spark, f"{src}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    joined = stream_stream_window_join(clicks, buys, within="1 hour")
    run_available_now(
        joined, "ss_join_mem", str(tmp_path / "ck_ss"), output_mode="append"
    )
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT * FROM ss_join_mem").collect()
    }

    from task_on_dataframes_spark.registry.common import _events

    bev = _events(spark, src)
    bc = bev.filter("event_type = 'click'").selectExpr(
        "user_id AS l_key", "event_id AS l_event_id", "ts AS l_ts"
    )
    bp = bev.filter("event_type = 'purchase'").selectExpr(
        "user_id AS r_key", "event_id AS r_event_id", "ts AS r_ts"
    )
    want = {
        (r["l_event_id"], r["r_event_id"])
        for r in bc.join(
            bp,
            F.expr(
                "l_key = r_key AND r_ts > l_ts "
                "AND r_ts <= l_ts + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_watermark_drops_late_event_in_append_mode(spark, tmp_path):
    """The watermark contract DEMONSTRATED, not just inherited: an
    event arriving after the watermark passed its window is dropped
    from the append-mode stream while the batch twin still counts it.
    (The drain==batch equivalence tests above hold because the shipped
    corpus arrives in one file; this test stages genuinely late data
    in a second micro-batch.)"""
    import datetime as dt
    import os
    import time

    from task_on_dataframes_spark.streaming import (
        events_stream,
        hourly_counts_stream,
        run_available_now,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    on_time = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(minutes=5), 1, "view", 1.0, None),
            (2, t0 + dt.timedelta(minutes=10), 2, "view", 1.0, None),
            (3, t0 + dt.timedelta(minutes=20), 3, "view", 1.0, None),
            # clock advancer: pushes the watermark a day past the
            # 10:00 window once batch 1 commits
            (4, t0 + dt.timedelta(days=1), 4, "click", 1.0, None),
        ],
        schema,
    )
    # a second advancer batch sits between on-time and late data: Spark
    # drops a late row only after the row's window STATE is evicted,
    # and eviction happens at the end of the first batch that RUNS with
    # the advanced watermark — so the drop needs (advance, evict, late)
    # across three micro-batches, measured empirically and matching the
    # state-store semantics
    adv2 = spark.createDataFrame(
        [(9, t0 + dt.timedelta(days=1, minutes=1), 9, "click", 1.0, None)],
        schema,
    )
    late = spark.createDataFrame(
        [(5, t0 + dt.timedelta(minutes=15), 5, "view", 1.0, None)],
        schema,
    )
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    now = time.time()
    # flat parquet FILES (pyarrow), not Spark output dirs — the stream
    # source dir must contain files only (same as stage_with_sentinels)
    import pyarrow.parquet as pq

    for i, df in enumerate((on_time, adv2, late)):
        p = f"{src}/{i:02d}.parquet"
        pq.write_table(df.toArrow(), p)
        # FileStreamSource picks oldest-first by mtime: force on_time
        # before late (same trick as stage_with_sentinels)
        os.utime(p, (now + i, now + i))

    stream = hourly_counts_stream(
        events_stream(spark, src, max_files_per_trigger=1),
        watermark="10 minutes",
    )
    run_available_now(
        stream, "late_mem", str(tmp_path / "ckpt_late"), output_mode="append"
    )
    got = {
        (r["hour"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM late_mem").collect()
    }
    # the 10:00 window finalized with the 3 on-time views; the late
    # 10:15 event was behind the watermark and must NOT appear
    assert got[(t0, "view")] == 3
    # the batch twin (no watermark) counts all 4
    batch = (
        on_time.unionByName(adv2).unionByName(late)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .count()
        .collect()
    )
    bmap = {(r["hour"], r["event_type"]): r["count"] for r in batch}
    assert bmap[(t0, "view")] == 4


def test_index_maintain_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch re-run with the same
    batch_id after its side effects landed must not double-append
    index keys or duplicate match rows. Replay the WHOLE drain —
    delete the checkpoint and re-run over the same staged files with
    the same results dir; availableNow with maxFilesPerTrigger=1
    reassigns the same batch ids — and assert the results parquet,
    the committed generations, and the committed index row counts are
    all unchanged."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators.dedup import build_lsh_index
    from task_on_dataframes_spark.operators.index import (
        committed,
        read_committed,
    )
    from task_on_dataframes_spark.streaming.index import (
        index_maintain_stream,
        stage_wave_files,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the old "
        "stone bridge by the river every single morning without fail"
    )
    docs = spark.createDataFrame(
        [
            (100, base),
            (200, base.replace("lazy", "sleepy")),  # wave 1 near-dup
            (300, base.replace("lazy", "drowsy")),  # wave 2 near-dup
        ],
        ["doc_id", "text"],
    )
    keys_t, sets_t = build_lsh_index(
        spark, docs.filter(F.col("doc_id") == 100), "doc_id", "text",
        name_tag="t_replay",
    )
    src = stage_wave_files(
        spark, docs, [F.col("doc_id") == 200, F.col("doc_id") == 300]
    )
    results = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    first = {
        tuple(r)
        for r in index_maintain_stream(
            spark, src, keys_t, sets_t, results_dir=results,
            checkpoint=ck,
        ).collect()
    }
    assert first, "both waves should match doc 100's near-dup chain"
    snap_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(results, "**", "*.parquet"),
                           recursive=True)
    }
    gens = committed(spark, keys_t)
    assert len(gens) == 3  # the build and one generation per batch
    n_keys, n_sets = (t.count() for t in read_committed(spark, keys_t, sets_t))
    # simulate a post-crash replay: offsets lost, side effects kept
    shutil.rmtree(ck)
    replay = {
        tuple(r)
        for r in index_maintain_stream(
            spark, src, keys_t, sets_t, results_dir=results,
            checkpoint=str(tmp_path / "ck2"),
        ).collect()
    }
    assert replay == first
    after_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(results, "**", "*.parquet"),
                           recursive=True)
    }
    assert after_files == snap_files  # no rewrite, no duplicate files
    assert committed(spark, keys_t) == gens  # no double-append
    assert [t.count() for t in read_committed(spark, keys_t, sets_t)] == [
        n_keys, n_sets
    ]

def test_ann_maintain_stream_replay_is_idempotent(spark, tmp_path):
    """The IVF twin of the LSH replay test: drain two vector
    waves through probe-then-append, assert wave 2 can see wave 1
    (grown-index semantics), then replay the whole drain with a fresh
    checkpoint and assert results parquet, committed generations, and
    committed list-table row counts are unchanged — foreachBatch
    at-least-once made idempotent by the same per-batch overwrite and
    generation commit."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators.index import (
        committed,
        read_committed,
    )
    from task_on_dataframes_spark.operators.similarity import (
        build_ivf_index,
    )
    from task_on_dataframes_spark.streaming.index import (
        ann_maintain_stream,
        stage_wave_files,
    )

    rows = [
        (1, [1.0, 0.05, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.05, 0.0]),
        (4, [0.1, 0.9, 0.0, 0.0]),
        (20, [0.95, 0.08, 0.0, 0.0]),  # wave 1
        (30, [0.97, 0.06, 0.0, 0.0]),  # wave 2: nearest is 20
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents_t, lists_t = build_ivf_index(
        spark, emb.filter(F.col("vec_id") <= 4), "vec_id", "embedding",
        name_tag="t_sann_replay", n_centroids=2,
    )
    src = stage_wave_files(
        spark, emb, [F.col("vec_id") == 20, F.col("vec_id") == 30],
        id_col="vec_id",
    )
    results = str(tmp_path / "out")
    first = {
        tuple(r)
        for r in ann_maintain_stream(
            spark, src, cents_t, lists_t, results_dir=results,
            checkpoint=str(tmp_path / "ck"), k=3, n_probe=2,
        ).collect()
    }
    assert first
    # grown-index semantics: wave 2's neighbors include wave-1 vec 20
    assert any(q == 30 and v == 20 for q, v, _, _ in first)
    # wave 1 probed BEFORE its own append: no self-match, no wave-2 vec
    assert not any(q == 20 and v in (20, 30) for q, v, _, _ in first)
    snap_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(results, "**", "*.parquet"),
                           recursive=True)
    }
    gens = committed(spark, lists_t)
    assert len(gens) == 3  # the build and one generation per batch
    n_lists = read_committed(spark, lists_t)[0].count()
    shutil.rmtree(str(tmp_path / "ck"))
    replay = {
        tuple(r)
        for r in ann_maintain_stream(
            spark, src, cents_t, lists_t, results_dir=results,
            checkpoint=str(tmp_path / "ck2"), k=3, n_probe=2,
        ).collect()
    }
    assert replay == first
    after_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(results, "**", "*.parquet"),
                           recursive=True)
    }
    assert after_files == snap_files
    assert committed(spark, lists_t) == gens
    assert read_committed(spark, lists_t)[0].count() == n_lists


def test_index_maintain_stream_commit_failure_then_rerun(
    spark, tmp_path, monkeypatch
):
    """Fault injection on the drain's commit: the ALTER TABLE that
    commits batch 1's generation raises once, after its data writes.
    The drain fails; re-running it with a fresh checkpoint skips the
    committed batch 0, redoes batch 1, and ends with the results and
    the committed row counts of one clean drain."""
    import pytest

    from pyspark.sql import functions as F

    from task_on_dataframes_spark.operators import index
    from task_on_dataframes_spark.operators.dedup import build_lsh_index
    from task_on_dataframes_spark.streaming.index import (
        index_maintain_stream,
        stage_wave_files,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the old "
        "stone bridge by the river every single morning without fail"
    )
    docs = spark.createDataFrame(
        [
            (100, base),
            (200, base.replace("lazy", "sleepy")),
            (300, base.replace("lazy", "drowsy")),
        ],
        ["doc_id", "text"],
    )
    src = stage_wave_files(
        spark, docs, [F.col("doc_id") == 200, F.col("doc_id") == 300]
    )

    def drain(tag, ck):
        keys_t, sets_t = build_lsh_index(
            spark, docs.filter(F.col("doc_id") == 100), "doc_id", "text",
            name_tag=tag,
        )
        rows = index_maintain_stream(
            spark, src, keys_t, sets_t,
            results_dir=str(tmp_path / tag / "out"),
            checkpoint=str(tmp_path / tag / ck),
        ).collect()
        counts = [t.count() for t in index.read_committed(spark, keys_t, sets_t)]
        return {tuple(r) for r in rows}, counts, index.committed(spark, keys_t)

    clean_rows, clean_counts, clean_gens = drain("t_clean_drain", "ck")

    real_commit = index._commit
    calls = []

    def commit_fails_once(spark_, head, gens):
        calls.append(gens)
        if len(calls) == 3:  # build, batch 0, then batch 1's commit
            raise RuntimeError("injected commit failure")
        real_commit(spark_, head, gens)

    monkeypatch.setattr(index, "_commit", commit_fails_once)
    with pytest.raises(Exception, match="injected commit failure"):
        drain("t_fail_drain", "ck")
    keys_t = "tada_lshidx_keys_t_fail_drain"
    assert len(index.committed(spark, keys_t)) == 2  # build + batch 0
    rows, counts, gens = drain("t_fail_drain", "ck2")
    assert rows == clean_rows and rows
    assert counts == clean_counts
    assert len(gens) == len(clean_gens) == 3
