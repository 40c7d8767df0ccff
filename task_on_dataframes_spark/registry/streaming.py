"""Structured Streaming queries drained to completion.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from task_on_dataframes_spark.operators.hashing import (
    hash32_sql,
    perm_hash_sql,
)

from .common import _events, _t, query
from .dedup import _lsh_index_maintain_oracle


# the streaming twin is checked against the SAME SQL as the
# batch plan — decimal-exact sums make stream output
# bit-identical to batch, so a real streaming execution
# (watermark + window state) passes an exact oracle
@query(oracle=(
    "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS sum_value FROM events "
    "GROUP BY date_trunc('hour', ts), event_type"
))
def _stream_hourly_agg(spark, sf_dir):
    """Structured Streaming twin of ev_hourly_agg, driven to completion
    with an availableNow trigger into a memory sink and returned as a
    batch frame. The decimal-exact sums make stream output bit-identical
    to the batch plan, so the SAME DuckDB oracle checks a real
    streaming execution (watermark + tumbling window + state store)."""
    import tempfile
    import uuid

    from task_on_dataframes_spark.streaming.events import (
        events_stream,
        hourly_counts_stream,
        run_available_now,
    )

    name = "stream_hourly_" + uuid.uuid4().hex[:8]
    stream = hourly_counts_stream(
        events_stream(spark, f"{sf_dir}/events.parquet")
    )
    run_available_now(
        stream,
        name,
        checkpoint=tempfile.mkdtemp(prefix="tada_ck_"),
        output_mode="complete",
    )
    return spark.table(name)

# drained-to-completion stream (sentinel watermark advance)
# emits the full session set -> same oracle as the batch twin;
# session_value tolerance: the stream sums doubles sequentially
# in event order, the oracle decimal-exactly — both round to 4
# decimals, and the comparator re-rounds at 6, so they agree
@query(oracle=(
    "WITH g AS (SELECT user_id, event_id, value, ts, "
    "CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
    "OR epoch_us(ts) - lag(epoch_us(ts)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 "
    "THEN 1 ELSE 0 END AS new_sess FROM events), "
    "s AS (SELECT user_id, value, sum(new_sess) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq "
    "FROM g) "
    "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, "
    "count(*) AS n_events, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS session_value FROM s "
    "GROUP BY user_id, session_seq"
))
def _stream_sessionize(spark, sf_dir):
    """Custom stateful streaming sessionization (applyInPandasWithState,
    30-min gap, event-time timeout), drained to COMPLETION: two
    far-future sentinel micro-batches advance the watermark past every
    real session's timeout so open sessions at end-of-input are emitted
    too (see streaming.events.stage_with_sentinels). The result is the
    full session set, checked against the SAME gaps-and-islands DuckDB
    oracle as the batch twin ``ev_sessionize`` — session_seq is
    recovered per user by ordering emitted sessions on start time."""
    import tempfile
    import uuid

    from task_on_dataframes_spark.streaming.events import sessionize_drain_all

    name = "stream_sess_" + uuid.uuid4().hex[:8]
    sessions = sessionize_drain_all(
        spark,
        f"{sf_dir}/events.parquet",
        checkpoint=tempfile.mkdtemp(prefix="tada_ck_"),
        query_name=name,
    )
    w = Window.partitionBy("user_id").orderBy("session_start")
    return sessions.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_seq"),
        "n_events",
        "session_value",
    )

# single-drain streaming dedup keeps every key in state (the
# watermark never passes it), so the emitted keys == DISTINCT
@query(oracle=(
    "SELECT DISTINCT user_id, event_type FROM events"
))
def _stream_dedup(spark, sf_dir):
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type), drained with availableNow. In a single-drain
    run every key stays in state (the watermark never passes it), so
    the emitted key set equals batch DISTINCT — an exact oracle for the
    streaming dedup plumbing. At production throughput the same plan
    holds with bounded state: key state is evicted once the watermark
    passes (the unbounded-state trap of plain dropDuplicates on a
    stream does not exist here)."""
    import tempfile
    import uuid

    from task_on_dataframes_spark.streaming.events import (
        dedup_stream,
        events_stream,
        run_available_now,
    )

    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    st = dedup_stream(
        events_stream(spark, f"{sf_dir}/events.parquet"),
        ["user_id", "event_type"],
        watermark="96 hours",
    )
    run_available_now(
        st.select("user_id", "event_type"),
        name,
        checkpoint=tempfile.mkdtemp(prefix="tada_ck_"),
        output_mode="append",
    )
    return spark.table(name)

@query(oracle=(
    "SELECT user_id % 7 AS segment, event_type, count(*) AS n, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS sum_value FROM events GROUP BY 1, 2"
))
def _stream_enrich(spark, sf_dir):
    """Stream-static enrichment: the event stream joins a small static
    dimension (user -> segment) broadcast into every micro-batch — the
    static side never shuffles the stream, the canonical dimension-join
    shape for streaming pipelines. The drained sink is aggregated per
    (segment, event_type) with decimal-exact sums so a value oracle
    checks the whole stream-join path."""
    import tempfile
    import uuid

    from task_on_dataframes_spark.streaming.events import (
        enrich_stream,
        events_stream,
        run_available_now,
    )

    dim = (
        _events(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("segment", F.pmod(F.col("user_id"), F.lit(7)))
    )
    st = enrich_stream(
        events_stream(spark, f"{sf_dir}/events.parquet"), dim, on="user_id"
    )
    name = "stream_enrich_" + uuid.uuid4().hex[:8]
    run_available_now(
        st.select("segment", "event_type", "value"),
        name,
        checkpoint=tempfile.mkdtemp(prefix="tada_ck_"),
        output_mode="append",
    )
    return (
        spark.table(name)
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )

@query(oracle=(
    "SELECT date_trunc('hour', l.ts) AS view_hour, count(*) AS n_pairs "
    "FROM events l JOIN events r ON l.user_id = r.user_id "
    "AND l.event_type = 'view' AND r.event_type = 'purchase' "
    "AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR "
    "GROUP BY 1"
))
def _stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join: purchases within 1 hour
    AFTER a view by the same user. Both sides carry watermarks and the
    join has a time-range bound, so buffered state is evicted as the
    watermark advances — the configuration stream-stream joins REQUIRE
    for bounded state at any throughput. The drained pair stream is
    aggregated per view-hour and checked against the batch self-join
    oracle."""
    import tempfile
    import uuid

    from task_on_dataframes_spark.streaming.events import (
        events_stream,
        run_available_now,
        stream_stream_window_join,
    )

    src = f"{sf_dir}/events.parquet"
    views = events_stream(spark, src).filter(F.col("event_type") == "view")
    buys = events_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_window_join(
        views, buys, key="user_id", within="1 hour", watermark="96 hours"
    )
    name = "stream_ssj_" + uuid.uuid4().hex[:8]
    run_available_now(
        joined,
        name,
        checkpoint=tempfile.mkdtemp(prefix="tada_ck_"),
        output_mode="append",
    )
    return (
        spark.table(name)
        .groupBy(F.date_trunc("hour", F.col("l_ts")).alias("view_hour"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(oracle=(
    "WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type, "
    "count(*) AS n FROM events GROUP BY 1, 2), "
    "r AS (SELECT hour, event_type, n, row_number() OVER "
    "(PARTITION BY hour ORDER BY n DESC, event_type) AS rk FROM c) "
    "SELECT hour, event_type, n, CAST(rk AS INTEGER) AS rk "
    "FROM r WHERE rk <= 3"
))
def _stream_windowed_topk(spark, sf_dir):
    """Streaming-fed windowed top-k: the hourly counts come from a REAL
    Structured Streaming execution (watermark + tumbling window +
    state store, drained with availableNow), then the per-hour top-3
    rank runs over the drained result — the lambda-free pattern for
    "trending now" dashboards: the stream maintains the heavy windowed
    state incrementally; ranking is a bounded post-aggregation. Checked
    against the batch top-k oracle exactly."""
    import tempfile
    import uuid

    from pyspark.sql import Window

    from task_on_dataframes_spark.streaming.events import (
        events_stream,
        hourly_counts_stream,
        run_available_now,
    )

    name = "stream_topk_" + uuid.uuid4().hex[:8]
    stream = hourly_counts_stream(
        events_stream(spark, f"{sf_dir}/events.parquet")
    )
    run_available_now(
        stream,
        name,
        checkpoint=tempfile.mkdtemp(prefix="tada_ck_"),
        output_mode="complete",
    )
    agg = spark.table(name)
    w = Window.partitionBy("hour").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("hour", "event_type", "n", "rk")
    )


# the incremental 3-batch foreachBatch merge must equal the
# one-pass batch aggregate (batching-invariance IS the claim)
@query(oracle=(
    "SELECT user_id, count(*) AS n, "
    "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) "
    "AS sum_value FROM events GROUP BY 1"
))
def _stream_mv_upsert(spark, sf_dir):
    """Incrementally maintained materialized aggregate: the events file
    is re-staged as THREE parquet files and drained one file per
    micro-batch, each batch foreachBatch-merged (update-mode key
    replacement) into a parquet state table. Three real incremental
    merges; the oracle computes the same per-user aggregate in one
    batch pass — final state must be batching-invariant (DECIMAL sums
    make the values exact, update-mode cumulative semantics make the
    keys exact)."""
    import tempfile

    from task_on_dataframes_spark.streaming.events import (
        materialized_user_agg,
    )

    base = tempfile.mkdtemp(prefix="tada_mv_")
    src = base + "/src"
    _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).repartition(3).write.mode("overwrite").parquet(src)
    state = materialized_user_agg(
        spark,
        src,
        state_dir=base + "/state",
        checkpoint=base + "/ck",
        max_files_per_trigger=1,
    )
    return state.select(
        "user_id",
        "n",
        F.round(F.col("sum_value").cast("double"), 4).alias("sum_value"),
    )


#: count-min sketch cells of the oracle: 3 hash rows x 1024 buckets
_CMS_BUCKETS = " UNION ALL ".join(
    f"SELECT {r} AS r, {perm_hash_sql(hash32_sql('tok'), r)} % 1024 AS bk"
    " FROM items"
    for r in range(3)
)


@query(oracle=(
    "WITH items AS (SELECT CAST(user_id AS VARCHAR) AS tok "
    "FROM events), "
    f"b AS ({_CMS_BUCKETS}) "
    "SELECT r, bk, count(*) AS c FROM b GROUP BY r, bk"
))
def _stream_cms(spark, sf_dir):
    """Continuously maintained count-min sketch: events re-staged as
    three files, drained one per micro-batch, each batch's partial
    3x1024 counter table ADDED into parquet state by foreachBatch.
    Counters are purely additive, so the final state is identical for
    any batching — the oracle computes the same counters (portable md5
    hash family over user_id) in one batch pass. Bounded kilobytes of
    state against an unbounded stream: the continuous-profiling shape."""
    import tempfile

    from task_on_dataframes_spark.streaming.events import cms_stream

    base = tempfile.mkdtemp(prefix="tada_cms_")
    src = base + "/src"
    _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).repartition(3).write.mode("overwrite").parquet(src)
    state = cms_stream(
        spark,
        src,
        state_dir=base + "/state",
        checkpoint=base + "/ck",
        max_files_per_trigger=1,
    )
    return state.select("r", "bk", "c")

# the streaming drain reproduces the batch lifecycle exactly:
# same grown-index replay as dedup_index_maintain
@query(oracle=_lsh_index_maintain_oracle(16, 4, 0.5))
def _stream_index_maintain(spark, sf_dir):
    """Continuous-ingest index maintenance through a REAL Structured
    Streaming drain: the corpus slice (doc_id % 7 == 0) is
    indexed once, then two ingest waves (% 7 == 1, then % 7 == 2)
    arrive as ordered micro-batches; each batch is probed against the
    index AS OF the previous batch inside foreachBatch and then
    appended into it. Wave 2's matches therefore include wave-1
    documents — the same grown-index semantics as the batch
    dedup_index_maintain query, checked by the SAME value oracle, but
    produced by the streaming engine (sequential micro-batches;
    foreachBatch is at-least-once, made idempotent by the per-batch
    overwrite + committed generations in streaming/index.py).
    phase = doc_id % 7 recovers the wave tag. Output: (phase, doc_id,
    n_matches, max_jaccard)."""
    import tempfile
    import uuid

    from task_on_dataframes_spark.operators.dedup import build_lsh_index
    from task_on_dataframes_spark.streaming.index import (
        index_maintain_stream,
        stage_wave_files,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tag = "strm_" + uuid.uuid4().hex[:8]
    corpus = docs.filter(F.col("doc_id") % 7 == 0)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag=tag,
        num_perm=16, bands=4, shingle_n=2,
    )
    src = stage_wave_files(
        spark, docs,
        [F.col("doc_id") % 7 == 1, F.col("doc_id") % 7 == 2],
    )
    res = index_maintain_stream(
        spark, src, keys_t, sets_t,
        results_dir=tempfile.mkdtemp(prefix="tada_simres_") + "/out",
        checkpoint=tempfile.mkdtemp(prefix="tada_ck_"),
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
    )
    return res.select(
        (F.col("doc_id") % 7).cast("int").alias("phase"),
        "doc_id", "n_matches", "max_jaccard",
    )

def _stream_ann_maintain_oracle() -> str:
    """Grown-index replay for the STREAMING vector maintain (mirrors
    registry.streaming._stream_ann_maintain): the base split
    (vec_id % 10 not in (0, 5)) elects the centroids and the phase-1
    member set; phase 2 adds wave 1 (% 20 = 5) under the frozen
    quantizer. Each wave's ARRIVING vectors are the queries — wave 1
    (% 20 = 5) scores against the base members only (it is probed
    before its own append), wave 2 (% 20 = 15) against base + wave 1.
    Top-10 per query by cosine within its 4 probed lists."""
    phase_block = (
        "qa{p} AS (SELECT q.query_id, q.vq, cent.cid, "
        "round(list_dot_product(q.vq, cent.cv) / "
        "(sqrt(list_dot_product(q.vq, q.vq)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS qsim "
        "FROM q{p} q, cent), "
        "probes{p} AS (SELECT query_id, vq, cid FROM ("
        "SELECT query_id, vq, cid, row_number() OVER "
        "(PARTITION BY query_id ORDER BY qsim DESC, cid ASC) AS pr "
        "FROM qa{p}) WHERE pr <= 4), "
        "s{p} AS (SELECT pr.query_id, m.vec_id, "
        "round(list_dot_product(pr.vq, m.v) / "
        "(sqrt(list_dot_product(pr.vq, pr.vq)) * "
        "sqrt(list_dot_product(m.v, m.v))), 5) AS cos "
        "FROM member{p} m JOIN probes{p} pr ON m.cid = pr.cid "
        "WHERE pr.query_id != m.vec_id), "
        "r{p} AS (SELECT query_id, vec_id, cos, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) "
        "AS rank FROM s{p})"
    )
    member = (
        "assign{p} AS (SELECT u.vec_id, u.v, cent.cid, "
        "round(list_dot_product(u.v, cent.cv) / "
        "(sqrt(list_dot_product(u.v, u.v)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS sim "
        "FROM {src} u, cent), "
        "member{p} AS (SELECT vec_id, v, cid FROM ("
        "SELECT vec_id, v, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn "
        "FROM assign{p}) WHERE rn = 1)"
    )
    return (
        "WITH call AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "c AS (SELECT vec_id, v FROM call "
        "WHERE vec_id % 10 NOT IN (0, 5)), "
        "ch AS (SELECT vec_id, v, "
        "CAST(('0x' || substr(md5(CAST('ivf:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM c), "
        "cent AS (SELECT vec_id AS cid, v AS cv FROM ("
        "SELECT vec_id, v, row_number() OVER "
        "(PARTITION BY h % 16 ORDER BY h, vec_id) AS rn FROM ch) "
        "WHERE rn = 1), "
        "grown AS (SELECT vec_id, v FROM c UNION ALL "
        "SELECT vec_id, v FROM call WHERE vec_id % 20 = 5), "
        + member.format(p=1, src="c") + ", "
        + member.format(p=2, src="grown") + ", "
        "q1 AS (SELECT vec_id AS query_id, v AS vq FROM call "
        "WHERE vec_id % 20 = 5), "
        "q2 AS (SELECT vec_id AS query_id, v AS vq FROM call "
        "WHERE vec_id % 20 = 15), "
        + phase_block.format(p=1) + ", "
        + phase_block.format(p=2)
        + " SELECT CAST(1 AS INTEGER) AS phase, query_id, vec_id, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r1 WHERE rank <= 10 "
        "UNION ALL "
        "SELECT CAST(2 AS INTEGER) AS phase, query_id, vec_id, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r2 WHERE rank <= 10"
    )


@query(oracle=_stream_ann_maintain_oracle())
def _stream_ann_maintain(spark, sf_dir):
    """Continuous-ingest VECTOR index maintenance through a real
    Structured Streaming drain — the IVF twin of
    :func:`_stream_index_maintain`, completing the lifecycle matrix
    {LSH, IVF} x {batch, streaming}: the base corpus
    (vec_id % 10 not in (0, 5)) is indexed once, then two ingest
    waves of NEW vectors (% 20 == 5, then % 20 == 15) arrive as
    ordered micro-batches; each arriving vector is probed as a query
    against the index AS OF the previous batch (top-10 cosine within
    4 probed lists) and then the batch is appended under the frozen
    quantizer. Wave 2's neighbors can therefore include wave-1
    vectors — the same grown-index semantics as ann_index_maintain,
    produced by the streaming engine (foreachBatch at-least-once,
    made idempotent by the per-batch overwrite + committed generations
    in streaming/index.py). phase = 1 for % 20 == 5 arrivals, 2 for
    % 20 == 15. Output: (phase, query_id, vec_id, cos, rank)."""
    import tempfile
    import uuid

    from task_on_dataframes_spark.operators.similarity import (
        build_ivf_index,
    )
    from task_on_dataframes_spark.streaming.index import (
        ann_maintain_stream,
        stage_wave_files,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tag = "sann_" + uuid.uuid4().hex[:8]
    corpus = emb.filter(
        (F.col("vec_id") % 10 != 0) & (F.col("vec_id") % 10 != 5)
    )
    cents_t, lists_t = build_ivf_index(
        spark, corpus, "vec_id", "embedding", name_tag=tag,
        n_centroids=16,
    )
    src = stage_wave_files(
        spark, emb.filter(F.col("vec_id") % 10 == 5),
        [F.col("vec_id") % 20 == 5, F.col("vec_id") % 20 == 15],
        id_col="vec_id",
    )
    res = ann_maintain_stream(
        spark, src, cents_t, lists_t,
        results_dir=tempfile.mkdtemp(prefix="tada_sannres_") + "/out",
        checkpoint=tempfile.mkdtemp(prefix="tada_ck_"),
        k=10, n_probe=4,
    )
    return res.select(
        F.when(F.col("query_id") % 20 == 5, 1)
        .otherwise(2).cast("int").alias("phase"),
        "query_id", "vec_id", "cos", "rank",
    )
