"""Streaming event pipelines.

* :func:`hourly_counts_stream` — tumbling-window counts with a
  watermark for late data: incremental state is bounded by (watermark
  horizon x groups), so it holds at any throughput.
* :func:`sessionize_stream` — per-user session aggregation with a
  30-minute inactivity gap via ``applyInPandasWithState``: the
  canonical custom stateful operator (the batch equivalent is the
  gaps-and-islands window query ``ev_sessionize``).

The stream reader derives its schema from a batch peek of the source
(file footers only) and normalizes ``ts`` with the same dtype branch
as the batch path — robust to the testdata's parquet timestamp layout
(TIMESTAMP_MICROS today, TIMESTAMP(NANOS)-as-long historically).
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources import catalog
from ..sources.readers import (
    normalize_events_ts,
    read_events,
    read_events_raw,
)


def _as_stream_dir(path: str) -> str:
    """The streaming file source monitors a *directory*; a single
    parquet file is staged behind a symlink in a temp directory."""
    import hashlib
    import os
    import tempfile

    if os.path.isdir(path):
        return path
    d = os.path.join(
        tempfile.gettempdir(),
        "tada_stream_src_" + hashlib.md5(path.encode()).hexdigest()[:12],
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return d


def events_stream(
    spark: SparkSession, src: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    """File-stream over the events parquet directory (or single file).

    The schema comes from a batch footer peek of ``src`` (a hard-coded
    schema silently misreads micros as nanos when the physical layout
    changes — the worst failure class); ``ts`` is then normalized with
    the exact dtype branch the batch reader uses."""
    schema = read_events_raw(spark, src).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events_ts(reader.load(_as_stream_dir(src)))


def hourly_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windowed counts + sums per event type, tolerating
    late data up to the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-exact sum: matches the batch twin bit-for-bit
            # regardless of micro-batch/partition summation order
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame,
    length: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding windowed counts + sums per event type. State is bounded
    by (watermark horizon / slide) x groups — each event contributes to
    length/slide windows, all keyed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", length, slide).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-exact sum: matches the batch twin bit-for-bit
            # regardless of micro-batch/partition summation order
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("n_events", LongType()),
        StructField("session_value", DoubleType()),
    ]
)

_STATE_SCHEMA = "start long, last long, n long, total double"

_GAP_US = 1800 * 1_000_000


def _session_fn(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit a session row whenever a >30min gap closes one; keep the
    open session in state, closing it on event-time timeout."""
    (user_id,) = key
    if state.hasTimedOut:
        if state.exists:
            start, _last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "n_events": [n],
                    "session_value": [round(total, 4)],
                }
            )
        return

    rows = pd.concat(list(pdfs)).sort_values("ts")
    ts_us = (rows["ts"].astype("int64") // 1000).tolist()  # ns -> us
    vals = rows["value"].tolist()

    if state.exists:
        start, last, n, total = state.get
    else:
        start, last, n, total = None, None, 0, 0.0

    out = []
    for t, v in zip(ts_us, vals):
        if last is not None and t - last > _GAP_US:
            out.append((start, n, total))
            start, n, total = t, 0, 0.0
        if start is None:
            start = t
        last = t
        n += 1
        total += v
    state.update((start, last, n, total))
    state.setTimeoutTimestamp(last // 1000 + 1800 * 1000)  # ms event time
    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in out],
                "n_events": [n for _, n, _ in out],
                "session_value": [round(t, 4) for _, _, t in out],
            }
        )


def sessionize_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful sessionization (30-minute inactivity gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stage_with_sentinels(spark: SparkSession, src: str) -> str:
    """Stage the events source into a fresh temp directory together with
    two tiny far-future "sentinel" batches, so a drained sessionization
    emits EVERY session, including those still open at end-of-input.

    Why two sentinels: state timeouts fire during a *data* micro-batch
    using the watermark computed from the *previous* batch, and an
    availableNow drain is not guaranteed a trailing no-data batch.
    Sentinel #1 (max_ts + 30d) advances the watermark past every real
    session's timeout; sentinel #2's batch (max_ts + 60d) then runs
    with that watermark and fires all the timeouts. Sentinel rows carry
    ``user_id = -1`` so callers can filter them out.

    At cluster scale this is O(1) extra data: two 1-row parquet files.
    """
    import datetime
    import os
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    max_ts = (
        read_events(spark, src).agg(F.max("ts").alias("mx")).collect()[0]["mx"]
    )
    d = tempfile.mkdtemp(prefix="tada_sess_src_")
    os.symlink(os.path.abspath(src), os.path.join(d, "00_events.parquet"))

    # physical schema of a sentinel must match the real file byte-level
    # (the stream reader's schema is the batch peek of this directory)
    raw_schema = pq.read_schema(src)
    schema = pa.schema([raw_schema.field(i) for i in range(len(raw_schema))])
    now = time.time()
    for i, days in enumerate((30, 60), start=1):
        ts_val = max_ts + datetime.timedelta(days=days)
        cols = {}
        for field in schema:
            if field.name == "ts":
                if pa.types.is_timestamp(field.type):
                    cols[field.name] = pa.array([ts_val], type=field.type)
                else:  # legacy nanos-as-long layout
                    cols[field.name] = pa.array(
                        [int(ts_val.timestamp() * 1_000_000) * 1000],
                        type=field.type,
                    )
            elif field.name in ("event_id", "user_id"):
                cols[field.name] = pa.array([-1], type=field.type)
            elif field.name == "value":
                cols[field.name] = pa.array([0.0], type=field.type)
            else:
                cols[field.name] = pa.array([None], type=field.type)
        path = os.path.join(d, f"{i:02d}_sentinel.parquet")
        pq.write_table(pa.table(cols, schema=schema), path)
        # FileStreamSource picks files oldest-first by mtime: force the
        # order events -> sentinel1 -> sentinel2
        os.utime(path, (now + i, now + i))
    return d


def sessionize_drain_all(
    spark: SparkSession, src: str, checkpoint: str, query_name: str
) -> DataFrame:
    """Run the stateful sessionizer over ``src`` to completion and emit
    ALL sessions (closed-by-gap and open-at-end-of-input alike) by
    draining through :func:`stage_with_sentinels` one file per
    micro-batch. Returns the memory-sink table, sentinels filtered."""
    staged = stage_with_sentinels(spark, src)
    stream = sessionize_stream(
        events_stream(spark, staged, max_files_per_trigger=1)
    )
    run_available_now(stream, query_name, checkpoint, output_mode="append")
    return spark.table(query_name).filter(F.col("user_id") >= 0)


def dedup_stream(
    events: DataFrame, keys: list, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact deduplication: keep the first event per key,
    with state bounded by the watermark horizon
    (``dropDuplicatesWithinWatermark`` evicts key state once the
    watermark passes) — the unbounded-state trap of plain
    ``dropDuplicates`` on a stream does not exist here."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def enrich_stream(
    events: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: the static dimension is joined to
    every micro-batch (broadcast per batch — the static side never
    shuffles the stream). AQE does not run on streams, so for a skewed
    stream key use :mod:`..operators.skew` salting instead."""
    return events.join(F.broadcast(dim), on=on, how=how)


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint: str,
    output_mode: str = "append",
) -> None:
    """Drain everything currently available into a memory sink and stop
    — the batch-verification harness for streaming pipelines.

    ``output_mode`` is explicit (append/complete/update): non-aggregate
    streams (dedup, enrichment) can only run in append, windowed
    aggregations without watermark-expired finals need complete —
    inferring the mode from the query name breaks the former.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_stream_window_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: match right-side events
    that occur within ``within`` AFTER the left event, per key.

    Both sides carry watermarks and the join has a time-range bound, so
    Spark can evict buffered state once the watermark passes — the
    configuration stream-stream joins REQUIRE to keep state bounded at
    any throughput (an unbounded-time join would buffer both streams
    forever). Output columns: key, l_event_id, l_ts, r_event_id, r_ts.
    """
    l = (
        left.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("l_key"),
            F.col("event_id").alias("l_event_id"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("r_key"),
            F.col("event_id").alias("r_event_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
    ).select(
        F.col("l_key").alias(key), "l_event_id", "l_ts", "r_event_id", "r_ts"
    )


def materialized_user_agg(
    spark: SparkSession,
    src: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Incrementally maintained materialized aggregate: a streaming
    per-user (count, decimal-exact sum) in UPDATE mode, merged into a
    parquet state table by ``foreachBatch`` — the Spark-native
    materialized view (keep an aggregate table fresh as event batches
    land, without a table format's MERGE).

    Update mode emits the CUMULATIVE aggregate for every key touched
    in a micro-batch, so the merge is a pure key replacement:
    ``state = state[keys not in batch] ∪ batch``. The final state is
    therefore identical for ANY batching of the input — asserted by
    the oracle, which computes the aggregate in one batch pass.
    DECIMAL sums make the value itself batching-order-proof.

    Scale: the state table is key-cardinality sized (users), not
    event sized. The rewrite-and-swap merge below is right for
    dim-sized state; corpus-sized state would partition the state
    table by key bucket and selectively overwrite touched buckets
    (partitionOverwriteMode=dynamic) — same foreachBatch shape.
    Returns the final state DataFrame.
    """
    import os
    import shutil

    ev = events_stream(spark, src, max_files_per_trigger)
    updates = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )

    def _merge(batch_df, batch_id: int) -> None:
        batch_df = batch_df.persist()
        if os.path.exists(state_dir):
            state = catalog.read(batch_df.sparkSession, state_dir)
            keep = state.join(
                F.broadcast(batch_df.select("user_id")),
                on="user_id",
                how="left_anti",
            )
            merged = keep.unionByName(batch_df)
        else:
            merged = batch_df
        tmp = state_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        batch_df.unpersist()
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp, state_dir)

    q = (
        updates.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return catalog.read(spark, state_dir)


def cms_stream(
    spark: SparkSession,
    src: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: Optional[int] = None,
    depth: int = 3,
    width: int = 1024,
) -> DataFrame:
    """Continuously maintained count-min sketch: each micro-batch's
    partial counter table (depth x width, exact portable-hash counts)
    is ADDED into a parquet state table by ``foreachBatch``.

    CMS counters are purely additive, so the merge is a full-outer
    coalesce-sum on (r, bk) — state stays <= depth*width rows forever
    while the stream is unbounded, and the final table is identical
    for ANY batching of the input (each event contributes +1 to the
    same ``depth`` cells no matter which batch carries it). The oracle
    computes the same counters in one batch pass; equality IS the
    mergeability proof. This is the bounded-state continuous profiling
    shape: a 100 TB/day stream keeps a kilobytes-sized frequency
    sketch fresh without ever storing per-key state.
    """
    import os
    import shutil

    from task_on_dataframes_spark.operators.sketches import cms_counters

    ev = events_stream(spark, src, max_files_per_trigger)

    def _merge(batch_df, batch_id: int) -> None:
        part = cms_counters(
            batch_df.select(F.col("user_id").cast("string").alias("item")),
            "item",
            depth=depth,
            width=width,
        ).persist()
        if os.path.exists(state_dir):
            state = catalog.read(part.sparkSession, state_dir)
            merged = (
                state.withColumnRenamed("c", "c_old")
                .join(part.withColumnRenamed("c", "c_new"),
                      ["r", "bk"], "full_outer")
                .select(
                    "r",
                    "bk",
                    (
                        F.coalesce("c_old", F.lit(0))
                        + F.coalesce("c_new", F.lit(0))
                    ).alias("c"),
                )
            )
        else:
            merged = part
        tmp = state_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        part.unpersist()
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp, state_dir)

    q = (
        ev.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return catalog.read(spark, state_dir)
