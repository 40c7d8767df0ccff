"""Streaming maintenance of the persisted LSH and IVF indexes.

Each document micro-batch is probed against the CURRENT index inside
``foreachBatch``, its matches appended to a results sink, and then the
batch itself appended into the index — so micro-batch N+1's probe sees
micro-batch N. This is the continuous-ingest form of the build → probe
→ append lifecycle: the index tables are written only through the
shared persisted-index core (``operators/index.py``, reached via
``append_lsh_index`` / ``append_ivf_index``); the batch path runs the
lifecycle wave-by-wave from a driver loop, this module runs it from a
Structured Streaming drain. :func:`_drain` is the one drain body;
:func:`index_maintain_stream` and :func:`ann_maintain_stream` supply
their probe and append.

Micro-batches execute sequentially, but ``foreachBatch`` is
AT-LEAST-ONCE: a micro-batch that fails (or whose driver dies) after
side effects but before its offset commits is re-run with the same
``batch_id`` on restart. The batch body is idempotent because the
index append is one generation with one commit
(``operators/index.py``): each batch appends as the generation
labelled by ``(results_dir, batch_id)``. A batch whose label is
committed has landed whole and is skipped. Any other batch re-runs
from the start: its results directory is overwritten, and its index
generation is rewritten and committed. Probes read committed
generations only, so a re-run probe never sees its own batch's
partial rows.

Scale shape: identical to the batch probe/append — every stage inside
``foreachBatch`` is micro-batch-sized (shingle, sign, pack, probe
join against the pre-bucketed index scans); the corpus index is never
re-shingled or shuffled. State lives in the index tables themselves,
not in Spark streaming state, so there is nothing watermark-bounded
to evict: the operator is stateless from the engine's point of view.

Reference note: the reference engine (frame_tasks/) has no streaming
surface at all; this is the production shape for rolling 100 TB crawl
ingest where dedup must converge across waves.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.index import committed
from ..operators.persist import release
from ..sources import catalog


def _drain(
    spark: SparkSession,
    src_dir: str,
    results_dir: str,
    checkpoint: str,
    max_files_per_trigger: int,
    head: str,
    probe,
    append,
    empty_schema: str,
) -> DataFrame:
    """Drain ``src_dir`` (one parquet file per ingest wave; the file
    source orders files oldest-mtime-first) with ``availableNow``. Per
    micro-batch whose generation label is not yet committed on the
    index headed by ``head``, in order: ``probe(sess, batch_df)``
    overwrites ``results_dir/b{batch_id}``, then ``append(sess,
    batch_df, gen)`` writes and commits the batch as generation
    ``gen``. Returns the drained results frame, or an empty
    ``empty_schema`` frame when no batch ran.

    The probe result must be materialized BEFORE the append (the
    write action does this naturally) — a lazy probe evaluated after
    the commit would see the batch's own rows and self-match.

    The query runs its micro-batches in a session of its own; what the
    probes held there (:func:`.operators.persist.hold`) is released
    once the query stops, since no returned frame reads it."""
    schema = catalog.schema_of(spark, src_dir)
    scope = hashlib.md5(results_dir.encode()).hexdigest()[:8]
    run_session: list = []  # the session the batches run in

    def _probe_then_append(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        gen = f"{scope}_{batch_id}"
        if gen in committed(sess, head):
            return  # an at-least-once replay of a batch that landed
        run_session[:] = [sess]
        probe(sess, batch_df).write.mode("overwrite").parquet(
            os.path.join(results_dir, f"b{batch_id}")
        )
        append(sess, batch_df, gen)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
        .writeStream.foreachBatch(_probe_then_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        for sess in run_session:
            release(sess)
    if not os.path.exists(results_dir):  # empty stream: no batch ran
        return spark.createDataFrame([], schema=empty_schema)
    # per-batch subdirectories: recursive lookup, no partition inference
    return catalog.read(spark, results_dir, recursiveFileLookup="true")


def index_maintain_stream(
    spark: SparkSession,
    src_dir: str,
    keys_table: str,
    sets_table: str,
    results_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 2,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain ``src_dir`` through probe-then-append maintenance of the
    persisted LSH index (:func:`_drain`): each micro-batch is probed
    against the index AS OF the previous batch, then its band keys +
    packed sets are appended into the index. Returns the drained
    results frame ``(id_col, n_matches, max_jaccard)``."""
    from task_on_dataframes_spark.operators.dedup import (
        append_lsh_index,
        probe_lsh_index,
    )

    def probe(sess, batch_df):
        # shape="merge": the streaming drain is the one probe call
        # site where the broadcast-batch shape measured SLOWER, both
        # locally and at scale (sf0.1: 5.9 vs 7.4 s; sf3: 14.5 vs
        # 24.3 s, interleaved min-of-2; SCALE.md): each
        # micro-batch pays two driver-side broadcast builds whose
        # fixed latency cannot amortize over a drain of small batches,
        # while the SMJ probe is one pipelined multi-stage job.
        return probe_lsh_index(
            sess, batch_df, id_col, text_col, keys_table, sets_table,
            num_perm=num_perm, bands=bands, threshold=threshold,
            shingle_n=shingle_n, shape="merge",
        )

    def append(sess, batch_df, gen):
        append_lsh_index(
            sess, batch_df, id_col, text_col, keys_table, sets_table,
            num_perm=num_perm, bands=bands, shingle_n=shingle_n, gen=gen,
        )

    return _drain(
        spark, src_dir, results_dir, checkpoint, max_files_per_trigger,
        keys_table, probe, append,
        f"{id_col} bigint, n_matches int, max_jaccard double",
    )


def ann_maintain_stream(
    spark: SparkSession,
    src_dir: str,
    cents_table: str,
    lists_table: str,
    results_dir: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain ``src_dir`` (one parquet file of ``(id_col, vec_col)``
    rows per ingest wave) through probe-then-append maintenance of the
    persisted IVF index (:func:`_drain`) — the vector twin of
    :func:`index_maintain_stream`, completing the lifecycle matrix
    {LSH, IVF} x {batch driver loop, Structured Streaming drain}.

    Per micro-batch: each arriving vector is probed as a query against
    the index AS OF the previous batch (top-``k`` by exact cosine
    within ``n_probe`` coarse lists — the "link new embeddings to
    their nearest indexed neighbors" step of a rolling ingest
    pipeline), then the batch is appended into the list table under
    the FROZEN stored quantizer (O(batch x n_centroids), existing
    files untouched). Wave N+1's neighbors can therefore include
    wave-N vectors, which a build-once index can never return. The
    index is read bucket-pruned (``cid IN (...)``) and never shuffled.

    Returns the drained results frame
    ``(query_id, vec_id, cos, rank)`` where ``query_id`` is the
    arriving vector's id.
    """
    from task_on_dataframes_spark.operators.similarity import (
        append_ivf_index,
        probe_ivf_index,
    )

    def probe(sess, batch_df):
        queries = batch_df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col)
        )
        return probe_ivf_index(
            sess, queries, cents_table, lists_table,
            k=k, n_probe=n_probe, vec_col=vec_col,
        )

    def append(sess, batch_df, gen):
        append_ivf_index(
            sess, batch_df, cents_table, lists_table,
            id_col=id_col, vec_col=vec_col, gen=gen,
        )

    return _drain(
        spark, src_dir, results_dir, checkpoint, max_files_per_trigger,
        lists_table, probe, append,
        "query_id bigint, vec_id bigint, cos double, rank int",
    )


def stage_wave_files(
    spark: SparkSession,
    docs: DataFrame,
    waves: list,
    id_col: str = "doc_id",
) -> str:
    """Test/demo plumbing, NOT the production path: write each wave
    (a filter predicate over ``docs``) as one parquet file into a
    fresh temp directory with strictly increasing mtimes, so the
    streaming file source replays them as ordered micro-batches. In
    production the crawl already lands as timestamped files; this
    simulates that arrival from a static table. Driver-local pyarrow
    write — wave-sized, bounded by the simulated ingest batch."""
    import tempfile
    import time

    import pyarrow as pa

    d = tempfile.mkdtemp(prefix="tada_wave_src_")
    now = time.time()
    for i, pred in enumerate(waves, start=1):
        pdf = docs.filter(pred).toPandas()
        path = os.path.join(d, f"{i:02d}_wave.parquet")
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (now + i, now + i))
    return d
