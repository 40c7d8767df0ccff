"""Shared helpers for the split query registry, and the registry
itself: :func:`query` records each query where it is defined."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import catalog

#: every registered query by name, in registration order
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
#: each query's DuckDB oracle: the SQL text, or a zero-argument function
#: returning it where the text depends on the environment at call time
ORACLES: dict[str, str | Callable[[], str]] = {}


def query(*, oracle: str | Callable[[], str]):
    """Register the decorated function under its name without the
    leading underscore (``_q1_pricing_summary`` is the query
    ``q1_pricing_summary``), together with its DuckDB ``oracle``.
    Names are unique: registering one twice raises. ``oracle`` is
    keyword-only, so a bare ``@query`` (no oracle) is a TypeError."""

    def register(fn: Callable[[SparkSession, str], DataFrame]):
        name = fn.__name__.removeprefix("_")
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.read(spark, f"{sf_dir}/{name}.parquet")


def _size_bytes(v: str) -> int:
    """Parse a Spark size conf value ('128m', '33554432', '1g')."""
    v = str(v).strip().lower().removesuffix("b")
    for suf, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if v.endswith(suf):
            return int(float(v[:-1]) * mult)
    return int(v)


def _scan_parts(
    path: str, max_partition_bytes: int | None, parallelism: int
) -> int | None:
    """Effective parquet scan parallelism: the row-group count CAPPED
    by the byte-based split count (``ceil(bytes / maxPartitionBytes)``)
    — Spark packs row groups into maxPartitionBytes-sized splits, so a
    file with 37 tiny row groups and a 16 MB split size still scans as
    ~2 tasks; a row-group count alone would skip the floor there and
    run every fingerprint pipeline on 2 tasks (SCALE.md: text_winnow
    measured 4.3x for 3x data until the estimate used the min of the
    two bounds). Row groups and file sizes come from the source
    catalog's stamped footer facts (:func:`..sources.catalog.row_groups`),
    so a rewritten file gets a fresh estimate, rather than from
    ``df.rdd.getNumPartitions()`` — the RDD probe runs full physical
    planning on the driver (~0.13 s measured) and would be paid on
    EVERY query invocation (the repartition itself measures free at
    sf0.1). Returns ``None`` for non-local paths — a real cluster
    corpus has thousands of full-size row groups, so skipping the
    floor there is the correct no-op."""
    try:
        files = catalog.row_groups(path)
    except Exception:
        # Missing pyarrow raises ImportError, corrupt files raise
        # pyarrow.ArrowInvalid — the floor must degrade to a no-op for
        # any path Spark itself can read, never fail query construction.
        return None
    if files is None:
        return None
    n = sum(len(groups) for _, _, groups in files)
    if max_partition_bytes:
        # mirror Spark's FilePartition.maxSplitBytes (the bare
        # ceil(bytes/maxPartitionBytes) underestimates
        # splits whenever total/defaultParallelism is the binding
        # term, triggering repartitions that are not needed):
        # maxSplit = min(maxPartitionBytes,
        #                max(openCostInBytes, total/parallelism)),
        # splits counted per file because a split never spans files
        total = sum(size for _, size, _ in files)
        open_cost = 4 << 20  # spark.sql.files.openCostInBytes default
        max_split = min(
            max_partition_bytes,
            max(open_cost, total // max(parallelism, 1)),
        )
        byte_splits = sum(-(-size // max_split) for _, size, _ in files)
        n = min(n, byte_splits)
    return n


def _mpb(spark: SparkSession) -> int | None:
    """The session's maxPartitionBytes, parsed, or None if unreadable."""
    try:
        return _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
    except Exception:
        return None


#: corpora below this on-disk size skip the hot-gram detection pass
#: (operators/dedup.py:_hot_gram_digests): the detection threshold is
#: ~50k occurrences of one gram, and a window partition of even 500k
#: rows sorts in well under a second — the skew the routing guards
#: against physically requires a large corpus, while the detection
#: sample pays a full (non-pushdown) scan of the text column.
HOT_DETECT_MIN_BYTES = 1 << 30


def _corpus_bytes(path: str) -> int:
    """On-disk byte size of a parquet file or dataset directory
    (RECURSIVE — partitioned datasets keep their files in key=value
    subdirectories). Unknown sizes return a LARGE sentinel, not 0:
    callers use this to decide whether the corpus is big enough to
    need hot-gram skew routing, and a non-local path (s3://, hdfs://)
    or an unreadable directory is exactly the case where the guard
    must stay ON, not silently disable."""
    unknown = 1 << 62
    if "://" in path:  # remote filesystem — os.path cannot stat it
        return unknown
    try:
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if not f.startswith((".", "_")):
                        total += os.path.getsize(os.path.join(root, f))
            return total
        return os.path.getsize(path)
    except Exception:
        return unknown


def _floored_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan of table ``name``, repartitioned to the session's
    parallelism when the scan splits fewer than half that many ways."""
    df = _t(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    n = _scan_parts(f"{sf_dir}/{name}.parquet", _mpb(spark), target)
    if n is not None and n < max(2, target // 2):
        df = df.repartition(target)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan with a parallelism floor.

    Parquet scans split only at row-group boundaries; the testdata (and
    any small-file corpus) ships documents as ONE row group, so every
    token-explode / n-gram / digest pipeline above it would run as a
    single task while 31 cores idle — measured 2.3x end-to-end on the
    curation pass at sf0.1. When the scan yields fewer row groups than
    half the cores, pay one cheap shuffle of the raw text to spread the
    CPU-bound text work. At real scale a 100 TB corpus has thousands of
    row groups and this is a no-op (no repartition in the plan).
    """
    return _floored_scan(spark, sf_dir, "documents")


def _embs(
    spark: SparkSession, sf_dir: str, floor: bool = True
) -> DataFrame:
    """embeddings scan with the same parallelism floor as :func:`_docs`.

    Every embedding pipeline does per-row array math (quantization,
    PQ encoding, centroid distances, plane projections) right above
    the scan; with the testdata's single-row-group parquet that work
    serializes onto one or two tasks (emb_quantize scaled 8.27x for
    10x data on the 2-task scan; SCALE.md). Same contract as
    ``_docs``: when the footer shows fewer row groups than half the
    cores, one cheap round-robin shuffle spreads the vectors; at real
    scale (thousands of row groups) this is a no-op with no
    repartition in the plan.

    ``floor=False`` opts a consumer out: map-side-reduction pipelines
    (the Gram partials) already collapse each input split to d^2
    numbers, so shuffling the corpus first costs more than the
    parallelism it buys — emb_gram regressed 0.32 -> 0.52 s at sf0.1
    under the floor while its 10x-data ratio was fine without it."""
    if not floor:
        return _t(spark, sf_dir, "embeddings")
    return _floored_scan(spark, sf_dir, "embeddings")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ``ts`` physical type has changed across testdata
    generations (TIMESTAMP(NANOS)-as-long, now TIMESTAMP_MICROS/NTZ);
    the shared reader branches on the actual dtype and never mutates
    session conf unless the legacy nanos layout is present."""
    from task_on_dataframes_spark.sources.readers import read_events

    return read_events(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# TPC-H-shape SQL breadth: correlated subqueries, scalar
# subqueries, groupwise-min join-back, disjunctive pushdown. The
# synthetic tables lack partsupp, so q2/q9/q11/q16/q20-shapes use
# lineitem as the part-supplier bridge — same plan shapes, same
# oracle discipline.
# ---------------------------------------------------------------------------

# column factories (not module constants: building a Column needs an
# active SparkContext, which doesn't exist at import time)
def _dec_ep():
    return F.col("l_extendedprice").cast("decimal(12,2)")


def _dec_disc():
    return F.col("l_discount").cast("decimal(4,2)")


def _dec_qty():
    return F.col("l_quantity").cast("decimal(12,2)")


_BM25_TERMS = ("hash", "join", "vector")


#: demo weight table for the hashed linear classifier: 16 buckets,
#: fixed-point 1e-4 units, mixed signs — deterministic and shared with
#: the oracle SQL verbatim
_CLS_WEIGHTS_FP = [(i - 8) * 1250 for i in range(16)]
