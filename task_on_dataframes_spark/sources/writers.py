"""Sinks: CSV download (S6) and parquet results (S7).

The reference streams CSV over HTTP (serve_view_df.py:160-173) and
pickles whole result lists (serve.py:38-78); here results write as
distributed CSV/parquet directories, with a small-result convenience
that returns a local pandas frame for presentation layers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import catalog


def csv_sink(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    df.write.option("header", header).mode(mode).csv(path)


def parquet_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def orc_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC output (built-in columnar alternative; same pushdown/pruning
    story as parquet on the read side)."""
    df.write.mode(mode).orc(path)


def jsonl_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines output — the interchange format most LLM-data tooling
    consumes. Distributed write, one JSON object per row."""
    df.write.mode(mode).json(path)


def partitioned_parquet_sink(
    df: DataFrame,
    path: str,
    partition_cols: list,
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned layout (``path/col=value/...``) — the
    data-layout op that makes partition pruning possible: a reader
    filtering on ``partition_cols`` touches only matching directories
    (asserted by ``test_partition_pruning_on_partitioned_layout``).
    Choose low-cardinality columns; at 100 TB a high-cardinality
    partition column means millions of tiny files."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 256,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_file_mb`` files (optionally range-sorted so min/max
    rowgroup stats prune range predicates). The 100 TB maintenance op —
    thousands of tiny files destroy scan parallelism bookkeeping and
    footer-read time. Returns the output file count. Atomicity:
    rewrites to ``path + '.compact'`` then swaps, so a crash never
    leaves a half-written directory in place."""
    import math
    import os
    import shutil

    df = catalog.read(spark, path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_file_mb << 20)))
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)
    tmp = path.rstrip("/") + ".compact"
    out.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".old"
    os.rename(path.rstrip("/"), old)
    os.rename(tmp, path.rstrip("/"))
    shutil.rmtree(old)
    return n_files


def bucketed_table_sink(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    path: str | None = None,
    partition_cols: list[str] | None = None,
) -> None:
    """Create a bucketed (+sorted) catalog table holding ``df``:
    repeated joins / aggregations on ``bucket_cols`` then read
    co-located partitions and skip the shuffle entirely — the
    persistent-layout lever for a table joined on the same key by
    every query. (Bucketing requires a metastore-backed table.) The
    creator of every persisted index table (``operators/index.py``,
    which adds later generations as ``partition_cols`` partitions).

    Layout rule: rows are first placed with ``repartition(n_buckets,
    *bucket_cols)``, which shares ``bucketBy``'s murmur3-pmod
    placement, so each task holds exactly one bucket and writes ONE
    sorted file — without it every upstream partition writes one file
    per bucket it touches (partitions x buckets small files, each a
    listing + open + sort-run cost for every later scan). An empty
    ``bucket_cols`` writes a plain table through the same steps (the
    IVF centroid table: a few rows that every consumer broadcasts).

    The table must not exist yet. Callers pass a fresh ``path``,
    because an in-memory catalog forgets tables across sessions while
    their warehouse directories linger, and a managed table would hit
    LOCATION_ALREADY_EXISTS. The sink issues no DDL of its own: a
    caller writing several tables at once drops the old ones first,
    on one thread (``operators/index.build_tables``)."""
    w = df.write
    if bucket_cols:
        w = (
            df.repartition(n_buckets, *bucket_cols)
            .write.bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
        )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def manifest_snapshot(path: str) -> list:
    """Sorted list of data-file names currently in a parquet
    directory — the checkpoint an incremental consumer records after
    each processed batch. File-name based (parquet part files are
    immutable once written; appends only ever ADD files), so the
    manifest is tiny — names, not data — and works on any
    Hadoop-compatible filesystem."""
    import os

    return sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def read_new_files(spark, path: str, manifest: list):
    """Read ONLY the files appended since ``manifest`` was taken — the
    incremental-ingestion primitive (process each crawl batch exactly
    once without Delta/Iceberg metadata). Returns None when nothing is
    new. Scan cost is proportional to the NEW data: the listing diff
    happens on file names; old files are never opened."""
    import os

    seen = set(manifest)
    new = [
        os.path.join(path, f)
        for f in manifest_snapshot(path)
        if f not in seen
    ]
    if not new:
        return None
    return catalog.read(spark, *new)
