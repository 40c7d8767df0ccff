"""Mergeable aggregation sketches — the single-pass, bounded-memory
summaries a 100 TB profiling pass runs where exact answers would
shuffle the world:

* :func:`heavy_hitters` — Misra-Gries summaries per partition, merged
  by summing counters. Its estimates are approximate, so tests check
  their error bounds against exact counts, and the DuckDB oracle
  checks only its no-false-negative contract
  (``sketch_heavy_hitters``).
* :func:`cms_counters` / :func:`cms_estimate` — a count-min sketch
  over portable hashes whose counters are exact sums, so the DuckDB
  oracle replays them bit for bit.

For HyperLogLog++ distinct counts and Greenwald-Khanna quantiles call
Spark's ``F.approx_count_distinct`` and ``F.percentile_approx``
directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 16,
    capacity_per_partition: int = 256,
) -> DataFrame:
    """Misra-Gries heavy hitters: items occurring more than n/k times,
    with frequency estimates whose undercount is bounded by
    n/capacity summed over partitions.

    Per-partition Misra-Gries summaries (bounded ``capacity`` counters
    regardless of partition cardinality) merge by summing counter
    values — the standard mergeable-summary property — then the global
    top-k of the merged counters is taken with TakeOrdered. The
    shuffle moves n_partitions x capacity rows, never the corpus;
    this is the profiling shape for "what dominates this 100 TB
    column" when an exact groupBy would be cardinality-bound.

    Returns (item, est_count) for the top ``k`` merged counters.
    Approximate by nature -> validated by error-bound tests (the
    estimate is within [true - n/capacity, true]), not a value oracle.
    """
    from typing import Iterator

    import pandas as pd

    cap = int(capacity_per_partition)

    def mg_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for v in pdf["__item"]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < cap:
                    counters[v] = 1
                else:
                    # decrement-all step; drop zeroed counters
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame(
                {
                    "item": list(counters.keys()),
                    "c": list(counters.values()),
                }
            )

    partials = df.select(F.col(col).cast("string").alias("__item")).mapInPandas(
        mg_partial, schema="item string, c long"
    )
    merged = partials.groupBy("item").agg(F.sum("c").alias("est_count"))
    return merged.orderBy(F.desc("est_count"), "item").limit(k)


def cms_counters(
    df: DataFrame,
    col: str,
    depth: int = 3,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch counter table: ``depth`` independent hash rows
    of ``width`` buckets. UNLIKE :func:`heavy_hitters`, every
    counter is an EXACT sum over deterministic portable hashes
    (md5-derived universal family, :mod:`.hashing`), so the full
    counter table — and any estimate read from it — is bit-replayable
    by the DuckDB oracle. The sketch property is structural: the table
    is fixed-size (``depth * width`` rows) no matter the corpus, built
    by one map-side-combined aggregation of ``depth`` scan-stage
    bucket ids per item — the mergeable shape that profiles a 100 TB
    stream in one pass with kilobytes of state.

    Returns (r, bk, c): hash-row index, bucket, exact count.
    """
    from .hashing import hash32, perm_hash

    h = hash32(F.col(col))
    buckets = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (perm_hash(h, r) % width).alias("bk"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb")
    ).select("rb.r", "rb.bk")
    return buckets.groupBy("r", "bk").agg(F.count(F.lit(1)).alias("c"))


def cms_estimate(
    items: DataFrame,
    counters: DataFrame,
    col: str,
    depth: int = 3,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each row of ``items``: the estimate
    is the MIN over the item's ``depth`` counters — always >= the true
    count, over by at most the collisions in its emptiest row. The
    counter table is broadcast (fixed-size), so lookups never shuffle
    the probe side."""
    from .hashing import hash32, perm_hash

    h = hash32(F.col(col))
    probes = items.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (perm_hash(h, r) % width).alias("bk"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("*", "rb.r", "rb.bk")
    keep = [c for c in items.columns]
    return (
        probes.join(F.broadcast(counters), ["r", "bk"])
        .groupBy(*keep)
        .agg(F.min("c").alias("est"))
    )
