"""Deterministic sampling / dataset splitting.

Training pipelines need *reproducible* splits — the same row must land
in the same split on every run, on any cluster, at any parallelism.
Random `df.sample()` can't promise that across engines/partitionings;
hashing a stable key can: bucket = portable_hash(key, salt) % 1000,
compare against per-mille thresholds. One narrow scan, no shuffle, no
state; adding data later never moves existing rows between splits.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hashing import hash32


def split_bucket(key: Column, salt: str = "split") -> Column:
    """Stable per-mille bucket (0..999) for a row key."""
    return F.pmod(hash32(F.concat(F.lit(salt + ":"), key.cast("string"))), F.lit(1000))


def assign_split(
    df: DataFrame,
    key_col: str,
    fractions: Sequence[Tuple[str, float]] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    salt: str = "split",
    out: str = "split",
) -> DataFrame:
    """Label every row with its split, by cumulative per-mille ranges
    over the stable hash bucket. Fractions must sum to <= 1; any
    remainder is labeled ``holdout``."""
    bucket = split_bucket(F.col(key_col), salt)
    expr = None
    lo = 0
    for name, frac in fractions:
        hi = lo + int(round(frac * 1000))
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    assert lo <= 1000, "fractions exceed 1.0"
    return df.withColumn(out, expr.otherwise("holdout"))


def weighted_sample(
    df: DataFrame, key_col: str, weight_pm: Column, salt: str = "wsamp"
) -> DataFrame:
    """Importance resampling: keep each row with probability
    ``weight_pm``/1000 (a per-row per-mille integer weight), decided by
    the stable key hash — the primitive behind quality-weighted corpus
    mixing, where high-quality documents survive with higher
    probability than low-quality ones. Unlike ``rand() < w`` the
    decision is a pure function of (key, salt): task retries, reruns,
    and incremental loads keep exactly the same rows, and the expected
    kept mass is sum(weight_pm)/1000 regardless of partitioning.
    Integer-exact, zero shuffle, evaluated in the scan stage."""
    return df.filter(split_bucket(F.col(key_col), salt) < weight_pm)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a different stable
    fraction of rows for each value of ``strata_col`` (the
    corpus-mixing primitive — e.g. keep 100% of rare languages, 10% of
    the dominant one). Unlike ``df.sampleBy`` the decision is a pure
    function of the row key, so reruns, retries, and later incremental
    loads keep exactly the same rows. Zero shuffle: one hash + one
    CASE, evaluated in the scan stage."""
    bucket = split_bucket(F.col(key_col), salt)
    thresh: Column = None
    for stratum, frac in fractions.items():
        cond = F.col(strata_col) == stratum
        per_mille = int(round(frac * 1000))
        thresh = (
            F.when(cond, per_mille)
            if thresh is None
            else thresh.when(cond, per_mille)
        )
    thresh = (
        thresh.otherwise(int(round(default_fraction * 1000)))
        if thresh is not None
        else F.lit(int(round(default_fraction * 1000)))
    )
    return df.filter(bucket < thresh)


def domain_mix(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    size_col: str,
    budget_pm: int = 500,
    salt: str = "mix",
) -> DataFrame:
    """Token-budget corpus mixing (the DoReMi/Pile-style "domain
    weights" apply step): give every domain an equal share of a global
    size budget (``budget_pm``/1000 of the corpus total), derive each
    domain's deterministic keep-rate, apply it by stable key hash, and
    return the per-domain audit
    ``(domain, n_docs, total_size, rate_pm, docs_kept, size_kept)``.

    A domain smaller than its share keeps everything (rate capped at
    1000 per-mille); oversized domains are down-sampled toward the
    uniform share — the standard rebalance that stops one crawl dump
    from dominating the mixture. All rate arithmetic is INTEGER
    (per-mille floor division), so Spark and the DuckDB oracle derive
    bit-identical rates; the keep decision is the same pure
    hash-of-key predicate as :func:`weighted_sample`, so reruns and
    incremental loads keep exactly the same documents.

    Scale shape: one scan-stage aggregation to domain totals (dim
    cardinality), a broadcast of the <= |domains| rate table back onto
    the scan, and one final keyed aggregation — the corpus shuffles
    only as map-side partial aggregates on the domain key.
    """
    totals = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(size_col).cast("bigint")).alias("total_size"),
    )
    grand = totals.agg(
        F.sum("total_size").alias("g"), F.count(F.lit(1)).alias("nd")
    )
    rates = (
        totals.crossJoin(F.broadcast(grand))
        .withColumn(
            "rate_pm",
            # integer floor division (`div`), NOT `/` (which is double
            # division in Spark SQL): keeps the rate bit-identical to
            # the oracle's integer arithmetic with no FP boundary risk
            F.least(
                F.lit(1000).cast("bigint"),
                F.expr(f"(g * {budget_pm}) div (nd * total_size)"),
            ),
        )
        .select("domain", "n_docs", "total_size", "rate_pm")
    )
    kept = (
        df.select(
            F.col(domain_col).alias("domain"),
            F.col(size_col).cast("bigint").alias("sz"),
            split_bucket(F.col(key_col), salt).alias("bucket"),
        )
        .join(F.broadcast(rates.select("domain", "rate_pm")), on="domain")
        .filter(F.col("bucket") < F.col("rate_pm"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("sz").alias("size_kept"),
        )
    )
    return (
        rates.join(kept, on="domain", how="left")
        .select(
            "domain",
            "n_docs",
            "total_size",
            "rate_pm",
            F.coalesce("docs_kept", F.lit(0)).alias("docs_kept"),
            F.coalesce("size_kept", F.lit(0)).alias("size_kept"),
        )
    )


def interleave_order(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    limit: int,
    salt: str = "interleave",
) -> DataFrame:
    """Deterministic round-robin training order: hash-shuffle rows
    within each domain (rank by stable hash — no RNG), then interleave
    the domains one row at a time. Returns the first ``limit`` rows as
    ``(position, key, domain)`` — the "epoch order" construction that
    gives a stratified stream without ever materializing a global
    sort.

    position = (domain_rank - 1) * n_domains + domain_index, i.e.
    round r of the epoch emits the r-th ranked row of every domain.
    Scale shape: the only windows are per-domain (corpus partitions on
    the domain key) and over the dim-sized domain list; computing the
    first ``limit`` positions prunes each domain to its first
    ceil(limit / n_domains) rows BEFORE the final top-k, which
    compiles to TakeOrderedAndProject — no global sort of the corpus.
    """
    doms = (
        df.select(F.col(domain_col).alias("domain"))
        .distinct()
        .withColumn(
            "dom_ix",
            F.row_number().over(Window.orderBy("domain")) - 1,
        )
        .withColumn("n_dom", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    h = hash32(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    ranked = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(domain_col).alias("domain"),
            h.alias("h"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("domain").orderBy("h", "key")
            ),
        )
    )
    return (
        ranked.join(F.broadcast(doms), on="domain")
        # per-domain prune: only ranks that can land inside the limit
        .filter(F.col("rnk") <= (F.lit(limit) + F.col("n_dom") - 1) / F.col("n_dom"))
        .select(
            ((F.col("rnk") - 1) * F.col("n_dom") + F.col("dom_ix")).alias(
                "position"
            ),
            "key",
            "domain",
        )
        .filter(F.col("position") < limit)
        .orderBy("position")
    )


def kcenter_select(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) selection: the diversity
    sampler — pick the point farthest from everything chosen so far,
    k times (2-approximation of the k-center objective; the coreset
    construction curation pipelines use to cover an embedding space
    with a small representative set).

    Formulation: the corpus carries a running ``mind`` (min squared L2
    distance to the chosen set, rounded 5 — the engine-sync point).
    Each iteration: ONE map-side argmax (``max(struct(mind, -id,
    vec))`` — no sort, no shuffle beyond the 1-row reduce) picks the
    next center, which broadcasts back so the ``mind`` update is pure
    scan-stage arithmetic. k corpus passes total, nothing but 1-row
    frames ever gathers. The seed falls out of the same argmax run on
    a constant ``mind`` (= smallest id).

    Each iteration ``localCheckpoint``s the updated corpus frame: the
    argmax ``c`` embeds ``w``'s plan and the next ``w`` embeds both,
    so a mere persist leaves the logical tree DOUBLING per iteration
    (2^k subplans — at k=8 the plan holds 255 scans and its strings
    exhaust the driver's memory). Same lineage-cut discipline as
    ``dedup.connected_components``; plan size is now constant per
    iteration and the superseded iterate's blocks are dropped eagerly.

    Returns ``(sel_order, vec_id, min_dist)`` — ``min_dist`` is the
    distance at selection time (NULL for the seed), the monotone
    non-increasing sequence that doubles as a coverage-radius curve.
    """
    from .pq import _d2  # squared-L2 via the dot-product composition

    w = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.lit(1e18).alias("mind"),
    ).localCheckpoint()
    picks = []
    for step in range(1, k + 1):
        c = (
            w.agg(
                F.max(
                    F.struct(
                        F.col("mind").alias("d"),
                        (-F.col("vec_id")).alias("nid"),
                        F.col("v").alias("cv"),
                    )
                ).alias("m")
            )
            .select(
                F.lit(step).alias("sel_order"),
                (-F.col("m.nid")).alias("vec_id"),
                F.when(F.lit(step) > 1, F.col("m.d"))
                .cast("double")
                .alias("min_dist"),
                F.col("m.cv").alias("cv"),
            )
            .persist()
        )
        picks.append(c.select("sel_order", "vec_id", "min_dist"))
        if step < k:
            # eager checkpoint; the superseded iterate's blocks are
            # reclaimed by the ContextCleaner once this name rebinds
            w = (
                w.crossJoin(F.broadcast(c.select("cv")))
                .select(
                    "vec_id",
                    "v",
                    F.least(
                        F.col("mind"), F.round(_d2("v", "cv"), 5)
                    ).alias("mind"),
                )
                .localCheckpoint()
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out
