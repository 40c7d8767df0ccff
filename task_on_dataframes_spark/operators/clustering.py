"""Embedding clustering: distributed spherical k-means.

The corpus-organization primitive a training-data pipeline runs after
embedding: topic bucketing, domain discovery, cluster-balanced
sampling all start from a k-means assignment. Design mirrors
:func:`..operators.similarity.ivf_ann_topk` (same init, same argmax
assignment shape) so every piece is already oracle-proven:

* **init** — deterministic hash-stratified pick: vectors hash into k
  strata (portable md5 :func:`..operators.hashing.hash32`) and the
  min-hash row per stratum seeds that cluster. Reproducible on any
  engine, uncorrelated with ingest order.
* **assign** — score every vector against the BROADCAST centroid set
  (k rows), collapse to the argmax with a map-side partial
  ``max(struct(sim, -cluster))``: shuffle volume stays at corpus
  size, never corpus x k. Cosine similarity (spherical k-means — the
  standard for embeddings), rounded to 5 decimals with ties to the
  smallest cluster id, so assignment is engine-deterministic.
* **update** — new centroid = per-dimension mean of members, computed
  as ``dims`` explicit ``sum(CAST(element_at(v, i) AS
  DECIMAL(28,12)))`` aggregates: map-side partial aggregation makes
  the shuffle k x n_partitions rows, and DECIMAL sums are exact, so
  the mean is independent of both partitioning and summation order —
  the property that keeps Lloyd iterations bit-identical between
  Spark and the DuckDB oracle. Means are rounded to 6 decimals and
  cast back to double before the next iteration.

Iteration count is FIXED (no convergence test): deterministic plan
depth, deterministic output, and the oracle replays the exact same
number of Lloyd steps. Each iteration's centroid frame (k rows) is
persisted — it feeds a broadcast and Catalyst will not reuse the
aliased subplan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import dot, norm
from .hashing import hash32


def kmeans_assignments(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster, cos) after ``iters`` Lloyd iterations of
    spherical k-means — ``cos`` is the similarity to the centroid that
    claimed the vector in the final assignment."""
    c = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # a dimension-scale embeddings file can scan as a handful of input
    # splits, serializing every n x k scoring pass below; one
    # corpus-linear shuffle buys full-width parallelism (skipped when
    # the scan is already wide, e.g. a real partitioned corpus)
    nparts = int(
        emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if c.rdd.getNumPartitions() < nparts:
        c = c.repartition(nparts)
    # per-vector norm computed ONCE — cosine() per (vector, centroid)
    # would re-derive it n x k times per iteration
    c = c.withColumn("nv", norm("v"))
    h = hash32(F.concat(F.lit("kmeans:"), F.col("vec_id").cast("string")))
    cents = (
        c.withColumn("h", h)
        .withColumn("cl", F.col("h") % k)
        .groupBy("cl")
        .agg(F.min(F.struct("h", "vec_id", "v")).alias("m"))
        .select("cl", F.col("m.v").alias("cv"))
        .withColumn("ncv", norm("cv"))
        .persist()
    )

    mean_aggs = [
        F.expr(
            f"round(CAST(sum(CAST(element_at(v, {i + 1}) AS "
            f"DECIMAL(28,12))) AS DOUBLE) / count(1), 6)"
        ).alias(f"s{i}")
        for i in range(dims)
    ]

    assign = None
    for it in range(iters):
        scored = c.join(F.broadcast(cents)).select(
            "vec_id",
            "v",
            "cl",
            F.round(
                dot("v", "cv") / (F.col("nv") * F.col("ncv")),
                5,
            ).alias("sim"),
        )
        assign = (
            scored.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(F.col("sim"), (-F.col("cl")).alias("ncl"))
                ).alias("m"),
                F.first("v").alias("v"),
            )
            .select(
                "vec_id",
                "v",
                (-F.col("m.ncl")).alias("cl"),
                F.col("m.sim").alias("sim"),
            )
        )
        if it < iters - 1:  # the last assignment needs no update step
            cents = (
                assign.groupBy("cl")
                .agg(*mean_aggs)
                .select(
                    "cl",
                    F.array(
                        *[F.col(f"s{i}") for i in range(dims)]
                    ).alias("cv"),
                )
                .withColumn("ncv", norm("cv"))
                .persist()
            )
    return assign.select(
        "vec_id", F.col("cl").alias("cluster"), F.col("sim").alias("cos")
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning (Abbas et al.
    2023): k-means the embedding space, then compare vectors only
    WITHIN their cluster and mark every vector that has a
    smaller-id cluster-mate above the cosine threshold. Returns the
    prune list ``(vec_id, cluster, dup_of, max_cos)`` where ``dup_of``
    is the smallest qualifying partner id (the canonical survivor).

    Scale shape: the quadratic comparison is confined to single
    clusters — the algorithm's defining trick. The cluster-keyed
    self-join shuffles the corpus once on ``cluster``; pair volume is
    sum over clusters of |c|^2, so ``k`` must grow with n to hold
    |c| ~ n/k at a constant target (SemDeDup runs k ~ 50k on
    LAION-scale data). With bounded cluster sizes this is a linear
    plan; clusters never form a global cartesian product. Determinism
    matches :func:`kmeans_assignments` (the DuckDB oracle replays the
    identical Lloyd chain, cosine rounded to 5).
    """
    from .dedup import dot, norm

    assign = kmeans_assignments(emb, k=k, iters=iters, dims=dims,
                                id_col=id_col, vec_col=vec_col)
    # per-row norm computed ONCE here — the naive per-pair cosine()
    # re-derives both operands' norms for every partner, so its cost
    # grows with the pair count, not the row count; per PAIR only
    # the fold dot remains (see dot()'s docstring for why the fold
    # beats an unrolled term chain here)
    members = (
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .join(assign.select("vec_id", "cluster"), on="vec_id")
        .withColumn("nrm", norm("v"))
    )
    # pin the pair join's width with explicit-count repartitions on
    # the join key: AQE sizes partitions by shuffle INPUT bytes, and a
    # dimension-scale input coalesces to ONE task even though the
    # within-cluster pair fan-out is the whole cost of this operator
    # (coalesced to one task, the pair stage runs serially).
    # Explicit numPartitions is exempt from AQE coalescing, and both
    # sides sharing it means the join adds no further exchange.
    nparts = int(
        emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    a = members.select(
        F.col("vec_id").alias("a_id"),
        F.col("cluster").alias("cluster"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    ).repartition(nparts, F.col("cluster"))
    b = members.select(
        "vec_id", "cluster", F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    ).repartition(nparts, F.col("cluster"))
    pairs = (
        a.join(b, on="cluster")
        .filter(F.col("a_id") < F.col("vec_id"))
        .select(
            "vec_id",
            "cluster",
            "a_id",
            F.round(
                dot("va", "vb") / (F.col("na") * F.col("nb")),
                5,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    return pairs.groupBy("vec_id", "cluster").agg(
        F.min("a_id").alias("dup_of"),
        F.max("cos").alias("max_cos"),
    )
