"""Embedding, ANN, and graph analytics queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame;
its DuckDB oracle SQL lives in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import _embs, _t, query


@query
def _ann_cosine_topk(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import cosine_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries_df, k=10)

@query
def _ann_lsh_topk(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import lsh_ann_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_ann_topk(emb, queries_df, k=10, dims=64, planes=8)

@query
def _ann_ivf_topk(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import ivf_ann_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_topk(emb, queries_df, k=10, n_centroids=16, n_probe=4)

@query
def _emb_kmeans(spark, sf_dir):
    """Spherical k-means over the embeddings table: 8 clusters, 3
    fixed Lloyd iterations (deterministic — the DuckDB oracle replays
    the identical steps)."""
    from task_on_dataframes_spark.operators.clustering import (
        kmeans_assignments,
    )

    return kmeans_assignments(_embs(spark, sf_dir), k=8, iters=3)

@query
def _emb_quantize(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import quantize_int8

    return quantize_int8(_embs(spark, sf_dir))

@query
def _ann_sq_rerank(spark, sf_dir):
    """Two-stage scalar-quantized retrieval: int8 approximate scan
    (4x less bandwidth than float32 at corpus scale) shortlists 50
    candidates per query, exact float cosine reranks to top-10. Both
    stages are windowed group-limit prunes; the quantized integer dot
    plus one double scale-multiply replays exactly in DuckDB."""
    from task_on_dataframes_spark.operators.similarity import sq_ann_rerank

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq_ann_rerank(emb, queries_df, k=10, shortlist=50)

@query
def _ann_lsh_multi_topk(spark, sf_dir):
    """Multi-table LSH ANN (2 tables x 4 planes): candidate union
    across independent plane sets — the recall lever of LSH search."""
    from task_on_dataframes_spark.operators.similarity import lsh_ann_topk_multi

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_ann_topk_multi(
        emb, queries_df, k=10, dims=64, planes=4, n_tables=2
    )

@query
def _emb_dim_stats(spark, sf_dir):
    """Per-dimension embedding profile (mean / population variance /
    min / max) — the normalization-stats pass before whitening or
    quantizing a vector column. ``posexplode`` fans out d rows per
    vector in the scan stage; the aggregate is keyed on the dimension
    index, so map-side partial aggregation collapses each partition to
    d rows before the single d-key shuffle. Variance is computed as
    E[x^2] - E[x]^2 in BOTH engines (no var_samp definitional drift);
    floats are widened to double before any arithmetic."""
    emb = _embs(spark, sf_dir)
    v = F.col("val").cast("double")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(v), 6).alias("mean"),
            F.round(F.avg(v * v) - F.avg(v) * F.avg(v), 6).alias("var_pop"),
            F.round(F.min(v), 5).alias("min_val"),
            F.round(F.max(v), 5).alias("max_val"),
        )
    )

@query
def _emb_label_centroids(spark, sf_dir):
    """Per-label mean embedding: ONE keyed shuffle of n x d exploded
    rows with map-side partial DECIMAL sums (partition-order-proof,
    exact oracle)."""
    from task_on_dataframes_spark.operators.linalg import label_centroids

    return label_centroids(_embs(spark, sf_dir))

@query
def _emb_gram(spark, sf_dir):
    """Distributed Gram matrix: per-partition NumPy X^T X partials via
    mapInPandas, one d(d+1)/2-key shuffle of partials — the corpus is
    never shuffled (the covariance/PCA front end at 100 TB)."""
    from task_on_dataframes_spark.operators.linalg import gram_matrix

    # floor=False: the Gram partials are a map-side reduction (each
    # input split collapses to d^2 numbers before the only shuffle), so
    # pre-shuffling the corpus costs more than the parallelism it buys.
    return gram_matrix(_embs(spark, sf_dir, floor=False))

@query
def _emb_pca_top(spark, sf_dir):
    """Top principal direction: distributed Gram reduction, then a
    deterministic driver-side power iteration on the d x d result
    (fixed all-ones init, 8 steps, sign-normalized). The oracle
    replays the identical iteration in SQL from the same rounded
    Gram."""
    from task_on_dataframes_spark.operators.linalg import (
        gram_matrix,
        pca_power_top,
    )

    gram = gram_matrix(_embs(spark, sf_dir, floor=False))
    return pca_power_top(spark, gram)

@query
def _emb_pca_project(spark, sf_dir):
    """Apply the learned transform: project every embedding onto the
    top principal direction. The direction (64 floats) comes from the
    distributed Gram + driver power iteration and broadcasts as an
    array literal; the projection is a scan-stage DECIMAL-exact fold —
    no shuffle touches the corpus beyond the Gram reduction itself."""
    from task_on_dataframes_spark.operators.linalg import (
        gram_matrix,
        pca_power_top,
    )

    # floor=False: both consumers are shuffle-free over the scan — the
    # Gram is a map-side reduction and the projection is JVM zip_with.
    emb = _embs(spark, sf_dir, floor=False)
    v = {
        r["pos"]: r["loading"]
        for r in pca_power_top(spark, gram_matrix(emb)).collect()
    }
    arr = F.array(*[F.lit(float(v[i + 1])) for i in range(64)])
    prods = F.zip_with(
        F.col("embedding").cast("array<double>"),
        arr,
        lambda a, b: a * b,
    )
    proj = F.round(
        F.aggregate(
            prods,
            F.lit(0).cast("decimal(28,12)"),
            # re-cast per step: decimal addition widens the type and
            # the fold accumulator must stay DECIMAL(28,12); no digits
            # are lost (all addends carry exactly 12 frac digits)
            lambda acc, x: (acc + x.cast("decimal(28,12)")).cast(
                "decimal(28,12)"
            ),
        ).cast("double"),
        6,
    )
    return emb.select("vec_id", proj.alias("proj"))

@query
def _graph_pagerank(spark, sf_dir):
    """PageRank over the customer-nation -> supplier-nation trade
    graph (edge weight = lineitem count). Edge list stays distributed;
    the 25-row rank vector broadcasts per iteration — one keyed
    shuffle per step at any scale."""
    from task_on_dataframes_spark.operators.graph import pagerank

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    return pagerank(edges, nodes, iters=5, damping=0.85)


@query
def _ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-10 (m=8 subspaces x k=32 codes =
    40 bits/vector, 2 Lloyd iterations per sub-quantizer,
    deterministic hash init; recall@10 ~0.4 vs exact on the synthetic
    random unit vectors — the PQ-pessimal case, real embedding
    manifolds quantize far better) —
    the compressed-domain ANN rung: query time touches the n x m code
    table and a broadcast LUT, never the raw embedding matrix. The
    DuckDB oracle replays training, encoding, and ADC exactly."""
    from task_on_dataframes_spark.operators.pq import pq_ann_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_ann_topk(emb, queries_df, k_top=10, m=8, k=32, iters=2)


@query
def _ann_ivfpq_topk(spark, sf_dir):
    """IVF+PQ hybrid ADC top-10: coarse cosine inverted index
    (16 cells, 4 probes — identical machinery to ann_ivf_topk)
    restricts the candidate set; non-residual PQ codes (m=8, k=32)
    rank candidates in the compressed domain. The full FAISS-style
    production shape, exactly replayed by the DuckDB oracle."""
    from task_on_dataframes_spark.operators.pq import ivfpq_ann_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_ann_topk(
        emb, queries_df, k_top=10, n_centroids=16, n_probe=4,
        m=8, k=32, iters=2,
    )


@query
def _ann_ivfsq_topk(spark, sf_dir):
    """IVF + int8 scalar-quantized list scan + exact rerank (FAISS
    ``IVF16,SQ8`` shape): the coarse index prunes WHICH vectors are
    scored, the quantized dot makes each scored candidate 4x cheaper
    in bandwidth, exact cosine reranks the top-50 shortlist. Closes
    ann_sq_rerank's flat-scan gap — its stage 1 touched every corpus
    vector per query. n_probe=12/16 here because the synthetic
    UNIFORM-random vectors are IVF-pessimal (no cluster structure, so
    true neighbors scatter across lists — recall@10 is ~coverage:
    0.46 at 4 probes, 0.90 at 12, measured at sf0.01); real embedding
    manifolds cluster and run the same shape at n_probe 2-4. Oracle
    replays centroid selection, assignment, probes, quantization, and
    both rerank stages exactly."""
    from task_on_dataframes_spark.operators.similarity import ivfsq_ann_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfsq_ann_topk(
        emb, queries_df, k=10, n_centroids=16, n_probe=12, shortlist=50
    )


@query
def _ann_ivf_incremental(spark, sf_dir):
    """IVF index maintenance: centroids frozen on the 90% base corpus
    (vec_id % 10 != 0), the 10% "new arrivals" batch assigned to those
    lists without retraining (ingest linear in the BATCH), queries
    answered over base ∪ batch immediately — the ANN twin of
    dedup_incremental_lsh. is_new marks hits from the fresh batch.
    Oracle replays the split, frozen-centroid selection, both
    assignments, probes, and scoring exactly."""
    from task_on_dataframes_spark.operators.similarity import (
        ivf_ann_incremental,
    )

    emb = _embs(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    newb = emb.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") >= 10))
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_incremental(
        base, newb, queries_df, k=10, n_centroids=16, n_probe=4
    )


def _ensure_ivf_index(spark, sf_dir):
    """Build (once per session per sf_dir — the s13 layout-caching
    contract shared with dedup's _ensure_lsh_index) the persisted IVF
    index over the base corpus split (vec_id % 10 != 0): the stored
    centroid table and the cid-bucketed inverted-list table with
    precomputed norms. Returns (cents_table, lists_table)."""
    import hashlib

    from task_on_dataframes_spark.operators.similarity import (
        build_ivf_index,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = _embs(spark, sf_dir).filter(F.col("vec_id") % 10 != 0)
    return build_ivf_index(
        spark, base, "vec_id", "embedding", name_tag=tag, n_centroids=16
    )


@query
def _ann_index_build(spark, sf_dir):
    """The write-once IVF corpus index as a first-class query (r10
    verdict item 6 — the vector twin of dedup_index_build): persist
    coarse centroids + cid-bucketed inverted lists with precomputed
    norms for the base corpus (vec_id % 10 != 0), then return the
    index content — one row per vector with its list assignment and
    stored norm. The oracle replays centroid selection, argmax
    assignment, and the norm from the raw parquet. Build cost is one
    corpus scan + the centroid-sample shuffle + the assignment argmax,
    paid once per corpus release."""
    cents_t, lists_t = _ensure_ivf_index(spark, sf_dir)
    return spark.table(lists_t).select(
        "vec_id", "cid", F.round("nc", 5).alias("nc")
    )


@query
def _ann_index_probe(spark, sf_dir):
    """Two query waves probed against the SAME persisted IVF index —
    the reuse contract that makes vector search incremental: wave 1
    (vec_id < 10) and wave 2 (10 <= vec_id < 20) each rank the stored
    centroids, read ONLY their probed buckets (cid IN-filter bucket
    pruning), and score against stored vectors + norms. The corpus is
    never re-assigned, re-normed, or shuffled (plan contract in
    tests/test_plan_shapes.py). Output = exact top-10 by cosine
    within probed lists, tagged by wave."""
    from task_on_dataframes_spark.operators.similarity import (
        probe_ivf_index,
    )

    emb = _embs(spark, sf_dir)
    cents_t, lists_t = _ensure_ivf_index(spark, sf_dir)
    outs = []
    for wave, (lo, hi) in enumerate([(0, 10), (10, 20)], start=1):
        batch = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        m = probe_ivf_index(
            spark, batch, cents_t, lists_t, k=10, n_probe=4
        )
        outs.append(m.withColumn("wave", F.lit(wave)))
    return outs[0].unionByName(outs[1]).select(
        "wave", "query_id", "vec_id", "cos", "rank"
    )


@query
def _ann_index_maintain(spark, sf_dir):
    """The full vector-index lifecycle in one query (r11, the twin of
    dedup_index_maintain): build the persisted IVF index on the base
    split (vec_id % 10 not in (0, 5)), probe a bounded query batch
    (vec_id % 10 == 0, vec_id < 200) against it, APPEND the growth
    wave (vec_id % 10 == 5) — assigned to the FROZEN stored centroids,
    batch-sized work only — then probe the SAME queries against the
    GROWN index. Phase-2 top-10s can pull in appended vectors, which
    the build-once path can never return: the property that lets a
    100 TB vector corpus take rolling ingest without re-quantizing.

    Phase 1 is materialized (localCheckpoint) before the append so
    both phases stay deterministic on re-execution; a fresh tag per
    invocation prevents double-appends. Output:
    (phase, query_id, vec_id, cos, rank)."""
    import uuid

    from task_on_dataframes_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        probe_ivf_index,
    )

    emb = _embs(spark, sf_dir)
    tag = "mnt_" + uuid.uuid4().hex[:8]
    base = emb.filter(
        (F.col("vec_id") % 10 != 0) & (F.col("vec_id") % 10 != 5)
    )
    cents_t, lists_t = build_ivf_index(
        spark, base, "vec_id", "embedding", name_tag=tag, n_centroids=16
    )
    queries = emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 200)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    m1 = probe_ivf_index(
        spark, queries, cents_t, lists_t, k=10, n_probe=4
    ).withColumn("phase", F.lit(1)).localCheckpoint()
    growth = emb.filter(F.col("vec_id") % 10 == 5)
    append_ivf_index(spark, growth, cents_t, lists_t)
    m2 = probe_ivf_index(
        spark, queries, cents_t, lists_t, k=10, n_probe=4
    ).withColumn("phase", F.lit(2))
    return m1.unionByName(m2).select(
        "phase", "query_id", "vec_id", "cos", "rank"
    )


@query
def _ann_index_compact(spark, sf_dir):
    """Vector-index compaction as a first-class query (r12, the twin
    of dedup_index_compact): build the persisted IVF index on the
    base split (vec_id % 10 not in (0, 5)), APPEND the growth wave
    (% 10 == 5) — leaving multi-file cid buckets — then COMPACT to
    one sorted file per bucket and probe the bounded query batch
    (% 10 == 0, vec_id < 200) against the compacted index. Results
    must be value-identical to probing the uncompacted grown index
    (the oracle is the same grown-index replay as ann_index_maintain
    phase 2); what compaction buys is the LAYOUT — bounded listing,
    one sort run per bucket, sequential scan IO — with the
    no-corpus-shuffle probe contract intact (pinned in
    tests/test_plan_shapes.py). Output: (query_id, vec_id, cos,
    rank)."""
    import uuid

    from task_on_dataframes_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        probe_ivf_index,
    )

    emb = _embs(spark, sf_dir)
    tag = "cmp_" + uuid.uuid4().hex[:8]
    base = emb.filter(
        (F.col("vec_id") % 10 != 0) & (F.col("vec_id") % 10 != 5)
    )
    cents_t, lists_t = build_ivf_index(
        spark, base, "vec_id", "embedding", name_tag=tag, n_centroids=16
    )
    growth = emb.filter(F.col("vec_id") % 10 == 5)
    append_ivf_index(spark, growth, cents_t, lists_t)
    cc, cl = compact_ivf_index(spark, cents_t, lists_t, tag + "_c")
    queries = emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 200)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return probe_ivf_index(spark, queries, cc, cl, k=10, n_probe=4)


def clustered_embeddings(
    emb: DataFrame, n_clusters: int = 12, jitter: float = 0.15
) -> DataFrame:
    """Deterministically CLUSTERED (vec_id, embedding) table derived
    from an embeddings frame: each vector hash-assigns to one of
    ``n_clusters`` clusters whose center components are hash-derived
    in [-1, 1]; ``jitter`` x the original embedding is added on top.
    Pure md5-hash arithmetic over existing columns — replayed
    bit-for-bit by the DuckDB oracle. The fixture every IVF recall
    eval uses: real embedding corpora are clustered, and uniform
    vectors are IVF-pessimal."""
    from task_on_dataframes_spark.operators.hashing import hash32

    cl = (
        hash32(F.concat(F.lit("clu:"), F.col("vec_id").cast("string")))
        % n_clusters
    ).alias("cl")
    base = emb.select(
        "vec_id", cl, F.col("embedding").cast("array<double>").alias("v0")
    )
    cvec = F.transform(
        F.col("v0"),
        lambda x, i: (
            hash32(
                F.concat(
                    F.lit("ctr:"),
                    F.col("cl").cast("string"),
                    F.lit(":"),
                    i.cast("string"),
                )
            )
            % 2001
            - 1000
        )
        / F.lit(1000.0)
        + F.lit(jitter) * x,
    )
    return base.select("vec_id", cvec.alias("embedding"))


@query
def _ann_recall_clustered(spark, sf_dir):
    """IVF recall sweep on CLUSTERED vectors — uniform-random
    embeddings are IVF-pessimal (recall ~= list coverage, SCALE.md
    §17b), so this derives a deterministically CLUSTERED table from
    the embeddings parquet and measures recall@10 over n_probe ∈
    {1, 2, 4}: each vector lands in one of 12 hash-assigned clusters
    whose center components are hash-derived in [-1, 1], plus
    0.15 x its original embedding as jitter. Cluster separation >>
    jitter, so inverted lists align with the true structure and recall
    climbs 0.7 -> 0.9 -> 1.0 across probes — the regime a real
    embedding corpus (which is always clustered) lives in. Everything
    is md5-hash arithmetic over existing columns, so the DuckDB
    oracle replays the derivation, the IVF index, all three probe
    sweeps, and the exact baseline bit-for-bit.

    Output: (n_probe, query_id, recall_at_10).

    Plan shape (r8 — this was the 42-exchange PLANAUDIT outlier): the
    IVF index is built and the candidates are scored ONCE at the
    maximum n_probe, carrying the probe rank ``pr``; each smaller
    probe level is then a FILTER of the same lazily-checkpointed
    candidate table plus a per-query top-k window — bit-identical to
    calling ``ivf_ann_topk`` per level (same probe ranking, same
    (cos DESC, vec_id) tie order; the candidate set of probe level p
    is exactly the ``pr <= p`` slice), but the member assignment /
    centroid build / scoring join run once instead of three times."""
    from task_on_dataframes_spark.operators.dedup import cosine, dot, norm
    from task_on_dataframes_spark.operators.similarity import (
        _ivf_centroids,
        _ivf_member,
        cosine_topk,
    )

    # lazy lineage cut: the clustered derivation feeds the exact
    # baseline (corpus + queries) and the IVF build (corpus + queries)
    # and Catalyst does not dedupe aliased subplans — without this the
    # hash-transform recomputes per consumer
    clustered = clustered_embeddings(_embs(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    qs = clustered.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the exact baseline feeds all three per-probe semi-joins; cut its
    # lineage too or the brute-force pipeline re-runs per probe level
    exact = (
        cosine_topk(clustered, qs, k=10)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=False)
    )

    c = clustered.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vc")
    )
    cents = _ivf_centroids(c, 16)
    member = _ivf_member(c, cents)
    q = qs.select(
        "query_id", F.col("embedding").cast("array<double>").alias("vq")
    )
    # probe ranking once at max(n_probe) — same (qsim DESC, cid) order
    # as similarity._ivf_probes, with the rank kept
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("qsim"), F.asc("cid")
    )
    probes = (
        q.join(F.broadcast(cents))
        .select(
            "query_id",
            "vq",
            "cid",
            F.round(cosine("vq", "cv"), 5).alias("qsim"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= 4)
        .select("query_id", "vq", "cid", "pr")
    )
    scored = (
        member.withColumn("nc", norm("vc"))
        .join(F.broadcast(probes.withColumn("nq", norm("vq"))), on="cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            "pr",
            F.round(
                dot("vq", "vc") / (F.col("nq") * F.col("nc")), 5
            ).alias("cos"),
        )
        .localCheckpoint(eager=False)
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    outs = []
    for p in (1, 2, 4):
        approx = (
            scored.filter(F.col("pr") <= p)
            .withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= 10)
            .select("query_id", "vec_id")
        )
        hits = (
            exact.join(approx, on=["query_id", "vec_id"], how="left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("h"))
        )
        outs.append(
            qs.select("query_id")
            .join(hits, on="query_id", how="left")
            .select(
                F.lit(p).alias("n_probe"),
                "query_id",
                F.round(
                    F.coalesce(F.col("h"), F.lit(0)) / 10.0, 3
                ).alias("recall_at_10"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@query
def _ann_recall_eval(spark, sf_dir):
    """ANN quality evaluation: recall@10 of the multi-table LSH index
    against the exact cosine top-10, per query — the measurement loop
    that tunes (planes, n_tables) in production. Intersection is an
    equi-join on (query_id, vec_id) of two 10-row-per-query lists; the
    corpus cost is the two underlying searches themselves."""
    from task_on_dataframes_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk_multi,
    )

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries_df, k=10).select("query_id", "vec_id")
    approx = lsh_ann_topk_multi(
        emb, queries_df, k=10, dims=64, planes=4, n_tables=2
    ).select("query_id", "vec_id")
    hits = (
        exact.join(approx, on=["query_id", "vec_id"], how="left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return (
        queries_df.select("query_id")
        .join(hits, on="query_id", how="left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("h"), F.lit(0)) / 10.0, 3).alias(
                "recall_at_10"
            ),
        )
    )


@query
def _emb_pca_top2(spark, sf_dir):
    """Top-2 PCA via power iteration + Hotelling deflation: v1 from
    the distributed Gram, Rayleigh lam1, deflated G2 = G - lam1*v1*v1'
    (entries rounded 6 — the engine-sync point), v2 from the same
    fixed iteration on G2. Driver work is d x d; the corpus only ever
    feeds the Gram reduction. Full CTE-chain oracle replays both
    chains and the deflation."""
    from task_on_dataframes_spark.operators.linalg import (
        gram_matrix,
        pca_power_top2,
    )

    gram = gram_matrix(_embs(spark, sf_dir, floor=False))
    return pca_power_top2(spark, gram)


@query
def _ann_filtered_topk(spark, sf_dir):
    """Filtered vector search — top-k cosine neighbors WITHIN a
    metadata predicate (label % 4 == 0), the retrieval shape every
    production ANN deployment needs ("similar docs, but only in this
    language/license bucket"). Strategy here is PRE-filtering: the
    predicate is pushed to the parquet scan and the IVF index
    (centroids + inverted lists) is built over the filtered
    sub-corpus, so list sizes and probe costs shrink WITH the
    selectivity — unlike post-filtering, which over-fetches from an
    unfiltered index and can come back k-deficient when the predicate
    is rare. At 100 TB the pre-filtered index per hot predicate bucket
    is the standard layout; the oracle replays centroids, assignment,
    probes, and scoring over the identical filtered set."""
    from task_on_dataframes_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("label") % 4 == 0)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_topk(emb, queries_df, k=10, n_centroids=16, n_probe=4)


@query
def _emb_matryoshka_eval(spark, sf_dir):
    """Matryoshka / truncated-dimension retrieval evaluation: how much
    recall@10 survives searching on only the FIRST 16 of 64 dimensions?
    (The MRL deployment question — prefix dims are 4x cheaper to score
    and store.) Both searches are exact brute-force over the eval
    query set, so the measurement isolates the truncation effect; the
    oracle replays both searches and the overlap count. Per query:
    recall10 = |top10(prefix16) ∩ top10(full)| / 10."""
    from task_on_dataframes_spark.operators.similarity import cosine_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = cosine_topk(emb, queries_df, k=10).select("query_id", "vec_id")
    pre16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    pre_q = queries_df.select(
        "query_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    pre = cosine_topk(pre16, pre_q, k=10).select("query_id", "vec_id")
    hit = full.join(pre, ["query_id", "vec_id"], "left_semi")
    counts = hit.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    # left join from the query set so a fully-divergent query still
    # reports recall 0 instead of vanishing
    return (
        queries_df.select("query_id")
        .join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / 10, 2).alias(
                "recall10"
            ),
        )
    )
