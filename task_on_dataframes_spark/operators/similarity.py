"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — exact brute-force top-k: broadcast the (small)
  query set against the full corpus, window-rank per query. The
  correctness baseline; linear in corpus size, embarrassingly parallel.
* :func:`lsh_ann_topk` — random-hyperplane LSH: bucket by sign bits,
  rank only within buckets. The 100 TB path: candidate sets shrink by
  ~2^planes, at a measured recall cost (tested against the brute-force
  baseline). Hyperplanes are deterministic md5-derived +-1 vectors so
  results are reproducible on any engine.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import cosine, dot, norm
from .hashing import hash32, perm_coeffs, MERSENNE_P
from .index import append_tables, build_tables, committed, compact_tables
from .index import read_committed
from .persist import hold


def _ivf_centroids(c: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic hash-stratified centroid selection shared by every
    IVF variant (plain / +SQ / incremental — their docstrings say the
    machinery is identical; this helper makes that literal): each
    vector hashes into one of ``n_centroids`` strata via the portable
    ``'ivf:'``-salted md5 hash32 and the min-hash row per stratum wins
    — uncorrelated with ingest order, replayed exactly by the DuckDB
    oracles. One map-side-partial min(struct) shuffle of
    n_partitions x n_centroids rows; the result (n_centroids rows) is
    persisted because two broadcasts consume it (assignment + probe
    ranking) and Catalyst will not reuse the aliased subplan; one
    centroid frame per session stays held (:func:`.persist.hold`)."""
    h = hash32(F.concat(F.lit("ivf:"), F.col("vec_id").cast("string")))
    cents = (
        c.withColumn("h", h)
        .withColumn("stratum", F.col("h") % n_centroids)
        .groupBy("stratum")
        .agg(F.min(F.struct("h", "vec_id", "vc")).alias("m"))
        .select(F.col("m.vec_id").alias("cid"), F.col("m.vc").alias("cv"))
    )
    return hold(cents, "ivf_centroids", keep=1)


def _ivf_member(
    c: DataFrame, cents: DataFrame, extra_cols: tuple = ()
) -> DataFrame:
    """Inverted-list membership shared by the IVF variants: score every
    vector against the broadcast centroids, collapse to the argmax with
    a map-side partial ``max(struct(sim, -cid))`` (the x n_centroids
    fan-out collapses back to corpus size INSIDE the scan stage).
    ``extra_cols`` are carried through (e.g. the incremental variant's
    ``is_new`` flag)."""
    assigned = c.join(F.broadcast(cents)).select(
        "vec_id",
        "vc",
        *extra_cols,
        "cid",
        F.round(cosine("vc", "cv"), 5).alias("sim"),
    )
    return (
        assigned.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("cid")).alias("ncid"))
            ).alias("m"),
            F.first("vc").alias("vc"),
            *[F.first(x).alias(x) for x in extra_cols],
        )
        .select("vec_id", "vc", *extra_cols, (-F.col("m.ncid")).alias("cid"))
    )


def _ivf_probes(q: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """Probe ranking shared by the IVF variants: the ``n_probe``
    nearest lists per query by centroid cosine, ties on cid — the
    probed (query_id, vq, cid) pairs broadcast into the candidate
    join, so the member table never shuffles for it."""
    wq = Window.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("cid"))
    return (
        q.join(F.broadcast(cents))
        .select(
            "query_id",
            "vq",
            "cid",
            F.round(cosine("vq", "cv"), 5).alias("qsim"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "vq", "cid")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, vec_id, cos, rank) with rank 1..k; cosine is
    rounded to 5 decimals before ranking and ties break on vec_id, so
    the result set is engine-deterministic.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    ).withColumn("nc", norm("vc"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    ).withColumn("nq", norm("vq"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("vq", "vc") / (F.col("nq") * F.col("nc")), 5
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_sign(plane: int, dim: int) -> int:
    """Deterministic +-1 entry (plane, dim) of the hyperplane matrix."""
    a, b = perm_coeffs(plane)
    v = (a * (dim + 1) + b) % MERSENNE_P
    return 1 if v % 2 == 1 else -1


def hyperplane_bucket(
    vec: str, dims: int, planes: int, plane_offset: int = 0
) -> Column:
    """LSH bucket id: bit p is the sign of <plane_{offset+p}, vec>.
    ``plane_offset`` selects an independent plane set, giving the
    independent hash tables of multi-table LSH.

    ``vec`` is the COLUMN NAME of an array<double> column. The
    expression is rendered as ONE SQL string through ``F.expr`` —
    building the dims x planes projection as chained Column operators
    costs thousands of py4j round-trips (~4 s of driver time per query
    at 64x8); the SQL string is one call and parses in milliseconds.
    The arithmetic (left-fold sum, fixed sign matrix) is bit-for-bit
    the DuckDB oracle's."""
    terms = []
    for p in range(planes):
        proj = "0.0D" + "".join(
            f" + element_at(`{vec}`, {d + 1}) * "
            f"{float(_plane_sign(plane_offset + p, d))}D"
            for d in range(dims)
        )
        terms.append(
            f"(CASE WHEN ({proj}) > 0.0D THEN {1 << p}L ELSE 0L END)"
        )
    return F.expr("(" + " + ".join(terms) + ")")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dims: int = 64,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane
    bucket are scored. Same output shape as :func:`cosine_topk`."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    ).withColumn("bucket", hyperplane_bucket("vc", dims, planes)).withColumn(
        "nc", norm("vc")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    ).withColumn("bucket", hyperplane_bucket("vq", dims, planes)).withColumn(
        "nq", norm("vq")
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("vq", "vc") / (F.col("nq") * F.col("nc")), 5
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into
    ``n_centroids`` inverted lists, search only the ``n_probe`` lists
    nearest to each query.

    Centroid selection is deterministic hash-stratified sampling: each
    vector hashes (portable md5 ``hash32``) into one of ``n_centroids``
    strata and the min-hash row per stratum becomes that stratum's
    centroid. Unlike lowest-id selection this is uncorrelated with
    ingest order, so inverted lists stay balanced at scale, and it is
    still reproducible on any engine (the DuckDB oracle replays the
    same selection). The pick is a map-side-partial ``min(struct)`` per
    stratum — shuffle volume is n_partitions x n_centroids rows, never
    the corpus. Assignment scores every vector against the broadcast
    centroid set, then collapses to the argmax with a map-side partial
    ``max(struct(sim, -cid))`` — the x n_centroids fan-out collapses
    back to corpus size INSIDE the scan stage, so shuffle volume stays
    at corpus size. (A zero-shuffle higher-order ``aggregate`` argmax
    over a broadcast centroid array was measured SLOWER: lambda folds
    are interpreted, not whole-stage-codegen'd, and lose more than the
    shuffle saves.) The probed-cluster pairs are broadcast, so the
    member table never shuffles for the candidate join; only
    candidates (corpus/n_centroids x n_probe per query) reach the
    per-query top-k window.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    )
    cents = _ivf_centroids(c, n_centroids)
    member = _ivf_member(c, cents)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    probes = _ivf_probes(q, cents, n_probe)
    scored = (
        member.withColumn("nc", norm("vc"))
        .join(F.broadcast(probes.withColumn("nq", norm("vq"))), on="cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("vq", "vc") / (F.col("nq") * F.col("nc")), 5
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_ann_incremental(
    base: DataFrame,
    new_batch: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF index MAINTENANCE: centroids train on the existing ``base``
    corpus only; ``new_batch`` vectors are assigned to those frozen
    lists (one broadcast-centroid argmax over the batch — no
    retraining, no base re-scan beyond its own one-time assignment)
    and search runs over base ∪ batch. This is how a production vector
    index absorbs a day's arrivals at 100 TB: the expensive coarse
    quantizer stays fixed between rebuilds, ingest cost is linear in
    the BATCH, and the same machinery answers queries immediately —
    the ANN twin of ``dedup.incremental_lsh_pairs``. Drift between the
    frozen centroids and new data shows up as list imbalance, which
    the recall-eval queries measure; the rebuild cadence is an
    offline decision.

    Centroid selection / assignment / probe ranking are identical to
    :func:`ivf_ann_topk` (hash-stratified deterministic centroids,
    map-side-partial argmax, broadcast probed pairs), replayed exactly
    by the DuckDB oracle. Output (query_id, vec_id, is_new, cos,
    rank), rank 1..k by exact cosine within probed lists.
    """
    b = base.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    )
    nb = new_batch.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    )
    cents = _ivf_centroids(b, n_centroids)
    union = b.withColumn("is_new", F.lit(False)).unionAll(
        nb.withColumn("is_new", F.lit(True))
    )
    member = _ivf_member(union, cents, extra_cols=("is_new",))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    probes = _ivf_probes(q, cents, n_probe)
    scored = (
        member.withColumn("nc", norm("vc"))
        .join(F.broadcast(probes.withColumn("nq", norm("vq"))), on="cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            "is_new",
            F.round(
                dot("vq", "vc") / (F.col("nq") * F.col("nc")), 5
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


#: bucket count for the persisted IVF index list table — same sizing
#: note as dedup.LSH_INDEX_BUCKETS (cluster-sized at 100 TB, 8 keeps
#: the test-scale layout on the s13 bucketed-join contract)
IVF_INDEX_BUCKETS = 8


def build_ivf_index(
    spark,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    name_tag: str = "default",
    n_centroids: int = 16,
    n_buckets: int = IVF_INDEX_BUCKETS,
) -> tuple:
    """Persist the write-once IVF index — the vector twin of
    ``dedup.build_lsh_index``: the coarse quantizer is paid ONCE per
    corpus release and every later query batch probes the stored
    lists (:func:`ivf_ann_incremental` re-derives them in-session).

    Two parquet tables:

    * ``tada_ivfidx_cents_{name_tag}``: ``(cid, cv)`` — the
      ``n_centroids`` coarse centroids (hash-stratified deterministic
      selection, identical to :func:`_ivf_centroids`). Tiny; always
      broadcast by consumers.
    * ``tada_ivfidx_lists_{name_tag}``: ``(cid, vec_id, vc, nc)`` —
      the inverted-list membership (argmax centroid assignment,
      identical to :func:`_ivf_member`) with each vector's norm
      PRECOMPUTED, bucketed AND sorted by ``cid`` so a probe reads
      only the probed lists (bucket pruning on the ``cid IN (...)``
      probe filter) and never recomputes a corpus norm.

    Both tables are partitioned by generation (:mod:`.index`). The
    list table heads the index and holds its commit: it is the table
    every append and compaction writes. The centroid table is written
    once, here, as gen ``0``, and is read whole — the quantizer is
    frozen, and a build returns only after its commit. Returns
    ``(cents_table, lists_table)``. Idempotent per ``name_tag``: a
    committed index is reused, not rewritten; a half-built pair is
    rebuilt."""
    cents_t = f"tada_ivfidx_cents_{name_tag}"
    lists_t = f"tada_ivfidx_lists_{name_tag}"
    if committed(spark, lists_t):
        return cents_t, lists_t
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    )
    cents = _ivf_centroids(c, n_centroids)
    member = _ivf_member(c, cents).withColumn("nc", norm("vc"))
    # materialize the shared persisted centroid frame BEFORE the
    # concurrent writes: a lazy persist lets both race to compute it
    cents.count()
    lists = member.select("cid", "vec_id", "vc", "nc")
    build_tables([(lists_t, lists, "cid"), (cents_t, cents, None)], n_buckets)
    return cents_t, lists_t


def append_ivf_index(
    spark,
    batch: DataFrame,
    cents_table: str,
    lists_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int = IVF_INDEX_BUCKETS,
    gen: Optional[str] = None,
) -> None:
    """Fold a batch of NEW vectors into the persisted IVF index — the
    maintenance step that completes the vector-index lifecycle
    (:func:`build_ivf_index` once -> :func:`probe_ivf_index` per
    query wave -> ``append_ivf_index`` per ingest wave), the exact
    twin of ``dedup.append_lsh_index``.

    The coarse quantizer stays FROZEN (the contract
    :func:`ivf_ann_incremental` already pins in-session: re-training
    centroids per wave would invalidate every stored assignment):
    batch vectors are scored against the broadcast STORED centroid
    table, argmax-assigned, normed, and appended as one new generation
    of the list table (:func:`.index.append_tables`; ``gen`` names it,
    and an already committed ``gen`` makes the call a no-op). The
    existing index files are never read or rewritten — append cost is
    O(batch x n_centroids), independent of corpus size. Bucket pruning and the
    no-Exchange probe join survive appends (file-count-independent);
    multi-file buckets only add a LOCAL sort in SMJ plans, and the
    probe path joins via broadcast anyway."""
    b = batch.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    )
    member = _ivf_member(b, spark.table(cents_table)).withColumn(
        "nc", norm("vc")
    )
    lists = member.select("cid", "vec_id", "vc", "nc")
    append_tables([(lists_table, lists, "cid")], n_buckets, gen)


def probe_ivf_index(
    spark,
    queries: DataFrame,
    cents_table: str,
    lists_table: str,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ANN search of a query batch against the PERSISTED IVF
    index written by :func:`build_ivf_index` — the probe-only plan:

    1. rank centroids per query against the broadcast stored centroid
       table (batch x n_centroids rows — batch-sized);
    2. collect the probed list ids (a driver-side list BOUNDED by
       ``n_centroids``, never corpus data) and filter the list table
       with ``cid IN (...)`` — bucket pruning skips unprobed buckets
       at the scan, the literal filter reaches the parquet reader;
    3. broadcast the probed (query_id, vq, cid) pairs into the list
       scan — the corpus side never shuffles, never aggregates, and
       never recomputes a norm (``nc`` is stored).

    Output (query_id, vec_id, cos, rank), rank 1..k by exact cosine
    within probed lists — value-identical to :func:`ivf_ann_topk`
    over the same corpus. Plan contract asserted in
    tests/test_plan_shapes.py (no Exchange/Aggregate above the
    ``tada_ivfidx`` scans)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    cents = spark.table(cents_table)
    probes = _ivf_probes(q, cents, n_probe)
    cids = sorted(
        r["cid"] for r in probes.select("cid").distinct().collect()
    )
    lists = read_committed(spark, lists_table)[0].filter(
        F.col("cid").isin(cids)
    )
    scored = (
        lists.join(F.broadcast(probes.withColumn("nq", norm("vq"))), on="cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("vq", "vc") / (F.col("nq") * F.col("nc")), 5
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def compact_ivf_index(
    spark,
    lists_table: str,
    n_buckets: int = IVF_INDEX_BUCKETS,
) -> None:
    """Rewrite an appended-to IVF list table in place into one sorted
    file per cid bucket — the vector twin of ``dedup.compact_lsh_index``
    (:func:`.index.compact_tables`), paid as ONE shuffle of the INDEX
    (vectors + norms) per maintenance window. The frozen centroid
    table is left as it is."""
    compact_tables(spark, [(lists_table, "cid")], n_buckets)


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    standard 4x storage/bandwidth shrink before ANN indexing at corpus
    scale. Per vector: ``scale = amax/127``, ``q_i = round(x_i/scale)``
    (zero vectors quantize to all-zero with scale 0).

    Returns the quantized vector plus the summary stats a pipeline
    asserts on (extrema, L1 mass, dims). Pure array expressions in the
    scan stage — zero shuffle, no UDF; at 100 TB this fuses into the
    embedding scan.
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return emb.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        F.aggregate(
            F.transform(q, lambda x: F.abs(x)), F.lit(0), lambda a, b: a + b
        ).alias("q_l1"),
        F.size(v).alias("n_dims"),
    )


def sq_ann_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval over a scalar-quantized index: stage 1
    scores EVERY corpus vector with the int8 quantized dot product
    (``idot * scale_q * scale_c``) and keeps a per-query shortlist;
    stage 2 reranks only the shortlist with the exact float cosine.
    This is the canonical memory-bandwidth trade at 100 TB — the scan
    stage touches 4x less data (int8 vs float32) and the exact math
    runs on ``shortlist`` rows per query instead of the corpus. Both
    stages are windowed group-limit prunes (never a global sort);
    the small query set broadcasts.

    Quantization matches :func:`quantize_int8` (symmetric, per-vector
    ``scale = amax/127``); the integer dot is exact, the scale product
    is one double multiply, so the DuckDB oracle replays both stages
    bit-identically. Output: (query_id, vec_id, approx, cos, rank)
    with rank 1..k by exact cosine over the stage-1 shortlist.
    """
    idot = (
        "aggregate(zip_with(q8q, q8c, (p, q) -> CAST(p AS BIGINT) * q), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )

    def _q8(v: Column) -> Column:
        amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
        scale = amax / F.lit(127.0)
        q = F.when(
            amax > 0,
            F.transform(v, lambda x: F.round(x / scale).cast("int")),
        ).otherwise(F.transform(v, lambda x: F.lit(0)))
        return F.struct(q.alias("q8"), scale.alias("scale"))

    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    ).select(
        "vec_id", "vc", _q8(F.col("vc")).alias("sc"), norm("vc").alias("nc")
    ).select(
        "vec_id",
        "vc",
        "nc",
        F.col("sc.q8").alias("q8c"),
        F.col("sc.scale").alias("scale_c"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    ).select(
        "query_id",
        "vq",
        _q8(F.col("vq")).alias("sq"),
        norm("vq").alias("nq"),
    ).select(
        "query_id",
        "vq",
        "nq",
        F.col("sq.q8").alias("q8q"),
        F.col("sq.scale").alias("scale_q"),
    )
    stage1 = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            "vq",
            "vc",
            "nq",
            "nc",
            F.round(
                F.expr(idot) * F.col("scale_q") * F.col("scale_c"), 6
            ).alias("approx"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("vec_id")
    )
    short = stage1.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= shortlist
    )
    rer = short.select(
        "query_id",
        "vec_id",
        "approx",
        F.round(dot("vq", "vc") / (F.col("nq") * F.col("nc")), 5).alias(
            "cos"
        ),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "approx", "cos", "rank")
    )


def ivfsq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF + scalar-quantized list scan + exact rerank — the composed
    production retrieval shape (FAISS ``IVF..,SQ8``): the coarse
    inverted index prunes WHICH vectors are scored (n_probe/n_centroids
    of the corpus per query), int8 quantized dot products make each
    scored candidate 4x cheaper in memory bandwidth, and the exact
    float cosine runs only on the ``shortlist`` stage-1 survivors.
    This closes the flat-scan gap of :func:`sq_ann_rerank`, whose
    stage 1 touches every corpus vector per query batch.

    Machinery reuse, exactly replayed by the DuckDB oracle twin:
    centroid selection / assignment / probe ranking are identical to
    :func:`ivf_ann_topk` (hash-stratified deterministic centroids,
    map-side-partial argmax assignment, broadcast probed pairs);
    quantization and the two-stage rerank are identical to
    :func:`sq_ann_rerank` (symmetric per-vector ``amax/127`` scale,
    exact integer dot x one double multiply).

    Scale shape: the member table (with its int8 codes) never shuffles
    for the candidate join — probed (query, cid) pairs broadcast; only
    list members reach stage 1, only ``shortlist`` rows per query
    reach the exact math; both prunes are windowed group-limits.
    Output (query_id, vec_id, approx, cos, rank), rank 1..k by exact
    cosine over the stage-1 shortlist.
    """
    idot = (
        "aggregate(zip_with(q8q, q8c, (p, q) -> CAST(p AS BIGINT) * q), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )

    def _q8(v: Column) -> Column:
        amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
        scale = amax / F.lit(127.0)
        q = F.when(
            amax > 0,
            F.transform(v, lambda x: F.round(x / scale).cast("int")),
        ).otherwise(F.transform(v, lambda x: F.lit(0)))
        return F.struct(q.alias("q8"), scale.alias("scale"))

    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vc"),
    )
    cents = _ivf_centroids(c, n_centroids)
    member = (
        _ivf_member(c, cents)
        .select(
            "vec_id",
            "vc",
            "cid",
            _q8(F.col("vc")).alias("sc"),
            norm("vc").alias("nc"),
        )
        .select(
            "vec_id",
            "vc",
            "cid",
            "nc",
            F.col("sc.q8").alias("q8c"),
            F.col("sc.scale").alias("scale_c"),
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("vq"),
    )
    probes = (
        _ivf_probes(q, cents, n_probe)
        .select(
            "query_id",
            "vq",
            "cid",
            _q8(F.col("vq")).alias("sq"),
            norm("vq").alias("nq"),
        )
        .select(
            "query_id",
            "vq",
            "cid",
            "nq",
            F.col("sq.q8").alias("q8q"),
            F.col("sq.scale").alias("scale_q"),
        )
    )
    stage1 = (
        member.join(F.broadcast(probes), on="cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            "vq",
            "vc",
            "nq",
            "nc",
            F.round(
                F.expr(idot) * F.col("scale_q") * F.col("scale_c"), 6
            ).alias("approx"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("vec_id")
    )
    short = stage1.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= shortlist
    )
    rer = short.select(
        "query_id",
        "vec_id",
        "approx",
        F.round(dot("vq", "vc") / (F.col("nq") * F.col("nc")), 5).alias(
            "cos"
        ),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "approx", "cos", "rank")
    )


def lsh_ann_topk_multi(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dims: int = 64,
    planes: int = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Multi-table LSH ANN: union the candidates of ``n_tables``
    independent hyperplane tables before scoring — the standard recall
    lever (a true neighbor is missed only if it hashes away from the
    query in EVERY table, so miss probability decays exponentially in
    ``n_tables``) at ~``n_tables``x candidate cost.

    Scale shape: the corpus row fans out once per table (array explode
    in the scan stage, no join-back), candidates form per (table,
    bucket) against the broadcast query side, and the pair set is
    deduplicated on (query, vector) BEFORE scoring so each survivor is
    scored exactly once. One shuffle on the candidate pair key; the
    corpus never self-joins.
    """
    def tabled(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        # each table's bucket is its own projected column BEFORE the
        # explode: inlined into the Generate, the n_tables x planes
        # dot-product sums overflow what Janino compiles in one method
        buckets = [
            hyperplane_bucket("__v", dims, planes, plane_offset=t * planes)
            .alias(f"__b{t}")
            for t in range(n_tables)
        ]
        tables = F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"__b{t}").alias("b"))
                for t in range(n_tables)
            ]
        )
        return (
            df.select(F.col(idc).alias(out_id), v.alias("__v"))
            .select(out_id, "__v", *buckets)
            .select(out_id, "__v", F.explode(tables).alias("__tb"))
            .select(out_id, "__v", "__tb.t", "__tb.b")
        )

    ce = tabled(corpus, id_col, "vec_id")
    qe = tabled(queries, query_id_col, "query_id").withColumnRenamed(
        "__v", "__vq"
    )
    cand = (
        ce.join(F.broadcast(qe), on=["t", "b"])
        .filter(F.col("query_id") != F.col("vec_id"))
        # same pair may surface from several tables: dedup BEFORE the
        # cosine so each candidate is scored once (vectors ride along —
        # identical for every copy of the pair)
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(
            dot("__vq", "__v")
            / (norm("__vq") * norm("__v")),
            5,
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
