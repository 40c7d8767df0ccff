"""Embedding, ANN, and graph analytics queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import ORACLES, _embs, _t, query
from .dedup import _hyperplane_bucket_sql, _kmeans_ctes


_COS = (
    "round(list_dot_product(q.v, c.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 5)"
)


@query(oracle=(
    "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v "
    "FROM embeddings WHERE vec_id < 10), "
    f"s AS (SELECT q.query_id, c.vec_id, {_COS} AS cos "
    "FROM c, q WHERE q.query_id != c.vec_id), "
    "r AS (SELECT query_id, vec_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank FROM s) "
    "SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank "
    "FROM r WHERE rank <= 10"
))
def _ann_cosine_topk(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import cosine_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries_df, k=10)

@query(oracle=(
    "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    + _hyperplane_bucket_sql("(embedding::DOUBLE[])", 64, 8)
    + " AS bucket FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, v, bucket FROM c WHERE vec_id < 10), "
    f"s AS (SELECT q.query_id, c.vec_id, {_COS} AS cos "
    "FROM c JOIN q ON c.bucket = q.bucket "
    "WHERE q.query_id != c.vec_id), "
    "r AS (SELECT query_id, vec_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank FROM s) "
    "SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank "
    "FROM r WHERE rank <= 10"
))
def _ann_lsh_topk(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import lsh_ann_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_ann_topk(emb, queries_df, k=10, dims=64, planes=8)

def _ivf_oracle(where: str = "") -> str:
    """IVF ANN oracle (mirrors similarity.ivf_ann_topk): centroids from
    a deterministic hash-stratified sample, probe the 4 nearest lists,
    exact cosine within them. ``where`` pre-filters the corpus — the
    filtered-search variant trains its centroids on the filtered
    sub-corpus, exactly like the Spark plan it replays."""
    return (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        f"FROM embeddings{where}), "
        "ch AS (SELECT vec_id, v, "
        "CAST(('0x' || substr(md5(CAST('ivf:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM c), "
        "cent AS (SELECT vec_id AS cid, v AS cv FROM ("
        "SELECT vec_id, v, row_number() OVER "
        "(PARTITION BY h % 16 ORDER BY h, vec_id) AS rn FROM ch) "
        "WHERE rn = 1), "
        "assign AS (SELECT c.vec_id, c.v, cent.cid, "
        "round(list_dot_product(c.v, cent.cv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS sim "
        "FROM c, cent), "
        "member AS (SELECT vec_id, v, cid FROM ("
        "SELECT vec_id, v, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn FROM assign) "
        "WHERE rn = 1), "
        "qa AS (SELECT vec_id AS query_id, v, cid, sim FROM assign "
        "WHERE vec_id < 10), "
        "probes AS (SELECT query_id, v, cid FROM ("
        "SELECT query_id, v, cid, row_number() OVER "
        "(PARTITION BY query_id ORDER BY sim DESC, cid ASC) AS pr FROM qa) "
        "WHERE pr <= 4), "
        "s AS (SELECT p.query_id, m.vec_id, "
        "round(list_dot_product(p.v, m.v) / "
        "(sqrt(list_dot_product(p.v, p.v)) * "
        "sqrt(list_dot_product(m.v, m.v))), 5) AS cos "
        "FROM member m JOIN probes p ON m.cid = p.cid "
        "WHERE p.query_id != m.vec_id), "
        "r AS (SELECT query_id, vec_id, cos, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank FROM s) "
        "SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank "
        "FROM r WHERE rank <= 10"
    )


@query(oracle=_ivf_oracle())
def _ann_ivf_topk(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import ivf_ann_topk

    emb = _embs(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_topk(emb, queries_df, k=10, n_centroids=16, n_probe=4)

def _kmeans_oracle_sql(k: int = 8, iters: int = 3, dims: int = 64) -> str:
    return (
        ", ".join(_kmeans_ctes(k, iters, dims))
        + f" SELECT vec_id, cl AS cluster, sim AS cos FROM as{iters - 1}"
    )


@query(oracle=_kmeans_oracle_sql())
def _emb_kmeans(spark, sf_dir):
    """Spherical k-means over the embeddings table: 8 clusters, 3
    fixed Lloyd iterations (deterministic — the DuckDB oracle replays
    the identical steps)."""
    from task_on_dataframes_spark.operators.clustering import (
        kmeans_assignments,
    )

    return kmeans_assignments(_embs(spark, sf_dir), k=8, iters=3)

@query(oracle=(
    "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v "
    "FROM embeddings), "
    "m AS (SELECT vec_id, v, "
    "list_max(list_transform(v, x -> abs(x))) AS amax FROM v), "
    "q AS (SELECT vec_id, amax / 127.0 AS scale, "
    "CASE WHEN amax > 0 THEN list_transform(v, "
    "x -> CAST(round(x / (amax / 127.0)) AS INT)) "
    "ELSE list_transform(v, x -> 0) END AS qv, "
    "len(v) AS n_dims FROM m) "
    "SELECT vec_id, round(scale, 6) AS scale, "
    "list_min(qv) AS q_min, list_max(qv) AS q_max, "
    "CAST(list_sum(list_transform(qv, x -> abs(x))) AS INT) AS q_l1, "
    "CAST(n_dims AS INT) AS n_dims FROM q"
))
def _emb_quantize(spark, sf_dir):
    from task_on_dataframes_spark.operators.similarity import quantize_int8

    return quantize_int8(_embs(spark, sf_dir))

# stage-1 int8 dot is exact in double (values <= 127, 64 dims
# -> sums < 2^53); the scale product mirrors Spark's multiply
# order, so shortlist membership and ranks replay exactly
@query(oracle=(
    "WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v "
    "FROM embeddings), "
    "m AS (SELECT vec_id, v, "
    "list_max(list_transform(v, x -> abs(x))) AS amax FROM c0), "
    "cq AS (SELECT vec_id, v, amax / 127.0 AS scale, "
    "CASE WHEN amax > 0 THEN list_transform(v, "
    "x -> CAST(round(x / (amax / 127.0)) AS INT)) "
    "ELSE list_transform(v, x -> 0) END AS q8 FROM m), "
    "q AS (SELECT vec_id AS query_id, v AS vq, scale AS scale_q, "
    "q8 AS q8q FROM cq WHERE vec_id < 10), "
    "s1 AS (SELECT q.query_id, c.vec_id, q.vq, c.v AS vc, "
    "round(list_dot_product(q.q8q::DOUBLE[], c.q8::DOUBLE[]) "
    "* q.scale_q * c.scale, 6) AS approx "
    "FROM cq c, q WHERE q.query_id != c.vec_id), "
    "r1 AS (SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY approx DESC, vec_id ASC) AS rn FROM s1), "
    "s2 AS (SELECT query_id, vec_id, approx, "
    "round(list_dot_product(vq, vc) / "
    "(sqrt(list_dot_product(vq, vq)) * "
    "sqrt(list_dot_product(vc, vc))), 5) AS cos "
    "FROM r1 WHERE rn <= 50), "
    "r2 AS (SELECT query_id, vec_id, approx, cos, "
    "row_number() OVER (PARTITION BY query_id "
    "ORDER BY cos DESC, vec_id ASC) AS rank FROM s2) "
    "SELECT query_id, vec_id, approx, cos, "
    "CAST(rank AS INTEGER) AS rank FROM r2 WHERE rank <= 10"
))
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

@query(oracle=(
    "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v "
    "FROM embeddings WHERE vec_id < 10), "
    "ct AS (SELECT vec_id, 0 AS t, "
    + _hyperplane_bucket_sql("v", 64, 4, 0)
    + " AS b FROM c UNION ALL SELECT vec_id, 1 AS t, "
    + _hyperplane_bucket_sql("v", 64, 4, 4)
    + " AS b FROM c), "
    "qt AS (SELECT query_id, 0 AS t, "
    + _hyperplane_bucket_sql("v", 64, 4, 0)
    + " AS b FROM q UNION ALL SELECT query_id, 1 AS t, "
    + _hyperplane_bucket_sql("v", 64, 4, 4)
    + " AS b FROM q), "
    "p AS (SELECT DISTINCT qt.query_id, ct.vec_id "
    "FROM ct JOIN qt ON ct.t = qt.t AND ct.b = qt.b "
    "WHERE qt.query_id != ct.vec_id), "
    f"s AS (SELECT p.query_id, p.vec_id, {_COS} AS cos "
    "FROM p JOIN q ON p.query_id = q.query_id "
    "JOIN c ON p.vec_id = c.vec_id), "
    "r AS (SELECT query_id, vec_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank "
    "FROM s) "
    "SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank "
    "FROM r WHERE rank <= 10"
))
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

@query(oracle=(
    "WITH x AS (SELECT "
    "CAST(unnest(generate_series(0, len(embedding) - 1)) AS INT) "
    "AS dim, CAST(unnest(embedding) AS DOUBLE) AS v "
    "FROM embeddings) "
    "SELECT dim, count(*) AS n, round(avg(v), 6) AS mean, "
    "round(avg(v * v) - avg(v) * avg(v), 6) AS var_pop, "
    "round(min(v), 5) AS min_val, round(max(v), 5) AS max_val "
    "FROM x GROUP BY dim"
))
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

@query(oracle=(
    "WITH p AS (SELECT unnest(generate_series(1, 64)) AS pos) "
    "SELECT label, p.pos, "
    "round(CAST(sum(CAST(CAST(embedding[p.pos] AS DOUBLE) "
    "AS DECIMAL(28,12))) AS DOUBLE) / count(1), 6) AS mean "
    "FROM embeddings, p GROUP BY 1, 2"
))
def _emb_label_centroids(spark, sf_dir):
    """Per-label mean embedding: ONE keyed shuffle of n x d exploded
    rows with map-side partial DECIMAL sums (partition-order-proof,
    exact oracle)."""
    from task_on_dataframes_spark.operators.linalg import label_centroids

    return label_centroids(_embs(spark, sf_dir))

@query(oracle=(
    "WITH p AS (SELECT unnest(generate_series(1, 64)) AS pos), "
    "e AS (SELECT vec_id, p.pos, "
    "CAST(embedding[p.pos] AS DOUBLE) AS x FROM embeddings, p) "
    "SELECT a.pos AS i, b.pos AS j, round(sum(a.x * b.x), 6) AS v "
    "FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos <= b.pos "
    "GROUP BY 1, 2"
))
def _emb_gram(spark, sf_dir):
    """Distributed Gram matrix: per-partition NumPy X^T X partials via
    mapInPandas, one d(d+1)/2-key shuffle of partials — the corpus is
    never shuffled (the covariance/PCA front end at 100 TB)."""
    from task_on_dataframes_spark.operators.linalg import gram_matrix

    # floor=False: the Gram partials are a map-side reduction (each
    # input split collapses to d^2 numbers before the only shuffle), so
    # pre-shuffling the corpus costs more than the parallelism it buys.
    return gram_matrix(_embs(spark, sf_dir, floor=False))

def _pca_oracle_sql(dims: int = 64, iters: int = 8) -> str:
    """DuckDB replay of operators.linalg.pca_power_top: the SAME
    rounded Gram (round 6 — identical inputs on both engines), the
    same all-ones start, ``iters`` matvec+normalize steps as chained
    CTEs, the same largest-|loading|-positive sign rule, loadings
    rounded to 5."""
    # AS MATERIALIZED everywhere: inlined CTEs re-evaluate per
    # reference, which cascades exponentially through the iteration
    # chain (v8 -> m8 -> g0 + v7 -> ...)
    sql = (
        f"WITH p AS (SELECT unnest(generate_series(1, {dims})) AS pos), "
        "e AS MATERIALIZED (SELECT vec_id, p.pos, "
        "CAST(embedding[p.pos] AS DOUBLE) AS x FROM embeddings, p), "
        "g0 AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j, "
        "round(sum(a.x * b.x), 6) "
        "AS v FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2), "
        "v0 AS (SELECT pos, 1.0 AS x FROM p), "
    )
    prev = "v0"
    for k in range(1, iters + 1):
        sql += (
            f"m{k} AS MATERIALIZED (SELECT g0.i AS pos, "
            f"sum(g0.v * {prev}.x) AS y "
            f"FROM g0 JOIN {prev} ON g0.j = {prev}.pos GROUP BY 1), "
            f"n{k} AS MATERIALIZED (SELECT sqrt(sum(y * y)) AS nrm "
            f"FROM m{k}), "
            f"v{k} AS MATERIALIZED (SELECT pos, y / n{k}.nrm AS x "
            f"FROM m{k}, n{k}), "
        )
        prev = f"v{k}"
    sql += (
        f"sg AS (SELECT CASE WHEN (SELECT x FROM {prev} "
        "ORDER BY abs(round(x, 12)) DESC, pos LIMIT 1) < 0 "
        "THEN -1.0 ELSE 1.0 END AS s), "
        f"d AS (SELECT {prev}.pos, round({prev}.x * sg.s, 5) AS loading "
        f"FROM {prev}, sg) "
    )
    return sql


def _pca_oracle_sql_final() -> str:
    """Top-direction loadings (query emb_pca_top)."""
    return _pca_oracle_sql() + "SELECT pos, loading FROM d"


@query(oracle=_pca_oracle_sql_final())
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

def _pca_project_oracle_sql() -> str:
    """Per-vector projection onto the top direction: DECIMAL-exact dot
    product so the 64-term sum is summation-order-free on both
    engines (products are bitwise-identical doubles)."""
    return _pca_oracle_sql() + (
        "SELECT e.vec_id, round(CAST(sum(CAST(e.x * d.loading "
        "AS DECIMAL(28,12))) AS DOUBLE), 6) AS proj "
        "FROM e JOIN d ON e.pos = d.pos GROUP BY 1"
    )


@query(oracle=_pca_project_oracle_sql())
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

def _pagerank_oracle_sql(iters: int = 5, damping: float = 0.85) -> str:
    """DuckDB replay of operators.graph.pagerank over the trade graph:
    same edge fractions (BIGINT / BIGINT -> double on both engines),
    same teleport expression shape ((1 - d)/n evaluated in doubles, so
    the IEEE bits match the Python-side computation), same
    per-iteration round-12 / final round-8."""
    sql = (
        "WITH e0 AS MATERIALIZED (SELECT c.c_nationkey AS src, "
        "s.s_nationkey AS dst, count(*) AS w "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey GROUP BY 1, 2), "
        "ow AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY 1), "
        "e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.w / ow.outw AS frac "
        "FROM e0 JOIN ow ON e0.src = ow.src), "
        "nodes AS (SELECT n_nationkey AS node FROM nation), "
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), "
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn), "
    )
    prev = "r0"
    for k in range(1, iters + 1):
        sql += (
            f"c{k} AS MATERIALIZED (SELECT e.dst, "
            f"round(sum(e.frac * {prev}.rank), 12) AS c "
            f"FROM e JOIN {prev} ON e.src = {prev}.node GROUP BY 1), "
            f"r{k} AS MATERIALIZED (SELECT nodes.node, "
            f"round((1 - {damping}) / nn.n + "
            f"{damping} * coalesce(c{k}.c, 0.0), 12) AS rank "
            f"FROM nodes CROSS JOIN nn "
            f"LEFT JOIN c{k} ON nodes.node = c{k}.dst), "
        )
        prev = f"r{k}"
    sql = sql.rstrip(", ")
    sql += f" SELECT node, round(rank, 8) AS rank FROM {prev}"
    return sql


@query(oracle=_pagerank_oracle_sql(iters=5, damping=0.85))
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


def _pq_training_ctes(m: int, k: int, iters: int, dims: int) -> list:
    """CTE parts replaying PQ training+encoding (shared by the PQ and
    IVFPQ oracles): per-subspace hash-stratified init, Lloyd
    iterations with DECIMAL-exact means, squared-L2 via the same
    dot-product composition as operators/pq.py (rounded 6), ties to
    the smallest code. Ends with ``codes`` and ``cents``."""
    d = dims // m
    parts = [
        "WITH full_v AS (SELECT vec_id, embedding::DOUBLE[] AS fv "
        "FROM embeddings)"
    ]
    d2 = (
        "round(list_dot_product({a}, {a}) - 2*list_dot_product({a}, {b}) "
        "+ list_dot_product({b}, {b}), 6)"
    )
    for j in range(m):
        lo, hi = j * d + 1, (j + 1) * d
        means = ", ".join(
            f"round(CAST(sum(CAST(v[{i + 1}] AS DECIMAL(28,12))) AS DOUBLE)"
            f" / count(1), 6)"
            for i in range(d)
        )
        parts.append(
            f"c{j} AS (SELECT vec_id, list_slice(fv, {lo}, {hi}) AS v "
            "FROM full_v), "
            f"ch{j} AS (SELECT vec_id, v, CAST(('0x' || substr(md5("
            f"'pq{j}:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h "
            f"FROM c{j}), "
            f"cent{j}_0 AS (SELECT h % {k} AS code, v AS cv FROM "
            f"(SELECT h, v, vec_id, row_number() OVER (PARTITION BY h % {k} "
            f"ORDER BY h, vec_id) AS rn FROM ch{j}) WHERE rn = 1)"
        )
        for it in range(iters):
            parts.append(
                f"sc{j}_{it} AS (SELECT c.vec_id, c.v, t.code, "
                + d2.format(a="c.v", b="t.cv")
                + f" AS dd FROM c{j} c, cent{j}_{it} t), "
                f"as{j}_{it} AS (SELECT vec_id, v, code FROM (SELECT *, "
                "row_number() OVER (PARTITION BY vec_id ORDER BY dd ASC, "
                f"code ASC) AS rn FROM sc{j}_{it}) WHERE rn = 1)"
            )
            if it < iters - 1:
                parts.append(
                    f"cent{j}_{it + 1} AS (SELECT code, list_value({means}) "
                    f"AS cv FROM as{j}_{it} GROUP BY code)"
                )
    last = iters - 1
    parts.append(
        "codes AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, {j} AS sub, code FROM as{j}_{last}"
            for j in range(m)
        )
        + ")"
    )
    parts.append(
        "cents AS ("
        + " UNION ALL ".join(
            f"SELECT {j} AS sub, code, cv FROM cent{j}_{last}"
            for j in range(m)
        )
        + ")"
    )
    return parts


def _pq_lut_ctes(m: int, dims: int) -> str:
    """Query LUT CTEs shared by the PQ and IVFPQ oracles."""
    d = dims // m
    d2 = (
        "round(list_dot_product({a}, {a}) - 2*list_dot_product({a}, {b}) "
        "+ list_dot_product({b}, {b}), 6)"
    )
    return (
        "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
        "FROM embeddings WHERE vec_id < 10), "
        "qsub AS (SELECT query_id, s.sub, "
        f"list_slice(qv, s.sub * {d} + 1, s.sub * {d} + {d}) AS v "
        f"FROM q, (SELECT unnest(generate_series(0, {m - 1})) AS sub) s), "
        "lut AS (SELECT query_id, qsub.sub, cents.code, "
        + d2.format(a="qsub.v", b="cents.cv")
        + " AS dd FROM qsub JOIN cents ON qsub.sub = cents.sub)"
    )


def _pq_oracle_sql(
    m: int = 4, k: int = 16, iters: int = 2, dims: int = 64, k_top: int = 10
) -> str:
    """Replay PQ training + encoding + ADC in DuckDB (see
    :func:`_pq_training_ctes`); ADC sums are DECIMAL-exact, ties to
    the smallest vec_id."""
    parts = _pq_training_ctes(m, k, iters, dims)
    parts.append(_pq_lut_ctes(m, dims))
    parts.append(
        "adc AS (SELECT l.query_id, codes.vec_id, "
        "CAST(round(sum(CAST(l.dd AS DECIMAL(18,6))), 5) AS DOUBLE) "
        "AS adc_dist FROM codes "
        "JOIN lut l ON codes.sub = l.sub AND codes.code = l.code "
        "GROUP BY 1, 2)"
    )
    return (
        ", ".join(parts)
        + " SELECT query_id, vec_id, adc_dist, CAST(rk AS INTEGER) AS rk "
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY adc_dist ASC, vec_id ASC) AS rk FROM adc) "
        f"WHERE rk <= {k_top}"
    )


@query(oracle=_pq_oracle_sql(m=8, k=32, iters=2, dims=64, k_top=10))
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


def _ivfpq_oracle_sql(
    m: int = 8,
    k: int = 32,
    iters: int = 2,
    dims: int = 64,
    k_top: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> str:
    """IVF coarse index (cosine, hash-stratified centroids — identical
    CTEs to the ann_ivf_topk oracle) + PQ ADC over probed candidates
    only, self-hits excluded."""
    parts = _pq_training_ctes(m, k, iters, dims)
    cos = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b}))), 5)"
    )
    parts.append(
        "ivf_ch AS (SELECT vec_id, fv AS v, "
        "CAST(('0x' || substr(md5(CAST('ivf:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM full_v), "
        "ivf_cent AS (SELECT vec_id AS cid, v AS cv FROM ("
        "SELECT vec_id, v, row_number() OVER "
        f"(PARTITION BY h % {n_centroids} ORDER BY h, vec_id) AS rn "
        "FROM ivf_ch) WHERE rn = 1), "
        "ivf_assign AS (SELECT c.vec_id, c.fv AS v, t.cid, "
        + cos.format(a="c.fv", b="t.cv")
        + " AS sim FROM full_v c, ivf_cent t), "
        "member AS (SELECT vec_id, cid FROM ("
        "SELECT vec_id, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn "
        "FROM ivf_assign) WHERE rn = 1), "
        "probes AS (SELECT query_id, cid FROM ("
        "SELECT vec_id AS query_id, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS pr "
        "FROM ivf_assign WHERE vec_id < 10) WHERE pr <= "
        f"{n_probe})"
    )
    parts.append(_pq_lut_ctes(m, dims))
    parts.append(
        "cand AS (SELECT p.query_id, mm.vec_id FROM member mm "
        "JOIN probes p ON mm.cid = p.cid WHERE p.query_id != mm.vec_id), "
        "adc AS (SELECT cand.query_id, cand.vec_id, "
        "CAST(round(sum(CAST(l.dd AS DECIMAL(18,6))), 5) AS DOUBLE) "
        "AS adc_dist FROM cand "
        "JOIN codes ON codes.vec_id = cand.vec_id "
        "JOIN lut l ON l.query_id = cand.query_id AND l.sub = codes.sub "
        "AND l.code = codes.code GROUP BY 1, 2)"
    )
    return (
        ", ".join(parts)
        + " SELECT query_id, vec_id, adc_dist, CAST(rk AS INTEGER) AS rk "
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY adc_dist ASC, vec_id ASC) AS rk FROM adc) "
        f"WHERE rk <= {k_top}"
    )


@query(oracle=_ivfpq_oracle_sql(
    m=8, k=32, iters=2, dims=64, k_top=10,
    n_centroids=16, n_probe=4,
))
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


def _ivfsq_oracle() -> str:
    """IVF + int8 SQ + exact rerank oracle (mirrors
    similarity.ivfsq_ann_topk): identical centroid selection /
    assignment / probe ranking to :func:`_ivf_oracle`, then the int8
    quantized dot over probed-list members with the exact-cosine
    rerank of the top-50 shortlist (identical quantization math to
    the ann_sq_rerank oracle)."""
    q8 = (
        "CASE WHEN amax > 0 THEN list_transform(v, "
        "x -> CAST(round(x / (amax / 127.0)) AS INT)) "
        "ELSE list_transform(v, x -> 0) END"
    )
    return (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "ch AS (SELECT vec_id, v, "
        "CAST(('0x' || substr(md5(CAST('ivf:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM c), "
        "cent AS (SELECT vec_id AS cid, v AS cv FROM ("
        "SELECT vec_id, v, row_number() OVER "
        "(PARTITION BY h % 16 ORDER BY h, vec_id) AS rn FROM ch) "
        "WHERE rn = 1), "
        "assign AS (SELECT c.vec_id, c.v, cent.cid, "
        "round(list_dot_product(c.v, cent.cv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS sim "
        "FROM c, cent), "
        "member0 AS (SELECT vec_id, v, cid FROM ("
        "SELECT vec_id, v, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn FROM assign) "
        "WHERE rn = 1), "
        "member AS (SELECT vec_id, v, cid, amax / 127.0 AS scale, "
        f"{q8} AS q8 FROM (SELECT vec_id, v, cid, "
        "list_max(list_transform(v, x -> abs(x))) AS amax FROM member0)), "
        "qa AS (SELECT vec_id AS query_id, v, cid, sim FROM assign "
        "WHERE vec_id < 10), "
        "probes0 AS (SELECT query_id, v, cid FROM ("
        "SELECT query_id, v, cid, row_number() OVER "
        "(PARTITION BY query_id ORDER BY sim DESC, cid ASC) AS pr FROM qa) "
        "WHERE pr <= 12), "
        "probes AS (SELECT query_id, v, cid, amax / 127.0 AS scale, "
        f"{q8} AS q8 FROM (SELECT query_id, v, cid, "
        "list_max(list_transform(v, x -> abs(x))) AS amax FROM probes0)), "
        "s1 AS (SELECT p.query_id, m.vec_id, p.v AS vq, m.v AS vc, "
        "round(list_dot_product(p.q8::DOUBLE[], m.q8::DOUBLE[]) "
        "* p.scale * m.scale, 6) AS approx "
        "FROM member m JOIN probes p ON m.cid = p.cid "
        "WHERE p.query_id != m.vec_id), "
        "r1 AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY approx DESC, vec_id ASC) AS rn FROM s1), "
        "s2 AS (SELECT query_id, vec_id, approx, "
        "round(list_dot_product(vq, vc) / "
        "(sqrt(list_dot_product(vq, vq)) * "
        "sqrt(list_dot_product(vc, vc))), 5) AS cos "
        "FROM r1 WHERE rn <= 50), "
        "r2 AS (SELECT query_id, vec_id, approx, cos, "
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, vec_id ASC) AS rank FROM s2) "
        "SELECT query_id, vec_id, approx, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r2 WHERE rank <= 10"
    )


@query(oracle=_ivfsq_oracle())
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


def _ivf_incr_oracle() -> str:
    """IVF incremental-maintenance oracle (mirrors
    similarity.ivf_ann_incremental): centroids from the base split
    only, assignment over base ∪ new batch, probes and exact scoring
    identical to :func:`_ivf_oracle`."""
    return (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "base AS (SELECT vec_id, v FROM c WHERE vec_id % 10 != 0), "
        "newb AS (SELECT vec_id, v FROM c "
        "WHERE vec_id % 10 = 0 AND vec_id >= 10), "
        "ch AS (SELECT vec_id, v, "
        "CAST(('0x' || substr(md5(CAST('ivf:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM base), "
        "cent AS (SELECT vec_id AS cid, v AS cv FROM ("
        "SELECT vec_id, v, row_number() OVER "
        "(PARTITION BY h % 16 ORDER BY h, vec_id) AS rn FROM ch) "
        "WHERE rn = 1), "
        "un AS (SELECT vec_id, v, FALSE AS is_new FROM base "
        "UNION ALL SELECT vec_id, v, TRUE AS is_new FROM newb), "
        "assign AS (SELECT u.vec_id, u.v, u.is_new, cent.cid, "
        "round(list_dot_product(u.v, cent.cv) / "
        "(sqrt(list_dot_product(u.v, u.v)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS sim "
        "FROM un u, cent), "
        "member AS (SELECT vec_id, v, is_new, cid FROM ("
        "SELECT vec_id, v, is_new, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn FROM assign) "
        "WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, v AS vq FROM c WHERE vec_id < 10), "
        "qa AS (SELECT q.query_id, q.vq, cent.cid, "
        "round(list_dot_product(q.vq, cent.cv) / "
        "(sqrt(list_dot_product(q.vq, q.vq)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS qsim "
        "FROM q, cent), "
        "probes AS (SELECT query_id, vq, cid FROM ("
        "SELECT query_id, vq, cid, row_number() OVER "
        "(PARTITION BY query_id ORDER BY qsim DESC, cid ASC) AS pr FROM qa) "
        "WHERE pr <= 4), "
        "s AS (SELECT p.query_id, m.vec_id, m.is_new, "
        "round(list_dot_product(p.vq, m.v) / "
        "(sqrt(list_dot_product(p.vq, p.vq)) * "
        "sqrt(list_dot_product(m.v, m.v))), 5) AS cos "
        "FROM member m JOIN probes p ON m.cid = p.cid "
        "WHERE p.query_id != m.vec_id), "
        "r AS (SELECT query_id, vec_id, is_new, cos, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank FROM s) "
        "SELECT query_id, vec_id, is_new, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 10"
    )


@query(oracle=_ivf_incr_oracle())
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


def _ivf_index_build_oracle() -> str:
    """Persisted-IVF-index content oracle (mirrors
    similarity.build_ivf_index over the base split): hash-stratified
    centroid selection on vec_id % 10 != 0, argmax list assignment,
    and the stored per-vector norm."""
    return (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings WHERE vec_id % 10 != 0), "
        "ch AS (SELECT vec_id, v, "
        "CAST(('0x' || substr(md5(CAST('ivf:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM c), "
        "cent AS (SELECT vec_id AS cid, v AS cv FROM ("
        "SELECT vec_id, v, row_number() OVER "
        "(PARTITION BY h % 16 ORDER BY h, vec_id) AS rn FROM ch) "
        "WHERE rn = 1), "
        "assign AS (SELECT c.vec_id, c.v, cent.cid, "
        "round(list_dot_product(c.v, cent.cv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS sim "
        "FROM c, cent), "
        "member AS (SELECT vec_id, v, cid FROM ("
        "SELECT vec_id, v, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn FROM assign) "
        "WHERE rn = 1) "
        "SELECT vec_id, cid, "
        "round(sqrt(list_dot_product(v, v)), 5) AS nc FROM member"
    )


@query(oracle=_ivf_index_build_oracle())
def _ann_index_build(spark, sf_dir):
    """The write-once IVF corpus index as a first-class query (the
    vector twin of dedup_index_build): persist
    coarse centroids + cid-bucketed inverted lists with precomputed
    norms for the base corpus (vec_id % 10 != 0), then return the
    index content — one row per vector with its list assignment and
    stored norm. The oracle replays centroid selection, argmax
    assignment, and the norm from the raw parquet. Build cost is one
    corpus scan + the centroid-sample shuffle + the assignment argmax,
    paid once per corpus release."""
    from task_on_dataframes_spark.operators.index import read_committed

    _, lists_t = _ensure_ivf_index(spark, sf_dir)
    return read_committed(spark, lists_t)[0].select(
        "vec_id", "cid", F.round("nc", 5).alias("nc")
    )


def _ivf_index_probe_oracle() -> str:
    """Probe-only search oracle (mirrors similarity.probe_ivf_index
    driven by registry._ann_index_probe): two query waves ranked
    against the base-split centroids, exact cosine within the probed
    stored lists, top-10 per query per wave."""
    waves = []
    for wave, (lo, hi) in enumerate([(0, 10), (10, 20)], start=1):
        waves.append(
            f"q{wave} AS (SELECT vec_id AS query_id, v AS vq FROM call "
            f"WHERE vec_id >= {lo} AND vec_id < {hi}), "
            f"qa{wave} AS (SELECT q.query_id, q.vq, cent.cid, "
            "round(list_dot_product(q.vq, cent.cv) / "
            "(sqrt(list_dot_product(q.vq, q.vq)) * "
            "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS qsim "
            f"FROM q{wave} q, cent), "
            f"probes{wave} AS (SELECT query_id, vq, cid FROM ("
            "SELECT query_id, vq, cid, row_number() OVER "
            "(PARTITION BY query_id ORDER BY qsim DESC, cid ASC) AS pr "
            f"FROM qa{wave}) WHERE pr <= 4), "
            f"s{wave} AS (SELECT p.query_id, m.vec_id, "
            "round(list_dot_product(p.vq, m.v) / "
            "(sqrt(list_dot_product(p.vq, p.vq)) * "
            "sqrt(list_dot_product(m.v, m.v))), 5) AS cos "
            f"FROM member m JOIN probes{wave} p ON m.cid = p.cid "
            "WHERE p.query_id != m.vec_id), "
            f"r{wave} AS (SELECT query_id, vec_id, cos, row_number() OVER "
            "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) "
            f"AS rank FROM s{wave})"
        )
    return (
        "WITH call AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "c AS (SELECT vec_id, v FROM call WHERE vec_id % 10 != 0), "
        "ch AS (SELECT vec_id, v, "
        "CAST(('0x' || substr(md5(CAST('ivf:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM c), "
        "cent AS (SELECT vec_id AS cid, v AS cv FROM ("
        "SELECT vec_id, v, row_number() OVER "
        "(PARTITION BY h % 16 ORDER BY h, vec_id) AS rn FROM ch) "
        "WHERE rn = 1), "
        "assign AS (SELECT c.vec_id, c.v, cent.cid, "
        "round(list_dot_product(c.v, cent.cv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS sim "
        "FROM c, cent), "
        "member AS (SELECT vec_id, v, cid FROM ("
        "SELECT vec_id, v, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn FROM assign) "
        "WHERE rn = 1), "
        + ", ".join(waves)
        + " SELECT CAST(1 AS INTEGER) AS wave, query_id, vec_id, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r1 WHERE rank <= 10 "
        "UNION ALL "
        "SELECT CAST(2 AS INTEGER) AS wave, query_id, vec_id, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r2 WHERE rank <= 10"
    )


@query(oracle=_ivf_index_probe_oracle())
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


def _ivf_index_maintain_oracle() -> str:
    """Lifecycle oracle (mirrors registry._ann_index_maintain): the
    base split (vec_id % 10 not in (0, 5)) elects the centroids and
    phase-1 membership; phase 2 adds the growth wave (% 10 = 5)
    assigned to the SAME frozen centroids. One bounded query batch
    (% 10 = 0, vec_id < 200) is ranked once (probes are
    centroid-only, so phase-invariant) and scored against each
    phase's member set, top-10 per query per phase."""
    phase_score = (
        "s{p} AS (SELECT pr.query_id, m.vec_id, "
        "round(list_dot_product(pr.vq, m.v) / "
        "(sqrt(list_dot_product(pr.vq, pr.vq)) * "
        "sqrt(list_dot_product(m.v, m.v))), 5) AS cos "
        "FROM member{p} m JOIN probes pr ON m.cid = pr.cid "
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
        "SELECT vec_id, v FROM call WHERE vec_id % 10 = 5), "
        + member.format(p=1, src="c") + ", "
        + member.format(p=2, src="grown") + ", "
        "q AS (SELECT vec_id AS query_id, v AS vq FROM call "
        "WHERE vec_id % 10 = 0 AND vec_id < 200), "
        "qa AS (SELECT q.query_id, q.vq, cent.cid, "
        "round(list_dot_product(q.vq, cent.cv) / "
        "(sqrt(list_dot_product(q.vq, q.vq)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS qsim "
        "FROM q, cent), "
        "probes AS (SELECT query_id, vq, cid FROM ("
        "SELECT query_id, vq, cid, row_number() OVER "
        "(PARTITION BY query_id ORDER BY qsim DESC, cid ASC) AS pr "
        "FROM qa) WHERE pr <= 4), "
        + phase_score.format(p=1) + ", "
        + phase_score.format(p=2)
        + " SELECT CAST(1 AS INTEGER) AS phase, query_id, vec_id, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r1 WHERE rank <= 10 "
        "UNION ALL "
        "SELECT CAST(2 AS INTEGER) AS phase, query_id, vec_id, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r2 WHERE rank <= 10"
    )


@query(oracle=_ivf_index_maintain_oracle())
def _ann_index_maintain(spark, sf_dir):
    """The full vector-index lifecycle in one query (the twin of
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


def _ivf_index_compact_oracle() -> str:
    """Compaction-invariance oracle (mirrors registry
    ._ann_index_compact): compaction only rewrites the file LAYOUT, so
    the probe against the compacted index must equal the grown-index
    replay — identical to :func:`_ivf_index_maintain_oracle` phase 2
    (base split elects centroids, growth wave joins the member set
    under the frozen quantizer, bounded query batch scores against
    the grown members), without the phase column."""
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
        "SELECT vec_id, v FROM call WHERE vec_id % 10 = 5), "
        "assign AS (SELECT u.vec_id, u.v, cent.cid, "
        "round(list_dot_product(u.v, cent.cv) / "
        "(sqrt(list_dot_product(u.v, u.v)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS sim "
        "FROM grown u, cent), "
        "member AS (SELECT vec_id, v, cid FROM ("
        "SELECT vec_id, v, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn "
        "FROM assign) WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, v AS vq FROM call "
        "WHERE vec_id % 10 = 0 AND vec_id < 200), "
        "qa AS (SELECT q.query_id, q.vq, cent.cid, "
        "round(list_dot_product(q.vq, cent.cv) / "
        "(sqrt(list_dot_product(q.vq, q.vq)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS qsim "
        "FROM q, cent), "
        "probes AS (SELECT query_id, vq, cid FROM ("
        "SELECT query_id, vq, cid, row_number() OVER "
        "(PARTITION BY query_id ORDER BY qsim DESC, cid ASC) AS pr "
        "FROM qa) WHERE pr <= 4), "
        "s AS (SELECT pr.query_id, m.vec_id, "
        "round(list_dot_product(pr.vq, m.v) / "
        "(sqrt(list_dot_product(pr.vq, pr.vq)) * "
        "sqrt(list_dot_product(m.v, m.v))), 5) AS cos "
        "FROM member m JOIN probes pr ON m.cid = pr.cid "
        "WHERE pr.query_id != m.vec_id), "
        "r AS (SELECT query_id, vec_id, cos, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) "
        "AS rank FROM s) "
        "SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank "
        "FROM r WHERE rank <= 10"
    )


@query(oracle=_ivf_index_compact_oracle())
def _ann_index_compact(spark, sf_dir):
    """Vector-index compaction as a first-class query (the twin
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
    compact_ivf_index(spark, lists_t)
    queries = emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 200)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return probe_ivf_index(spark, queries, cents_t, lists_t, k=10, n_probe=4)


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


def _ivf_clustered_recall_oracle() -> str:
    """Oracle for ann_recall_clustered: derive the deterministically
    clustered table (12 hash-assigned clusters, hash-derived centers in
    [-1,1], 0.15x original embedding as jitter), build the SAME IVF
    index the Spark side builds (hash-stratified centroids, argmax
    assignment), replay the probe sweep at n_probe ∈ {1,2,4} and the
    exact top-10 baseline, and emit per-(n_probe, query) recall@10."""
    h_clu = (
        "CAST(('0x' || substr(md5(CAST('clu:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT)"
    )
    h_ctr = (
        "CAST(('0x' || substr(md5(CAST('ctr:' || CAST(cl AS VARCHAR) || "
        "':' || CAST(j - 1 AS VARCHAR) AS VARCHAR)), 1, 8)) AS BIGINT)"
    )
    parts = [
        f"WITH clu AS (SELECT vec_id, {h_clu} % 12 AS cl, "
        "embedding::DOUBLE[] AS v0 FROM embeddings)",
        "cv AS MATERIALIZED (SELECT vec_id, "
        f"list(({h_ctr} % 2001 - 1000) / 1000.0 + 0.15::DOUBLE * elem "
        "ORDER BY j) AS v FROM (SELECT c.vec_id, c.cl, t.j, c.v0[t.j] "
        "AS elem FROM clu c, LATERAL unnest(generate_series(1, "
        "len(c.v0))) AS t(j)) GROUP BY vec_id)",
        "ch AS (SELECT vec_id, v, "
        "CAST(('0x' || substr(md5(CAST('ivf:' || CAST(vec_id AS VARCHAR) "
        "AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM cv)",
        "cent AS (SELECT vec_id AS cid, v AS cv FROM ("
        "SELECT vec_id, v, row_number() OVER "
        "(PARTITION BY h % 16 ORDER BY h, vec_id) AS rn FROM ch) "
        "WHERE rn = 1)",
        "assign AS MATERIALIZED (SELECT c.vec_id, c.v, cent.cid, "
        "round(list_dot_product(c.v, cent.cv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS sim "
        "FROM cv c, cent)",
        "member AS MATERIALIZED (SELECT vec_id, v, cid FROM ("
        "SELECT vec_id, v, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn "
        "FROM assign) WHERE rn = 1)",
        "qa AS (SELECT vec_id AS query_id, v, cid, sim FROM assign "
        "WHERE vec_id < 8)",
        # exact top-10 baseline over the clustered table
        "ex AS MATERIALIZED (SELECT query_id, vec_id FROM ("
        "SELECT q.query_id, m.vec_id, row_number() OVER "
        "(PARTITION BY q.query_id ORDER BY "
        "round(list_dot_product(q.v, m.v) / "
        "(sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(m.v, m.v))), 5) DESC, m.vec_id ASC) "
        "AS rank FROM (SELECT DISTINCT query_id, v FROM qa) q "
        "JOIN cv m ON m.vec_id != q.query_id) WHERE rank <= 10)",
    ]
    sels = []
    for p in (1, 2, 4):
        parts.append(
            f"probes{p} AS (SELECT query_id, v, cid FROM ("
            "SELECT query_id, v, cid, row_number() OVER "
            "(PARTITION BY query_id ORDER BY sim DESC, cid ASC) AS pr "
            f"FROM qa) WHERE pr <= {p})"
        )
        parts.append(
            f"top{p} AS (SELECT query_id, vec_id FROM ("
            "SELECT p.query_id, m.vec_id, row_number() OVER "
            "(PARTITION BY p.query_id ORDER BY "
            "round(list_dot_product(p.v, m.v) / "
            "(sqrt(list_dot_product(p.v, p.v)) * "
            "sqrt(list_dot_product(m.v, m.v))), 5) DESC, m.vec_id ASC) "
            f"AS rank FROM member m JOIN probes{p} p ON m.cid = p.cid "
            "WHERE p.query_id != m.vec_id) WHERE rank <= 10)",
        )
        parts.append(
            f"hits{p} AS (SELECT e.query_id, count(*) AS h FROM ex e "
            f"JOIN top{p} a ON e.query_id = a.query_id "
            "AND e.vec_id = a.vec_id GROUP BY 1)"
        )
        sels.append(
            f"SELECT CAST({p} AS INTEGER) AS n_probe, q.query_id, "
            "round(CAST(coalesce(h.h, 0) AS DOUBLE) / 10, 3) AS "
            "recall_at_10 FROM (SELECT DISTINCT query_id FROM qa) q "
            f"LEFT JOIN hits{p} h ON q.query_id = h.query_id"
        )
    return ", ".join(parts) + " " + " UNION ALL ".join(sels)


@query(oracle=_ivf_clustered_recall_oracle())
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

    Plan shape: the
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


# ANN recall eval composes the two search oracles registered above
# verbatim (DuckDB allows a WITH inside a derived table), so the eval's
# ground truth is the same statement the driver already validates
@query(oracle=(
    "WITH exact AS (SELECT query_id, vec_id FROM ("
    + ORACLES["ann_cosine_topk"]
    + ")), approx AS (SELECT query_id, vec_id FROM ("
    + ORACLES["ann_lsh_multi_topk"]
    + ")), hits AS (SELECT e.query_id, count(*) AS h FROM exact e "
    "JOIN approx a ON e.query_id = a.query_id AND e.vec_id = a.vec_id "
    "GROUP BY 1) "
    "SELECT q.vec_id AS query_id, "
    "round(CAST(coalesce(h.h, 0) AS DOUBLE) / 10, 3) AS recall_at_10 "
    "FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q "
    "LEFT JOIN hits h ON q.vec_id = h.query_id"
))
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


def _pca2_oracle_sql(dims: int = 64, iters: int = 8) -> str:
    """DuckDB replay of operators.linalg.pca_power_top2: v1 chain over
    g0, Rayleigh lam1 (rounded 6), deflated g2 entries (rounded 6 —
    identical on both engines, re-synchronizing IEEE noise), v2 chain
    over g2, same sign rule and round-5 loadings as the rank-1
    oracle."""

    def chain(mat: str, tag: str) -> str:
        s = f"v{tag}0 AS (SELECT pos, 1.0 AS x FROM p), "
        prev = f"v{tag}0"
        for k in range(1, iters + 1):
            s += (
                f"m{tag}{k} AS MATERIALIZED (SELECT {mat}.i AS pos, "
                f"sum({mat}.v * {prev}.x) AS y "
                f"FROM {mat} JOIN {prev} ON {mat}.j = {prev}.pos "
                "GROUP BY 1), "
                f"n{tag}{k} AS MATERIALIZED (SELECT sqrt(sum(y * y)) "
                f"AS nrm FROM m{tag}{k}), "
                f"v{tag}{k} AS MATERIALIZED (SELECT pos, "
                f"y / n{tag}{k}.nrm AS x FROM m{tag}{k}, n{tag}{k}), "
            )
            prev = f"v{tag}{k}"
        s += (
            f"sg{tag} AS (SELECT CASE WHEN (SELECT x FROM {prev} "
            "ORDER BY abs(round(x, 12)) DESC, pos LIMIT 1) < 0 "
            "THEN -1.0 ELSE 1.0 END AS s), "
            f"d{tag} AS MATERIALIZED (SELECT {prev}.pos, "
            f"round({prev}.x * sg{tag}.s, 5) AS loading "
            f"FROM {prev}, sg{tag}), "
        )
        return s

    sql = (
        f"WITH p AS (SELECT unnest(generate_series(1, {dims})) AS pos), "
        "e AS MATERIALIZED (SELECT vec_id, p.pos, "
        "CAST(embedding[p.pos] AS DOUBLE) AS x FROM embeddings, p), "
        "g0 AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j, "
        "round(sum(a.x * b.x), 6) "
        "AS v FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2), "
    )
    sql += chain("g0", "a")
    sql += (
        "lam AS (SELECT round("
        "(SELECT sum(g0.v * a.loading * b.loading) FROM g0, da a, da b "
        "WHERE a.pos = g0.i AND b.pos = g0.j) / "
        "(SELECT sum(loading * loading) FROM da), 6) AS l), "
        "g2 AS MATERIALIZED (SELECT g0.i, g0.j, "
        "round(g0.v - lam.l * a.loading * b.loading, 6) AS v "
        "FROM g0, lam, da a, da b "
        "WHERE a.pos = g0.i AND b.pos = g0.j), "
    )
    sql += chain("g2", "b")
    sql = sql.rstrip(", ")
    return sql + (
        " SELECT CAST(1 AS INT) AS component, pos, loading FROM da "
        "UNION ALL "
        "SELECT CAST(2 AS INT) AS component, pos, loading FROM db"
    )


@query(oracle=_pca2_oracle_sql())
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


@query(oracle=_ivf_oracle(" WHERE label % 4 = 0"))
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


@query(oracle=(
    "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v "
    "FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v "
    "FROM embeddings WHERE vec_id < 5), "
    "sf_ AS (SELECT q.query_id, c.vec_id, "
    "round(list_dot_product(q.v, c.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * "
    "sqrt(list_dot_product(c.v, c.v))), 5) AS cos "
    "FROM c, q WHERE q.query_id != c.vec_id), "
    "rf AS (SELECT query_id, vec_id FROM ("
    "SELECT query_id, vec_id, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk "
    "FROM sf_) WHERE rk <= 10), "
    "cp AS (SELECT vec_id, v[1:16] AS v FROM c), "
    "qp AS (SELECT query_id, v[1:16] AS v FROM q), "
    "sp AS (SELECT qp.query_id, cp.vec_id, "
    "round(list_dot_product(qp.v, cp.v) / "
    "(sqrt(list_dot_product(qp.v, qp.v)) * "
    "sqrt(list_dot_product(cp.v, cp.v))), 5) AS cos "
    "FROM cp, qp WHERE qp.query_id != cp.vec_id), "
    "rp AS (SELECT query_id, vec_id FROM ("
    "SELECT query_id, vec_id, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk "
    "FROM sp) WHERE rk <= 10), "
    "hit AS (SELECT rf.query_id FROM rf WHERE EXISTS ("
    "SELECT 1 FROM rp WHERE rp.query_id = rf.query_id "
    "AND rp.vec_id = rf.vec_id)), "
    "cnt AS (SELECT query_id, count(*) AS n_overlap FROM hit "
    "GROUP BY query_id) "
    "SELECT qq.query_id, "
    "CAST(coalesce(cnt.n_overlap, 0) AS BIGINT) AS n_overlap, "
    "round(coalesce(cnt.n_overlap, 0) / 10.0, 2) AS recall10 "
    "FROM (SELECT DISTINCT query_id FROM q) qq "
    "LEFT JOIN cnt USING (query_id)"
))
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
