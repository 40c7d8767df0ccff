"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship planner-driven text pipeline at
sf0.001. ``queries()`` exposes every query registered with ``@query``
in ``task_on_dataframes_spark/registry``, check window first;
``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL for each.

Column-name discipline: every computed column is aliased identically in
the Spark code and the oracle SQL (the driver's compare sorts columns by
name before hashing). Float aggregates are rounded on BOTH sides so
IEEE summation-order differences between engines can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"

from task_on_dataframes_spark.registry import QUERIES
from task_on_dataframes_spark.registry.common import _CLS_WEIGHTS_FP
from task_on_dataframes_spark.registry.relational import RECURSIVE_REACH_SQL


def _oracle_sf_dir() -> str:
    """The directory the oracle compares against. The driver and
    tools/check_correctness.py both run DuckDB views over SF_DIR
    (default sf0.01); file-listing oracles must follow the same root."""
    import os

    return os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["planner_top90_tokens"](spark, SF0001)


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


def _kmeans_ctes(k: int = 8, iters: int = 3, dims: int = 64) -> list:
    """Lloyd-iteration CTE chain shared by the kmeans and semantic-dedup
    oracles: init pick, then (assign_i, cent_{i+1}) per iteration —
    decimal-exact per-dimension means rounded to 6, cosine rounded to
    5, ties to the smallest cluster id, mirroring
    operators/clustering.py bit for bit. The final assignment CTE is
    ``as{iters-1}`` with columns (vec_id, v, cl, sim)."""
    cos = (
        "round(list_dot_product(c.v, {t}.cv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * "
        "sqrt(list_dot_product({t}.cv, {t}.cv))), 5)"
    )
    means = ", ".join(
        f"round(CAST(sum(CAST(v[{i + 1}] AS DECIMAL(28,12))) AS DOUBLE)"
        f" / count(1), 6)"
        for i in range(dims)
    )
    parts = [
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "ch AS (SELECT vec_id, v, CAST(('0x' || substr(md5(CAST("
        "'kmeans:' || CAST(vec_id AS VARCHAR) AS VARCHAR)), 1, 8)) "
        "AS BIGINT) AS h FROM c), "
        f"cent0 AS (SELECT h % {k} AS cl, v AS cv FROM "
        "(SELECT h, v, row_number() OVER (PARTITION BY h % "
        f"{k} ORDER BY h, vec_id) AS rn FROM ch) WHERE rn = 1)"
    ]
    for it in range(iters):
        parts.append(
            f"sc{it} AS (SELECT c.vec_id, c.v, cent{it}.cl, "
            f"{cos.format(t=f'cent{it}')} AS sim FROM c, cent{it}), "
            f"as{it} AS (SELECT vec_id, v, cl, sim FROM (SELECT *, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, "
            f"cl ASC) AS rn FROM sc{it}) WHERE rn = 1)"
        )
        if it < iters - 1:
            parts.append(
                f"cent{it + 1} AS (SELECT cl, list_value({means}) AS cv "
                f"FROM as{it} GROUP BY cl)"
            )
    return parts


def _kmeans_oracle_sql(k: int = 8, iters: int = 3, dims: int = 64) -> str:
    return (
        ", ".join(_kmeans_ctes(k, iters, dims))
        + f" SELECT vec_id, cl AS cluster, sim AS cos FROM as{iters - 1}"
    )


def _semantic_dedup_oracle_sql(
    k: int = 8, iters: int = 3, dims: int = 64, threshold: float = 0.4
) -> str:
    """Replay SemDeDup: the identical Lloyd chain, then within-cluster
    pairs only (a.vec_id < b.vec_id), cosine rounded to 5, min partner
    as the canonical survivor."""
    parts = _kmeans_ctes(k, iters, dims)
    last = f"as{iters - 1}"
    pair_cos = (
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v))), 5)"
    )
    parts.append(
        f"pr AS (SELECT b.vec_id, b.cl, a.vec_id AS a_id, {pair_cos} AS cos "
        f"FROM {last} a JOIN {last} b ON a.cl = b.cl AND a.vec_id < b.vec_id)"
    )
    return (
        ", ".join(parts)
        + " SELECT vec_id, cl AS cluster, min(a_id) AS dup_of, "
        "max(cos) AS max_cos FROM pr "
        f"WHERE cos >= {threshold} GROUP BY 1, 2"
    )


#: char-level w0: lowercased [a-z]+ words, one wrapped symbol per char
_BPE_W0_CHAR = (
    "WITH w0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') "
    "AS repr, cnt FROM (SELECT w, count(*) AS cnt FROM "
    "(SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w "
    "FROM documents) WHERE regexp_matches(w, '^[a-z]+$') "
    "GROUP BY w))"
)
#: byte-level w0: RAW whitespace pieces split at the operator's
#: BPE_PIECE_CHAR_CAP (stepped generate_series — same chunk boundaries
#: as the Spark transform), symbols = UTF-8 bytes as 2-hex-digit
#: tokens (uppercase hex — Spark hex(encode()) and DuckDB
#: hex(encode()) agree byte-for-byte)
def _bpe_w0_bytes(source: str = "documents") -> str:
    from task_on_dataframes_spark.operators.bpe import BPE_PIECE_CHAR_CAP

    cap = BPE_PIECE_CHAR_CAP
    return (
        "WITH w0 AS MATERIALIZED (SELECT regexp_replace(hex(encode(w)), "
        "'(..)', '(\\1)', 'g') AS repr, cnt FROM "
        "(SELECT w, count(*) AS cnt FROM "
        f"(SELECT substr(p.w0, s.s, {cap}) AS w FROM "
        "(SELECT w0 FROM (SELECT unnest(string_split_regex(text, "
        f"'\\s+')) AS w0 FROM {source}) WHERE len(w0) > 0) p, "
        f"LATERAL unnest(generate_series(1, len(p.w0), {cap})) AS s(s)) "
        "GROUP BY w))"
    )


_BPE_W0_BYTES = _bpe_w0_bytes()


def _bpe_ctes(merges: int = 6, w0: str = _BPE_W0_CHAR) -> list:
    """BPE training CTE chain (shared by the train and apply oracles,
    char- and byte-level via the ``w0`` base table): word table ->
    per-iteration pair counts (p{i}), argmax (b{i}), and merged word
    table (w{i}) — identical greedy replace semantics and
    lexicographic tie-breaks to operators/bpe.py."""
    parts = [w0]
    for i in range(1, merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"p{i} AS (SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS pc "
            "FROM (SELECT syms[i.i] AS lhs, syms[i.i+1] AS rhs, cnt "
            "FROM (SELECT regexp_extract_all(repr, '\\(([^)]*)\\)', 1) "
            f"AS syms, cnt FROM {prev}), "
            "LATERAL unnest(generate_series(1, len(syms) - 1)) AS i(i) "
            "WHERE len(syms) >= 2) GROUP BY lhs, rhs), "
            f"b{i} AS MATERIALIZED (SELECT CAST({i} AS INT) AS step, lhs, rhs, "
            "lhs || rhs AS merged, pc AS pair_count "
            f"FROM p{i} ORDER BY pc DESC, lhs, rhs LIMIT 1)"
        )
        if i < merges:
            parts.append(
                f"w{i} AS MATERIALIZED (SELECT replace(repr, "
                "'(' || b.lhs || ')(' || b.rhs || ')', "
                "'(' || b.merged || ')') AS repr, cnt "
                f"FROM w{i - 1}, b{i} b)"
            )
    return parts


def _bpe_train_oracle_sql(merges: int = 6, w0: str = _BPE_W0_CHAR) -> str:
    parts = _bpe_ctes(merges, w0)
    union = " UNION ALL ".join(f"SELECT * FROM b{i}" for i in range(1, merges + 1))
    return ", ".join(parts) + f" SELECT * FROM ({union}) ORDER BY step"


def _bpe_apply_oracle_sql(merges: int = 6) -> str:
    parts = _bpe_ctes(merges)
    parts.append(
        "r0 AS (SELECT doc_id, regexp_replace(w, '(.)', '(\\1)', 'g') "
        "AS r FROM (SELECT doc_id, "
        "unnest(string_split_regex(lower(text), '\\s+')) AS w "
        "FROM documents) WHERE regexp_matches(w, '^[a-z]+$'))"
    )
    for i in range(1, merges + 1):
        parts.append(
            f"r{i} AS (SELECT doc_id, replace(r, "
            "'(' || b.lhs || ')(' || b.rhs || ')', "
            f"'(' || b.merged || ')') AS r FROM r{i - 1}, b{i} b)"
        )
    return (
        ", ".join(parts)
        + " SELECT doc_id, CAST(sum(len(regexp_extract_all(r, "
        f"'\\(([^)]*)\\)', 1))) AS BIGINT) AS bpe_tokens FROM r{merges} "
        "GROUP BY doc_id"
    )


def _kcenter_oracle_sql(k: int = 8) -> str:
    """Replay greedy k-center exactly: same squared-L2 composition
    rounded to 5, same (mind DESC, vec_id ASC) argmax, same constant
    seed round."""
    d2 = (
        "round(list_dot_product(w.v, w.v) - 2*list_dot_product(w.v, c.v) "
        "+ list_dot_product(c.v, c.v), 5)"
    )
    parts = [
        "WITH full_v AS (SELECT vec_id, embedding::DOUBLE[] AS fv "
        "FROM embeddings), "
        "w0 AS MATERIALIZED (SELECT vec_id, fv AS v, "
        "CAST(1e18 AS DOUBLE) AS mind FROM full_v)"
    ]
    for i in range(1, k + 1):
        parts.append(
            f"c{i} AS (SELECT {i} AS step, vec_id, mind, v FROM w{i - 1} "
            "ORDER BY mind DESC, vec_id ASC LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"w{i} AS MATERIALIZED (SELECT w.vec_id, w.v, "
                f"least(w.mind, {d2}) AS mind FROM w{i - 1} w, c{i} c)"
            )
    union = " UNION ALL ".join(
        f"SELECT step, vec_id, mind FROM c{i}" for i in range(1, k + 1)
    )
    return (
        ", ".join(parts)
        + f" SELECT CAST(step AS INT) AS sel_order, vec_id, "
        "CASE WHEN step = 1 THEN NULL ELSE mind END AS min_dist "
        f"FROM ({union})"
    )


def _morton_sql_xy(bits: int = 10) -> str:
    from task_on_dataframes_spark.operators.layout import morton_code_sql

    return morton_code_sql("x", "y", bits)


def _bloom_decontaminate_oracle_sql(k: int = 3, m: int = 1 << 16) -> str:
    """Replay the Bloom decontamination bit for bit: same portable md5
    bit positions, same all-k-bits membership rule — false positives
    and all."""
    from task_on_dataframes_spark.operators.bloom import bloom_bit_sql

    bit_union = " UNION ALL ".join(
        f"SELECT {bloom_bit_sql('tok', i, m)} AS bit FROM bg"
        for i in range(k)
    )
    all_hit = " AND ".join(
        f"{bloom_bit_sql('tok', i, m)} IN (SELECT bit FROM bits)"
        for i in range(k)
    )
    return (
        "WITH lab AS (SELECT doc_id, CAST(('0x' || substr(md5(CAST("
        "('split:' || CAST(doc_id AS VARCHAR)) AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 1000 AS bucket FROM documents), "
        "t AS (SELECT doc_id AS did, "
        "string_split_regex(lower(text), '\\s+') AS ts FROM documents), "
        "g AS (SELECT DISTINCT did, "
        "ts[i.i] || ' ' || ts[i.i+1] || ' ' || ts[i.i+2] || ' ' || "
        "ts[i.i+3] || ' ' || ts[i.i+4] AS tok "
        "FROM t, LATERAL unnest(generate_series(1, len(ts) - 4)) AS i(i) "
        "WHERE len(ts) >= 5), "
        "test_ids AS (SELECT doc_id AS did FROM lab WHERE bucket >= 950), "
        "train_ids AS (SELECT doc_id AS did FROM lab WHERE bucket < 900), "
        "bg AS (SELECT DISTINCT g.tok FROM g JOIN test_ids USING (did)), "
        f"bits AS (SELECT DISTINCT bit FROM ({bit_union})), "
        "tg AS (SELECT g.did, g.tok FROM g JOIN train_ids USING (did)), "
        f"hit AS (SELECT did, count(*) AS hit_grams FROM tg WHERE {all_hit} "
        "GROUP BY did) "
        "SELECT train_ids.did, coalesce(hit_grams, 0) AS hit_grams, "
        "coalesce(hit_grams, 0) > 0 AS contaminated "
        "FROM train_ids LEFT JOIN hit USING (did)"
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

#: the correctness check runs these queries first, in this order;
#: ``queries()`` lists them ahead of the rest of the registry
_R12_WINDOW = [
    "ann_index_compact",
    "ann_index_maintain",
    "dedup_index_probe",
    "dedup_index_maintain",
    "dedup_index_compact",
    "dedup_incremental_lsh",
    "stream_index_maintain",
    "j4_semi_join",
    "j5_anti_join",
    "j8_upsert",
    "sample_split",
    "set_ops",
    "text_bpe_train",
    "text_bpe_train256",
    "text_fingerprint",
    "text_token_stats",
    "w3_ranking",
    "w6_ntile_bins",
    "ann_ivf_incremental",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_ivfsq_topk",
    "curriculum_quality_bins",
    "dedup_substring_rewrite",
    "graph_pagerank",
    "o2_pagination",
    "o3_topk_counts",
    "p1_projection_reindex",
    "p3_filter_startswith",
    "p5_null_safe_flag_filter",
    "p6_distinct_subset",
    "pipeline_c4_curation",
    "planner_top90_tokens",
    "q10_returned_items",
    "q11_value_concentration",
    "q12_priority_lines",
    "q13_order_distribution",
    "q14_promo_share",
    "q15_top_supplier",
    "q16_supplier_counts",
    "q17_small_quantity_revenue",
    "q19_disjunctive_filter",
    "q1_pricing_summary",
    "q21_waiting_supplier",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_region_volume",
    "q6_forecast_revenue",
    "q7_nation_volume",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    head = {k: QUERIES[k] for k in _R12_WINDOW}
    return head | {k: v for k, v in QUERIES.items() if k not in head}


_TOKEN_CTE = """
WITH toks AS (
    SELECT regexp_replace(t.tok, '^\\W+|\\W+$', '') AS tok
    FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ) t
), clean AS (
    SELECT tok FROM toks WHERE length(tok) >= 2
), counts AS (
    SELECT tok, count(*) AS cnt FROM clean GROUP BY tok
), ranked AS (
    SELECT tok, cnt,
           sum(cnt) OVER (ORDER BY cnt DESC, tok ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER () AS total
    FROM counts
), top AS (
    SELECT tok FROM ranked WHERE cum < 0.9 * total
)
"""


#: word-bigram shingle CTEs (t, g) — the default LSH front end
_LSH_G_WORD = """t AS (SELECT doc_id AS did, string_split_regex(lower(text), '\\s+') AS ts
           FROM documents),
g AS (SELECT DISTINCT did, ts[i.i] || ' ' || ts[i.i + 1] AS tok
      FROM t, LATERAL unnest(generate_series(1, len(ts) - 1)) AS i(i)
      WHERE len(ts) >= 2)"""
#: character-5-gram shingle CTEs — mirrors operators/dedup._char_ngrams
#: (substr is character-indexed on both engines)
def _lsh_g_char(
    shingle_n: int | None = None,
    sample_mod: int | None = None,
    source: str = "documents",
) -> str:
    """Character-n-gram shingle CTEs with the 1-in-``sample_mod``
    modulo sampling — the hash rendering comes from hashing.hash32_sql
    and the defaults come from the SAME module constants the Spark
    operator uses (operators/dedup.CHAR_SAMPLE_MOD / shingle_n=5 at
    the registry call site), so the Spark filter and this oracle can
    never drift apart. ``source`` swaps the relation the shingles read
    (pipeline oracles shingle a gated CTE, not the raw table)."""
    from task_on_dataframes_spark.operators.dedup import CHAR_SAMPLE_MOD
    from task_on_dataframes_spark.operators.hashing import hash32_sql

    n = 5 if shingle_n is None else shingle_n
    mod = CHAR_SAMPLE_MOD if sample_mod is None else sample_mod
    return f"""t AS (SELECT doc_id AS did,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nm
           FROM {source}),
g AS (SELECT DISTINCT did, tok FROM (
      SELECT did, substr(nm, i.i, {n}) AS tok
      FROM t, LATERAL unnest(generate_series(1, len(nm) - {n - 1})) AS i(i)
      WHERE len(nm) >= {n})
      WHERE {hash32_sql('tok')} % {mod} = 0)"""


def _lsh_cand_ctes(
    num_perm: int = 16,
    bands: int = 4,
    g_ctes: str = _LSH_G_WORD,
    star: bool = False,
    star_bucket_cap: int | None = None,
) -> str:
    """Shared WITH-body through the `cand` CTE: shingle, hash, minhash
    signature, band keys, candidate pairs — mirrors
    operators/dedup.py:lsh_candidates. ``g_ctes`` swaps the shingle
    basis (word bigrams vs character 5-grams); ``star_bucket_cap``
    defaults to the SAME operator constant the Spark side uses."""
    from task_on_dataframes_spark.operators.dedup import (
        DEFAULT_STAR_BUCKET_CAP,
    )
    from task_on_dataframes_spark.operators.hashing import (
        hash32_sql,
        perm_hash_sql,
    )

    cap = DEFAULT_STAR_BUCKET_CAP if star_bucket_cap is None else star_bucket_cap
    rows = num_perm // bands
    sig_cols = ", ".join(
        f"min({perm_hash_sql('h', i)}) AS mh{i}" for i in range(num_perm)
    )
    if star:
        # multi-pivot star: pair admitted iff a is among the cap
        # smallest ids of a shared bucket (rank <= cap) — mirrors
        # star_candidates (buckets <= cap members degenerate to exact
        # all-pairs because every member ranks <= cap)
        cand_body = (
            "SELECT DISTINCT x.did AS a, y.did AS b FROM "
            "(SELECT did, band, key, row_number() OVER "
            "(PARTITION BY band, key ORDER BY did) AS rk FROM bands) x "
            "JOIN bands y ON x.band = y.band AND x.key = y.key "
            f"WHERE x.rk <= {cap} AND x.did < y.did"
        )
    else:
        cand_body = (
            "SELECT DISTINCT x.did AS a, y.did AS b "
            "FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key "
            "WHERE x.did < y.did"
        )
    band_selects = " UNION ALL ".join(
        "SELECT did, {b} AS band, md5(concat_ws('_', {cols})) AS key FROM sig".format(
            b=b,
            cols=", ".join(
                f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH {g_ctes},
h AS (SELECT did, tok, {hash32_sql('tok')} AS h FROM g),
sig AS (SELECT did, {sig_cols} FROM h GROUP BY did),
bands AS ({band_selects}),
cand AS ({cand_body})"""


def _minhash_oracle(
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    g_ctes: str = _LSH_G_WORD,
    star: bool = False,
    star_bucket_cap: int | None = None,
) -> str:
    return f"""{_lsh_cand_ctes(num_perm, bands, g_ctes, star, star_bucket_cap)},
sz AS (SELECT did, count(*) AS sz FROM g GROUP BY did),
inter AS (SELECT c.a, c.b, count(*) AS inter FROM cand c
          JOIN g ga ON ga.did = c.a
          JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok
          GROUP BY c.a, c.b)
SELECT i.a AS a, i.b AS b,
       round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= {threshold}
"""


def _star_recall_oracle() -> str:
    """Oracle for ``dedup_star_recall_eval``: replays both strata
    (template-saturated and natural) of the constant eval slice, the
    exact sampled-universe Jaccard ground truth, and — per banding in
    ``STAR_RECALL_BANDINGS`` (the r9 verdict item-6 dial) — the
    uncapped banded LSH ceiling and the star-capped pair sets for
    every cap, all parameterized from the SAME constants the Spark
    query uses (registry.dedup.STAR_RECALL_* /
    operators.dedup.CHAR_SAMPLE_MOD), so fixture and oracle cannot
    drift. The exact ground truth is banding-independent and shared
    by every banding's rows, mirroring the Spark plan."""
    from task_on_dataframes_spark.operators.dedup import CHAR_SAMPLE_MOD
    from task_on_dataframes_spark.operators.hashing import (
        hash32_sql,
        perm_hash_sql,
    )
    from task_on_dataframes_spark.registry.dedup import (
        STAR_RECALL_BANDINGS,
        STAR_RECALL_BOILER,
        STAR_RECALL_CAPS,
        STAR_RECALL_SLICE,
        STAR_RECALL_TAIL,
    )

    n = 5
    tb, ts = STAR_RECALL_TAIL

    def verify(cand: str, g: str, sz: str) -> str:
        return (
            f"SELECT i.a, i.b FROM (SELECT c.a, c.b, count(*) AS inter "
            f"FROM {cand} c JOIN {g} ga ON ga.did = c.a "
            f"JOIN {g} gb ON gb.did = c.b AND gb.tok = ga.tok "
            f"GROUP BY 1, 2) i "
            f"JOIN {sz} sa ON i.a = sa.did JOIN {sz} sb ON i.b = sb.did "
            "WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= 0.5"
        )

    parts = []
    selects = []
    for p, stratum, text_expr in (
        (
            "t",
            "template",
            f"'{STAR_RECALL_BOILER}' || ' ' || "
            f"substring(text, 1, {tb} + (doc_id % 5) * {ts})",
        ),
        ("n", "natural", "text"),
    ):
        # banding-independent: shingles, sizes, exact ground truth
        parts.append(
            f"{p}src AS (SELECT doc_id AS did, {text_expr} AS text "
            f"FROM documents WHERE doc_id % 3 = 0 "
            f"AND doc_id < {STAR_RECALL_SLICE}), "
            f"{p}t AS (SELECT did, trim(regexp_replace(lower(text), "
            f"'\\s+', ' ', 'g')) AS nm FROM {p}src), "
            f"{p}g AS MATERIALIZED (SELECT DISTINCT did, tok FROM ("
            f"SELECT did, substr(nm, i.i, {n}) AS tok FROM {p}t, "
            f"LATERAL unnest(generate_series(1, len(nm) - {n - 1})) AS i(i) "
            f"WHERE len(nm) >= {n}) "
            f"WHERE {hash32_sql('tok')} % {CHAR_SAMPLE_MOD} = 0), "
            f"{p}h AS (SELECT did, tok, {hash32_sql('tok')} AS h FROM {p}g), "
            f"{p}sz AS (SELECT did, count(*) AS sz FROM {p}g GROUP BY did), "
            f"{p}ecand AS (SELECT DISTINCT x.did AS a, y.did AS b "
            f"FROM {p}g x JOIN {p}g y ON x.tok = y.tok WHERE x.did < y.did), "
            f"{p}ex AS MATERIALIZED ({verify(p + 'ecand', p + 'g', p + 'sz')})"
        )
        for num_perm, bands in STAR_RECALL_BANDINGS:
            q = f"{p}b{num_perm}"
            rows = num_perm // bands
            sig_cols = ", ".join(
                f"min({perm_hash_sql('h', i)}) AS mh{i}"
                for i in range(num_perm)
            )
            band_selects = " UNION ALL ".join(
                "SELECT did, {b} AS band, md5(concat_ws('_', {cols})) "
                "AS key FROM {q}sig".format(
                    b=b,
                    q=q,
                    cols=", ".join(
                        f"CAST(mh{b * rows + r} AS VARCHAR)"
                        for r in range(rows)
                    ),
                )
                for b in range(bands)
            )
            parts.append(
                f"{q}sig AS (SELECT did, {sig_cols} FROM {p}h "
                f"GROUP BY did), "
                f"{q}bands AS MATERIALIZED ({band_selects}), "
                f"{q}rb AS MATERIALIZED (SELECT did, band, key, "
                f"row_number() OVER (PARTITION BY band, key ORDER BY did) "
                f"AS rk FROM {q}bands), "
                f"{q}ucand AS (SELECT DISTINCT x.did AS a, y.did AS b "
                f"FROM {q}bands x JOIN {q}bands y "
                f"ON x.band = y.band AND x.key = y.key WHERE x.did < y.did), "
                f"{q}uv AS MATERIALIZED "
                f"({verify(q + 'ucand', p + 'g', p + 'sz')}), "
                f"{q}cnt AS (SELECT (SELECT count(*) FROM {p}ex) AS ne, "
                f"(SELECT count(*) FROM {q}uv) AS nl, "
                f"(SELECT count(DISTINCT b) FROM {p}ex) AS nde, "
                f"(SELECT count(DISTINCT b) FROM {q}uv) AS ndl)"
            )
            for cap in STAR_RECALL_CAPS:
                parts.append(
                    # multi-pivot star: pair admitted iff rank(a) <= cap
                    # in some shared bucket (star_candidates docstring)
                    f"{q}cand{cap} AS (SELECT DISTINCT x.did AS a, "
                    f"y.did AS b FROM {q}rb x JOIN {q}bands y "
                    f"ON x.band = y.band AND x.key = y.key "
                    f"WHERE x.rk <= {cap} AND x.did < y.did), "
                    f"{q}vc{cap} AS (SELECT count(*) AS ns, "
                    f"count(DISTINCT b) AS nds FROM "
                    f"({verify(q + 'cand' + str(cap), p + 'g', p + 'sz')}))"
                )
                selects.append(
                    f"SELECT '{stratum}' AS stratum, "
                    f"CAST({num_perm} AS INT) AS num_perm, "
                    f"CAST({bands} AS INT) AS bands, "
                    f"CAST({cap} AS INT) AS star_bucket_cap, "
                    "ne AS n_exact, nl AS n_lsh, ns AS n_star, "
                    "CASE WHEN ne > 0 THEN round(ns / CAST(ne AS DOUBLE), 6) "
                    "END AS recall_vs_exact, "
                    "CASE WHEN nl > 0 THEN round(ns / CAST(nl AS DOUBLE), 6) "
                    "END AS recall_vs_lsh, "
                    "nde AS n_docs_exact, ndl AS n_docs_lsh, "
                    "nds AS n_docs_star, "
                    "CASE WHEN nde > 0 THEN round(nds / CAST(nde AS DOUBLE), 6) "
                    "END AS doc_recall_vs_exact, "
                    "CASE WHEN ndl > 0 THEN round(nds / CAST(ndl AS DOUBLE), 6) "
                    "END AS doc_recall_vs_lsh "
                    f"FROM {q}cnt, {q}vc{cap}"
                )
    return (
        "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)
    )


def _incr_lsh_oracle(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """Replay of ``incremental_lsh_matches`` over the %7 corpus split:
    same shingles/signatures/band keys as ``_minhash_oracle``, but the
    candidate join is asymmetric (batch side x.did%7<>0 probes corpus
    side y.did%7=0) and the output aggregates verified matches per
    batch doc. The generated ``cand`` CTE is unused here."""
    return f"""{_lsh_cand_ctes(num_perm, bands)},
icand AS (SELECT DISTINCT x.did AS a, y.did AS b
          FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
          WHERE x.did % 7 <> 0 AND y.did % 7 = 0),
sz AS (SELECT did, count(*) AS sz FROM g GROUP BY did),
inter AS (SELECT c.a, c.b, count(*) AS inter FROM icand c
          JOIN g ga ON ga.did = c.a
          JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok
          GROUP BY c.a, c.b),
v AS (SELECT i.a, round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
      FROM inter i JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
      WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= {threshold})
SELECT a AS doc_id, CAST(count(*) AS INT) AS n_matches,
       max(jaccard) AS max_jaccard
FROM v GROUP BY a
"""


def _lsh_index_build_oracle(num_perm: int = 16, bands: int = 4) -> str:
    """Replay of the persisted LSH index content for the corpus slice
    (did % 7 = 0): the portable md5 band keys from the shared
    ``_lsh_cand_ctes`` bands CTE plus each doc's distinct-shingle-set
    size. The stored xxhash64 ``hks`` arrays are engine-internal and
    not exposed by the build query; their semantics are pinned by
    ``dedup_index_probe``'s Jaccard outputs."""
    return f"""{_lsh_cand_ctes(num_perm, bands)},
szs AS (SELECT did, count(*) AS sz FROM g GROUP BY did)
SELECT b.did AS doc_id, b.band AS band, b.key AS key, s.sz AS sz
FROM bands b JOIN szs s ON b.did = s.did
WHERE b.did % 7 = 0
"""


def _lsh_index_probe_oracle(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """Replay of two ingest waves (did % 7 = 1, then = 2) probed
    against the corpus index (did % 7 = 0) — the asymmetric form of
    ``_incr_lsh_oracle`` with the batch side split by wave. The wave
    tag rides the candidate through verification so the GROUP BY
    reproduces the per-wave output of the Spark probe loop."""
    return f"""{_lsh_cand_ctes(num_perm, bands)},
icand AS (SELECT DISTINCT CAST(x.did % 7 AS INT) AS wave,
                 x.did AS a, y.did AS b
          FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
          WHERE x.did % 7 IN (1, 2) AND y.did % 7 = 0),
sz AS (SELECT did, count(*) AS sz FROM g GROUP BY did),
inter AS (SELECT c.wave, c.a, c.b, count(*) AS inter FROM icand c
          JOIN g ga ON ga.did = c.a
          JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok
          GROUP BY c.wave, c.a, c.b),
v AS (SELECT i.wave, i.a,
             round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
      FROM inter i JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
      WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= {threshold})
SELECT wave, a AS doc_id, CAST(count(*) AS INT) AS n_matches,
       max(jaccard) AS max_jaccard
FROM v GROUP BY wave, a
"""


def _lsh_index_maintain_oracle(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """Replay of the index LIFECYCLE query: phase 1 probes wave 1
    (did % 7 = 1) against the corpus index (did % 7 = 0); phase 2
    probes wave 2 (did % 7 = 2) against the index GROWN by the
    wave-1 append, i.e. targets did % 7 IN (0, 1). Identical
    shingle/signature/band CTEs as the build/probe oracles; only the
    candidate asymmetry differs."""
    return f"""{_lsh_cand_ctes(num_perm, bands)},
icand AS (SELECT DISTINCT CASE WHEN x.did % 7 = 1 THEN 1 ELSE 2 END AS phase,
                 x.did AS a, y.did AS b
          FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
          WHERE (x.did % 7 = 1 AND y.did % 7 = 0)
             OR (x.did % 7 = 2 AND y.did % 7 IN (0, 1))),
sz AS (SELECT did, count(*) AS sz FROM g GROUP BY did),
inter AS (SELECT c.phase, c.a, c.b, count(*) AS inter FROM icand c
          JOIN g ga ON ga.did = c.a
          JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok
          GROUP BY c.phase, c.a, c.b),
v AS (SELECT i.phase, i.a,
             round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
      FROM inter i JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
      WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= {threshold})
SELECT phase, a AS doc_id, CAST(count(*) AS INT) AS n_matches,
       max(jaccard) AS max_jaccard
FROM v GROUP BY phase, a
"""


def _lsh_index_compact_oracle(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """Compacted-index probe oracle: compaction must not change any
    value, so this is exactly the grown-index replay of
    _lsh_index_maintain_oracle's phase 2 (wave 2 probed against
    corpus + appended wave 1), without the phase tag."""
    return f"""{_lsh_cand_ctes(num_perm, bands)},
icand AS (SELECT DISTINCT x.did AS a, y.did AS b
          FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
          WHERE x.did % 7 = 2 AND y.did % 7 IN (0, 1)),
sz AS (SELECT did, count(*) AS sz FROM g GROUP BY did),
inter AS (SELECT c.a, c.b, count(*) AS inter FROM icand c
          JOIN g ga ON ga.did = c.a
          JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok
          GROUP BY c.a, c.b),
v AS (SELECT i.a, round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
      FROM inter i JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
      WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= {threshold})
SELECT a AS doc_id, CAST(count(*) AS INT) AS n_matches,
       max(jaccard) AS max_jaccard
FROM v GROUP BY a
"""


def _levenshtein_oracle(
    num_perm: int = 16,
    bands: int = 4,
    max_rel_num: int = 3,
    max_rel_den: int = 10,
) -> str:
    return f"""{_lsh_cand_ctes(num_perm, bands)}
SELECT c.a AS a, c.b AS b,
       CAST(levenshtein(da.text, db.text) AS INT) AS dist
FROM cand c
JOIN documents da ON da.doc_id = c.a
JOIN documents db ON db.doc_id = c.b
WHERE levenshtein(da.text, db.text) * {max_rel_den}
      <= {max_rel_num} * greatest(len(da.text), len(db.text))
"""


def _ngram_jaccard_oracle(n: int = 3, threshold: float = 0.5, max_df: int = 50) -> str:
    gram_expr = " || ' ' || ".join(f"ts[i.i + {k}]" for k in range(n))
    return f"""
WITH t AS (SELECT doc_id AS did, string_split_regex(lower(text), '\\s+') AS ts
           FROM documents),
g AS (SELECT DISTINCT did, {gram_expr} AS tok
      FROM t, LATERAL unnest(generate_series(1, len(ts) - {n - 1})) AS i(i)
      WHERE len(ts) >= {n}),
rare AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM g GROUP BY tok)
         WHERE df <= {max_df}),
fg AS (SELECT g.did, g.tok FROM g JOIN rare ON g.tok = rare.tok),
cand AS (SELECT DISTINCT x.did AS a, y.did AS b
         FROM fg x JOIN fg y ON x.tok = y.tok WHERE x.did < y.did),
sz AS (SELECT did, count(*) AS sz FROM g GROUP BY did),
inter AS (SELECT c.a, c.b, count(*) AS inter FROM cand c
          JOIN g ga ON ga.did = c.a
          JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok
          GROUP BY c.a, c.b)
SELECT i.a AS a, i.b AS b,
       round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= {threshold}
"""


from task_on_dataframes_spark.operators.dedup import (
    CHAR_LSH_BANDS as _CHAR_LSH_BANDS,
    CHAR_LSH_NUM_PERM as _CHAR_LSH_NUM_PERM,
    SIMHASH_GRAPH_BITS as _SIMHASH_GRAPH_BITS,
)


def _simhash_oracle(bits: int = 32, max_hamming: int = 3) -> str:
    from task_on_dataframes_spark.operators.dedup import SIMHASH_HI_SALT
    from task_on_dataframes_spark.operators.hashing import hash32_sql

    def _src(j: int) -> str:
        # bits 32+ read the salted second hash, mirroring
        # simhash_fingerprints (operators/dedup.py)
        return f"(h >> {j})" if j < 32 else f"(h2 >> {j - 32})"

    bit_sums = ", ".join(
        f"sum(CASE WHEN {_src(j)} & 1 = 1 THEN w ELSE -w END) AS s{j}"
        for j in range(bits)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    h2_sql = (
        f", {hash32_sql(repr(SIMHASH_HI_SALT) + ' || tok')} AS h2"
        if bits > 32
        else ""
    )
    return f"""
WITH tk AS (SELECT doc_id AS did,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents),
tw AS (SELECT did, tok, count(*) AS w FROM tk WHERE length(tok) > 0
       GROUP BY did, tok),
th AS (SELECT did, w, {hash32_sql('tok')} AS h{h2_sql} FROM tw),
s AS (SELECT did, {bit_sums} FROM th GROUP BY did),
fp AS (SELECT did, CAST({fp_expr} AS BIGINT) AS simhash FROM s),
pairs AS (SELECT x.did AS a, y.did AS b,
                 bit_count(xor(x.simhash, y.simhash)) AS hamming
          FROM fp x JOIN fp y ON x.did < y.did)
SELECT a, b, CAST(hamming AS INTEGER) AS hamming FROM pairs
WHERE hamming <= {max_hamming}
"""


_COS = (
    "round(list_dot_product(q.v, c.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 5)"
)

#: BM25 scoring CTE chain shared by the text_bm25 and ann_hybrid_rrf
#: oracles — mirrors registry/text.py:_bm25_doc_scores exactly (fixed
#: 3-term query, k1=1.2, b=0.75, Lucene idf, fixed-order scalar add).
_BM25_SQL_CTES = (
    "toks AS (SELECT doc_id, "
    "regexp_replace(t.tok, '^\\W+|\\W+$', '') AS tok "
    "FROM (SELECT doc_id, "
    "unnest(string_split_regex(lower(text), '\\s+')) AS tok "
    "FROM documents) t), "
    "clean AS (SELECT doc_id, tok FROM toks WHERE length(tok) >= 2), "
    "dl AS (SELECT doc_id, count(*) AS dl FROM clean GROUP BY doc_id), "
    "navg AS (SELECT count(*) AS n_docs, "
    "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), "
    "tf AS (SELECT doc_id, tok, count(*) AS tf FROM clean "
    "WHERE tok IN ('hash', 'join', 'vector') GROUP BY doc_id, tok), "
    "dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), "
    "scored AS (SELECT tf.doc_id, tf.tok, "
    "ln((navg.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) "
    "* (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / "
    "navg.avgdl)) AS s "
    "FROM tf JOIN dfreq ON tf.tok = dfreq.tok "
    "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN navg), "
    "piv AS (SELECT doc_id, "
    "max(CASE WHEN tok = 'hash' THEN s END) AS s_hash, "
    "max(CASE WHEN tok = 'join' THEN s END) AS s_join, "
    "max(CASE WHEN tok = 'vector' THEN s END) AS s_vector "
    "FROM scored GROUP BY doc_id), "
    "bm AS (SELECT doc_id, round(coalesce(s_hash, 0.0) + "
    "coalesce(s_join, 0.0) + coalesce(s_vector, 0.0), 6) AS score "
    "FROM piv)"
)


def _hyperplane_bucket_sql(
    vec: str, dims: int, planes: int, plane_offset: int = 0
) -> str:
    """SQL twin of operators.similarity.hyperplane_bucket: identical
    sign matrix, identical left-fold addition order, so the FP
    projections agree bit-for-bit with Spark's. ``plane_offset``
    selects the independent plane set of a multi-table LSH table."""
    from task_on_dataframes_spark.operators.similarity import _plane_sign

    terms = []
    for p in range(planes):
        proj = "0.0" + "".join(
            f" + {vec}[{d + 1}] * ({float(_plane_sign(plane_offset + p, d))})"
            for d in range(dims)
        )
        terms.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _winnow_pairs_oracle(
    shingle: int = 8, window: int = 4, threshold: float = 0.5, max_df: int = 50
) -> str:
    from task_on_dataframes_spark.operators.hashing import hash32_sql

    return f"""
WITH nrm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
             FROM documents),
h AS (SELECT doc_id, list_transform(
        generate_series(1, greatest(length(n) - {shingle - 1}, 1)),
        i -> {hash32_sql(f"substr(n, i, {shingle})")}) AS hs FROM nrm),
m AS (SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(hs) - {window - 1}, 1)),
        i -> list_min(hs[i:i + {window - 1}]))) AS fps FROM h),
fp AS (SELECT doc_id AS did, unnest(fps) AS fingerprint FROM m),
rare AS (SELECT fingerprint FROM
         (SELECT fingerprint, count(*) AS df FROM fp GROUP BY fingerprint)
         WHERE df <= {max_df}),
ff AS (SELECT fp.did, fp.fingerprint FROM fp JOIN rare USING (fingerprint)),
cand AS (SELECT DISTINCT x.did AS a, y.did AS b
         FROM ff x JOIN ff y ON x.fingerprint = y.fingerprint
         WHERE x.did < y.did),
t AS (SELECT doc_id AS did, string_split_regex(lower(text), '\\s+') AS ts
      FROM documents),
g AS (SELECT DISTINCT did, ts[i.i] || ' ' || ts[i.i + 1] AS tok
      FROM t, LATERAL unnest(generate_series(1, len(ts) - 1)) AS i(i)
      WHERE len(ts) >= 2),
sz AS (SELECT did, count(*) AS sz FROM g GROUP BY did),
inter AS (SELECT c.a, c.b, count(*) AS inter FROM cand c
          JOIN g ga ON ga.did = c.a
          JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok
          GROUP BY c.a, c.b)
SELECT i.a AS a, i.b AS b,
       round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= {threshold}
"""


def _pii_redact_oracle() -> str:
    """Render the PII-scrub oracle from the SAME pattern table the
    Spark operator uses (single source of truth; the patterns are
    restricted to the Java-regex/RE2 common subset)."""
    from task_on_dataframes_spark.operators.textstats import PII_PATTERNS

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = "text"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return (
        f"SELECT doc_id, {counts}, CAST(length({red}) AS INT) AS redacted_len "
        "FROM documents"
    )


def _stop_arr(lang: str) -> str:
    from task_on_dataframes_spark.operators.textstats import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _curation_oracle_sql(
    min_tokens: int = 20,
    min_stop: float = 0.015,
    top2_thr: float = 0.20,
    dup3_thr: float = 0.18,
) -> str:
    """DuckDB twin of textstats.curation_verdicts: same lexicons, same
    argmax tie order, same rounded signals, same gate priority."""
    lex = {
        "en": "['the','a','of','and','to','in','is','it','for','on']",
        "de": "['der','die','das','und','ist','ein','zu','mit','von','auf']",
        "fr": "['le','la','les','et','est','un','une','de','pour','dans']",
        "es": "['el','la','los','las','y','es','un','una','de','para']",
    }
    scores = ", ".join(
        f"len(list_filter(ts, t -> list_contains({w}, t))) AS score_{lang}"
        for lang, w in lex.items()
    )
    return (
        "WITH b AS (SELECT doc_id, "
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest, "
        "string_split_regex(lower(text), '\\s+') AS ts FROM documents), "
        f"sc AS (SELECT doc_id, digest, ts, len(ts) AS n_tokens, {scores}, "
        "CASE WHEN len(ts) >= 2 THEN list_transform(range(1, len(ts)), "
        "i -> ts[i] || ' ' || ts[i+1]) ELSE CAST([] AS VARCHAR[]) END AS g2, "
        "CASE WHEN len(ts) >= 3 THEN list_transform(range(1, len(ts) - 1), "
        "i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) "
        "ELSE CAST([] AS VARCHAR[]) END AS g3 FROM b), "
        "top2 AS (SELECT doc_id, max(c) AS topc FROM "
        "(SELECT doc_id, gram, count(*) AS c FROM "
        "(SELECT doc_id, unnest(g2) AS gram FROM sc) GROUP BY 1, 2) "
        "GROUP BY 1), "
        "sig AS (SELECT sc.doc_id, digest, n_tokens, "
        "CASE WHEN score_en >= score_de AND score_en >= score_fr "
        "AND score_en >= score_es THEN 'en' "
        "WHEN score_de >= score_fr AND score_de >= score_es THEN 'de' "
        "WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS pred_lang, "
        "round(score_en / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio, "
        "CASE WHEN len(g2) > 0 THEN "
        "round(coalesce(topc, 0) / CAST(len(g2) AS DOUBLE), 6) "
        "ELSE 0.0 END AS top2, "
        "CASE WHEN len(g3) > 0 THEN "
        "round((len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 6) "
        "ELSE 0.0 END AS dup3, "
        "min(sc.doc_id) OVER (PARTITION BY digest) AS rep_id "
        "FROM sc LEFT JOIN top2 ON sc.doc_id = top2.doc_id), "
        "r AS (SELECT doc_id, pred_lang, CAST(n_tokens AS INT) AS n_tokens, "
        "CASE WHEN pred_lang <> 'en' THEN 'lang' "
        f"WHEN n_tokens < {min_tokens} THEN 'too_short' "
        f"WHEN stopword_ratio < {min_stop} THEN 'low_stopword' "
        f"WHEN top2 > {top2_thr} OR dup3 > {dup3_thr} THEN 'repetitive' "
        "WHEN rep_id <> doc_id THEN 'duplicate' ELSE 'kept' END AS reason "
        "FROM sig) "
        "SELECT doc_id, pred_lang, n_tokens, reason, "
        "reason = 'kept' AS kept FROM r"
    )


def _multilingual_curation_oracle(
    min_tokens: int = 20,
    min_chars: int = 40,
    min_stop: float = 0.015,
    top2_thr: float = 0.20,
    dup3_thr: float = 0.18,
    char_dup3_thr: float = 0.30,
    prefix: int = 512,
) -> str:
    """DuckDB twin of pipeline_multilingual_curation: the seed corpus
    renders from the SAME registry.text.MULTILINGUAL_SEED_DOCS tuples,
    the script classes/lexicons from the same operator tables, and the
    char-LSH near-dup stage reuses the shared candidate-CTE renderer
    over the survivor set — one source of truth end to end."""
    from task_on_dataframes_spark.operators.textstats import (
        SCRIPT_RANGES,
        STOPWORDS,
    )
    from task_on_dataframes_spark.registry.text import (
        MULTILINGUAL_SEED_DOCS,
    )

    values = ", ".join(
        f"(CAST({did} AS BIGINT), '{txt}')"
        for did, txt in MULTILINGUAL_SEED_DOCS
    )
    n_cols = ", ".join(
        f"length(regexp_replace(p, '[^{rng}]', '', 'g')) AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    names = [name for name, _ in SCRIPT_RANGES]
    greatest_all = "greatest(" + ", ".join(f"n_{x}" for x in names) + ")"
    cases = []
    for i, name in enumerate(names[:-1]):
        conds = " AND ".join(
            f"n_{name} >= n_{other}" for other in names[i + 1 :]
        )
        cases.append(f"WHEN {conds} THEN '{name}'")
    cases.append(f"WHEN true THEN '{names[-1]}'")
    script_expr = (
        f"CASE WHEN {greatest_all} > 0 THEN CASE "
        + " ".join(cases)
        + " END ELSE 'none' END"
    )
    scores = ", ".join(
        "len(list_filter(ts, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + f"], t))) AS score_{lang}"
        for lang, words in STOPWORDS.items()
    )
    best_stop = (
        "greatest(" + ", ".join(f"score_{l}" for l in STOPWORDS) + ")"
    )
    # char-LSH CTE chain over the survivor set (same renderer as the
    # dedup_minhash_char oracle, re-pointed at surv); strip its WITH
    lsh = _lsh_cand_ctes(
        _CHAR_LSH_NUM_PERM,
        _CHAR_LSH_BANDS,
        _lsh_g_char(source="surv"),
        star=True,
    ).strip()
    assert lsh.startswith("WITH ")
    lsh = lsh[len("WITH ") :]
    return (
        "WITH corp AS MATERIALIZED (SELECT doc_id, text FROM documents "
        f"UNION ALL SELECT * FROM (VALUES {values}) v(doc_id, text)), "
        "b0 AS (SELECT doc_id, text, "
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nm, "
        "list_filter(string_split_regex(lower(text), '\\s+'), "
        "x -> x <> '') AS ts, "
        "len(regexp_replace(text, '\\s', '', 'g')) AS n_chars, "
        f"substr(text, 1, {prefix}) AS p FROM corp), "
        "sc AS (SELECT doc_id, md5(nm) AS digest, ts, n_chars, "
        f"len(ts) AS n_tokens, {n_cols}, {scores}, "
        "CASE WHEN len(ts) >= 2 THEN list_transform(range(1, len(ts)), "
        "i -> ts[i] || ' ' || ts[i+1]) ELSE CAST([] AS VARCHAR[]) END AS g2, "
        "CASE WHEN len(ts) >= 3 THEN list_transform(range(1, len(ts) - 1), "
        "i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) "
        "ELSE CAST([] AS VARCHAR[]) END AS g3, "
        f"CASE WHEN len(substr(nm, 1, {prefix})) >= 3 THEN "
        f"list_transform(generate_series(1, len(substr(nm, 1, {prefix})) - 2), "
        f"i -> substr(substr(nm, 1, {prefix}), i, 3)) "
        "ELSE CAST([] AS VARCHAR[]) END AS c3 FROM b0), "
        "tp AS (SELECT doc_id, max(c) AS topc FROM "
        "(SELECT doc_id, gram, count(*) AS c FROM "
        "(SELECT doc_id, unnest(g2) AS gram FROM sc) GROUP BY 1, 2) "
        "GROUP BY 1), "
        "sg AS (SELECT sc.doc_id, digest, n_tokens, n_chars, "
        f"{script_expr} AS script, "
        "CASE WHEN n_tokens > 0 THEN "
        f"round({best_stop} / CAST(n_tokens AS DOUBLE), 6) "
        "ELSE 0.0 END AS stop_ratio, "
        "CASE WHEN len(g2) > 0 THEN "
        "round(coalesce(topc, 0) / CAST(len(g2) AS DOUBLE), 6) "
        "ELSE 0.0 END AS top2, "
        "CASE WHEN len(g3) > 0 THEN "
        "round((len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 6) "
        "ELSE 0.0 END AS dup3, "
        "CASE WHEN len(c3) > 0 THEN "
        "round((len(c3) - len(list_distinct(c3))) / CAST(len(c3) AS DOUBLE), 6) "
        "ELSE 0.0 END AS dup3c, "
        "min(sc.doc_id) OVER (PARTITION BY digest) AS rep_id "
        "FROM sc LEFT JOIN tp ON sc.doc_id = tp.doc_id), "
        "r AS MATERIALIZED (SELECT doc_id, script, n_tokens, n_chars, "
        "CASE WHEN script = 'none' THEN 'no_script' "
        f"WHEN script = 'latin' AND n_tokens < {min_tokens} "
        "THEN 'too_short' "
        f"WHEN script <> 'latin' AND n_chars < {min_chars} "
        "THEN 'too_short' "
        f"WHEN script = 'latin' AND (top2 > {top2_thr} "
        f"OR dup3 > {dup3_thr}) THEN 'repetitive' "
        f"WHEN script <> 'latin' AND dup3c > {char_dup3_thr} "
        "THEN 'repetitive' "
        f"WHEN script = 'latin' AND stop_ratio < {min_stop} "
        "THEN 'low_stopword' "
        "WHEN rep_id <> doc_id THEN 'duplicate' "
        "ELSE 'kept_pre' END AS reason FROM sg), "
        "surv AS MATERIALIZED (SELECT c.doc_id, c.text FROM corp c "
        "JOIN r ON r.doc_id = c.doc_id WHERE r.reason = 'kept_pre'), "
        f"{lsh}, "
        "vsz AS (SELECT did, count(*) AS sz FROM g GROUP BY did), "
        "vin AS (SELECT c.a, c.b, count(*) AS inter FROM cand c "
        "JOIN g ga ON ga.did = c.a "
        "JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok GROUP BY 1, 2), "
        "vv AS (SELECT i.a, i.b FROM vin i "
        "JOIN vsz sa ON i.a = sa.did JOIN vsz sb ON i.b = sb.did "
        "WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= 0.5), "
        "dupb AS (SELECT DISTINCT b FROM vv) "
        "SELECT doc_id, script, CAST(n_tokens AS INT) AS n_tokens, "
        "CAST(n_chars AS INT) AS n_chars, reason, "
        "reason = 'kept' AS kept FROM ("
        "SELECT r.doc_id, script, n_tokens, n_chars, "
        "CASE WHEN r.reason <> 'kept_pre' THEN r.reason "
        "WHEN r.doc_id IN (SELECT b FROM dupb) THEN 'near_duplicate' "
        "ELSE 'kept' END AS reason FROM r)"
    )


def _multilingual_tokens_oracle(merges: int = 64) -> str:
    """DuckDB twin of ``pipeline_multilingual_tokens``: wraps the full
    curation oracle to reconstruct the kept-survivor set, then replays
    the byte-level BPE trainer (the text_bpe_bytes chained-CTE merge
    program, w0 re-pointed at the survivors) and the per-document
    apply chain — identical piece chunking, hex symbols, greedy
    replace, and tie-breaks; one source of truth end to end."""
    from task_on_dataframes_spark.operators.bpe import BPE_PIECE_CHAR_CAP

    cap = BPE_PIECE_CHAR_CAP
    pipe = _multilingual_curation_oracle().strip()
    assert pipe.startswith("WITH ")
    parts = [
        pipe[len("WITH ") :].rsplit("SELECT doc_id, script,", 1)[0].rstrip()
        # the curation oracle ends in its final SELECT; everything
        # before it is the CTE body we extend (split on the unique
        # final-select prefix keeps the dupb CTE list intact)
        .rstrip(",")
        + ", keptd AS MATERIALIZED ("
        "SELECT r.doc_id, r.script, r.n_tokens, c.text FROM r "
        "JOIN corp c ON c.doc_id = r.doc_id "
        "WHERE r.reason = 'kept_pre' "
        "AND r.doc_id NOT IN (SELECT b FROM dupb))",
        _bpe_w0_bytes(source="keptd")[len("WITH ") :],
    ]
    merge_parts = _bpe_ctes(merges, w0="WITH __unused AS (SELECT 1)")[1:]
    parts.extend(merge_parts)
    parts.append(
        "r0 AS (SELECT doc_id, regexp_replace(hex(encode(w)), "
        "'(..)', '(\\1)', 'g') AS r FROM "
        f"(SELECT doc_id, substr(p.wx, s.s, {cap}) AS w FROM "
        "(SELECT doc_id, wx FROM (SELECT doc_id, "
        "unnest(string_split_regex(text, '\\s+')) AS wx FROM keptd) "
        "WHERE len(wx) > 0) p, "
        f"LATERAL unnest(generate_series(1, len(p.wx), {cap})) AS s(s)))"
    )
    for i in range(1, merges + 1):
        parts.append(
            f"r{i} AS (SELECT doc_id, replace(r, "
            "'(' || b.lhs || ')(' || b.rhs || ')', "
            f"'(' || b.merged || ')') AS r FROM r{i - 1}, b{i} b)"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + " SELECT k.doc_id, k.script, CAST(k.n_tokens AS INT) AS n_tokens, "
        "t.bpe_tokens FROM keptd k JOIN "
        "(SELECT doc_id, CAST(sum(len(regexp_extract_all(r, "
        f"'\\(([^)]*)\\)', 1))) AS BIGINT) AS bpe_tokens FROM r{merges} "
        "GROUP BY doc_id) t ON t.doc_id = k.doc_id"
    )


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


def _pca_project_oracle_sql() -> str:
    """Per-vector projection onto the top direction: DECIMAL-exact dot
    product so the 64-term sum is summation-order-free on both
    engines (products are bitwise-identical doubles)."""
    return _pca_oracle_sql() + (
        "SELECT e.vec_id, round(CAST(sum(CAST(e.x * d.loading "
        "AS DECIMAL(28,12))) AS DOUBLE), 6) AS proj "
        "FROM e JOIN d ON e.pos = d.pos GROUP BY 1"
    )


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


def _stream_ann_maintain_oracle() -> str:
    """Grown-index replay for the STREAMING vector maintain (mirrors
    registry.streaming._stream_ann_maintain): the base split
    (vec_id % 10 not in (0, 5)) elects the centroids and the phase-1
    member set; phase 2 adds wave 1 (% 20 = 5) under the frozen
    quantizer. Each wave's ARRIVING vectors are the queries — wave 1
    (% 20 = 5) scores against the base members only (it is probed
    before its own append), wave 2 (% 20 = 15) against base + wave 1.
    Top-10 per query by cosine within its 4 probed lists."""
    phase_block = (
        "qa{p} AS (SELECT q.query_id, q.vq, cent.cid, "
        "round(list_dot_product(q.vq, cent.cv) / "
        "(sqrt(list_dot_product(q.vq, q.vq)) * "
        "sqrt(list_dot_product(cent.cv, cent.cv))), 5) AS qsim "
        "FROM q{p} q, cent), "
        "probes{p} AS (SELECT query_id, vq, cid FROM ("
        "SELECT query_id, vq, cid, row_number() OVER "
        "(PARTITION BY query_id ORDER BY qsim DESC, cid ASC) AS pr "
        "FROM qa{p}) WHERE pr <= 4), "
        "s{p} AS (SELECT pr.query_id, m.vec_id, "
        "round(list_dot_product(pr.vq, m.v) / "
        "(sqrt(list_dot_product(pr.vq, pr.vq)) * "
        "sqrt(list_dot_product(m.v, m.v))), 5) AS cos "
        "FROM member{p} m JOIN probes{p} pr ON m.cid = pr.cid "
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
        "SELECT vec_id, v FROM call WHERE vec_id % 20 = 5), "
        + member.format(p=1, src="c") + ", "
        + member.format(p=2, src="grown") + ", "
        "q1 AS (SELECT vec_id AS query_id, v AS vq FROM call "
        "WHERE vec_id % 20 = 5), "
        "q2 AS (SELECT vec_id AS query_id, v AS vq FROM call "
        "WHERE vec_id % 20 = 15), "
        + phase_block.format(p=1) + ", "
        + phase_block.format(p=2)
        + " SELECT CAST(1 AS INTEGER) AS phase, query_id, vec_id, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r1 WHERE rank <= 10 "
        "UNION ALL "
        "SELECT CAST(2 AS INTEGER) AS phase, query_id, vec_id, cos, "
        "CAST(rank AS INTEGER) AS rank FROM r2 WHERE rank <= 10"
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


def oracle_sql() -> dict[str, str]:
    from task_on_dataframes_spark.operators.hashing import hash32_sql

    top90 = (
        _TOKEN_CTE
        + 'SELECT c.tok AS top90_token FROM clean c JOIN top ON c.tok = top.tok'
    )
    from task_on_dataframes_spark.operators.hashing import perm_hash_sql
    from task_on_dataframes_spark.operators.probe import (
        linear_probe_oracle_sql,
    )

    _cms_h = hash32_sql("tok")
    _cms_buckets = " UNION ALL ".join(
        f"SELECT tok, {r} AS r, {perm_hash_sql(_cms_h, r)} % 1024 AS bk"
        " FROM toks"
        for r in range(3)
    )
    from task_on_dataframes_spark.operators.probe import (
        grouped_probe_oracle_sql,
        probe_apply_oracle_sql,
    )

    _cms_ev_h = hash32_sql("tok")
    _cms_ev_buckets = " UNION ALL ".join(
        f"SELECT {r} AS r, {perm_hash_sql(_cms_ev_h, r)} % 1024 AS bk"
        " FROM items"
        for r in range(3)
    )
    sql = {
        "quality_linear_probe": linear_probe_oracle_sql(iters=4),
        "quality_probe_by_lang": grouped_probe_oracle_sql("lang", iters=4),
        "quality_probe_apply": probe_apply_oracle_sql(iters=4),
        "dedup_substring_rewrite": (
            "WITH base AS (SELECT doc_id AS did, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "t -> len(t) > 0) AS arr FROM documents), "
            "tok AS (SELECT did, len(arr) AS n_tokens, "
            "unnest(arr) AS tok, "
            "unnest(generate_series(1, len(arr))) AS pos "
            "FROM base WHERE len(arr) >= 5), "
            "gr AS (SELECT did, n_tokens, pos, "
            "tok || ' ' || lead(tok, 1) OVER w || ' ' || "
            "lead(tok, 2) OVER w || ' ' || lead(tok, 3) OVER w || ' ' || "
            "lead(tok, 4) OVER w AS dg FROM tok "
            "WINDOW w AS (PARTITION BY did ORDER BY pos) "
            "QUALIFY pos <= n_tokens - 4), "
            "st AS (SELECT dg, count(*) AS occ, "
            "min(did * 100000000 + pos) AS first_key FROM gr GROUP BY dg), "
            "rem AS (SELECT g.did, g.n_tokens, g.pos FROM gr g "
            "JOIN st USING (dg) WHERE occ >= 2 "
            "AND g.did * 100000000 + g.pos <> first_key), "
            "dropped AS (SELECT DISTINCT did, "
            "unnest(generate_series(pos, pos + 4)) AS tpos FROM rem), "
            "aff AS (SELECT did, count(*) AS n_removed FROM dropped "
            "GROUP BY did), "
            "kept AS (SELECT t.did, t.pos, t.tok FROM "
            "(SELECT tok.did, tok.pos, tok.tok FROM tok "
            "JOIN aff USING (did)) t "
            "ANTI JOIN dropped d ON t.did = d.did AND t.pos = d.tpos), "
            "reb AS (SELECT did, string_agg(tok, ' ' ORDER BY pos) "
            "AS text_clean FROM kept GROUP BY did), "
            "nt AS (SELECT did, any_value(n_tokens) AS n_tokens "
            "FROM tok GROUP BY did) "
            "SELECT a.did AS doc_id, nt.n_tokens, a.n_removed, "
            "coalesce(r.text_clean, '') AS text_clean "
            "FROM aff a JOIN nt USING (did) LEFT JOIN reb r USING (did)"
        ),
        "dedup_star_recall_eval": _star_recall_oracle(),
        "dedup_recall_eval": (
            _lsh_cand_ctes()
            + """,
eg AS (SELECT did, tok FROM g WHERE did % 3 = 0),
rare AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM eg
         GROUP BY tok) WHERE df <= 50),
fg AS (SELECT eg.did, eg.tok FROM eg JOIN rare ON eg.tok = rare.tok),
shared AS (SELECT DISTINCT x.did AS a, y.did AS b
           FROM fg x JOIN fg y ON x.tok = y.tok WHERE x.did < y.did),
sz AS (SELECT did, count(*) AS sz FROM eg GROUP BY did),
inter AS (SELECT s.a, s.b, count(*) AS inter FROM shared s
          JOIN eg ga ON ga.did = s.a
          JOIN eg gb ON gb.did = s.b AND gb.tok = ga.tok
          GROUP BY s.a, s.b),
exact AS (SELECT i.a, i.b FROM inter i
          JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
          WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 6) >= 0.5),
scand AS (SELECT a, b FROM cand WHERE a % 3 = 0 AND b % 3 = 0),
ne AS (SELECT count(*) AS n_exact FROM exact),
nc AS (SELECT count(*) AS n_candidates FROM scand),
nh AS (SELECT count(*) AS n_hit FROM exact e
       WHERE EXISTS (SELECT 1 FROM scand c
                     WHERE c.a = e.a AND c.b = e.b))
SELECT n_exact, n_candidates, n_hit,
       CASE WHEN n_exact > 0
            THEN round(n_hit / CAST(n_exact AS DOUBLE), 6) END AS recall
FROM ne, nc, nh
"""
        ),
        "quality_domain_calibrate": (
            "WITH scored AS (SELECT doc_id, source, "
            "(CAST(len(list_filter(arr, t -> t IN ('the', 'a', 'of',"
            " 'and', 'to', 'in', 'is', 'it'))) AS BIGINT) * 1000)"
            " // len(arr) AS bin "
            "FROM (SELECT doc_id, source, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "t -> len(t) > 0) AS arr FROM documents) WHERE len(arr) > 0), "
            "cdf AS (SELECT source, bin, count(*) AS c FROM scored "
            "GROUP BY source, bin), "
            "cdf2 AS (SELECT source, bin, "
            "CAST(sum(c) OVER (PARTITION BY source ORDER BY bin) - c "
            "AS BIGINT) AS below, "
            "CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n "
            "FROM cdf) "
            "SELECT s.doc_id, s.source, s.bin, "
            "round(below / CAST(n AS DOUBLE), 6) AS pctile "
            "FROM scored s JOIN cdf2 USING (source, bin)"
        ),
        "ev_cdc_apply": (
            "WITH latest AS (SELECT user_id, event_type, value, "
            "row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, event_id DESC) AS rn FROM events), "
            "c AS (SELECT user_id, count(*) AS n_ops FROM events "
            "GROUP BY user_id) "
            "SELECT l.user_id, l.event_type AS last_op, "
            "round(CAST(l.value AS DOUBLE), 6) AS last_value, c.n_ops "
            "FROM latest l JOIN c USING (user_id) "
            "WHERE rn = 1 AND event_type <> 'error'"
        ),
        "stream_cms": (
            "WITH items AS (SELECT CAST(user_id AS VARCHAR) AS tok "
            "FROM events), "
            f"b AS ({_cms_ev_buckets}) "
            "SELECT r, bk, count(*) AS c FROM b GROUP BY r, bk"
        ),
        "s18_bloom_join_prune": (
            "SELECT o_orderstatus, count(*) AS n, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) "
            "AS DOUBLE) AS total "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "WHERE c_nationkey = 3 GROUP BY o_orderstatus"
        ),
        "text_containment": (
            _lsh_cand_ctes()
            + """,
sz AS (SELECT did, count(*) AS sz FROM g GROUP BY did),
inter AS (SELECT c.a, c.b, count(*) AS inter FROM cand c
          JOIN g ga ON ga.did = c.a
          JOIN g gb ON gb.did = c.b AND gb.tok = ga.tok
          GROUP BY c.a, c.b)
SELECT i.a AS a, i.b AS b,
       round(i.inter / sa.sz, 6) AS cont_a,
       round(i.inter / sb.sz, 6) AS cont_b
FROM inter i JOIN sz sa ON i.a = sa.did JOIN sz sb ON i.b = sb.did
WHERE round(i.inter / sa.sz, 6) >= 0.6
   OR round(i.inter / sb.sz, 6) >= 0.6
"""
        ),
        "sketch_cms": (
            "WITH toks AS (SELECT t.tok FROM (SELECT "
            "unnest(string_split_regex(lower(text), '\\s+')) AS tok "
            "FROM documents) t WHERE length(t.tok) > 0), "
            f"b AS ({_cms_buckets}), "
            "counters AS (SELECT r, bk, count(*) AS c FROM b "
            "GROUP BY r, bk), "
            "exact AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok), "
            "top20 AS (SELECT tok, cnt FROM exact "
            "ORDER BY cnt DESC, tok LIMIT 20), "
            "probes AS (SELECT p.tok, p.cnt, b.r, b.bk FROM top20 p "
            "JOIN b ON b.tok = p.tok), "
            "est AS (SELECT p.tok, any_value(p.cnt) AS cnt, "
            "min(c.c) AS est FROM (SELECT DISTINCT tok, cnt, r, bk "
            "FROM probes) p JOIN counters c USING (r, bk) GROUP BY p.tok) "
            "SELECT tok, cnt, est, est - cnt AS overcount FROM est"
        ),
        "dedup_substring": (
            "WITH base AS (SELECT doc_id, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "t -> len(t) > 0) AS arr FROM documents), "
            "tok AS (SELECT doc_id, len(arr) AS n_tokens, "
            "unnest(arr) AS tok, "
            "unnest(generate_series(1, len(arr))) AS pos "
            "FROM base WHERE len(arr) >= 5), "
            "gr AS (SELECT doc_id, n_tokens, pos, "
            "tok || ' ' || lead(tok, 1) OVER w || ' ' || "
            "lead(tok, 2) OVER w || ' ' || lead(tok, 3) OVER w || ' ' || "
            "lead(tok, 4) OVER w AS dg FROM tok "
            "WINDOW w AS (PARTITION BY doc_id ORDER BY pos) "
            "QUALIFY pos <= n_tokens - 4), "
            "c AS (SELECT dg FROM gr GROUP BY dg HAVING count(*) >= 2), "
            "dup AS (SELECT g.doc_id, g.n_tokens, g.pos FROM gr g "
            "JOIN c USING (dg)), "
            "isl AS (SELECT doc_id, n_tokens, pos, pos - row_number() "
            "OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dup), "
            "sp AS (SELECT doc_id, any_value(n_tokens) AS n_tokens, "
            "min(pos) AS s, max(pos) AS e FROM isl GROUP BY doc_id, grp) "
            "SELECT doc_id, count(*) AS n_spans, "
            "CAST(sum(e - s + 5) AS BIGINT) AS dup_tokens, "
            "any_value(n_tokens) AS n_tokens, "
            "round(sum(e - s + 5) / CAST(any_value(n_tokens) AS DOUBLE), 5)"
            " AS dup_frac FROM sp GROUP BY doc_id"
        ),
        "s13_bucketed_join": (
            "SELECT o_orderstatus, count(*) AS n, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
            "), 2) AS DOUBLE) AS revenue "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            "GROUP BY o_orderstatus"
        ),
        "dq_rules": (
            "SELECT 'lineitem_nonpositive_qty' AS rule, "
            "count(*) FILTER (l_quantity IS NULL OR l_quantity <= 0) "
            "AS violations FROM lineitem "
            "UNION ALL SELECT 'lineitem_discount_range', "
            "count(*) FILTER (NOT l_discount BETWEEN 0 AND 1) FROM lineitem "
            "UNION ALL SELECT 'lineitem_negative_tax', "
            "count(*) FILTER (l_tax < 0) FROM lineitem "
            "UNION ALL SELECT 'lineitem_null_shipdate', "
            "count(*) FILTER (l_shipdate IS NULL) FROM lineitem "
            "UNION ALL SELECT 'orders_nonpositive_total', "
            "count(*) FILTER (o_totalprice <= 0) FROM orders "
            "UNION ALL SELECT 'orders_null_date', "
            "count(*) FILTER (o_orderdate IS NULL) FROM orders "
            "UNION ALL SELECT 'lineitem_orphan_orderkey', count(*) "
            "FROM lineitem l WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) "
            "UNION ALL SELECT 'orders_duplicate_pk', count(*) FROM "
            "(SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)"
        ),
        "ev_windowed_topk": (
            "WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type, "
            "count(*) AS n FROM events GROUP BY 1, 2), "
            "r AS (SELECT hour, event_type, n, row_number() OVER "
            "(PARTITION BY hour ORDER BY n DESC, event_type) AS rk FROM c) "
            "SELECT hour, event_type, n, CAST(rk AS INTEGER) AS rk "
            "FROM r WHERE rk <= 3"
        ),
        "text_entropy": (
            "WITH toks AS ("
            "SELECT doc_id, regexp_replace(t.tok, '^\\W+|\\W+$', '', 'g') "
            "AS tok FROM ("
            "SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) "
            "AS tok FROM documents) t), "
            "clean AS (SELECT doc_id, tok FROM toks WHERE length(tok) >= 2), "
            "c AS (SELECT doc_id, tok, count(*) AS c FROM clean "
            "GROUP BY 1, 2) "
            "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, "
            "count(*) AS n_types, "
            "round(log2(CAST(sum(c) AS DOUBLE)) - "
            "sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 4) AS entropy_bits, "
            "round(count(*) * 1.0 / sum(c), 5) AS ttr "
            "FROM c GROUP BY doc_id"
        ),
        "ann_pq_topk": _pq_oracle_sql(m=8, k=32, iters=2, dims=64, k_top=10),
        "ann_ivfpq_topk": _ivfpq_oracle_sql(
            m=8, k=32, iters=2, dims=64, k_top=10,
            n_centroids=16, n_probe=4,
        ),
        "stream_windowed_topk": (
            "WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type, "
            "count(*) AS n FROM events GROUP BY 1, 2), "
            "r AS (SELECT hour, event_type, n, row_number() OVER "
            "(PARTITION BY hour ORDER BY n DESC, event_type) AS rk FROM c) "
            "SELECT hour, event_type, n, CAST(rk AS INTEGER) AS rk "
            "FROM r WHERE rk <= 3"
        ),
        "ev_session_window_builtin": (
            "WITH o AS (SELECT user_id, ts, value, epoch_us(ts) AS us, "
            "lag(epoch_us(ts)) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS prev_us FROM events), "
            "f AS (SELECT user_id, ts, value, us, CASE WHEN prev_us IS NULL "
            "OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_s "
            "FROM o), "
            "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id "
            "ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f) "
            "SELECT user_id, min(ts) AS session_start, "
            "max(ts) + INTERVAL 30 MINUTE AS session_end, "
            "count(*) AS n_events, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS session_value FROM g GROUP BY user_id, sid"
        ),
        "s15_schema_merge": (
            "SELECT coalesce(CASE WHEN doc_id % 2 = 1 THEN lang END, "
            "'<pre-schema>') AS lang, count(*) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars "
            "FROM documents GROUP BY 1"
        ),
        "s14_compaction": (
            "SELECT l_returnflag, count(*) AS n, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
            "AS sum_qty FROM lineitem GROUP BY l_returnflag"
        ),
        "f_map_funcs": (
            "WITH per_flag AS (SELECT l_orderkey, l_returnflag, count(*) AS c "
            "FROM lineitem GROUP BY 1, 2) "
            "SELECT l_orderkey, "
            "CAST(count(*) AS INTEGER) AS n_flags, "
            "coalesce(CAST(sum(c) FILTER (l_returnflag = 'R') AS BIGINT), 0) "
            "AS r_lines, "
            "CAST(sum(c) AS BIGINT) AS total_lines "
            "FROM per_flag GROUP BY l_orderkey"
        ),
        "sketch_hll_bound": (
            "SELECT event_type, count(DISTINCT user_id) AS n_exact, "
            "true AS within_bound FROM events GROUP BY event_type"
        ),
        "sketch_quantile_bound": (
            "SELECT l_returnflag, count(*) AS n, true AS rank_ok "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "sketch_heavy_hitters": (
            "WITH toks AS (SELECT t.tok FROM ("
            "SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok "
            "FROM documents) t WHERE length(t.tok) > 0), "
            "exact AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok), "
            "tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM exact) "
            "SELECT e.tok, e.cnt, true AS found FROM exact e, tot "
            "WHERE e.cnt > tot.n_total / 64"
        ),
        "planner_top90_tokens": top90,
        "w2_top90_tokens": top90,
        "a1_value_counts": (
            "SELECT l_returnflag, count(*) AS cnt FROM lineitem "
            "GROUP BY l_returnflag ORDER BY cnt DESC, l_returnflag"
        ),
        "a2_scalar_sum": (
            "SELECT CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) "
            "AS DOUBLE) AS qty_sum FROM lineitem"
        ),
        "w1_running_sum": (
            "WITH c AS (SELECT l_returnflag, count(*) AS cnt FROM lineitem "
            "GROUP BY l_returnflag) "
            "SELECT l_returnflag, cnt, CAST(sum(cnt) OVER (ORDER BY cnt DESC, "
            "l_returnflag ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS BIGINT) AS running_cnt FROM c"
        ),
        "o2_pagination": (
            "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey "
            "LIMIT 50 OFFSET 100"
        ),
        "o3_topk_counts": (
            "SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey "
            "ORDER BY cnt DESC, l_suppkey ASC LIMIT 5"
        ),
        "p1_projection_reindex": (
            "SELECT l_orderkey, l_quantity, CAST(NULL AS VARCHAR) AS ghost_col "
            "FROM lineitem"
        ),
        "p3_filter_startswith": (
            "SELECT p_partkey, p_name, p_brand FROM part "
            "WHERE p_name LIKE 'small%'"
        ),
        "p5_null_safe_flag_filter": (
            "SELECT o_orderkey, o_orderpriority FROM orders o LEFT JOIN "
            "(SELECT DISTINCT o_orderpriority AS p, true AS istop FROM orders "
            "WHERE o_orderpriority LIKE '1%') f ON o.o_orderpriority = f.p "
            "WHERE coalesce(f.istop, false)"
        ),
        "p6_distinct_subset": (
            "SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem"
        ),
        "j3_left_join": (
            "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment FROM orders "
            "LEFT JOIN customer ON o_custkey = c_custkey"
        ),
        "j4_semi_join": (
            "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN "
            "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"
        ),
        "j5_anti_join": (
            "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN "
            "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"
        ),
        "q1_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) "
            "/ count(*), 4) AS avg_qty, "
            "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) "
            "/ count(*), 4) AS avg_price, "
            "round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) "
            "/ count(*), 4) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        ),
        "q3_shipping_priority": (
            "SELECT l_orderkey, o_orderdate, o_orderpriority, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "AND o_orderdate < TIMESTAMP '1998-03-15' "
            "AND l_shipdate > TIMESTAMP '1998-03-15' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
        ),
        "q5_region_volume": (
            "SELECT n_name, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
            "FROM customer, orders, lineitem, supplier, nation, region "
            "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
            "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
            "AND r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name"
        ),
        # SF_DIR-aware: the checker (and driver) compare at whatever
        # directory the SF_DIR env var points to; hardcoding sf0.01 here
        # would spuriously fail any other SF (ADVICE r1).
        "s1_glob_source": (
            f"SELECT file AS path FROM glob('{_oracle_sf_dir()}/*.parquet')"
        ),
        "s2_whole_file_read": (
            "SELECT filename AS path, size AS n_bytes "
            f"FROM read_blob('{_oracle_sf_dir()}/*.parquet')"
        ),
        "q6_forecast_revenue": (
            "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
        ),
        "q7_nation_volume": (
            "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
            "CAST(year(l_shipdate) AS INT) AS l_year, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem, orders, customer, supplier, nation n1, nation n2 "
            "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey "
            "AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey "
            "AND c_nationkey = n2.n_nationkey "
            "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
            "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
            "GROUP BY 1, 2, 3"
        ),
        "q8_market_share": (
            "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
            "round(CAST(sum(CASE WHEN n2.n_name = 'NATION_2' THEN "
            "CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) / "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6) "
            "AS mkt_share "
            "FROM lineitem, orders, customer, supplier, part, "
            "nation n1, nation n2, region "
            "WHERE l_partkey = p_partkey AND p_type = 'PROMO' "
            "AND l_orderkey = o_orderkey AND o_custkey = c_custkey "
            "AND l_suppkey = s_suppkey AND c_nationkey = n1.n_nationkey "
            "AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA' "
            "AND s_nationkey = n2.n_nationkey "
            "GROUP BY 1"
        ),
        "q10_returned_items": (
            "SELECT c_custkey, c_name, c_acctbal, n_name, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * "
            "(1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem, orders, customer, nation "
            "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey "
            "AND c_nationkey = n_nationkey AND l_returnflag = 'R' "
            "AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01' "
            "GROUP BY c_custkey, c_name, c_acctbal, n_name "
            "ORDER BY revenue DESC, c_custkey LIMIT 20"
        ),
        "q12_priority_lines": (
            "SELECT l_linestatus, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem, orders WHERE l_orderkey = o_orderkey "
            "AND l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "GROUP BY l_linestatus"
        ),
        "q14_promo_share": (
            "SELECT round(100.0 * "
            "CAST(sum(CASE WHEN p_type = 'PROMO' "
            "THEN CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2))) "
            "ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE) / "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4) "
            "AS promo_revenue_pct "
            "FROM lineitem, part WHERE l_partkey = p_partkey "
            "AND l_shipdate >= TIMESTAMP '1996-03-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01'"
        ),
        "q18_large_orders": (
            "WITH big AS (SELECT l_orderkey, "
            "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) "
            "AS sum_qty FROM lineitem GROUP BY l_orderkey "
            "HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) "
            "AS DOUBLE) > 150) "
            "SELECT c_custkey, c_name, o_orderkey, o_orderdate, "
            "round(o_totalprice, 2) AS o_totalprice, sum_qty "
            "FROM big, orders, customer "
            "WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey"
        ),
        "q2_min_cost_supplier": (
            "SELECT p_partkey, p_name, s_suppkey, s_name, price FROM ("
            "SELECT p_partkey, p_name, s_suppkey, s_name, "
            "round(l_extendedprice, 2) AS price, "
            "row_number() OVER (PARTITION BY p_partkey "
            "ORDER BY round(l_extendedprice, 2), s_suppkey) AS rn "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE p_type = 'LARGE' AND p_size < 10) WHERE rn = 1"
        ),
        "q4_order_priority": (
            "SELECT o_orderpriority, count(*) AS order_count FROM orders "
            "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-07-01' "
            "AND EXISTS (SELECT 1 FROM lineitem "
            "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        "q9_product_profit": (
            "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2))) - "
            "CAST(p_retailprice AS DECIMAL(12,2)) * "
            "CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS profit "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE p_name LIKE '%gear%' "
            "GROUP BY n_name, year(o_orderdate)"
        ),
        "q13_order_distribution": (
            "WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
            "GROUP BY c_custkey) "
            "SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count"
        ),
        "q15_top_supplier": (
            "WITH rev AS (SELECT l_suppkey, "
            "sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) "
            "SELECT s_suppkey, s_name, "
            "CAST(round(rev_dec, 2) AS DOUBLE) AS total_revenue "
            "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE rev_dec = (SELECT max(rev_dec) FROM rev)"
        ),
        "q16_supplier_counts": (
            "SELECT p_brand, p_type, p_size, "
            "count(DISTINCT l_suppkey) AS supplier_cnt "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%' "
            "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) "
            "GROUP BY p_brand, p_type, p_size"
        ),
        "q17_small_quantity_revenue": (
            "WITH branded AS (SELECT p_partkey, l_quantity, l_extendedprice "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand = 'Brand#15'), "
            "thresh AS (SELECT p_partkey, "
            "0.2 * CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) "
            "/ count(*) AS qty_cut FROM branded GROUP BY p_partkey) "
            "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) "
            "AS DOUBLE) / 7.0, 2) AS avg_yearly "
            "FROM branded JOIN thresh USING (p_partkey) "
            "WHERE l_quantity < qty_cut"
        ),
        "q19_disjunctive_filter": (
            "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
            "AND l_quantity BETWEEN 1 AND 11) "
            "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 "
            "AND l_quantity BETWEEN 10 AND 20) "
            "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 "
            "AND l_quantity BETWEEN 20 AND 30)"
        ),
        "q21_waiting_supplier": (
            "WITH lines AS (SELECT l_orderkey, l_suppkey, "
            "l_shipdate > o_orderdate + INTERVAL 60 DAY AS late "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
            "per_order AS (SELECT l_orderkey, "
            "count(DISTINCT l_suppkey) AS n_supp, "
            "count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp "
            "FROM lines GROUP BY l_orderkey) "
            "SELECT s_name, count(*) AS numwait "
            "FROM lines JOIN per_order USING (l_orderkey) "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE late AND n_supp > 1 AND n_late_supp = 1 "
            "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"
        ),
        "f1_explode_carry": (
            "SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) "
            "AS token FROM documents"
        ),
        "p8_unpivot": (
            "SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS value "
            "FROM part UNION ALL "
            "SELECT p_partkey, 'retailprice' AS attr, "
            "round(p_retailprice, 2) AS value FROM part"
        ),
        "f_date_funcs": (
            "SELECT l_orderkey, l_linenumber, "
            "CAST(date_diff('day', o_orderdate, l_shipdate) AS INT) "
            "AS ship_delay_days, "
            "CAST(year(o_orderdate) AS INT) AS o_year, "
            "CAST(month(o_orderdate) AS INT) AS o_month, "
            "CAST(day(o_orderdate) AS INT) AS o_day, "
            "o_orderdate + INTERVAL 30 DAY AS due_date, "
            "CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) "
            "AS month_end "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        ),
        "f_array_funcs": (
            "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) "
            "SELECT vec_id, CAST(len(e) AS INT) AS dim, "
            "round(e[1], 5) AS first, "
            "round(list_max(e), 5) AS vmax, "
            "round(list_min(e), 5) AS vmin, "
            "round(list_reduce(list_prepend(0.0, e[1:8]), (a, x) -> a + x), 5) "
            "AS head8_sum, "
            "round(list_reduce(list_prepend(0.0, "
            "list_transform(e, x -> x * x)), (a, x) -> a + x), 5) AS sq_norm "
            "FROM v"
        ),
        "f2_word_boundary_split": (
            # Java split-at-\b keeping word-leading pieces == the
            # maximal \w+ runs, which RE2 extracts directly
            "SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) "
            "AS piece FROM documents"
        ),
        "f_string_funcs": (
            "SELECT doc_id, upper(lang) AS lang_up, length(text) AS text_len, "
            "substring(source, 1, 3) AS src3, "
            "concat(lang, '-', source) AS tag, "
            "regexp_replace(text, '\\d', '', 'g') AS no_digits FROM documents"
        ),
        "f_json_extract": (
            "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k "
            "FROM events"
        ),
        "j10_interval_overlap_join": (
            "WITH ud AS (SELECT user_id, CAST(ts AS DATE) AS du, "
            "min(epoch_us(ts)) AS ulo, max(epoch_us(ts)) AS uhi "
            "FROM events GROUP BY 1, 2), "
            "td AS (SELECT event_type, CAST(ts AS DATE) AS dt, "
            "min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi "
            "FROM events GROUP BY 1, 2), "
            "p AS (SELECT DISTINCT ud.user_id, ud.du, td.event_type, td.dt "
            "FROM ud JOIN td ON ud.ulo <= td.thi AND td.tlo <= ud.uhi) "
            "SELECT event_type, count(*) AS n_pairs FROM p "
            "GROUP BY event_type"
        ),
        "quality_ks_drift": (
            "WITH b AS (SELECT doc_id % 2 = 0 AS is_a, "
            "least(99, len(string_split_regex(lower(text), '\\s+'))) AS bin "
            "FROM documents), "
            "c AS (SELECT bin, "
            "sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca, "
            "sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb "
            "FROM b GROUP BY bin), "
            "g AS (SELECT "
            "sum(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) "
            "/ CAST(sum(ca) OVER () AS DOUBLE) - "
            "sum(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) "
            "/ CAST(sum(cb) OVER () AS DOUBLE) AS gap, "
            "CAST(sum(ca) OVER () AS BIGINT) AS n_a, "
            "CAST(sum(cb) OVER () AS BIGINT) AS n_b FROM c) "
            "SELECT round(max(abs(gap)), 6) AS ks_stat, n_a, n_b "
            "FROM g GROUP BY n_a, n_b"
        ),
        # add-one-smoothed 10-bin PSI; per-bin ln terms round to 12
        # decimals before the final sum (text_bigram_lm discipline)
        "quality_psi_drift": (
            "WITH b AS (SELECT doc_id % 2 = 0 AS is_a, "
            "least(99, len(string_split_regex(lower(text), '\\s+'))) // 10 "
            "AS bin FROM documents), "
            "c AS (SELECT bin, "
            "sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca, "
            "sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb "
            "FROM b GROUP BY bin), "
            "f AS (SELECT gs.b AS bin, coalesce(ca, 0) AS ca, "
            "coalesce(cb, 0) AS cb FROM "
            "(SELECT unnest(generate_series(0, 9)) AS b) gs "
            "LEFT JOIN c ON c.bin = gs.b), "
            "g AS (SELECT round("
            "((ca + 1) / CAST(sum(ca) OVER () + 10 AS DOUBLE) "
            "- (cb + 1) / CAST(sum(cb) OVER () + 10 AS DOUBLE)) * ln("
            "((ca + 1) / CAST(sum(ca) OVER () + 10 AS DOUBLE)) "
            "/ ((cb + 1) / CAST(sum(cb) OVER () + 10 AS DOUBLE))), 12) "
            "AS term, "
            "CAST(sum(ca) OVER () AS BIGINT) AS n_a, "
            "CAST(sum(cb) OVER () AS BIGINT) AS n_b FROM f) "
            "SELECT round(sum(term), 6) AS psi, n_a, n_b "
            "FROM g GROUP BY n_a, n_b"
        ),
        # Gopher quality-table gate: every measure and flag replays from
        # the same token array the Spark scan computes; flags compare on
        # RAW integer/integer divisions (bit-identical IEEE), only the
        # emitted measures round
        "quality_gopher_gate": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '') AS toks, "
            "len(regexp_replace(text, '\\s', '', 'g')) AS nc "
            "FROM documents), "
            "g AS (SELECT doc_id, toks[gi.i] || ' ' || toks[gi.i + 1] "
            "AS gram FROM t, "
            "LATERAL unnest(generate_series(1, len(toks) - 1)) gi(i)), "
            "g2 AS (SELECT doc_id, count(*) AS n2, "
            "count(DISTINCT gram) AS nd FROM g GROUP BY 1), "
            "topc AS (SELECT doc_id, max(c) AS mc FROM ("
            "SELECT doc_id, tok, count(*) AS c FROM ("
            "SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2) "
            "GROUP BY 1), "
            "base AS (SELECT doc_id, len(toks) AS n, nc, "
            "len(list_intersect(list_distinct(toks), "
            "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'])) "
            "AS stop_hits, "
            "len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) "
            "AS na FROM t), "
            "j AS (SELECT b.doc_id, n, nc, stop_hits, na, mc, "
            "CASE WHEN coalesce(n2, 0) > 0 "
            "THEN (n2 - nd) / CAST(n2 AS DOUBLE) ELSE 0.0 END AS dup2 "
            "FROM base b LEFT JOIN g2 USING (doc_id) "
            "LEFT JOIN topc USING (doc_id)) "
            "SELECT doc_id, CAST(n AS INT) AS n_words, "
            "CASE WHEN n > 0 THEN round(nc / CAST(n AS DOUBLE), 6) END "
            "AS mean_word_len, "
            "CASE WHEN n > 0 THEN round(na / CAST(n AS DOUBLE), 6) END "
            "AS alpha_word_frac, "
            "CAST(stop_hits AS INT) AS stop_hits, "
            "CASE WHEN n > 0 THEN round(mc / CAST(n AS DOUBLE), 6) END "
            "AS top_token_frac, "
            "round(dup2, 6) AS dup_2gram_frac, "
            # word-free docs: Spark emits NULL measures -> coalesce
            # false. 0/0.0 is NULL on DuckDB 1.0 but NaN (> everything)
            # under >= 1.1's ieee_floating_point_ops default, so the
            # flag divisions are gated on n > 0 explicitly instead of
            # relying on NULL propagation through the division
            "n >= 50 AND n <= 100000 AS flag_words, "
            "CASE WHEN n > 0 THEN nc / CAST(n AS DOUBLE) >= 3.0 AND "
            "nc / CAST(n AS DOUBLE) <= 10.0 ELSE false END AS flag_word_len, "
            "CASE WHEN n > 0 THEN na / CAST(n AS DOUBLE) >= 0.80 "
            "ELSE false END AS flag_alpha, "
            "stop_hits >= 2 AS flag_stopwords, "
            "CASE WHEN n > 0 THEN mc / CAST(n AS DOUBLE) <= 0.10 "
            "ELSE false END AS flag_top_token, "
            "dup2 <= 0.05 AS flag_dup_2gram, "
            "(n >= 50 AND n <= 100000) AND "
            "CASE WHEN n > 0 THEN nc / CAST(n AS DOUBLE) >= 3.0 AND "
            "nc / CAST(n AS DOUBLE) <= 10.0 ELSE false END AND "
            "CASE WHEN n > 0 THEN na / CAST(n AS DOUBLE) >= 0.80 "
            "ELSE false END "
            "AND stop_hits >= 2 AND "
            "CASE WHEN n > 0 THEN mc / CAST(n AS DOUBLE) <= 0.10 "
            "ELSE false END AND "
            "dup2 <= 0.05 AS gopher_pass FROM j"
        ),
        "sql_pipe_syntax": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) "
            "AS DOUBLE) AS sum_qty, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) "
            "AS DOUBLE) AS sum_price "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "f_variant_json": (
            "WITH x AS (SELECT event_type, "
            "CAST(json_extract(props, '$.k') AS INT) AS k FROM events) "
            "SELECT event_type, count(*) AS n, "
            "CAST(sum(CAST(k AS BIGINT)) AS BIGINT) AS sum_k, "
            "CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_even, max(k) AS max_k, min(k) AS min_k FROM x "
            "GROUP BY event_type"
        ),
        # open/close replay via ordered first/last on the unique
        # (ts, event_id) prefix — mirrors Spark's struct-min/max
        "ev_ohlc_bars": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, "
            "first(value ORDER BY ts, event_id) AS open, "
            "max(value) AS high, min(value) AS low, "
            "last(value ORDER BY ts, event_id) AS close, "
            "count(*) AS n, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS sum_value FROM events "
            "GROUP BY date_trunc('hour', ts), event_type"
        ),
        "ev_hourly_agg": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS sum_value FROM events "
            "GROUP BY date_trunc('hour', ts), event_type"
        ),
        "dedup_exact": (
            "SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
            "AS text_digest, min(doc_id) AS rep_id, count(*) AS n_dups "
            "FROM documents GROUP BY 1"
        ),
        "dedup_minhash_lsh": _minhash_oracle(16, 4, 0.5),
        "dedup_minhash_char": _minhash_oracle(
            _CHAR_LSH_NUM_PERM, _CHAR_LSH_BANDS, 0.5, _lsh_g_char(), star=True
        ),
        "dedup_incremental_lsh": _incr_lsh_oracle(16, 4, 0.5),
        "dedup_index_build": _lsh_index_build_oracle(16, 4),
        "dedup_index_compact": _lsh_index_compact_oracle(16, 4, 0.5),
        "dedup_index_maintain": _lsh_index_maintain_oracle(16, 4, 0.5),
        "dedup_index_probe": _lsh_index_probe_oracle(16, 4, 0.5),
        "dedup_ngram_jaccard": _ngram_jaccard_oracle(3, 0.5, 50),
        "dedup_simhash": _simhash_oracle(32, 3),
        "dedup_components": (
            "WITH RECURSIVE pairs AS ({pairs_sql}), "
            "sym AS (SELECT a AS u, b AS v FROM pairs "
            "UNION SELECT b AS u, a AS v FROM pairs), "
            "walk(node, label) AS ("
            "SELECT DISTINCT u, u FROM sym "
            "UNION "
            "SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node) "
            "SELECT node AS member, min(label) AS rep FROM walk GROUP BY node"
        ).format(pairs_sql=_simhash_oracle(bits=_SIMHASH_GRAPH_BITS, max_hamming=3)),
        "dedup_embedding_cosine": (
            "WITH sl AS (SELECT * FROM embeddings WHERE vec_id < 2000) "
            "SELECT * FROM ("
            "SELECT a.vec_id AS a, b.vec_id AS b, "
            "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
            "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 5) AS cos "
            "FROM sl a JOIN sl b ON a.vec_id < b.vec_id"
            ") WHERE cos >= 0.4"
        ),
        "dedup_embedding_lsh": (
            "WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, "
            + _hyperplane_bucket_sql("(embedding::DOUBLE[])", 64, 6)
            + " AS bucket FROM embeddings) "
            "SELECT * FROM ("
            "SELECT a.id AS a, b.id AS b, "
            "round(list_dot_product(a.v, b.v) / "
            "(sqrt(list_dot_product(a.v, a.v)) * "
            "sqrt(list_dot_product(b.v, b.v))), 5) AS cos "
            "FROM v a JOIN v b ON a.bucket = b.bucket AND a.id < b.id"
            ") WHERE cos >= 0.4"
        ),
        "ann_cosine_topk": (
            "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v "
            "FROM embeddings WHERE vec_id < 10), "
            f"s AS (SELECT q.query_id, c.vec_id, {_COS} AS cos "
            "FROM c, q WHERE q.query_id != c.vec_id), "
            "r AS (SELECT query_id, vec_id, cos, row_number() OVER "
            "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank FROM s) "
            "SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank "
            "FROM r WHERE rank <= 10"
        ),
        "ann_lsh_topk": (
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
        ),
        # stage-1 int8 dot is exact in double (values <= 127, 64 dims
        # -> sums < 2^53); the scale product mirrors Spark's multiply
        # order, so shortlist membership and ranks replay exactly
        "ann_sq_rerank": (
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
        ),
        "ann_ivf_topk": _ivf_oracle(),
        "ann_ivfsq_topk": _ivfsq_oracle(),
        "ann_ivf_incremental": _ivf_incr_oracle(),
        "ann_index_build": _ivf_index_build_oracle(),
        "ann_index_compact": _ivf_index_compact_oracle(),
        "ann_index_maintain": _ivf_index_maintain_oracle(),
        "ann_index_probe": _ivf_index_probe_oracle(),
        "ann_filtered_topk": _ivf_oracle(" WHERE label % 4 = 0"),
        # the recursive-CTE query ships ONE SQL text for both engines
        "sql_recursive_reach": RECURSIVE_REACH_SQL,
        "export_training_shards": (
            "WITH a AS (SELECT doc_id, text, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "t -> len(t) > 0) AS arr FROM documents), "
            "g AS (SELECT doc_id, text, len(arr) AS n_tokens FROM a "
            "WHERE len(arr) >= 20), "
            "reps AS (SELECT min(doc_id) AS doc_id FROM ("
            "SELECT doc_id, md5(trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g'))) AS dg FROM g) GROUP BY dg), "
            "k AS (SELECT g.doc_id, g.n_tokens FROM g "
            "JOIN reps USING (doc_id)) "
            "SELECT CAST(('0x' || substr(md5('export:' || "
            "CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard, "
            "count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) "
            "AS total_tokens FROM k GROUP BY shard"
        ),
        "ev_anomaly_mad": (
            "WITH med AS (SELECT event_type, "
            "quantile_cont(value, 0.5) AS med, count(*) AS n "
            "FROM events GROUP BY event_type), "
            "mad AS (SELECT e.event_type, "
            "quantile_cont(abs(e.value - m.med), 0.5) AS mad "
            "FROM events e JOIN med m USING (event_type) "
            "GROUP BY e.event_type) "
            "SELECT e.event_type, any_value(m.n) AS n, "
            "round(any_value(m.med), 6) AS med, "
            "round(any_value(d.mad), 6) AS mad, "
            "CAST(sum(CASE WHEN round(abs(e.value - m.med), 6) > "
            "round(3 * d.mad, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_anom "
            "FROM events e JOIN med m USING (event_type) "
            "JOIN mad d USING (event_type) GROUP BY e.event_type"
        ),
        "emb_matryoshka_eval": (
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
        ),
        "s19_dynamic_partition_overwrite": (
            "WITH ev AS (SELECT date_trunc('day', ts) AS day, event_type "
            "FROM events), "
            "t AS (SELECT min(day) AS d FROM ev), "
            "f AS (SELECT day, event_type FROM ev, t "
            "WHERE day <> d OR event_type <> 'error') "
            "SELECT day, count(*) AS n, "
            "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_errors FROM f GROUP BY day"
        ),
        "a11_histogram": (
            "WITH rng AS (SELECT min(l_extendedprice) AS lo, "
            "max(l_extendedprice) AS hi FROM lineitem) "
            "SELECT l_returnflag, "
            "CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 10)),"
            " 9) AS INT) AS bin, count(*) AS n "
            "FROM lineitem, rng GROUP BY l_returnflag, bin"
        ),
        "planner_pack": (
            "WITH q AS (SELECT text, round(least("
            "len(string_split_regex(lower(text), '\\s+')) / 100.0, 1.0),"
            " 6) AS qs FROM documents), "
            "k AS (SELECT text FROM q WHERE qs >= 0.2), "
            "t AS (SELECT string_split_regex(text, '\\s+') AS ts FROM k), "
            "ch AS (SELECT array_to_string("
            "ts[i.i * 64 + 1 : i.i * 64 + 64], ' ') AS chunk "
            "FROM t, LATERAL unnest(generate_series(0, "
            "CAST(ceil(len(ts) / 64.0) AS INT) - 1)) AS i(i)), "
            "cn AS (SELECT chunk, md5(chunk) AS ord_key, "
            "len(string_split_regex(chunk, '\\s+')) AS nt FROM ch), "
            "cum AS (SELECT nt, sum(nt) OVER (ORDER BY ord_key "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt "
            "AS start FROM cn) "
            "SELECT CAST(floor(start / 512.0) AS BIGINT) AS pack_id, "
            "count(*) AS n_chunks, CAST(sum(nt) AS BIGINT) AS pack_tokens "
            "FROM cum GROUP BY pack_id"
        ),
        "text_token_stats": (
            "SELECT doc_id, "
            "len(string_split_regex(lower(text), '\\s+')) AS n_tokens, "
            "len(list_distinct(string_split_regex(lower(text), '\\s+'))) "
            "AS n_distinct_tokens, "
            "length(text) AS n_chars, "
            "round((length(text) - len(string_split_regex(lower(text), '\\s+')) + 1) "
            "/ len(string_split_regex(lower(text), '\\s+')), 4) AS mean_token_len "
            "FROM documents"
        ),
        "text_quality": (
            "WITH b AS (SELECT doc_id, text, "
            "string_split_regex(lower(text), '\\s+') AS ts FROM documents) "
            "SELECT doc_id, len(ts) AS n_tokens, "
            f"round(len(list_filter(ts, t -> list_contains({_stop_arr('en')}, t))) "
            "/ len(ts), 6) AS stopword_ratio, "
            "CASE WHEN length(text) > 0 THEN "
            "round(length(regexp_replace(text, '[\\w\\s]', '', 'g')) / length(text), 6) "
            "END AS punct_ratio, "
            "round(least(len(ts) / 100.0, 1.0), 6) AS length_score FROM b"
        ),
        "text_langid_script": "WITH s AS (SELECT doc_id, length(regexp_replace(substr(text, 1, 512), '[^A-Za-z]', '', 'g')) AS n_latin, length(regexp_replace(substr(text, 1, 512), '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS n_cjk, length(regexp_replace(substr(text, 1, 512), '[^\\x{0600}-\\x{06ff}]', '', 'g')) AS n_arabic, length(regexp_replace(substr(text, 1, 512), '[^\\x{0400}-\\x{04ff}]', '', 'g')) AS n_cyrillic, length(regexp_replace(substr(text, 1, 512), '[^\\x{0370}-\\x{03ff}]', '', 'g')) AS n_greek, length(regexp_replace(substr(text, 1, 512), '[^\\x{0900}-\\x{097f}]', '', 'g')) AS n_devanagari, length(regexp_replace(substr(text, 1, 512), '[^\\x{ac00}-\\x{d7af}]', '', 'g')) AS n_hangul, length(regexp_replace(substr(text, 1, 512), '[^\\x{3040}-\\x{30ff}]', '', 'g')) AS n_kana FROM documents) SELECT doc_id, n_latin, n_cjk, n_arabic, n_cyrillic, n_greek, n_devanagari, n_hangul, n_kana, CASE WHEN greatest(n_latin, n_cjk, n_arabic, n_cyrillic, n_greek, n_devanagari, n_hangul, n_kana) > 0 THEN CASE WHEN n_latin >= n_cjk AND n_latin >= n_arabic AND n_latin >= n_cyrillic AND n_latin >= n_greek AND n_latin >= n_devanagari AND n_latin >= n_hangul AND n_latin >= n_kana THEN 'latin' WHEN n_cjk >= n_arabic AND n_cjk >= n_cyrillic AND n_cjk >= n_greek AND n_cjk >= n_devanagari AND n_cjk >= n_hangul AND n_cjk >= n_kana THEN 'cjk' WHEN n_arabic >= n_cyrillic AND n_arabic >= n_greek AND n_arabic >= n_devanagari AND n_arabic >= n_hangul AND n_arabic >= n_kana THEN 'arabic' WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_devanagari AND n_cyrillic >= n_hangul AND n_cyrillic >= n_kana THEN 'cyrillic' WHEN n_greek >= n_devanagari AND n_greek >= n_hangul AND n_greek >= n_kana THEN 'greek' WHEN n_devanagari >= n_hangul AND n_devanagari >= n_kana THEN 'devanagari' WHEN n_hangul >= n_kana THEN 'hangul' WHEN true THEN 'kana' END ELSE 'none' END AS script FROM s",
        "text_langid": (
            "WITH b AS (SELECT doc_id, "
            "string_split_regex(lower(text), '\\s+') AS ts FROM documents), "
            "s AS (SELECT doc_id, "
            + ", ".join(
                f"len(list_filter(ts, t -> list_contains({_stop_arr(lang)}, t))) "
                f"AS score_{lang}"
                for lang in ["en", "de", "fr", "es"]
            )
            + " FROM b) "
            "SELECT doc_id, score_en, score_de, score_fr, score_es, "
            "CASE WHEN score_en >= score_de AND score_en >= score_fr "
            "AND score_en >= score_es THEN 'en' "
            "WHEN score_de >= score_fr AND score_de >= score_es THEN 'de' "
            "WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS pred_lang FROM s"
        ),
        "text_langid_confusion": (
            "WITH b AS (SELECT lang, "
            "string_split_regex(lower(text), '\\s+') AS ts FROM documents), "
            "s AS (SELECT lang, "
            + ", ".join(
                f"len(list_filter(ts, t -> list_contains({_stop_arr(lang)}, t))) "
                f"AS score_{lang}"
                for lang in ["en", "de", "fr", "es"]
            )
            + " FROM b), "
            "p AS (SELECT lang, "
            "CASE WHEN score_en >= score_de AND score_en >= score_fr "
            "AND score_en >= score_es THEN 'en' "
            "WHEN score_de >= score_fr AND score_de >= score_es THEN 'de' "
            "WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END "
            "AS pred_lang FROM s), "
            "g AS (SELECT lang, pred_lang, count(*) AS n_docs "
            "FROM p GROUP BY 1, 2) "
            "SELECT lang, pred_lang, n_docs, "
            "round(n_docs / sum(n_docs) OVER (PARTITION BY lang), 6) "
            "AS share FROM g"
        ),
        "text_token_count": (
            "SELECT doc_id, "
            "len(string_split_regex(text, '\\s+')) AS n_ws_tokens, "
            "len(list_filter(regexp_extract_all(text, "
            "'''[a-z]{1,2}| ?[a-zA-Z]+| ?[0-9]{1,3}| ?[^a-zA-Z0-9\\s]+|\\s+'), "
            "p -> regexp_matches(p, '\\S'))) AS n_bpe_pieces, "
            "CASE WHEN len(list_filter(regexp_extract_all(text, "
            "'''[a-z]{1,2}| ?[a-zA-Z]+| ?[0-9]{1,3}| ?[^a-zA-Z0-9\\s]+|\\s+'), "
            "p -> regexp_matches(p, '\\S'))) > 0 THEN "
            "round(length(text) / len(list_filter(regexp_extract_all(text, "
            "'''[a-z]{1,2}| ?[a-zA-Z]+| ?[0-9]{1,3}| ?[^a-zA-Z0-9\\s]+|\\s+'), "
            "p -> regexp_matches(p, '\\S'))), 4) END AS chars_per_piece "
            "FROM documents"
        ),
        "text_fingerprint": (
            "WITH nrm AS (SELECT doc_id, "
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm "
            "FROM documents), "
            "g AS (SELECT doc_id, norm, substr(norm, i.i, 8) AS gram FROM nrm, "
            "LATERAL unnest(generate_series(1, greatest(length(norm) - 7, 1))) "
            "AS i(i)) "
            "SELECT doc_id, min(md5(norm)) AS digest, "
            "min(CAST(('0x' || substr(md5(CAST(gram AS VARCHAR)), 1, 8)) AS BIGINT)) "
            "AS min_shingle_hash FROM g GROUP BY doc_id"
        ),
        "mm_decode_meta": (
            "SELECT doc_id AS media_id, 'text/plain' AS media_type, "
            "octet_length(encode(text)) AS n_bytes, "
            "CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS width, "
            "CAST(octet_length(encode(text)) % 48 + 1 AS INTEGER) AS height, "
            "CAST(octet_length(encode(text)) % 10 + 1 AS INTEGER) AS n_frames "
            "FROM documents"
        ),
        "mm_frame_sample": (
            "WITH m AS (SELECT doc_id AS media_id, "
            "octet_length(encode(text)) % 10 + 1 AS n_frames FROM documents) "
            "SELECT media_id, CAST(f.f AS INTEGER) AS frame_idx FROM m, "
            "LATERAL unnest(generate_series(0, n_frames - 1)) AS f(f)"
        ),
        # PNG synthesis is an analytic RGB gradient: pixel(y, x, c) =
        # (doc_id + 3x + 5y + 7c) % 256 with w = 8 + doc_id % 9 and
        # h = 6 + doc_id % 7; the Spark side sums pixels it ACTUALLY
        # inflated + unfiltered through the pure-stdlib codec, while the
        # oracle re-derives the same sum from the synthesis rule — any
        # codec byte error flips the hash
        "mm_png_decode": (
            "WITH d AS (SELECT doc_id AS media_id, "
            "8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h FROM documents), "
            "px AS (SELECT media_id, w, h, "
            "sum((media_id + 3 * gx.x + 5 * gy.y + 7 * gc.c) % 256) AS s "
            "FROM d, "
            "LATERAL unnest(generate_series(0, w - 1)) AS gx(x), "
            "LATERAL unnest(generate_series(0, h - 1)) AS gy(y), "
            "LATERAL unnest(generate_series(0, 2)) AS gc(c) "
            "GROUP BY 1, 2, 3) "
            "SELECT media_id, CAST(w AS INTEGER) AS width, "
            "CAST(h AS INTEGER) AS height, CAST(3 AS INTEGER) AS channels, "
            "CAST(s AS BIGINT) AS px_sum, "
            "round(s / (w * h * 3.0), 5) AS px_mean FROM px"
        ),
        # WAV synthesis is an analytic interleaved PCM signal:
        # sample(i, c) = ((doc_id + 7i + 997c) % 4096) - 2048 with
        # n = 64 + doc_id % 65 frames and ch = 1 + doc_id % 2 channels;
        # the Spark side aggregates amplitudes it ACTUALLY parsed out of
        # the RIFF container, while the oracle re-derives the same sums
        # from the synthesis rule — any chunk-walker byte error flips
        # the hash
        "mm_wav_decode": (
            "WITH d AS (SELECT doc_id AS media_id, "
            "64 + doc_id % 65 AS n, 1 + doc_id % 2 AS ch, "
            "8000 + 1000 * (doc_id % 5) AS rate FROM documents), "
            "amp AS (SELECT media_id, n, ch, rate, "
            "sum(abs((media_id + 7 * gi.i + 997 * gc.c) % 4096 - 2048)) "
            "AS s, "
            "max(abs((media_id + 7 * gi.i + 997 * gc.c) % 4096 - 2048)) "
            "AS m "
            "FROM d, "
            "LATERAL unnest(generate_series(0, n - 1)) AS gi(i), "
            "LATERAL unnest(generate_series(0, ch - 1)) AS gc(c) "
            "GROUP BY 1, 2, 3, 4) "
            "SELECT media_id, CAST(rate AS INTEGER) AS sample_rate, "
            "CAST(ch AS INTEGER) AS channels, "
            "CAST(n AS INTEGER) AS n_samples, "
            "CAST(s AS BIGINT) AS amp_sum, CAST(m AS INTEGER) AS amp_max, "
            "round(s / (n * ch * 1.0), 5) AS amp_mean FROM amp"
        ),
        # channel-0 resample to 16 kHz replays analytically: the
        # offset signal u(i) = (media_id + 7i) % 4096 interpolates with
        # pure integer floor division, so every resampled sample (and
        # the positional checksum) is exact on both engines
        "mm_audio_resample": (
            "WITH d AS (SELECT doc_id AS media_id, 64 + doc_id % 65 AS n, "
            "8000 + 1000 * (doc_id % 5) AS rate FROM documents), "
            "o AS (SELECT media_id, n, rate, "
            "(n - 1) * 16000 // rate + 1 AS n_out FROM d), "
            "s AS (SELECT media_id, n, rate, n_out, gj.j AS j, "
            "gj.j * rate // 16000 AS idx, (gj.j * rate) % 16000 AS rem "
            "FROM o, LATERAL unnest(generate_series(0, n_out - 1)) gj(j)), "
            "w AS (SELECT media_id, rate, n, n_out, j, "
            "(((media_id + 7 * idx) % 4096) * (16000 - rem) + "
            "((media_id + 7 * least(idx + 1, n - 1)) % 4096) * rem) "
            "// 16000 - 2048 AS v FROM s) "
            "SELECT media_id, CAST(rate AS INT) AS src_rate, "
            "CAST(n AS INT) AS n_in, CAST(n_out AS INT) AS n_out, "
            "CAST(sum(abs(v)) AS BIGINT) AS amp_sum, "
            "CAST(max(abs(v)) AS INT) AS amp_max, "
            "CAST(sum(v * (j % 7 + 1)) AS BIGINT) AS pos_check "
            "FROM w GROUP BY 1, 2, 3, 4"
        ),
        # channel-0 frame features are integer-exact: v(k) at sample
        # index i = frame*16 + k is ((media_id + 7i) % 4096) - 2048 and
        # the in-frame predecessor is the same formula at i-1 (the k=0
        # row is excluded from the crossing count, matching the
        # within-frame strict sign-change definition on the Spark side)
        "mm_audio_features": (
            "WITH d AS (SELECT doc_id AS media_id, "
            "(64 + doc_id % 65) // 16 AS nf FROM documents), "
            "fr AS (SELECT media_id, gf.f AS frame_idx FROM d, "
            "LATERAL unnest(generate_series(0, nf - 1)) AS gf(f) "
            "WHERE nf > 0), "
            "s AS (SELECT media_id, frame_idx, gk.k AS k, "
            "(media_id + 7 * (frame_idx * 16 + gk.k)) % 4096 - 2048 AS v, "
            "(media_id + 7 * (frame_idx * 16 + gk.k) - 7) % 4096 - 2048 "
            "AS vp "
            "FROM fr, LATERAL unnest(generate_series(0, 15)) AS gk(k)) "
            "SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx, "
            "CAST(sum(v * v) AS BIGINT) AS energy, "
            "CAST(count(*) FILTER (WHERE k > 0 AND v * vp < 0) "
            "AS INTEGER) AS zero_crossings "
            "FROM s GROUP BY media_id, frame_idx"
        ),
        # raw-image synthesis is analytic in doc_id (solid color, header
        # dims) — the oracle replays the formulas the pixel kernels
        # actually computed over real arrays
        "mm_raw_decode": (
            "SELECT doc_id AS media_id, 'image/raw' AS media_type, "
            "CAST(10 + (8 + doc_id % 9) * (6 + doc_id % 7) * 3 AS BIGINT) "
            "AS n_bytes, "
            "CAST(8 + doc_id % 9 AS INTEGER) AS width, "
            "CAST(6 + doc_id % 7 AS INTEGER) AS height, "
            "CAST(1 AS INTEGER) AS n_frames FROM documents"
        ),
        # solid color -> bilinear resize preserves the color exactly ->
        # each RGB channel holds 1/3 of the 8-bucket histogram mass;
        # argmax = smallest bucket among colliding channel buckets
        "mm_raw_pipeline": (
            "WITH c AS (SELECT doc_id, "
            "(doc_id % 256) // 32 AS br, "
            "((7 * doc_id) % 256) // 32 AS bg, "
            "((13 * doc_id) % 256) // 32 AS bb FROM documents), "
            "k AS (SELECT doc_id, br, bg, bb, "
            "1 + CAST(bg = br AS INT) + CAST(bb = br AS INT) AS cr, "
            "CAST(br = bg AS INT) + 1 + CAST(bb = bg AS INT) AS cg, "
            "CAST(br = bb AS INT) + CAST(bg = bb AS INT) + 1 AS cb FROM c) "
            "SELECT doc_id AS media_id, "
            "CAST(least("
            "CASE WHEN cr = greatest(cr, cg, cb) THEN br ELSE 999 END, "
            "CASE WHEN cg = greatest(cr, cg, cb) THEN bg ELSE 999 END, "
            "CASE WHEN cb = greatest(cr, cg, cb) THEN bb ELSE 999 END) "
            "AS BIGINT) AS top_bucket, "
            "round(greatest(cr, cg, cb) / 3.0, 6) AS top_val FROM k"
        ),
        # per-bigram logp rounds to 12 on both sides before averaging so
        # IEEE summation order cannot flip the 6-decimal hash
        "text_bigram_lm": (
            "WITH t AS MATERIALIZED (SELECT doc_id, "
            "string_split_regex(lower(text), '\\s+') AS ts FROM documents), "
            "bg AS MATERIALIZED (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2 "
            "FROM t, LATERAL unnest(generate_series(1, len(ts) - 1)) "
            "AS u(i)), "
            "cb AS MATERIALIZED (SELECT w1, w2, count(*) AS c_bg FROM bg "
            "GROUP BY 1, 2), "
            "allw AS MATERIALIZED (SELECT unnest(ts) AS w1 FROM t), "
            "cu AS MATERIALIZED (SELECT w1, count(*) AS c_uni FROM allw "
            "GROUP BY 1), "
            "v AS (SELECT count(DISTINCT w1) AS v FROM allw) "
            "SELECT bg.doc_id, count(*) AS n_bigrams, "
            "round(avg(round(ln((cb.c_bg + 1) / (cu.c_uni + v.v)), 12)), 6) "
            "AS avg_logp "
            "FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) "
            "CROSS JOIN v GROUP BY bg.doc_id"
        ),
        "sample_negatives": (
            "WITH n AS (SELECT count(*) AS n FROM documents), "
            "c AS (SELECT doc_id, j, "
            "CAST(('0x' || substr(md5('neg:' || CAST(doc_id AS VARCHAR) "
            "|| ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % n.n AS raw, "
            "n.n AS nn FROM documents, n, "
            "LATERAL unnest([0, 1, 2]) AS t(j)) "
            "SELECT c.doc_id AS anchor_id, c.j AS neg_rank, "
            "CASE WHEN c.raw = c.doc_id THEN (c.raw + 1) % c.nn "
            "ELSE c.raw END AS neg_id, d.n_chars AS neg_chars "
            "FROM c JOIN documents d ON d.doc_id = "
            "(CASE WHEN c.raw = c.doc_id THEN (c.raw + 1) % c.nn "
            "ELSE c.raw END)"
        ),
        # oracle reads the ORIGINAL events parquet: equality proves the
        # sorted rewrite is lossless and the pruned scan is correct
        "s12_sorted_stats_prune": (
            "SELECT event_type, count(*) AS n, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS total_value FROM events "
            "WHERE user_id >= 100 AND user_id < 200 GROUP BY event_type"
        ),
        "ev_sessionize": (
            "WITH g AS (SELECT user_id, event_id, value, ts, "
            "CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "OR epoch_us(ts) - lag(epoch_us(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 "
            "THEN 1 ELSE 0 END AS new_sess FROM events), "
            "s AS (SELECT user_id, value, sum(new_sess) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq "
            "FROM g) "
            "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, "
            "count(*) AS n_events, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS session_value FROM s "
            "GROUP BY user_id, session_seq"
        ),
        "ev_sliding_agg": (
            # an event at t belongs to the 4 sliding windows starting at
            # floor(t/900)*900 - k*900, k in 0..3
            "SELECT CAST(to_timestamp(CAST(floor(epoch(e.ts) / 900) * 900 "
            "- k.k * 900 AS BIGINT)) AS TIMESTAMP) AS win_start, "
            "e.event_type, count(*) AS n, "
            "CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS sum_value "
            "FROM events e CROSS JOIN "
            "(SELECT unnest(generate_series(0, 3)) AS k) k "
            "GROUP BY 1, 2"
        ),
        "w4_moving_avg": (
            "SELECT event_id, event_type, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 4) "
            "AS DOUBLE) AS trailing_sum, "
            "count(*) OVER w AS n_window "
            "FROM events "
            "WINDOW w AS (PARTITION BY event_type "
            "ORDER BY CAST(floor(epoch(ts)) AS BIGINT) "
            "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"
        ),
        "j6_asof_join": (
            "WITH c AS (SELECT event_id, user_id, ts FROM events "
            "WHERE event_type = 'click'), "
            "p AS (SELECT event_id AS pid, user_id, ts, value FROM events "
            "WHERE event_type = 'purchase'), "
            "m AS (SELECT c.event_id, c.user_id, p.pid, p.value, "
            "row_number() OVER (PARTITION BY c.event_id "
            "ORDER BY p.ts DESC, p.pid DESC) AS rn "
            "FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts) "
            "SELECT event_id, user_id, pid AS prev_purchase_id, "
            "round(value, 4) AS prev_purchase_value FROM m WHERE rn = 1"
        ),
        "j7_range_join": (
            "SELECT b.label, count(*) AS n, "
            "CAST(round(sum(CAST(l.l_quantity AS DECIMAL(18,6))), 4) "
            "AS DOUBLE) AS sum_qty "
            "FROM lineitem l JOIN (VALUES (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'), "
            "(25.0, 40.0, 'high'), (40.0, 100.0, 'top')) AS b(lo, hi, label) "
            "ON l.l_quantity >= b.lo AND l.l_quantity < b.hi "
            "GROUP BY b.label"
        ),
        "w3_ranking": (
            "SELECT * FROM ("
            "SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, "
            "row_number() OVER w AS rn, rank() OVER w AS rnk, "
            "dense_rank() OVER w AS drnk, "
            "round(lag(o_totalprice) OVER w, 2) AS prev_price "
            "FROM orders "
            "WINDOW w AS (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey ASC)"
            ") WHERE rn <= 3"
        ),
        "set_ops": (
            "WITH urgent AS (SELECT DISTINCT o_custkey AS custkey FROM orders "
            "WHERE o_orderpriority = '1-URGENT'), "
            "high AS (SELECT DISTINCT o_custkey AS custkey FROM orders "
            "WHERE o_orderpriority = '2-HIGH') "
            "SELECT custkey, 'both' AS tag FROM "
            "(SELECT custkey FROM urgent INTERSECT SELECT custkey FROM high) "
            "UNION ALL "
            "SELECT custkey, 'urgent_only' AS tag FROM "
            "(SELECT custkey FROM urgent EXCEPT SELECT custkey FROM high) "
            "UNION ALL "
            "SELECT custkey, 'high_only' AS tag FROM "
            "(SELECT custkey FROM high EXCEPT SELECT custkey FROM urgent)"
        ),
        "a3_distinct_agg": (
            "SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, "
            "count(DISTINCT l_partkey) AS n_part, count(*) AS n "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "a4_rollup": (
            "SELECT coalesce(l_returnflag, 'ALL') AS flag, "
            "coalesce(l_linestatus, 'ALL') AS status, "
            "count(*) AS n, "
            "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS sum_qty "
            "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "a5_percentiles": (
            "SELECT l_returnflag, "
            "round(quantile_cont(l_extendedprice, 0.25), 4) AS p25, "
            "round(quantile_cont(l_extendedprice, 0.5), 4) AS p50, "
            "round(quantile_cont(l_extendedprice, 0.75), 4) AS p75 "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "a6_stats": (
            "SELECT l_returnflag, "
            "round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price, "
            "round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price, "
            "round(stddev_samp(l_quantity), 4) AS sd_qty "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "p7_pivot": (
            "SELECT l_returnflag, "
            "CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_f, "
            "CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_o "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "text_pack": (
            "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts "
            "FROM documents), "
            "c AS (SELECT doc_id, CAST(i.i AS INT) AS chunk_id, "
            "CAST(least(len(ts) - i.i * 64, 64) AS INT) AS n_tokens "
            "FROM t, LATERAL unnest(generate_series(0, "
            "CAST(ceil(len(ts) / 64.0) AS INT) - 1)) AS i(i)), "
            "s AS (SELECT *, sum(n_tokens) OVER (ORDER BY doc_id, chunk_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens "
            "AS start FROM c) "
            "SELECT CAST(floor(start / 2048) AS BIGINT) AS pack_id, "
            "count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens "
            "FROM s GROUP BY 1"
        ),
        "sample_split": (
            "WITH b AS (SELECT CAST(('0x' || substr(md5(CAST(('split:' || CAST(doc_id AS VARCHAR)) AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket FROM documents) "
            "SELECT CASE WHEN bucket < 900 THEN 'train' WHEN bucket < 950 THEN 'val' WHEN bucket < 1000 THEN 'test' ELSE 'holdout' END AS split, "
            "count(*) AS n FROM b GROUP BY 1"
        ),
        "decontaminate": (
            "WITH lab AS (SELECT doc_id, text, CAST(('0x' || substr(md5(CAST(('split:' || CAST(doc_id AS VARCHAR)) AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket FROM documents), "
            "t AS (SELECT doc_id AS did, string_split_regex(lower(text), '\\s+') AS ts "
            "FROM documents), "
            "g AS (SELECT DISTINCT did, "
            "ts[i.i] || ' ' || ts[i.i+1] || ' ' || ts[i.i+2] || ' ' || "
            "ts[i.i+3] || ' ' || ts[i.i+4] AS tok "
            "FROM t, LATERAL unnest(generate_series(1, len(ts) - 4)) AS i(i) "
            "WHERE len(ts) >= 5), "
            "test_ids AS (SELECT doc_id AS did FROM lab WHERE bucket >= 950), "
            "train_ids AS (SELECT doc_id AS did FROM lab WHERE bucket < 900), "
            "tg AS (SELECT DISTINCT g.tok FROM g JOIN test_ids USING (did)), "
            "cont AS (SELECT DISTINCT g.did FROM g "
            "JOIN train_ids USING (did) JOIN tg ON g.tok = tg.tok) "
            "SELECT CASE WHEN cont.did IS NOT NULL THEN 'contaminated' "
            "ELSE 'clean' END AS status, count(*) AS n "
            "FROM train_ids LEFT JOIN cont ON train_ids.did = cont.did "
            "GROUP BY 1"
        ),
        # the digest proves the full PSM string byte-for-byte
        "text_fim_transform": (
            "WITH x AS (SELECT doc_id, text, length(text) AS L, "
            "(doc_id * 37) % (length(text) + 1) AS h1, "
            "(doc_id * 61) % (length(text) + 1) AS h2 FROM documents), "
            "y AS (SELECT doc_id, text, L, "
            "least(h1, h2) AS a, greatest(h1, h2) AS b FROM x), "
            "z AS (SELECT doc_id, a, b, "
            "'<PRE>' || substr(text, 1, CAST(a AS INT)) || '<SUF>' || "
            "substr(text, CAST(b + 1 AS INT), CAST(L - b AS INT)) || "
            "'<MID>' || "
            "substr(text, CAST(a + 1 AS INT), CAST(b - a AS INT)) "
            "AS fim FROM y) "
            "SELECT doc_id, CAST(a AS INT) AS cut1, CAST(b AS INT) "
            "AS cut2, CAST(b - a AS INT) AS mid_len, md5(fim) "
            "AS fim_digest, substr(fim, 1, 48) AS fim_head FROM z"
        ),
        "text_chunk": (
            "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts "
            "FROM documents) "
            "SELECT doc_id, CAST(i.i AS INT) AS chunk_id, "
            "array_to_string(ts[i.i * 64 + 1 : i.i * 64 + 64], ' ') AS chunk, "
            "CAST(least(len(ts) - i.i * 64, 64) AS INT) AS n_tokens "
            "FROM t, LATERAL unnest(generate_series(0, "
            "CAST(ceil(len(ts) / 64.0) AS INT) - 1)) AS i(i)"
        ),
        "sql_exists_subquery": (
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "WHERE EXISTS (SELECT 1 FROM lineitem "
            "WHERE l_orderkey = o_orderkey AND l_quantity > 45) "
            "GROUP BY o_orderpriority"
        ),
        "a7_grouping_sets": (
            "SELECT coalesce(l_returnflag, 'ALL') AS flag, "
            "coalesce(l_linestatus, 'ALL') AS status, count(*) AS n, "
            "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS sum_qty FROM lineitem "
            "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), "
            "(l_linestatus), ())"
        ),
        "f_posexplode": (
            "WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') "
            "AS ts FROM documents WHERE doc_id < 100) "
            "SELECT doc_id, CAST(i.i AS INT) AS ord, ts[i.i] AS token "
            "FROM t, LATERAL unnest(generate_series(1, len(ts))) AS i(i)"
        ),
        "text_tfidf": (
            "WITH toks AS (SELECT doc_id, "
            "regexp_replace(t.tok, '^\\W+|\\W+$', '') AS tok "
            "FROM (SELECT doc_id, "
            "unnest(string_split_regex(lower(text), '\\s+')) AS tok "
            "FROM documents) t), "
            "clean AS (SELECT doc_id, tok FROM toks WHERE length(tok) >= 2), "
            "tf AS (SELECT doc_id, tok, count(*) AS tf FROM clean "
            "GROUP BY doc_id, tok), "
            "dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), "
            "n AS (SELECT count(*) AS n FROM documents), "
            "scored AS (SELECT tf.doc_id, tf.tok, "
            "tf.tf * ln(n.n / dfreq.df) AS score "
            "FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n), "
            "ranked AS (SELECT doc_id, tok, score, row_number() OVER "
            "(PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rn "
            "FROM scored) "
            "SELECT doc_id, tok AS token, round(score, 6) AS tfidf, rn "
            "FROM ranked WHERE rn <= 3"
        ),
        "dedup_keep_canonical": (
            "WITH RECURSIVE pairs AS ({pairs_sql}), "
            "sym AS (SELECT a AS u, b AS v FROM pairs "
            "UNION SELECT b AS u, a AS v FROM pairs), "
            "walk(node, label) AS ("
            "SELECT DISTINCT u, u FROM sym "
            "UNION "
            "SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node), "
            "lab AS (SELECT node, min(label) AS rep FROM walk GROUP BY node), "
            "removed AS (SELECT node FROM lab WHERE rep != node) "
            "SELECT doc_id, lang FROM documents "
            "WHERE doc_id NOT IN (SELECT node FROM removed)"
        ).format(pairs_sql=_simhash_oracle(bits=_SIMHASH_GRAPH_BITS, max_hamming=3)),
        "text_classifier": (
            "WITH t AS (SELECT doc_id, "
            "unnest(string_split_regex(lower(text), '\\s+')) AS tok "
            "FROM documents), "
            "b AS (SELECT doc_id, "
            "(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16) AS bkt "
            "FROM t), "
            "z AS (SELECT doc_id, CAST(sum("
            f"({_CLS_WEIGHTS_FP})[bkt + 1]"
            ") AS BIGINT) AS z_fp FROM b GROUP BY doc_id) "
            "SELECT doc_id, z_fp, z_fp / 10000.0 AS score, "
            "z_fp > 0 AS is_positive FROM z"
        ),
        "dedup_spans": (
            "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts "
            "FROM documents), "
            "c AS (SELECT doc_id, i.i AS idx, "
            "array_to_string(ts[(i.i * 10 + 1):(i.i * 10 + 10)], ' ') AS span "
            "FROM t, LATERAL unnest(generate_series(0, "
            "CAST(greatest(ceil(len(ts) / 10.0), 1) AS INT) - 1)) AS i(i)), "
            "r AS (SELECT doc_id, idx, span, "
            "row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn "
            "FROM c) "
            "SELECT doc_id, count(*) AS n_spans, "
            "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_spans_kept, "
            "coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' "
            "ORDER BY idx), '') AS text_deduped "
            "FROM r GROUP BY doc_id"
        ),
        "text_pii_redact": _pii_redact_oracle(),
        "text_ngram_counts": (
            "WITH t AS (SELECT string_split_regex(lower(text), '\\s+') AS ts "
            "FROM documents), "
            "g AS (SELECT ts[i.i] || ' ' || ts[i.i + 1] AS gram "
            "FROM t, LATERAL unnest(generate_series(1, len(ts) - 1)) AS i(i) "
            "WHERE len(ts) >= 2) "
            "SELECT gram, count(*) AS cnt FROM g GROUP BY gram "
            "ORDER BY cnt DESC, gram ASC LIMIT 100"
        ),
        "sample_stratified": (
            "WITH b AS (SELECT lang, "
            "CAST(('0x' || substr(md5(CAST(('strat:' || CAST(doc_id AS VARCHAR)) "
            "AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket FROM documents) "
            "SELECT lang, count(*) AS n_kept FROM b "
            "WHERE bucket < (CASE WHEN lang = 'en' THEN 200 ELSE 1000 END) "
            "GROUP BY lang"
        ),
        "sample_weighted": (
            "WITH w AS (SELECT doc_id, lang, "
            "least(1000, 5 * len(string_split_regex(lower(text), '\\s+'))) "
            "AS weight_pm, "
            "CAST(('0x' || substr(md5(CAST(('wsamp:' || CAST(doc_id AS VARCHAR)) "
            "AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket FROM documents) "
            "SELECT doc_id, lang, weight_pm FROM w WHERE bucket < weight_pm"
        ),
        "emb_quantize": (
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
        ),
        "q20_excess_volume": (
            "WITH shipped AS ("
            "SELECT l_suppkey, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT) AS qty "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_name LIKE 'small%' "
            "AND l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "GROUP BY l_suppkey "
            "HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT) > 300) "
            "SELECT s_name, n_name, qty FROM supplier "
            "JOIN shipped ON s_suppkey = l_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey"
        ),
        # the streaming twin is checked against the SAME SQL as the
        # batch plan — decimal-exact sums make stream output
        # bit-identical to batch, so a real streaming execution
        # (watermark + window state) passes an exact oracle
        "stream_hourly_agg": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS sum_value FROM events "
            "GROUP BY date_trunc('hour', ts), event_type"
        ),
        # drained-to-completion stream (sentinel watermark advance)
        # emits the full session set -> same oracle as the batch twin;
        # session_value tolerance: the stream sums doubles sequentially
        # in event order, the oracle decimal-exactly — both round to 4
        # decimals, and the comparator re-rounds at 6, so they agree
        "stream_sessionize": (
            "WITH g AS (SELECT user_id, event_id, value, ts, "
            "CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "OR epoch_us(ts) - lag(epoch_us(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 "
            "THEN 1 ELSE 0 END AS new_sess FROM events), "
            "s AS (SELECT user_id, value, sum(new_sess) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq "
            "FROM g) "
            "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, "
            "count(*) AS n_events, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS session_value FROM s "
            "GROUP BY user_id, session_seq"
        ),
        # single-drain streaming dedup keeps every key in state (the
        # watermark never passes it), so the emitted keys == DISTINCT
        "stream_dedup": (
            "SELECT DISTINCT user_id, event_type FROM events"
        ),
        # the streaming drain reproduces the batch lifecycle exactly:
        # same grown-index replay as dedup_index_maintain
        "stream_index_maintain": _lsh_index_maintain_oracle(16, 4, 0.5),
        "stream_ann_maintain": _stream_ann_maintain_oracle(),
        "stream_enrich": (
            "SELECT user_id % 7 AS segment, event_type, count(*) AS n, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS sum_value FROM events GROUP BY 1, 2"
        ),
        "stream_stream_join": (
            "SELECT date_trunc('hour', l.ts) AS view_hour, count(*) AS n_pairs "
            "FROM events l JOIN events r ON l.user_id = r.user_id "
            "AND l.event_type = 'view' AND r.event_type = 'purchase' "
            "AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR "
            "GROUP BY 1"
        ),
        "emb_label_centroids": (
            "WITH p AS (SELECT unnest(generate_series(1, 64)) AS pos) "
            "SELECT label, p.pos, "
            "round(CAST(sum(CAST(CAST(embedding[p.pos] AS DOUBLE) "
            "AS DECIMAL(28,12))) AS DOUBLE) / count(1), 6) AS mean "
            "FROM embeddings, p GROUP BY 1, 2"
        ),
        "emb_gram": (
            "WITH p AS (SELECT unnest(generate_series(1, 64)) AS pos), "
            "e AS (SELECT vec_id, p.pos, "
            "CAST(embedding[p.pos] AS DOUBLE) AS x FROM embeddings, p) "
            "SELECT a.pos AS i, b.pos AS j, round(sum(a.x * b.x), 6) AS v "
            "FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos <= b.pos "
            "GROUP BY 1, 2"
        ),
        "emb_pca_top": _pca_oracle_sql_final(),
        "emb_pca_project": _pca_project_oracle_sql(),
        "curriculum_quality_bins": (
            "WITH b AS (SELECT doc_id, "
            "string_split_regex(lower(text), '\\s+') AS ts FROM documents), "
            "q AS (SELECT doc_id, len(ts) AS n_tokens, "
            "round(len(list_filter(ts, t -> list_contains("
            "['the','a','of','and','to','in','is','it','for','on'], t))) "
            "/ len(ts), 6) AS sr FROM b), "
            "th AS (SELECT round(quantile_cont(sr, 0.25), 6) AS q25, "
            "round(quantile_cont(sr, 0.5), 6) AS q50, "
            "round(quantile_cont(sr, 0.75), 6) AS q75 FROM q) "
            "SELECT 1 + CAST(sr > q25 AS INT) + CAST(sr > q50 AS INT) "
            "+ CAST(sr > q75 AS INT) AS bin, count(*) AS n_docs, "
            "round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) "
            "AS mean_tokens, min(sr) AS min_sr, max(sr) AS max_sr "
            "FROM q, th GROUP BY 1"
        ),
        "dedup_cross_corpus": (
            "WITH d AS (SELECT doc_id, "
            "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
            "AS digest FROM documents) "
            # NOT EXISTS (not NOT IN) so a NULL digest on the reference
            # side matches Spark's left_anti null semantics
            "SELECT doc_id FROM d WHERE doc_id % 7 <> 0 AND NOT EXISTS "
            "(SELECT 1 FROM d AS r WHERE r.doc_id % 7 = 0 "
            "AND r.digest = d.digest)"
        ),
        "text_sentences": (
            "WITH b AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '[.!?]+\\s+'), "
            "s -> trim(s) <> '') AS ss FROM documents), "
            "g AS (SELECT doc_id, ss, "
            "unnest(generate_series(1, len(ss))) AS i FROM b) "
            "SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx, "
            "trim(ss[i]) AS sentence, "
            "CAST(len(string_split_regex(trim(ss[i]), '\\s+')) AS INT) "
            "AS n_tokens FROM g"
        ),
        "pipeline_c4_curation": _curation_oracle_sql(),
        "pipeline_multilingual_curation": _multilingual_curation_oracle(),
        "pipeline_multilingual_tokens": _multilingual_tokens_oracle(),
        "graph_pagerank": _pagerank_oracle_sql(iters=5, damping=0.85),
        "s11_partition_prune": (
            "SELECT event_type, count(*) AS n FROM events "
            "WHERE CAST(ts AS DATE) = "
            "(SELECT min(CAST(ts AS DATE)) FROM events) GROUP BY 1"
        ),
        "sample_bottomk": (
            "SELECT doc_id, lang FROM (SELECT doc_id, lang, "
            "CAST(('0x' || substr(md5('bk:' || CAST(doc_id AS VARCHAR)), "
            "1, 8)) AS BIGINT) AS h FROM documents "
            "ORDER BY h, doc_id LIMIT 100)"
        ),
        "dedup_daily_first": (
            "SELECT user_id, date_trunc('day', ts) AS day, "
            "event_id, event_type "
            "FROM (SELECT *, row_number() OVER "
            "(PARTITION BY user_id, CAST(ts AS DATE) "
            "ORDER BY ts, event_id) AS rn FROM events) WHERE rn = 1"
        ),
        "j9_full_outer": (
            "SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, "
            "c.c_acctbal, coalesce(o.n_orders, 0) AS n_orders "
            "FROM (SELECT c_custkey, c_acctbal FROM customer "
            "WHERE c_custkey % 3 = 0) c "
            "FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders "
            "FROM orders WHERE o_custkey % 5 = 0 GROUP BY 1) o "
            "ON c.c_custkey = o.o_custkey"
        ),
        "w8_first_last": (
            "SELECT l_orderkey, l_linenumber, "
            "first_value(l_quantity) OVER w AS first_qty, "
            "last_value(l_quantity) OVER w AS last_qty, "
            "nth_value(l_quantity, 2) OVER w AS second_qty "
            "FROM lineitem WHERE l_orderkey < 200 "
            "WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        ),
        "profile_table": (
            "SELECT 'o_custkey' AS col_name, "
            "count(*) - count(o_custkey) AS n_nulls, "
            "count(DISTINCT o_custkey) AS n_distinct, "
            "CAST(min(o_custkey) AS DOUBLE) AS min_num, "
            "CAST(max(o_custkey) AS DOUBLE) AS max_num, "
            "CAST(NULL AS VARCHAR) AS min_str, "
            "CAST(NULL AS VARCHAR) AS max_str FROM orders "
            "UNION ALL SELECT 'o_totalprice', "
            "count(*) - count(o_totalprice), count(DISTINCT o_totalprice), "
            "CAST(min(o_totalprice) AS DOUBLE), "
            "CAST(max(o_totalprice) AS DOUBLE), NULL, NULL FROM orders "
            "UNION ALL SELECT 'o_orderstatus', "
            "count(*) - count(o_orderstatus), "
            "count(DISTINCT o_orderstatus), NULL, NULL, "
            "min(o_orderstatus), max(o_orderstatus) FROM orders "
            "UNION ALL SELECT 'o_orderpriority', "
            "count(*) - count(o_orderpriority), "
            "count(DISTINCT o_orderpriority), NULL, NULL, "
            "min(o_orderpriority), max(o_orderpriority) FROM orders"
        ),
        "scd2_history": (
            "WITH c AS (SELECT user_id, event_id, event_type, ts, "
            "CASE WHEN lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
            "OR event_type <> lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) "
            "THEN 1 ELSE 0 END AS chg FROM events), "
            "g AS (SELECT user_id, event_type, ts, sum(chg) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp "
            "FROM c), "
            "iv AS (SELECT user_id, grp, event_type, min(ts) AS valid_from, "
            "count(*) AS n_events FROM g GROUP BY 1, 2, 3) "
            "SELECT user_id, event_type, valid_from, "
            "lead(valid_from) OVER "
            "(PARTITION BY user_id ORDER BY valid_from, grp) AS valid_to, "
            "n_events FROM iv"
        ),
        "shard_assign": (
            "SELECT CAST(('0x' || substr(md5('shard:' "
            "|| CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard, "
            "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars "
            "FROM documents GROUP BY 1"
        ),
        # round-trip oracles read the ORIGINAL parquet: equality proves
        # the ORC/JSONL write+read cycle preserved the data
        "s9_orc_roundtrip": (
            "SELECT l_returnflag, count(*) AS n, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
            "AS sum_qty, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) "
            "AS DOUBLE) AS sum_price "
            "FROM lineitem WHERE l_quantity <= 10 GROUP BY 1"
        ),
        "s10_jsonl_roundtrip": (
            "SELECT l_returnflag, count(*) AS n, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
            "AS sum_qty, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) "
            "AS DOUBLE) AS sum_price "
            "FROM lineitem WHERE l_quantity <= 10 GROUP BY 1"
        ),
        "ann_lsh_multi_topk": (
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
        ),
        "ev_zscore_anomalies": (
            "WITH stats AS (SELECT event_type, count(*) AS n, "
            "sum(CAST(value AS DECIMAL(18,6))) AS s1, "
            "sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) "
            "AS s2 FROM events GROUP BY event_type), "
            "st AS (SELECT event_type, n, "
            "CAST(s1 AS DOUBLE) / n AS mean, "
            "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * "
            "CAST(s1 AS DOUBLE) / n) / (n - 1)) AS std FROM stats), "
            "fl AS (SELECT e.event_type FROM events e "
            "JOIN st ON e.event_type = st.event_type "
            "WHERE abs((e.value - st.mean) / st.std) > 2) "
            "SELECT f.event_type, count(*) AS n_anomalies, "
            "round(count(*) / st.n, 6) AS rate "
            "FROM fl f JOIN st ON f.event_type = st.event_type "
            "GROUP BY f.event_type, st.n"
        ),
        "ev_funnel": (
            "WITH s1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' "
            "THEN epoch_us(ts) END) AS t_view FROM events GROUP BY user_id), "
            "s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click "
            "FROM events e JOIN s1 ON e.user_id = s1.user_id "
            "WHERE e.event_type = 'click' AND s1.t_view IS NOT NULL "
            "AND epoch_us(e.ts) > s1.t_view "
            "AND epoch_us(e.ts) <= s1.t_view + 86400000000 "
            "GROUP BY e.user_id), "
            "s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase "
            "FROM events e JOIN s2 ON e.user_id = s2.user_id "
            "WHERE e.event_type = 'purchase' "
            "AND epoch_us(e.ts) > s2.t_click "
            "AND epoch_us(e.ts) <= s2.t_click + 86400000000 "
            "GROUP BY e.user_id) "
            "SELECT '1_view' AS stage, count(*) AS n FROM s1 "
            "WHERE t_view IS NOT NULL "
            "UNION ALL SELECT '2_click', count(*) FROM s2 "
            "UNION ALL SELECT '3_purchase', count(*) FROM s3"
        ),
        "ev_gap_fill": (
            "WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, "
            "event_type, count(*) AS cnt FROM events "
            "GROUP BY 1, 2), "
            "bounds AS (SELECT date_trunc('hour', min(ts)) AS lo, "
            "date_trunc('hour', max(ts)) AS hi FROM events), "
            "spine_hours AS (SELECT unnest(generate_series(lo, hi, "
            "INTERVAL 1 HOUR)) AS hour FROM bounds), "
            "types AS (SELECT DISTINCT event_type FROM events), "
            "spine AS (SELECT hour, event_type FROM spine_hours, types) "
            "SELECT s.hour, s.event_type, "
            "coalesce(h.cnt, 0) AS n "
            "FROM spine s LEFT JOIN hourly h "
            "ON s.hour = h.hour AND s.event_type = h.event_type"
        ),
        "text_vocab_oov": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(string_split_regex(lower(text), '\\s+')) AS tok "
            "FROM documents), "
            "nz AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0), "
            "vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt "
            "FROM nz GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 500)), "
            "f AS (SELECT nz.doc_id, "
            "CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov "
            "FROM nz LEFT JOIN vocab v ON nz.tok = v.tok) "
            "SELECT doc_id, count(*) AS n_tokens, "
            "CAST(sum(oov) AS BIGINT) AS n_oov, "
            "round(CAST(sum(oov) AS BIGINT) / count(*), 6) AS oov_rate "
            "FROM f GROUP BY doc_id"
        ),
        "w5_lag_delta": (
            "SELECT user_id, event_id, "
            "epoch_us(ts) - lag(epoch_us(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us, "
            "CAST(round(CAST(value AS DECIMAL(18,6)) - "
            "lag(CAST(value AS DECIMAL(18,6))) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id), 4) AS DOUBLE) "
            "AS value_delta FROM events"
        ),
        "w6_ntile_bins": (
            "WITH th AS (SELECT "
            "round(quantile_cont(n_chars, 0.25), 6) AS q25, "
            "round(quantile_cont(n_chars, 0.5), 6) AS q50, "
            "round(quantile_cont(n_chars, 0.75), 6) AS q75 FROM documents) "
            "SELECT 1 + CAST(CAST(n_chars AS DOUBLE) > q25 AS INT) "
            "+ CAST(CAST(n_chars AS DOUBLE) > q50 AS INT) "
            "+ CAST(CAST(n_chars AS DOUBLE) > q75 AS INT) AS bin, "
            "count(*) AS n, min(n_chars) AS min_chars, "
            "max(n_chars) AS max_chars FROM documents, th GROUP BY 1"
        ),
        "dedup_winnow": _winnow_pairs_oracle(8, 4, 0.5, 50),
        "j8_upsert": (
            "WITH changed AS (SELECT c_custkey, c_name, c_nationkey, "
            "c_mktsegment, CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 "
            "AS DOUBLE) AS c_acctbal FROM customer WHERE c_custkey % 10 = 0), "
            "new_rows AS (SELECT n_nationkey + 1000000 AS c_custkey, "
            "'new customer ' || n_name AS c_name, "
            "n_nationkey AS c_nationkey, 'BUILDING' AS c_mktsegment, "
            "0.0 AS c_acctbal FROM nation WHERE n_nationkey < 5), "
            "updates AS (SELECT * FROM changed "
            "UNION ALL SELECT * FROM new_rows), "
            "surv AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment, "
            "c_acctbal FROM customer WHERE c_custkey NOT IN "
            "(SELECT c_custkey FROM updates)), "
            "merged AS (SELECT * FROM surv UNION ALL SELECT * FROM updates) "
            "SELECT count(*) AS n_rows, "
            "CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS total_bal, "
            "CAST(sum(CASE WHEN c_custkey >= 1000000 THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_new FROM merged"
        ),
        "text_winnow": (
            "WITH nrm AS (SELECT doc_id, "
            "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n "
            "FROM documents), "
            "h AS (SELECT doc_id, "
            "list_transform(generate_series(1, greatest(length(n) - 7, 1)), "
            f"i -> {hash32_sql('substr(n, i, 8)')}) AS hs FROM nrm), "
            "m AS (SELECT doc_id, list_distinct("
            "list_transform(generate_series(1, greatest(len(hs) - 3, 1)), "
            "i -> list_min(hs[i:i + 3]))) AS fps FROM h) "
            "SELECT doc_id, unnest(fps) AS fingerprint FROM m"
        ),
        "sample_topk_per_stratum": (
            "WITH s AS (SELECT lang, doc_id, "
            "round(least(len(string_split_regex(lower(text), '\\s+')) / 100.0, "
            "1.0), 6) AS score FROM documents), "
            "r AS (SELECT lang, doc_id, score, row_number() OVER "
            "(PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS rn FROM s) "
            "SELECT lang, doc_id, score, CAST(rn AS INTEGER) AS rn "
            "FROM r WHERE rn <= 3"
        ),
        # the skew-shape plans must give the PLAIN answer — the oracle
        # is the unsalted formulation
        "skew_distinct_2phase": (
            "SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "skew_salted_agg": (
            "SELECT l_returnflag, "
            "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS sum_qty, count(*) AS n "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "skew_salted_join": (
            "SELECT c_mktsegment, count(*) AS n FROM orders "
            "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"
        ),
        "planner_llm_chunks": (
            "WITH q AS (SELECT text, "
            "round(least(len(string_split_regex(lower(text), '\\s+')) / 100.0, "
            "1.0), 6) AS qs FROM documents), "
            "k AS (SELECT text FROM q WHERE qs >= 0.2), "
            "t AS (SELECT string_split_regex(text, '\\s+') AS ts FROM k) "
            "SELECT array_to_string(ts[i.i * 64 + 1 : i.i * 64 + 64], ' ') "
            "AS chunk FROM t, LATERAL unnest(generate_series(0, "
            "CAST(ceil(len(ts) / 64.0) AS INT) - 1)) AS i(i)"
        ),
        "a8_cube": (
            "SELECT coalesce(l_returnflag, 'ALL') AS flag, "
            "coalesce(l_linestatus, 'ALL') AS status, count(*) AS n, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4) "
            "AS DOUBLE) AS sum_price "
            "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
        ),
        "ev_retention": (
            "WITH first AS (SELECT user_id, min(date_trunc('day', ts)) AS "
            "cohort_day FROM events GROUP BY user_id) "
            "SELECT f.cohort_day, CAST(floor(date_diff('day', "
            "CAST(f.cohort_day AS DATE), CAST(e.ts AS DATE)) / 7) AS BIGINT) "
            "AS week_offset, count(DISTINCT e.user_id) AS n_users "
            "FROM events e JOIN first f ON e.user_id = f.user_id "
            "GROUP BY 1, 2"
        ),
        "text_bm25": (
            f"WITH {_BM25_SQL_CTES} "
            "SELECT doc_id, score FROM bm "
            "ORDER BY score DESC, doc_id LIMIT 20"
        ),
        "ann_hybrid_rrf": (
            f"WITH {_BM25_SQL_CTES}, "
            "lex AS (SELECT doc_id, CAST(row_number() OVER "
            "(ORDER BY score DESC, doc_id) AS INT) AS r_lex FROM "
            "(SELECT doc_id, score FROM bm "
            "ORDER BY score DESC, doc_id LIMIT 50)), "
            "c AS (SELECT vec_id, embedding::DOUBLE[] AS v "
            "FROM embeddings WHERE vec_id != 0), "
            "q AS (SELECT embedding::DOUBLE[] AS v "
            "FROM embeddings WHERE vec_id = 0), "
            f"sc AS (SELECT c.vec_id, {_COS} AS cos FROM c, q), "
            "sem AS (SELECT vec_id AS doc_id, CAST(row_number() OVER "
            "(ORDER BY cos DESC, vec_id) AS INT) AS r_sem FROM sc "
            "ORDER BY cos DESC, vec_id LIMIT 50), "
            "f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, "
            "r_lex, r_sem, "
            "round(coalesce(1.0 / (60 + r_lex), 0.0) + "
            "coalesce(1.0 / (60 + r_sem), 0.0), 6) AS rrf_score "
            "FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id) "
            "SELECT doc_id, r_lex, r_sem, rrf_score FROM f "
            "ORDER BY rrf_score DESC, doc_id LIMIT 10"
        ),
        "mix_token_budget": (
            "WITH b AS (SELECT source, doc_id, "
            "CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) "
            "AS n_tokens FROM documents), "
            "c AS (SELECT source, n_tokens, "
            "sum(n_tokens) OVER (PARTITION BY source "
            "ORDER BY n_tokens DESC, doc_id "
            "ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset FROM b) "
            "SELECT source, count(*) AS n_docs, "
            "CAST(sum(CASE WHEN start_offset < 600 THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_kept, "
            "CAST(sum(CASE WHEN start_offset < 600 THEN n_tokens "
            "ELSE 0 END) AS BIGINT) AS tokens_kept "
            "FROM c GROUP BY source"
        ),
        "text_chunk_overlap": (
            "WITH b AS (SELECT doc_id, "
            "CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) "
            "AS n FROM documents), "
            "e AS (SELECT doc_id, n, "
            "unnest(generate_series(0, n - 1, 96)) AS s FROM b) "
            "SELECT doc_id, CAST(s // 96 AS INT) AS chunk_idx, "
            "CAST(s AS INT) AS start_tok, "
            "CAST(least(128, n - s) AS INT) AS len_toks FROM e"
        ),
        "emb_dim_stats": (
            "WITH x AS (SELECT "
            "CAST(unnest(generate_series(0, len(embedding) - 1)) AS INT) "
            "AS dim, CAST(unnest(embedding) AS DOUBLE) AS v "
            "FROM embeddings) "
            "SELECT dim, count(*) AS n, round(avg(v), 6) AS mean, "
            "round(avg(v * v) - avg(v) * avg(v), 6) AS var_pop, "
            "round(min(v), 5) AS min_val, round(max(v), 5) AS max_val "
            "FROM x GROUP BY dim"
        ),
        "q11_value_concentration": (
            "WITH pv AS (SELECT l_partkey, "
            "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS v "
            "FROM lineitem GROUP BY l_partkey), "
            "t AS (SELECT sum(v) AS tot, count(*) AS np FROM pv) "
            "SELECT l_partkey, CAST(round(v, 2) AS DOUBLE) AS value "
            "FROM pv, t WHERE 2 * v * np > 3 * tot "
            "ORDER BY value DESC, l_partkey"
        ),
        "q22_idle_customers": (
            "WITH p AS (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) "
            "AS s, count(*) AS n FROM customer WHERE c_acctbal > 0), "
            "oc AS (SELECT o_custkey, count(*) AS n_orders FROM orders "
            "GROUP BY o_custkey) "
            "SELECT n_name, count(*) AS numcust, "
            "CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) "
            "AS DOUBLE) AS totacctbal "
            "FROM customer "
            "LEFT JOIN oc ON c_custkey = o_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE CAST(c_acctbal AS DECIMAL(12,2)) * (SELECT n FROM p) "
            "> (SELECT s FROM p) "
            "AND coalesce(n_orders, 0) <= 5 "
            "GROUP BY n_name ORDER BY n_name"
        ),
        "ev_json_props": (
            "SELECT CAST(floor(CAST(json_extract_string(props, '$.k') "
            "AS INT) / 10) AS INT) AS k_bucket, count(*) AS n, "
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
            "AS sum_value FROM events GROUP BY 1 ORDER BY k_bucket"
        ),
        "emb_kmeans": _kmeans_oracle_sql(),
        "dedup_levenshtein": _levenshtein_oracle(),
        # ORACLE POLICY for approximate sketches: two engines' HLL++
        # and Greenwald-Khanna sketches legitimately return different
        # estimates for the same data, so no oracle here hashes an
        # estimate. sketch_hll_bound and sketch_quantile_bound expose
        # only the sketch's error-bound verdict against exact
        # aggregates, which the oracle checks exactly. a9_quantiles
        # below is the EXACT-quantile twin and carries a full value
        # oracle.
        "a9_quantiles": (
            "SELECT l_returnflag, count(*) AS n, "
            "round(quantile_cont(l_quantity, 0.25), 6) AS q25, "
            "round(quantile_cont(l_quantity, 0.5), 6) AS q50, "
            "round(quantile_cont(l_quantity, 0.75), 6) AS q75, "
            "round(quantile_cont(l_quantity, 0.95), 6) AS q95 "
            "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
        ),
        "a10_pivot": (
            "SELECT date_trunc('day', ts) AS day, "
            "count(CASE WHEN event_type = 'click' THEN 1 END) AS click, "
            "count(CASE WHEN event_type = 'error' THEN 1 END) AS error, "
            "count(CASE WHEN event_type = 'purchase' THEN 1 END) "
            "AS purchase, "
            "count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup, "
            "count(CASE WHEN event_type = 'view' THEN 1 END) AS view "
            "FROM events GROUP BY 1 ORDER BY day"
        ),
        "w7_percent_rank": (
            "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, "
            "round(percent_rank() OVER w, 6) AS pct_rank, "
            "round(cume_dist() OVER w, 6) AS cume "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-06-01' "
            "AND l_shipdate < TIMESTAMP '1996-06-08' "
            "WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)"
        ),
        "text_repetition": (
            "WITH base AS (SELECT doc_id, "
            "string_split_regex(lower(text), '\\s+') AS toks, "
            "list_filter(string_split(text, chr(10)), "
            "l -> trim(l) <> '') AS lines FROM documents), "
            "g AS (SELECT doc_id, toks, lines, "
            "CASE WHEN len(toks) >= 2 THEN list_transform("
            "range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) "
            "ELSE CAST([] AS VARCHAR[]) END AS g2, "
            "CASE WHEN len(toks) >= 3 THEN list_transform("
            "range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] "
            "|| ' ' || toks[i+2]) ELSE CAST([] AS VARCHAR[]) END AS g3 "
            "FROM base), "
            "top2 AS (SELECT doc_id, max(c) AS topc FROM "
            "(SELECT doc_id, gram, count(*) AS c FROM "
            "(SELECT doc_id, unnest(g2) AS gram FROM g) "
            "GROUP BY doc_id, gram) GROUP BY doc_id) "
            "SELECT g.doc_id, CAST(len(toks) AS INT) AS n_tokens, "
            "CASE WHEN len(lines) > 0 THEN round((len(lines) - "
            "len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE), 6) "
            "ELSE 0.0 END AS dup_line_frac, "
            "CASE WHEN len(toks) > 0 THEN round((len(toks) - "
            "len(list_distinct(toks))) / CAST(len(toks) AS DOUBLE), 6) "
            "ELSE 0.0 END AS dup_token_frac, "
            "CASE WHEN len(g2) > 0 THEN round(coalesce(top2.topc, 0) / "
            "CAST(len(g2) AS DOUBLE), 6) ELSE 0.0 END AS top_2gram_frac, "
            "CASE WHEN len(g2) > 0 THEN round((len(g2) - "
            "len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE), 6) "
            "ELSE 0.0 END AS dup_2gram_frac, "
            "CASE WHEN len(g3) > 0 THEN round((len(g3) - "
            "len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 6) "
            "ELSE 0.0 END AS dup_3gram_frac, "
            "(CASE WHEN len(g2) > 0 THEN round(coalesce(top2.topc, 0) / "
            "CAST(len(g2) AS DOUBLE), 6) ELSE 0.0 END > 0.20 OR "
            "CASE WHEN len(g3) > 0 THEN round((len(g3) - "
            "len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE), 6) "
            "ELSE 0.0 END > 0.18) AS is_repetitive "
            "FROM g LEFT JOIN top2 ON g.doc_id = top2.doc_id"
        ),
        "dedup_semantic": _semantic_dedup_oracle_sql(k=32),
        # per-term p^alpha rounds to 12 decimals before the normalizing
        # sum (ln-term replay discipline); everything runs over one row
        # per source
        "mix_temperature": (
            "WITH per AS (SELECT source, count(*) AS n_docs, "
            "CAST(sum(len(string_split_regex(lower(text), '\\s+'))) "
            "AS BIGINT) AS tokens FROM documents GROUP BY source), "
            "s AS (SELECT source, n_docs, tokens, "
            "round(tokens / CAST(sum(tokens) OVER () AS DOUBLE), 6) "
            "AS p_raw, "
            "round(pow(tokens / CAST(sum(tokens) OVER () AS DOUBLE), "
            "0.3), 12) AS pa FROM per) "
            "SELECT source, n_docs, tokens, p_raw, "
            "round(pa / sum(pa) OVER (), 6) AS w_temp FROM s"
        ),
        "mix_domains": (
            # integer per-mille rates (floor `//`), same md5 bucket as
            # operators/sampling.split_bucket(salt='mix'); DuckDB
            # sum() widens to HUGEINT, so every sum casts back
            "WITH t AS (SELECT source AS domain, count(*) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_size "
            "FROM documents GROUP BY 1), "
            "g AS (SELECT CAST(sum(total_size) AS BIGINT) AS g, "
            "count(*) AS nd FROM t), "
            "r AS (SELECT domain, n_docs, total_size, "
            "least(CAST(1000 AS BIGINT), "
            "(g.g * 500) // (g.nd * total_size)) AS rate_pm FROM t, g), "
            "k AS (SELECT d.source AS domain, count(*) AS docs_kept, "
            "CAST(sum(d.n_chars) AS BIGINT) AS size_kept "
            "FROM documents d JOIN r ON d.source = r.domain "
            "WHERE (" + hash32_sql("'mix:' || CAST(doc_id AS VARCHAR)")
            + " % 1000) < r.rate_pm GROUP BY 1) "
            "SELECT r.domain, r.n_docs, r.total_size, r.rate_pm, "
            "coalesce(k.docs_kept, 0) AS docs_kept, "
            "coalesce(k.size_kept, 0) AS size_kept "
            "FROM r LEFT JOIN k USING (domain)"
        ),
        "sample_interleave": (
            "WITH doms AS (SELECT domain, "
            "row_number() OVER (ORDER BY domain) - 1 AS dom_ix, "
            "(SELECT count(DISTINCT source) FROM documents) AS n_dom "
            "FROM (SELECT DISTINCT source AS domain FROM documents)), "
            "ranked AS (SELECT doc_id AS key, source AS domain, "
            "row_number() OVER (PARTITION BY source ORDER BY "
            + hash32_sql("'interleave:' || CAST(doc_id AS VARCHAR)")
            + ", doc_id) AS rnk FROM documents) "
            "SELECT (rnk - 1) * n_dom + dom_ix AS position, key, domain "
            "FROM ranked JOIN doms USING (domain) "
            "WHERE (rnk - 1) * n_dom + dom_ix < 100 ORDER BY position"
        ),
        "snapshot_diff": (
            "WITH o AS (SELECT doc_id, md5(text) AS od FROM documents "
            "WHERE doc_id % 10 != 0), "
            "n AS (SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0 "
            "THEN text || ' v2' ELSE text END) AS nd FROM documents "
            "WHERE doc_id % 7 != 0) "
            "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, "
            "CASE WHEN od IS NULL THEN 'added' "
            "WHEN nd IS NULL THEN 'removed' "
            "WHEN od != nd THEN 'changed' "
            "ELSE 'unchanged' END AS status "
            "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"
        ),
        "decontaminate_bloom": _bloom_decontaminate_oracle_sql(),
        "text_bpe_train": _bpe_train_oracle_sql(),
        "text_bpe_train16": _bpe_train_oracle_sql(16),
        "text_bpe_train256": _bpe_train_oracle_sql(256),
        "text_bpe_bytes": _bpe_train_oracle_sql(64, _BPE_W0_BYTES),
        "text_bpe_apply": _bpe_apply_oracle_sql(),
        "emb_pca_top2": _pca2_oracle_sql(),
        "s16_zorder_stats": (
            # the layout rewrite must be lossless, so the oracle
            # aggregates the ORIGINAL table with the same interleave
            "WITH b AS (SELECT (l_partkey % 1024) AS x, "
            "(l_suppkey % 1024) AS y FROM lineitem) "
            "SELECT ("
            + _morton_sql_xy()
            + " >> 12) AS zbucket, count(*) AS n, "
            "min(x) AS min_x, max(x) AS max_x, "
            "min(y) AS min_y, max(y) AS max_y FROM b GROUP BY 1"
        ),
        "s17_incremental_read": (
            "SELECT o_orderstatus, count(*) AS n, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) "
            "AS DOUBLE) AS sum_price FROM orders "
            "WHERE o_orderkey % 3 = 0 GROUP BY 1"
        ),
        # the incremental 3-batch foreachBatch merge must equal the
        # one-pass batch aggregate (batching-invariance IS the claim)
        "stream_mv_upsert": (
            "SELECT user_id, count(*) AS n, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) "
            "AS sum_value FROM events GROUP BY 1"
        ),
        "sample_kcenter": _kcenter_oracle_sql(),
        "ev_markov": (
            "WITH pairs AS (SELECT from_type, to_type FROM ("
            "SELECT event_type AS from_type, lead(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS to_type "
            "FROM events) WHERE to_type IS NOT NULL), "
            "c AS (SELECT from_type, to_type, count(*) AS n FROM pairs "
            "GROUP BY 1, 2) "
            "SELECT from_type, to_type, n, round(n / CAST(sum(n) OVER "
            "(PARTITION BY from_type) AS DOUBLE), 6) AS p FROM c"
        ),
    }
    # ANN recall eval composes the two search oracles verbatim (DuckDB
    # allows a WITH inside a derived table), guaranteeing the eval's
    # ground truth is the same statement the driver already validates
    sql["ann_recall_clustered"] = _ivf_clustered_recall_oracle()
    sql["ann_recall_eval"] = (
        "WITH exact AS (SELECT query_id, vec_id FROM ("
        + sql["ann_cosine_topk"]
        + ")), approx AS (SELECT query_id, vec_id FROM ("
        + sql["ann_lsh_multi_topk"]
        + ")), hits AS (SELECT e.query_id, count(*) AS h FROM exact e "
        "JOIN approx a ON e.query_id = a.query_id AND e.vec_id = a.vec_id "
        "GROUP BY 1) "
        "SELECT q.vec_id AS query_id, "
        "round(CAST(coalesce(h.h, 0) AS DOUBLE) / 10, 3) AS recall_at_10 "
        "FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q "
        "LEFT JOIN hits h ON q.vec_id = h.query_id"
    )
    return sql
