"""Deduplication family (exact/minhash/simhash/ngram/embedding/decontaminate) queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from task_on_dataframes_spark.operators.dedup import (
    CHAR_LSH_BANDS,
    CHAR_LSH_NUM_PERM,
    SIMHASH_GRAPH_BITS,
)

from .common import _docs, _embs, _events, _t, query


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: dedup / similarity / text analysis /
# multimodal (north-star operators; SURVEY §7.2 step 5)
# ---------------------------------------------------------------------------

@query(oracle=(
    "SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
    "AS text_digest, min(doc_id) AS rep_id, count(*) AS n_dups "
    "FROM documents GROUP BY 1"
))
def _dedup_exact(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import exact_dedup

    docs = _docs(spark, sf_dir)
    return exact_dedup(docs, "doc_id", "text")

#: word-bigram shingle CTEs (t, g) — the default LSH front end
_LSH_G_WORD = """t AS (SELECT doc_id AS did, string_split_regex(lower(text), '\\s+') AS ts
           FROM documents),
g AS (SELECT DISTINCT did, ts[i.i] || ' ' || ts[i.i + 1] AS tok
      FROM t, LATERAL unnest(generate_series(1, len(ts) - 1)) AS i(i)
      WHERE len(ts) >= 2)"""


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


@query(oracle=_minhash_oracle(16, 4, 0.5))
def _dedup_minhash_lsh(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=16, bands=4, threshold=0.5, shingle_n=2
    )

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


@query(oracle=_minhash_oracle(
    CHAR_LSH_NUM_PERM, CHAR_LSH_BANDS, 0.5, _lsh_g_char(), star=True
))
def _dedup_minhash_char(spark, sf_dir):
    """Minhash-LSH near-dup pairs over CHARACTER 5-gram shingles —
    the variant that sees non-whitespace-delimited scripts (a CJK
    sentence is one whitespace token, so the word-bigram front end is
    blind to it; the unicode robustness suite pins that gap and this
    operator closes it). Same banded candidate generation and exact
    Jaccard verification as dedup_minhash_lsh; only the shingle basis
    changes (operators/dedup.py:_char_ngrams — character-indexed
    substr on both engines, so unicode shingles replay exactly).
    Banding is the measured char-path contract CHAR_LSH_NUM_PERM /
    CHAR_LSH_BANDS (see operators/dedup.py — chosen by the star
    recall eval's doc-recall column)."""
    from task_on_dataframes_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_perm=CHAR_LSH_NUM_PERM,
        bands=CHAR_LSH_BANDS,
        threshold=0.5,
        shingle_n=5,
        kind="char",
        star=True,
    )

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


@query(oracle=_ngram_jaccard_oracle(3, 0.5, 50))
def _dedup_ngram_jaccard(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=50
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


@query(oracle=_simhash_oracle(32, 3))
def _dedup_simhash(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_pairs,
    )

    docs = _docs(spark, sf_dir)
    fps = simhash_fingerprints(docs, "doc_id", "text")
    return simhash_pairs(fps, max_hamming=3)

@query(oracle=(
    "WITH RECURSIVE pairs AS ({pairs_sql}), "
    "sym AS (SELECT a AS u, b AS v FROM pairs "
    "UNION SELECT b AS u, a AS v FROM pairs), "
    "walk(node, label) AS ("
    "SELECT DISTINCT u, u FROM sym "
    "UNION "
    "SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.node) "
    "SELECT node AS member, min(label) AS rep FROM walk GROUP BY node"
).format(pairs_sql=_simhash_oracle(bits=SIMHASH_GRAPH_BITS, max_hamming=3)))
def _dedup_components(spark, sf_dir):
    """Near-dup clusters: simhash pair graph -> connected components ->
    (member, representative=min doc_id). The Spark side is
    large-star/small-star contraction (operators/dedup.py:
    connected_components — O(log n) rounds over a geometrically
    shrinking edge set, never rounds x |E| like min-propagation); the
    oracle is a recursive CTE, implementation-agnostic.

    The graph is built at SIMHASH_GRAPH_BITS (48) / SIMHASH_GRAPH_CHUNKS
    (4): the three-point scale fit flagged the 32-bit default
    super-linear at sf3 (n^2/2^8 chunk-bucket saturation, excess 2.48),
    and the measured width lever (SCALE.md §20) is now the contract —
    the oracle parameterizes from the same constants."""
    from task_on_dataframes_spark.operators.dedup import (
        SIMHASH_GRAPH_CHUNKS,
        connected_components,
        simhash_fingerprints,
        simhash_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = simhash_pairs(
        simhash_fingerprints(docs, "doc_id", "text", bits=SIMHASH_GRAPH_BITS),
        max_hamming=3,
        chunks=SIMHASH_GRAPH_CHUNKS,
        bits=SIMHASH_GRAPH_BITS,
    )
    return connected_components(pairs, src="a", dst="b")

@query(oracle=(
    "WITH sl AS (SELECT * FROM embeddings WHERE vec_id < 2000) "
    "SELECT * FROM ("
    "SELECT a.vec_id AS a, b.vec_id AS b, "
    "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 5) AS cos "
    "FROM sl a JOIN sl b ON a.vec_id < b.vec_id"
    ") WHERE cos >= 0.4"
))
def _dedup_embedding_cosine(spark, sf_dir):
    """Exact all-pairs cosine — the O(n^2) correctness baseline for the
    LSH variants, confined to a deterministic ``vec_id < 2000`` eval
    slice so the quadratic cost is a CONSTANT (<= 2M pairs) at every
    SF instead of growing with the corpus (the unguarded form timed
    out at sf1 in the SCALE.md sweep). At sf<=0.1 the slice covers
    the whole table, so results are unchanged; the oracle carries the
    identical predicate. The scale path remains ``dedup_embedding_lsh``."""
    from task_on_dataframes_spark.operators.dedup import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return embedding_cosine_pairs(emb, threshold=0.4)

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


@query(oracle=(
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
))
def _dedup_embedding_lsh(spark, sf_dir):
    """planes=6 (64 buckets): candidate pairs scale ~ n^2/2^planes,
    so the plane count tracks corpus density (the SCALE.md sf1 sweep
    measured planes=4's 16 buckets going quadratic at 10x data — see
    ``embedding_lsh_pairs``)."""
    from task_on_dataframes_spark.operators.dedup import embedding_lsh_pairs

    emb = _embs(spark, sf_dir)
    return embedding_lsh_pairs(emb, threshold=0.4, dims=64, planes=6)

@query(oracle=(
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
))
def _decontaminate(spark, sf_dir):
    """Train/test contamination check (GPT-3-style n-gram overlap):
    a train document is contaminated when it shares any word 5-gram
    with any test-split document. Composition of the deterministic
    splitter + shingling + semi/anti joins: the gram-overlap join is
    keyed on the gram, so nothing quadratic ever forms."""
    from task_on_dataframes_spark.operators.dedup import _word_ngrams
    from task_on_dataframes_spark.operators.sampling import assign_split

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    labeled = assign_split(docs, "doc_id")
    grams = _word_ngrams(docs, "doc_id", "text", 5)
    test_ids = labeled.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("did")
    )
    train_ids = labeled.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("did")
    )
    test_grams = grams.join(F.broadcast(test_ids), on="did").select("tok").distinct()
    train_grams = grams.join(train_ids, on="did", how="left_semi")
    contaminated = (
        train_grams.join(F.broadcast(test_grams), on="tok", how="left_semi")
        .select("did")
        .distinct()
    )
    return (
        train_ids.join(
            contaminated.withColumn("__c", F.lit(1)), on="did", how="left"
        )
        .groupBy(
            F.when(F.col("__c").isNotNull(), "contaminated")
            .otherwise("clean")
            .alias("status")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query(oracle=(
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
).format(pairs_sql=_simhash_oracle(bits=SIMHASH_GRAPH_BITS, max_hamming=3)))
def _dedup_keep_canonical(spark, sf_dir):
    """End-to-end keep-one dedup: simhash pair graph -> pointer-doubling
    connected components -> drop non-representatives (broadcast
    left-anti; the corpus never shuffles for the cut). Returns the
    surviving (doc_id, lang) rows. Rides the same SIMHASH_GRAPH_BITS
    48-bit pair graph as ``dedup_components`` (SCALE.md §20)."""
    from task_on_dataframes_spark.operators.dedup import (
        SIMHASH_GRAPH_CHUNKS,
        keep_canonical,
        simhash_fingerprints,
        simhash_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = simhash_pairs(
        simhash_fingerprints(docs, "doc_id", "text", bits=SIMHASH_GRAPH_BITS),
        max_hamming=3,
        chunks=SIMHASH_GRAPH_CHUNKS,
        bits=SIMHASH_GRAPH_BITS,
    )
    return keep_canonical(
        docs.select("doc_id", "lang"), "doc_id", pairs
    )

@query(oracle=(
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
))
def _dedup_spans(spark, sf_dir):
    """C4/RefinedWeb-style span-level corpus dedup: 10-token
    non-overlapping spans, keep the globally first occurrence of each
    distinct span, rebuild documents from surviving spans. Two keyed
    shuffles (span text, then doc id) — no cross join, no driver
    state."""
    from task_on_dataframes_spark.operators.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir), "doc_id", "text")

@query(oracle=(
    "WITH d AS (SELECT doc_id, "
    "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
    "AS digest FROM documents) "
    # NOT EXISTS (not NOT IN) so a NULL digest on the reference
    # side matches Spark's left_anti null semantics
    "SELECT doc_id FROM d WHERE doc_id % 7 <> 0 AND NOT EXISTS "
    "(SELECT 1 FROM d AS r WHERE r.doc_id % 7 = 0 "
    "AND r.digest = d.digest)"
))
def _dedup_cross_corpus(spark, sf_dir):
    """Incremental-ingest dedup: drop new documents whose normalized
    text digest already exists in the reference corpus (simulated as
    the doc_id % 7 == 0 slice). One digest-keyed LEFT ANTI join — the
    shape of deduping a fresh crawl against an existing corpus; the
    existing side reduces to distinct digests before the join."""
    docs = _docs(spark, sf_dir)
    digest = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", digest.alias("digest")
    )
    existing = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(digest.alias("digest"))
        .distinct()
    )
    return new.join(existing, "digest", "left_anti").select("doc_id")

def _ensure_lsh_index(spark, sf_dir):
    """Build (once per session per sf_dir, the s13 layout-caching
    contract) the persisted LSH index over the corpus slice
    (doc_id % 7 == 0): bucketed band-key and packed-shingle-set
    tables. Returns (keys_table, sets_table)."""
    import hashlib

    from task_on_dataframes_spark.operators.dedup import build_lsh_index

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
    return build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag=tag,
        num_perm=16, bands=4, shingle_n=2,
    )

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


@query(oracle=_lsh_index_build_oracle(16, 4))
def _dedup_index_build(spark, sf_dir):
    """The write-once LSH corpus index as a first-class query: persist
    band keys (bucketed by the join key) and packed xxhash64 shingle
    sets (bucketed by doc) for the corpus slice (doc_id % 7 == 0),
    then return the index content — one row per (doc, band) with the
    portable md5 band key and the doc's shingle-set size. The oracle
    replays keys and sizes from the raw parquet; the hks arrays are
    engine-internal (xxhash64) and deliberately not exposed — their
    semantics are pinned by the probe query's Jaccard outputs.
    Build cost is one corpus scan + one signature shuffle + one
    pack shuffle, paid once per ingest wave."""
    from task_on_dataframes_spark.operators.index import read_committed

    keys, sets = read_committed(spark, *_ensure_lsh_index(spark, sf_dir))
    return keys.join(sets.select("did", "sz"), "did").select(
        F.col("did").alias("doc_id"), "band", "key", "sz"
    )

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


@query(oracle=_lsh_index_probe_oracle(16, 4, 0.5))
def _dedup_index_probe(spark, sf_dir):
    """Two ingest waves probed against the SAME persisted index —
    the reuse contract that makes incremental dedup incremental:
    wave 1 (doc_id % 7 == 1) and wave 2 (doc_id % 7 == 2) each
    shingle+sign only themselves, join the bucketed band-key table
    (no Exchange above the index scan), and verify against the stored
    packed sets. The corpus is never re-shingled, re-signed, or
    shuffled. Output = verified matches per batch doc, tagged by
    wave."""
    from task_on_dataframes_spark.operators.dedup import probe_lsh_index

    docs = _docs(spark, sf_dir)
    keys_t, sets_t = _ensure_lsh_index(spark, sf_dir)
    outs = []
    for wave in (1, 2):
        batch = docs.filter(F.col("doc_id") % 7 == wave)
        m = probe_lsh_index(
            spark, batch, "doc_id", "text", keys_t, sets_t,
            num_perm=16, bands=4, threshold=0.5, shingle_n=2,
        )
        outs.append(m.withColumn("wave", F.lit(wave)))
    return outs[0].unionByName(outs[1]).select(
        "wave", "doc_id", "n_matches", "max_jaccard"
    )

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


@query(oracle=_lsh_index_maintain_oracle(16, 4, 0.5))
def _dedup_index_maintain(spark, sf_dir):
    """The full index lifecycle in one query: build the
    persisted LSH index on the corpus slice (doc_id % 7 == 0), probe
    wave 1 (% 7 == 1) against it, APPEND wave 1's band keys and
    packed sets into the index (batch-sized work only — the existing
    index files are never read or rewritten), then probe wave 2
    (% 7 == 2) against the GROWN index. Phase 2's matches therefore
    include near-dups of wave-1 documents, which the build-once/
    probe-only queries can never see — the property that makes
    rolling 100 TB ingest dedup converge instead of only deduping
    against a frozen snapshot.

    Phase 1 is materialized (localCheckpoint) BEFORE the append so
    both phases are deterministic on re-execution of the returned
    frame; the index gets a fresh tag per invocation so repeated
    calls never double-append. Output:
    (phase, doc_id, n_matches, max_jaccard)."""
    import uuid

    from task_on_dataframes_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
        probe_lsh_index,
    )

    docs = _docs(spark, sf_dir)
    tag = "mnt_" + uuid.uuid4().hex[:8]
    corpus = docs.filter(F.col("doc_id") % 7 == 0)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag=tag,
        num_perm=16, bands=4, shingle_n=2,
    )
    wave1 = docs.filter(F.col("doc_id") % 7 == 1)
    m1 = probe_lsh_index(
        spark, wave1, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
    ).withColumn("phase", F.lit(1)).localCheckpoint()
    append_lsh_index(
        spark, wave1, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, shingle_n=2,
    )
    wave2 = docs.filter(F.col("doc_id") % 7 == 2)
    m2 = probe_lsh_index(
        spark, wave2, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
    ).withColumn("phase", F.lit(2))
    return m1.unionByName(m2).select(
        "phase", "doc_id", "n_matches", "max_jaccard"
    )

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


@query(oracle=_lsh_index_compact_oracle(16, 4, 0.5))
def _dedup_index_compact(spark, sf_dir):
    """Compaction as a first-class query: build the corpus
    index, append wave 1 (doc_id % 7 == 1) — leaving multi-file
    buckets — then COMPACT to one sorted file per bucket and probe
    wave 2 (% 7 == 2) against the compacted index. Results must be
    bit-identical to probing the uncompacted index (the oracle is the
    same grown-index replay as dedup_index_maintain's phase 2); what
    compaction buys is the LAYOUT — one sorted file per bucket again
    (bounded listing, one sort run per bucket, sequential scan IO)
    with the no-Exchange probe contract intact (pinned in
    tests/test_plan_shapes.py; the local Sort node itself stays —
    SPARK-28632 disabled bucketed-scan ordering claims since 3.0).
    Output: (doc_id, n_matches, max_jaccard)."""
    import uuid

    from task_on_dataframes_spark.operators.dedup import (
        append_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        probe_lsh_index,
    )

    docs = _docs(spark, sf_dir)
    tag = "cmp_" + uuid.uuid4().hex[:8]
    corpus = docs.filter(F.col("doc_id") % 7 == 0)
    keys_t, sets_t = build_lsh_index(
        spark, corpus, "doc_id", "text", name_tag=tag,
        num_perm=16, bands=4, shingle_n=2,
    )
    wave1 = docs.filter(F.col("doc_id") % 7 == 1)
    append_lsh_index(
        spark, wave1, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, shingle_n=2,
    )
    compact_lsh_index(spark, keys_t, sets_t)
    wave2 = docs.filter(F.col("doc_id") % 7 == 2)
    return probe_lsh_index(
        spark, wave2, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
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


@query(oracle=_incr_lsh_oracle(16, 4, 0.5))
def _dedup_incremental_lsh(spark, sf_dir):
    """Near-dup version of :func:`_dedup_cross_corpus`: the new batch
    (doc_id % 7 != 0) is LSH-probed against the existing corpus slice
    (doc_id % 7 == 0) and kept only if no corpus document verifies at
    Jaccard >= 0.5. Output = the batch docs that DID match (what an
    ingest pipeline drops), with match count and best similarity.

    PROBE-ONLY: the corpus index (bucketed band keys + packed shingle sets)
    is persisted once per session/sf_dir by :func:`_ensure_lsh_index`
    and every invocation signs only the batch — no corpus-scale
    aggregation or shuffle appears in this query's plan (asserted in
    tests/test_plan_shapes.py). Asymmetric by construction — no corpus
    self-join anywhere."""
    from task_on_dataframes_spark.operators.dedup import probe_lsh_index

    docs = _docs(spark, sf_dir)
    keys_t, sets_t = _ensure_lsh_index(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 7 != 0)
    return probe_lsh_index(
        spark, batch, "doc_id", "text", keys_t, sets_t,
        num_perm=16, bands=4, threshold=0.5, shingle_n=2,
    )

@query(oracle=(
    "SELECT user_id, date_trunc('day', ts) AS day, "
    "event_id, event_type "
    "FROM (SELECT *, row_number() OVER "
    "(PARTITION BY user_id, CAST(ts AS DATE) "
    "ORDER BY ts, event_id) AS rn FROM events) WHERE rn = 1"
))
def _dedup_daily_first(spark, sf_dir):
    """Keep the first event per (user, day): one window shuffle keyed
    by (user_id, date) — the retention-counting / sessionless-dedup
    primitive."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy(
        "user_id", F.to_date("ts").alias("d")
    ).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            # date_trunc (timestamp), not to_date: DATE columns collect
            # as python objects and break the comparator's dtype match
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_id",
            "event_type",
        )
    )

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


@query(oracle=_winnow_pairs_oracle(8, 4, 0.5, 50))
def _dedup_winnow(spark, sf_dir):
    from task_on_dataframes_spark.operators.dedup import winnow_pairs

    return winnow_pairs(
        _docs(spark, sf_dir), "doc_id", "text",
        shingle=8, window=4, threshold=0.5, max_df=50,
    )

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


@query(oracle=_levenshtein_oracle())
def _dedup_levenshtein(spark, sf_dir):
    """Edit-distance near-dup verification over minhash-LSH candidates
    (never all pairs) — `levenshtein` evaluates JVM-side in the join
    projection; the relative threshold is an integer cross-product
    test, exact on both engines."""
    from task_on_dataframes_spark.operators.dedup import levenshtein_pairs

    return levenshtein_pairs(_docs(spark, sf_dir), "doc_id", "text")


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


@query(oracle=_semantic_dedup_oracle_sql(k=32))
def _dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    prune within clusters only — the quadratic compare is confined to
    bounded clusters, so k (not an all-pairs join) is the scale knob
    and must GROW with the corpus to hold |cluster| ~ n/k constant
    (SemDeDup itself runs k ~ 50k at LAION scale; the SCALE.md sf1
    sweep measured k=8 going quadratic at 10x data — pair volume AND
    join parallelism are both bounded by k). k=32 here; the oracle
    replays clustering AND pruning exactly."""
    from task_on_dataframes_spark.operators.clustering import semantic_dedup

    return semantic_dedup(
        _embs(spark, sf_dir), k=32, iters=3, threshold=0.4
    )


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


@query(oracle=_bloom_decontaminate_oracle_sql())
def _decontaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination: the bounded-state variant of the
    exact-join `decontaminate` query. Benchmark (test-split) 5-grams
    compress to <= 65536 bit positions; train docs are flagged by k=3
    broadcast semi-joins on the bit table — corpus never shuffles, and
    the shipped state is capped regardless of benchmark size. False
    positives are deterministic (portable md5 hashes), so the oracle
    reproduces the flagged set bit for bit."""
    from task_on_dataframes_spark.operators.bloom import (
        bloom_probe_hits,
        build_bloom_bits,
    )
    from task_on_dataframes_spark.operators.dedup import _word_ngrams
    from task_on_dataframes_spark.operators.sampling import assign_split

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    labeled = assign_split(docs, "doc_id")
    grams = _word_ngrams(docs, "doc_id", "text", 5)
    test_ids = labeled.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("did")
    )
    train_ids = labeled.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("did")
    )
    bench_grams = grams.join(F.broadcast(test_ids), on="did").select("tok")
    bits = build_bloom_bits(bench_grams, "tok")
    train_grams = grams.join(train_ids, on="did", how="left_semi")
    hits = (
        bloom_probe_hits(train_grams, bits, "tok")
        .groupBy("did")
        .agg(F.count(F.lit(1)).alias("hit_grams"))
    )
    return (
        train_ids.join(hits, on="did", how="left")
        .select(
            "did",
            F.coalesce("hit_grams", F.lit(0)).alias("hit_grams"),
            (F.coalesce("hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(oracle=(
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
))
def _dedup_substring(spark, sf_dir):
    """Cross-document repeated 5-gram spans (Lee et al. substring-level
    dedup at word granularity): per-doc maximal duplicated spans and
    duplicated-token fraction. Gram inverted index — ONE
    xxhash64-digest-partitioned window shuffle (a groupBy +
    join-back form scans the corpus twice; SCALE.md measured it as a
    4.25x sweep tail), per-doc island windows, nothing all-pairs.
    Hot-gram skew routing activates above HOT_DETECT_MIN_BYTES — the
    detection sample pays a corpus scan, and below that size no gram
    can serialize a window partition."""
    from task_on_dataframes_spark.operators.dedup import repeated_gram_spans
    from task_on_dataframes_spark.registry.common import (
        HOT_DETECT_MIN_BYTES,
        _corpus_bytes,
    )

    docs = _docs(spark, sf_dir)
    big = _corpus_bytes(f"{sf_dir}/documents.parquet") >= HOT_DETECT_MIN_BYTES
    return repeated_gram_spans(docs, "doc_id", "text", k=5, detect_hot=big)


@query(oracle=(
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
))
def _text_containment(spark, sf_dir):
    """Asymmetric containment |A∩B|/|A| over the shared minhash-LSH
    candidate front end: the near-SUPERSET detector Jaccard misses
    (short boilerplate embedded in a long doc dilutes the union). Same
    banded candidate generation as every verified near-dup strategy;
    exact containment only on candidates."""
    from task_on_dataframes_spark.operators.dedup import (
        containment_verify,
        lsh_candidates,
    )

    docs = _docs(spark, sf_dir)
    candidates, toks = lsh_candidates(
        docs, "doc_id", "text", num_perm=16, bands=4, shingle_n=2
    )
    return containment_verify(candidates, toks, threshold=0.6)


@query(oracle=(
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
))
def _dedup_substring_rewrite(spark, sf_dir):
    """The rewrite step of substring-level dedup: duplicated 5-gram
    spans removed everywhere except the globally-first occurrence
    (portable scalar argmin over (doc, pos), count + argmin fused in
    one digest-partitioned window pass); tokens protected by any
    unique gram survive. Reassembly is a doc-level drop-set join with
    a scan-stage array filter — no second token explode. Returns only
    the documents that changed."""
    from task_on_dataframes_spark.operators.dedup import (
        repeated_gram_rewrite,
    )
    from task_on_dataframes_spark.registry.common import (
        HOT_DETECT_MIN_BYTES,
        _corpus_bytes,
    )

    docs = _docs(spark, sf_dir)
    big = _corpus_bytes(f"{sf_dir}/documents.parquet") >= HOT_DETECT_MIN_BYTES
    return repeated_gram_rewrite(docs, "doc_id", "text", k=5, detect_hot=big)


#: star-recall eval fixture — shared verbatim with the DuckDB oracle
#: renderer :func:`_star_recall_oracle`, so oracle SQL is parameterized
#: from the same constants the operator receives and cannot drift
STAR_RECALL_CAPS = (8, 16, 64)
#: bandings measured by the recall eval: the
#: banding S-curve is the CAP-INDEPENDENT recall residual (3/166
#: template docs at (20, 5)), so the recall/cost trade across
#: (num_perm, bands) is a contract-visible dial, not a doc footnote.
#: (16, 4) is the word-path contract, (20, 5) the measured char-path
#: contract (CHAR_LSH_NUM_PERM/BANDS), (24, 6) the next rung up —
#: all at rows-per-band 4, so only the number of detection chances
#: moves, exactly the S-curve axis being measured.
STAR_RECALL_BANDINGS = ((16, 4), (20, 5), (24, 6))
STAR_RECALL_BOILER = (
    "this document is provided under the standard terms of service "
    "please review the acceptable use policy before continuing "
    "all rights reserved by the publisher of record unauthorized "
    "redistribution of this material in any form is prohibited the "
    "information contained herein is supplied without warranty of any "
    "kind and is subject to change without notice contact the "
    "publisher for licensing inquiries"
)
#: tail length = TAIL_BASE + (doc_id % 5) * TAIL_STEP characters of the
#: real document text appended after the boilerplate
STAR_RECALL_TAIL = (60, 120)
#: deterministic constant eval slice (doc_id % 3 == 0 below this id):
#: the quadratic exact ground truth stays <= ~170 docs at every SF,
#: the dedup_embedding_cosine precedent
STAR_RECALL_SLICE = 600


def _star_recall_oracle() -> str:
    """Oracle for ``dedup_star_recall_eval``: replays both strata
    (template-saturated and natural) of the constant eval slice, the
    exact sampled-universe Jaccard ground truth, and — per banding in
    ``STAR_RECALL_BANDINGS`` — the uncapped banded LSH ceiling and
    the star-capped pair sets for every cap, all parameterized from
    the SAME constants the Spark query uses (``STAR_RECALL_*`` /
    operators.dedup.CHAR_SAMPLE_MOD), so fixture and oracle cannot
    drift. The exact ground truth is banding-independent and shared
    by every banding's rows, mirroring the Spark plan."""
    from task_on_dataframes_spark.operators.dedup import CHAR_SAMPLE_MOD
    from task_on_dataframes_spark.operators.hashing import (
        hash32_sql,
        perm_hash_sql,
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


@query(oracle=_star_recall_oracle())
def _dedup_star_recall_eval(spark, sf_dir):
    """Measured recall contract of the star-capped char-shingle LSH
    front end (a recall-trading scale guard needs a measured recall):
    star-capped verified pairs vs (a) the exact
    sampled-universe Jaccard >= 0.5 pair set and (b) the UNCAPPED
    banded-LSH verified pair set, per ``star_bucket_cap`` in
    {8, 16, 64}, on two strata of a deterministic constant slice:

    * ``template`` — every doc is boilerplate + a doc_id-varying tail
      of its real text: the template-saturated worst case where one
      mega-bucket holds mutually-near-dup docs, so any capped
      candidate scheme drops verified pairs. recall_vs_lsh isolates
      exactly that loss (recall_vs_exact also folds in the banding
      S-curve).
    * ``natural`` — the same docs untemplated: real small-SF buckets
      stay under the cap, pinning that the star path only diverges
      from all-pairs where mega-buckets actually form.

    Both ground truths are slice-confined (<= ~170 docs — constant at
    every SF), so the all-pairs gram join can never go corpus-quadratic;
    the system under test reuses the exact production operators
    (:func:`_char_ngrams` -> :func:`minhash_signatures` ->
    :func:`lsh_band_keys` -> the :func:`star_candidates` rank logic ->
    :func:`jaccard_verify`).

    The eval ALSO reports the metric keep-one consumers ride:
    per-DOC marking recall — a doc is
    near-dup-marked when some verified pair (a, b=doc) survives the
    cap, so n_docs_star(cap) counts docs whose smallest admitting cap
    is <= cap, against the exact (n_docs_exact) and uncapped-LSH
    (n_docs_lsh) marked-doc sets. Output: (stratum, star_bucket_cap,
    n_exact, n_lsh, n_star, recall_vs_exact, recall_vs_lsh,
    n_docs_exact, n_docs_lsh, n_docs_star, doc_recall_vs_exact,
    doc_recall_vs_lsh).

    Plan shape: under the multi-pivot star the candidate sets are
    NESTED in the cap, and a pair's smallest admitting cap IS
    rank(a) in its most-favorable shared bucket (star_candidates
    docstring), so ONE Jaccard verification of the exact ground truth
    plus a per-pair min(rank_a) annotation yields every per-cap pair
    count as a conditional sum and every per-cap doc count from one
    groupBy(b) of the same frame: one verification tree instead of
    five (the naive form measured 570 plan-text exchanges, 13x the
    next biggest plan in the audit)."""
    from task_on_dataframes_spark.operators.dedup import (
        _char_ngrams,
        jaccard_verify,
        lsh_band_keys,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    base = docs.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < STAR_RECALL_SLICE)
    )
    tb, ts = STAR_RECALL_TAIL
    tail = F.expr(f"substring(text, 1, {tb} + (doc_id % 5) * {ts})")
    strata = [
        (
            "template",
            base.select(
                "doc_id",
                F.concat(
                    F.lit(STAR_RECALL_BOILER), F.lit(" "), tail
                ).alias("text"),
            ),
        ),
        ("natural", base.select("doc_id", "text")),
    ]
    outs = []
    for stratum, sdocs in strata:
        toks = _char_ngrams(sdocs, "doc_id", "text", 5).persist()
        # exact ground truth: every slice pair sharing >= 1 sampled
        # gram (J >= 0.5 implies a shared gram), verified exactly —
        # the ONE verification; every other set derives from it.
        # Banding-independent, so it is computed once per stratum and
        # shared by every (num_perm, bands) row.
        pa = toks.select(F.col("did").alias("a"), "tok")
        pb = toks.select(F.col("did").alias("b"), "tok")
        shared = (
            pa.join(pb, "tok")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        exact = (
            jaccard_verify(shared, toks, 0.5)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        # ONE signature aggregation per stratum at the widest banding's
        # perm count: every banding draws from the same hash family, so
        # (16,4)/(20,5) band keys are prefix slices of the 24-perm
        # signature frame — 3x fewer corpus-slice aggregations than
        # signing per banding (lsh_band_keys only reads mh0..mh{np-1})
        max_np = max(np_ for np_, _ in STAR_RECALL_BANDINGS)
        sigs = minhash_signatures(toks, max_np).persist()
        for np_, nb in STAR_RECALL_BANDINGS:
            outs.append(
                _star_recall_banding_rows(
                    stratum, sigs, exact, np_, nb
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _star_recall_banding_rows(stratum, sigs, exact, num_perm, bands):
    """One banding's rows of the star recall eval: slice ``sigs`` (a
    shared >=num_perm-wide signature frame) into this banding's band
    keys, annotate each exact pair with its smallest admitting star
    cap, and emit a (stratum, num_perm, bands, cap) row per cap in
    :data:`STAR_RECALL_CAPS` from one aggregation tree."""
    from task_on_dataframes_spark.operators.dedup import lsh_band_keys

    keys = lsh_band_keys(sigs, num_perm, bands).persist()
    # bucket co-membership of each exact pair: verified uncapped
    # LSH pairs = exact pairs sharing >= 1 bucket (a signature
    # collision with J < 0.5 never verifies), and the pair's
    # min_req = min over shared buckets of rank(a) — under the
    # multi-pivot star a pair is admitted at cap iff a is among
    # the cap smallest ids of a shared bucket, so rank(a) IS the
    # smallest admitting cap (star_candidates docstring)
    wrk = Window.partitionBy("band", "key").orderBy("did")
    kk = keys.withColumn("rk", F.row_number().over(wrk))
    ka = kk.select(F.col("did").alias("a"), "band", "key", "rk")
    kb = keys.select(F.col("did").alias("b"), "band", "key")
    lsh = (
        exact.join(ka, on="a")
        .join(kb, on=["b", "band", "key"])
        .groupBy("a", "b")
        .agg(F.min("rk").alias("min_req"))
    )
    counts = lsh.agg(
        F.count(F.lit(1)).alias("n_lsh"),
        # coalesce: SUM over an empty relation is NULL, but the
        # oracle's count(*) is 0 — a sparse natural stratum with
        # no banded pair must emit 0 like the oracle
        *[
            F.coalesce(
                F.sum((F.col("min_req") <= cap).cast("long")), F.lit(0)
            ).alias(f"ns{cap}")
            for cap in STAR_RECALL_CAPS
        ],
    )
    # DOC-level marking recall (the metric the
    # keep-one pipelines actually consume — a doc is marked
    # near-dup when some verified smaller-id pair (a, b=doc)
    # survives the cap). Per doc b, the smallest admitting cap is
    # min over its pairs of min_req; conditional counts give every
    # per-cap marked-doc total from one grouped frame.
    docm = lsh.groupBy("b").agg(F.min("min_req").alias("doc_req"))
    doc_counts = docm.agg(
        F.count(F.lit(1)).alias("n_docs_lsh"),
        *[
            F.coalesce(
                F.sum((F.col("doc_req") <= cap).cast("long")), F.lit(0)
            ).alias(f"nd{cap}")
            for cap in STAR_RECALL_CAPS
        ],
    )
    n_ex = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count_distinct(F.col("b")).alias("n_docs_exact"),
    )
    both = n_ex.join(counts).join(doc_counts)
    # one row per cap via explode of the tier structs — a per-cap
    # select would embed the whole tree once per output row (the
    # 180-exchange intermediate shape of this plan)
    tiers = F.array(
        *[
            F.struct(
                F.lit(cap).alias("cap"),
                F.col(f"ns{cap}").alias("ns"),
                F.col(f"nd{cap}").alias("nd"),
            )
            for cap in STAR_RECALL_CAPS
        ]
    )
    return (
        both.select(
            "n_exact",
            "n_lsh",
            "n_docs_exact",
            "n_docs_lsh",
            F.explode(tiers).alias("t"),
        ).select(
            F.lit(stratum).alias("stratum"),
            F.lit(num_perm).alias("num_perm"),
            F.lit(bands).alias("bands"),
            F.col("t.cap").alias("star_bucket_cap"),
            "n_exact",
            "n_lsh",
            F.col("t.ns").alias("n_star"),
            F.when(
                F.col("n_exact") > 0,
                F.round(F.col("t.ns") / F.col("n_exact"), 6),
            ).alias("recall_vs_exact"),
            F.when(
                F.col("n_lsh") > 0,
                F.round(F.col("t.ns") / F.col("n_lsh"), 6),
            ).alias("recall_vs_lsh"),
            "n_docs_exact",
            "n_docs_lsh",
            F.col("t.nd").alias("n_docs_star"),
            F.when(
                F.col("n_docs_exact") > 0,
                F.round(F.col("t.nd") / F.col("n_docs_exact"), 6),
            ).alias("doc_recall_vs_exact"),
            F.when(
                F.col("n_docs_lsh") > 0,
                F.round(F.col("t.nd") / F.col("n_docs_lsh"), 6),
            ).alias("doc_recall_vs_lsh"),
        )
    )


@query(oracle=(
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
))
def _dedup_recall_eval(spark, sf_dir):
    """Candidate recall of the minhash-LSH front end vs the exact
    Jaccard>=0.5 pair set, measured on a DETERMINISTIC 1-in-3 eval slice
    (doc_id % 3 == 0) — the tuning loop for (num_perm, bands),
    mirroring ann_recall_eval's methodology. The LSH front end still
    runs on the FULL corpus (it is the system under test); only the
    exact ground truth is slice-confined, with the same max_df=50
    shingle-frequency cut as ngram_jaccard_pairs so its pair join
    stays sub-quadratic (a Jaccard>=0.5 pair whose every shared
    bigram is ubiquitous is the only miss — the standard trade). The
    original unsampled form went all-pairs on common bigrams: the
    SCALE.md sf1 sweep measured 107s at sf0.1 and a JVM death at sf1.
    Output: one row (n_exact, n_candidates, n_hit, recall), counts
    confined to slice pairs."""
    from task_on_dataframes_spark.operators.dedup import (
        _word_ngrams,
        jaccard_verify,
        lsh_candidates,
    )

    docs = _docs(spark, sf_dir)
    eval_docs = docs.filter(F.col("doc_id") % 3 == 0)
    grams = _word_ngrams(eval_docs, "doc_id", "text", 2).persist()
    rare = (
        grams.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .select("tok")
    )
    fg = grams.join(rare, "tok", "left_semi")
    pa = fg.select(F.col("did").alias("a"), "tok")
    pb = fg.select(F.col("did").alias("b"), "tok")
    shared = (
        pa.join(pb, "tok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    exact = jaccard_verify(shared, grams, threshold=0.5).select("a", "b")
    cand_all, _ = lsh_candidates(
        docs, "doc_id", "text", num_perm=16, bands=4, shingle_n=2
    )
    cand = cand_all.filter(
        (F.col("a") % 3 == 0) & (F.col("b") % 3 == 0)
    )
    # ONE aggregation tree (the star eval's one-tree trick): a
    # full-outer pair join tags each (a, b) as exact and/or candidate,
    # and all three counts fall out as conditional sums — a
    # three-subquery cross join would embed the exact and candidate
    # subtrees twice each (77 plan-text exchanges)
    tagged = exact.withColumn("__e", F.lit(1)).join(
        cand.withColumn("__c", F.lit(1)), on=["a", "b"], how="full_outer"
    )
    return tagged.agg(
        F.coalesce(F.sum("__e"), F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_candidates"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__e").isNotNull() & F.col("__c").isNotNull(), 1
                )
            ),
            F.lit(0),
        ).alias("n_hit"),
    ).select(
        "n_exact",
        "n_candidates",
        "n_hit",
        # NULL (not a crash) when the eval slice has no exact pair
        F.when(
            F.col("n_exact") > 0,
            F.round(F.col("n_hit") / F.col("n_exact"), 6),
        ).alias("recall"),
    )
