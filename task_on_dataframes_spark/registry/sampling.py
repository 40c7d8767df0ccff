"""Sampling, sharding, and skew-mitigation queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from task_on_dataframes_spark.operators.hashing import hash32_sql

from .common import _docs, _embs, _t, query


@query(oracle=(
    "WITH b AS (SELECT CAST(('0x' || substr(md5(CAST(('split:' || CAST(doc_id AS VARCHAR)) AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket FROM documents) "
    "SELECT CASE WHEN bucket < 900 THEN 'train' WHEN bucket < 950 THEN 'val' WHEN bucket < 1000 THEN 'test' ELSE 'holdout' END AS split, "
    "count(*) AS n FROM b GROUP BY 1"
))
def _sample_split(spark, sf_dir):
    """Deterministic train/val/test split counts: hash-bucket labeling
    so the split is reproducible across runs, engines, partitionings."""
    from task_on_dataframes_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        assign_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query(oracle=(
    "WITH b AS (SELECT lang, "
    "CAST(('0x' || substr(md5(CAST(('strat:' || CAST(doc_id AS VARCHAR)) "
    "AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket FROM documents) "
    "SELECT lang, count(*) AS n_kept FROM b "
    "WHERE bucket < (CASE WHEN lang = 'en' THEN 200 ELSE 1000 END) "
    "GROUP BY lang"
))
def _sample_stratified(spark, sf_dir):
    """Language-rebalancing sample: keep 20% of English, all of the
    rest — summarized as kept-count per language (a deterministic
    function of doc_id, so the oracle reproduces it exactly)."""
    from task_on_dataframes_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, "doc_id", "lang", {"en": 0.2}, default_fraction=1.0
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))

@query(oracle=(
    "WITH w AS (SELECT doc_id, lang, "
    "least(1000, 5 * len(string_split_regex(lower(text), '\\s+'))) "
    "AS weight_pm, "
    "CAST(('0x' || substr(md5(CAST(('wsamp:' || CAST(doc_id AS VARCHAR)) "
    "AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket FROM documents) "
    "SELECT doc_id, lang, weight_pm FROM w WHERE bucket < weight_pm"
))
def _sample_weighted(spark, sf_dir):
    """Quality-weighted importance resampling (the corpus-mixing move
    in DCLM/FineWeb-style pipelines): weight_pm = min(1000, 5 *
    n_tokens), so documents of >=200 tokens always survive and shorter
    ones survive with proportionally lower probability. The keep
    decision is a pure function of doc_id, so the oracle replays the
    exact sample; zero shuffle — one hash compare in the scan stage."""
    from task_on_dataframes_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    weighted = docs.withColumn(
        "weight_pm",
        F.least(F.lit(1000), F.lit(5) * n_tokens).cast("bigint"),
    )
    kept = weighted_sample(weighted, "doc_id", F.col("weight_pm"))
    return kept.select("doc_id", "lang", "weight_pm")

@query(oracle=(
    "SELECT CAST(('0x' || substr(md5('shard:' "
    "|| CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard, "
    "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY 1"
))
def _shard_assign(spark, sf_dir):
    """Deterministic balanced shard assignment for training-data
    export: shard = portable_hash(doc_id) % 16. Zero shuffle on the
    corpus (the hash is a scan-stage projection); only the 16-row
    summary aggregates. Same stable-hash discipline as sampling — a
    retry or a different cluster produces identical shards."""
    from task_on_dataframes_spark.operators.hashing import hash32

    docs = _t(spark, sf_dir, "documents")
    shard = F.pmod(
        hash32(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
        F.lit(16),
    )
    return (
        docs.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )

@query(oracle=(
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
))
def _mix_token_budget(spark, sf_dir):
    """Per-source token-budget curation (the domain-cap move when a
    corpus over-represents one crawl/source): rank documents longest-
    first within each source and keep the greedy prefix whose running
    token total stays under a fixed per-source budget; report the
    kept/dropped funnel per source.

    The running total uses :func:`grouped_prefix_sum` — the per-key
    distributed prefix sum — NOT ``Window.partitionBy(source)``: a
    corpus-scale source (the whole point of capping) would otherwise
    sort through a single task. Order is (n_tokens DESC, doc_id), all
    integers, so the greedy cut is bit-identical across engines."""
    from task_on_dataframes_spark.operators.text import grouped_prefix_sum

    budget = 600
    docs = _docs(spark, sf_dir)
    base = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    started = grouped_prefix_sum(
        base,
        "source",
        [F.col("n_tokens").desc(), F.col("doc_id").asc()],
        "n_tokens",
    )
    kept = F.col("start_offset") < budget
    return (
        started.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_kept"),
        )
    )

@query(oracle=(
    "SELECT doc_id, lang FROM (SELECT doc_id, lang, "
    "CAST(('0x' || substr(md5('bk:' || CAST(doc_id AS VARCHAR)), "
    "1, 8)) AS BIGINT) AS h FROM documents "
    "ORDER BY h, doc_id LIMIT 100)"
))
def _sample_bottomk(spark, sf_dir):
    """Exact-size uniform sample without a global sort: bottom-k by
    the portable stable hash (TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver). The distributed
    alternative to reservoir sampling, and reproducible across
    retries/engines because the hash, not RNG state, picks rows."""
    from task_on_dataframes_spark.operators.hashing import hash32

    docs = _t(spark, sf_dir, "documents")
    h = hash32(F.concat(F.lit("bk:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(100)
        .select("doc_id", "lang")
    )

@query(oracle=(
    "WITH s AS (SELECT lang, doc_id, "
    "round(least(len(string_split_regex(lower(text), '\\s+')) / 100.0, "
    "1.0), 6) AS score FROM documents), "
    "r AS (SELECT lang, doc_id, score, row_number() OVER "
    "(PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS rn FROM s) "
    "SELECT lang, doc_id, score, CAST(rn AS INTEGER) AS rn "
    "FROM r WHERE rn <= 3"
))
def _sample_topk_per_stratum(spark, sf_dir):
    """Corpus curation: keep the top-3 documents per language by the
    length-quality score (desc, doc_id tiebreak) — per-group top-k via
    a keyed window; WindowGroupLimit pushes the rank cut below the
    sort, so each group keeps 3 rows per partition before any shuffle."""
    docs = _t(spark, sf_dir, "documents")
    score = F.round(
        F.least(
            F.size(F.split(F.lower(F.col("text")), r"\s+")) / F.lit(100.0),
            F.lit(1.0),
        ),
        6,
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        docs.select("lang", "doc_id", score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )

# the skew-shape plans must give the PLAIN answer — the oracle
# is the unsalted formulation
@query(oracle=(
    "SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct "
    "FROM lineitem GROUP BY l_returnflag"
))
def _skew_distinct_2phase(spark, sf_dir):
    """Hot-key-safe COUNT(DISTINCT): phase 1 groups on (key, value) so
    the value spreads the hot key across reducers; phase 2 counts pairs
    per key. Same answer as a plain distinct-agg, skew-proof shape."""
    from task_on_dataframes_spark.operators.skew import distinct_count_2phase

    li = _t(spark, sf_dir, "lineitem")
    return distinct_count_2phase(
        li, ["l_returnflag"], "l_partkey", out="n_distinct"
    )

@query(oracle=(
    "SELECT l_returnflag, "
    "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) "
    "AS sum_qty, count(*) AS n "
    "FROM lineitem GROUP BY l_returnflag"
))
def _skew_salted_agg(spark, sf_dir):
    """Salted two-phase aggregation over a 3-value (maximally skewed)
    key — content-derived salts, decimal-exact sums, answer identical
    to the plain aggregate."""
    from task_on_dataframes_spark.operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    return salted_agg(
        li,
        ["l_returnflag"],
        exprs_partial=[
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("__s"),
            F.count(F.lit(1)).alias("__c"),
        ],
        exprs_final=[
            F.round(F.sum("__s"), 2).cast("double").alias("sum_qty"),
            F.sum("__c").alias("n"),
        ],
        n_salt=8,
    )

@query(oracle=(
    "SELECT c_mktsegment, count(*) AS n FROM orders "
    "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"
))
def _skew_salted_join(spark, sf_dir):
    """Salted skew join (the stream-static / AQE-unavailable shape):
    orders salted on content hash, customer replicated per salt; the
    grouped result is identical to the plain join."""
    from task_on_dataframes_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, on=["o_custkey"], n_salt=8)
    return joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


@query(oracle=(
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
))
def _sample_negatives(spark, sf_dir):
    """Deterministic contrastive negative sampling: for every anchor
    document, k=3 pseudo-random negatives drawn by portable md5 hash
    mod corpus size (doc_id is a dense 0..N-1 surrogate), self-hits
    bumped to the next id. The negatives join back to the corpus on
    doc_id to prove they exist and to carry features — a keyed
    shuffle of a k*N pair table, no collect, no global sort."""
    from task_on_dataframes_spark.operators.hashing import hash32

    docs = _t(spark, sf_dir, "documents")
    n_total = docs.count()  # scalar; bounded work at any corpus size
    k = 3
    cand = docs.select("doc_id").withColumn(
        "neg_rank", F.explode(F.array(*[F.lit(i) for i in range(k)]))
    )
    raw = F.pmod(
        hash32(
            F.concat(
                F.lit("neg:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("neg_rank").cast("string"),
            )
        ),
        F.lit(n_total),
    )
    neg_id = F.when(
        raw == F.col("doc_id"), F.pmod(raw + 1, F.lit(n_total))
    ).otherwise(raw)
    pairs = cand.select(
        F.col("doc_id").alias("anchor_id"),
        "neg_rank",
        neg_id.alias("neg_id"),
    )
    targets = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("n_chars").alias("neg_chars")
    )
    return pairs.join(targets, "neg_id").select(
        "anchor_id", "neg_rank", "neg_id", "neg_chars"
    )


@query(oracle=(
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
))
def _mix_domains(spark, sf_dir):
    """Token-budget domain mixing audit: uniform per-source share of a
    50% corpus-size budget, integer per-mille rates, stable-hash keep
    decisions. One scan-stage agg + one broadcast-back + one keyed agg."""
    from task_on_dataframes_spark.operators.sampling import domain_mix

    return domain_mix(
        _docs(spark, sf_dir), "doc_id", "source", "n_chars", budget_pm=500
    )


# per-term p^alpha rounds to 12 decimals before the normalizing
# sum (ln-term replay discipline); everything runs over one row
# per source
@query(oracle=(
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
))
def _mix_temperature(spark, sf_dir):
    """Temperature-scaled domain sampling weights (the multilingual
    mixing rule of Arivazhagan et al. 2019 / used for pretraining
    corpus mixes): per-source token mass p_i, reweighted w_i ∝ p_i^α
    with α = 0.3 and normalized. The corpus collapses to one row per
    source in a single map-side-combinable aggregate; the pow/normalize
    runs over that ≤|sources|-row table (window over 5 rows). Per-term
    p^α rounds to 12 decimals before the normalizing sum (the ln-term
    replay discipline) so DuckDB reproduces the weights exactly."""
    docs = _docs(spark, sf_dir)
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(F.split(F.lower(F.col("text")), r"\s+")).cast("long")
        ).alias("tokens"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = F.col("tokens") / F.sum("tokens").over(tot)
    pa = F.round(F.pow(p, F.lit(0.3)), 12)
    scored = per.select(
        "source",
        "n_docs",
        "tokens",
        F.round(p, 6).alias("p_raw"),
        pa.alias("pa"),
    )
    return scored.select(
        "source",
        "n_docs",
        "tokens",
        "p_raw",
        F.round(F.col("pa") / F.sum("pa").over(tot), 6).alias("w_temp"),
    )


@query(oracle=(
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
))
def _sample_interleave(spark, sf_dir):
    """Deterministic round-robin epoch order over sources: per-domain
    hash ranking + interleave, pruned per-domain before the final
    top-k — a stratified global training order with no global sort."""
    from task_on_dataframes_spark.operators.sampling import interleave_order

    return interleave_order(
        _docs(spark, sf_dir), "doc_id", "source", limit=100
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


@query(oracle=_kcenter_oracle_sql())
def _sample_kcenter(spark, sf_dir):
    """Greedy k-center diversity selection (k=8): farthest-point
    coreset over the embedding table — k scan-stage passes, one
    map-side argmax reduce each, centers broadcast back. The oracle
    replays the identical chain (squared-L2 rounded 5, smallest-id
    ties)."""
    from task_on_dataframes_spark.operators.sampling import kcenter_select

    return kcenter_select(_embs(spark, sf_dir), k=8)


@query(oracle=(
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
))
def _export_training_shards(spark, sf_dir):
    """End-to-end training-data export capstone: quality-gate (>= 20
    tokens) -> exact-dedup keep-lowest-id -> deterministic hash shards
    -> WRITE sharded JSONL + a manifest -> read the JSONL back and
    summarize per shard. The summary comes from the READBACK, so the
    query proves the export round-trips losslessly (schema, row counts,
    token counts); the oracle computes the same summary straight from
    the documents table — any writer/reader corruption diverges. Scale
    shape: gate + shard are scan-stage, dedup is one digest-keyed
    groupBy + one semi-join, the JSONL write partitions by shard (8
    files per output at test SF; real exports raise shard counts, same
    plan). The manifest write mirrors s17's incremental-read contract."""
    import json
    import os
    import tempfile

    from task_on_dataframes_spark.operators.dedup import normalized_text
    from task_on_dataframes_spark.operators.hashing import hash32

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    arr = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    gated = docs.withColumn("n_tokens", F.size(arr)).filter(
        F.col("n_tokens") >= 20
    )
    reps = (
        gated.groupBy(F.md5(normalized_text(F.col("text"))).alias("dg"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = gated.join(reps, "doc_id", "left_semi").withColumn(
        "shard",
        F.pmod(
            hash32(F.concat(F.lit("export:"), F.col("doc_id").cast("string"))),
            F.lit(8),
        ),
    )
    base = tempfile.mkdtemp(prefix="tada_export_")
    out = base + "/shards"
    kept.write.partitionBy("shard").mode("overwrite").json(out)
    # manifest: one line per shard dir with its file list — the
    # handoff contract a downstream trainer consumes
    manifest = {
        d: sorted(
            f for f in os.listdir(os.path.join(out, d))
            if f.endswith(".json")
        )
        for d in os.listdir(out)
        if d.startswith("shard=")
    }
    with open(base + "/MANIFEST.json", "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    back = spark.read.json(out)
    # partition discovery types the shard dir as int; normalize to the
    # oracle's bigint
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
