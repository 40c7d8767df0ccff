"""Data-quality audit, bucketed-join, windowed top-k, and token-entropy
queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from task_on_dataframes_spark.operators.hashing import (
    hash32_sql,
    perm_hash_sql,
)
from task_on_dataframes_spark.operators.probe import (
    grouped_probe_oracle_sql,
    linear_probe_oracle_sql,
    probe_apply_oracle_sql,
)

from ..sources import catalog
from .common import _docs, _events, _t, query


@query(oracle=(
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
))
def _quality_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic between two
    corpus slices (even vs odd doc_id — the stand-in for crawl
    snapshot A vs B): max absolute CDF gap over the token-count
    distribution, the standard "did the new crawl shift quality?"
    gate. Token counts bin integer-exactly (capped at 99), each slice
    collapses to <= 100 (bin, count) rows in one keyed aggregate, and
    the CDF window runs over those 100 bins — corpus-size-independent.
    Output: one row (ks_stat, n_a, n_b)."""
    docs = _docs(spark, sf_dir)
    n_tokens = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    b = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.least(F.lit(99), n_tokens).alias("bin"),
    )
    cells = b.groupBy("bin").agg(
        F.sum(F.col("is_a").cast("long")).alias("ca"),
        F.sum((~F.col("is_a")).cast("long")).alias("cb"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = cells.select(
        (
            F.sum("ca").over(w).cast("double") / F.sum("ca").over(tot)
            - F.sum("cb").over(w).cast("double") / F.sum("cb").over(tot)
        ).alias("gap"),
        F.sum("ca").over(tot).alias("n_a"),
        F.sum("cb").over(tot).alias("n_b"),
    )
    return cdf.groupBy("n_a", "n_b").agg(
        F.round(F.max(F.abs(F.col("gap"))), 6).alias("ks_stat")
    ).select("ks_stat", "n_a", "n_b")


# add-one-smoothed 10-bin PSI; per-bin ln terms round to 12
# decimals before the final sum (text_bigram_lm discipline)
@query(oracle=(
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
))
def _quality_psi_drift(spark, sf_dir):
    """Population Stability Index between two corpus slices (even vs
    odd doc_id — crawl snapshot A vs B), the standard companion gate to
    the KS statistic (``_quality_ks_drift``): bin the token-count
    distribution into 10 fixed deciles, add-one smooth each cell so
    empty bins need no epsilon hack, and sum ``(p-q) * ln(p/q)``.
    Like KS, the corpus collapses to <= 10 (bin, count_a, count_b)
    rows in ONE keyed aggregate — corpus-size-independent from there,
    so at 100 TB this is a single scan plus a 10-row reduction. The
    per-bin ln terms round to 12 decimals before the final sum
    (the ``text_bigram_lm`` replay discipline) so DuckDB reproduces
    the value exactly."""
    docs = _docs(spark, sf_dir)
    n_tokens = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    n_bins = 10
    b = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        (F.least(F.lit(99), n_tokens) / 10).cast("int").alias("bin"),
    )
    cells = b.groupBy("bin").agg(
        F.sum(F.col("is_a").cast("long")).alias("ca"),
        F.sum((~F.col("is_a")).cast("long")).alias("cb"),
    )
    # densify to all 10 bins so A-only / B-only bins still contribute
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    full = bins.join(cells, "bin", "left").select(
        "bin",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = (F.col("ca") + 1) / (F.sum("ca").over(tot) + n_bins)
    q = (F.col("cb") + 1) / (F.sum("cb").over(tot) + n_bins)
    terms = full.select(
        F.round((p - q) * F.log(p / q), 12).alias("term"),
        F.sum("ca").over(tot).alias("n_a"),
        F.sum("cb").over(tot).alias("n_b"),
    )
    return terms.groupBy("n_a", "n_b").agg(
        F.round(F.sum("term"), 6).alias("psi")
    ).select("psi", "n_a", "n_b")


# Gopher quality-table gate: every measure and flag replays from
# the same token array the Spark scan computes; flags compare on
# RAW integer/integer divisions (bit-identical IEEE), only the
# emitted measures round
@query(oracle=(
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
))
def _quality_gopher_gate(spark, sf_dir):
    """Gopher-style document-quality gate over the documents table:
    word-count / mean-word-length / alpha-fraction / required-stopword
    / top-token / dup-bigram rules, one boolean per rule plus the
    conjunction verdict. Pure scan-stage array arithmetic — at 100 TB
    this fuses into the parquet scan with zero shuffle (see
    ``operators/textstats.py:gopher_quality_gate``)."""
    from task_on_dataframes_spark.operators.textstats import (
        gopher_quality_gate,
    )

    return gopher_quality_gate(_docs(spark, sf_dir), "doc_id", "text")


@query(oracle=(
    "SELECT o_orderstatus, count(*) AS n, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    "), 2) AS DOUBLE) AS revenue "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "GROUP BY o_orderstatus"
))
def _s13_bucketed_join(spark, sf_dir):
    """Bucketed co-located join: write orders and lineitem as tables
    bucketed by the join key (8 buckets), then join WITHOUT a shuffle —
    the plan has no Exchange above either scan (asserted in
    tests/test_plan_shapes.py). At 100 TB this is the difference
    between re-shuffling 6 B rows per join and reading pre-placed
    buckets: bucket layout is written once, every subsequent join on
    the key is shuffle-free. The oracle computes the same aggregate
    from the raw parquet."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    import hashlib

    from task_on_dataframes_spark.operators import index

    # the bucket layout is written ONCE per session and reused by every
    # later invocation (bench reruns, correctness sweeps) — that is the
    # operational contract of bucketing: pay the layout once, join
    # shuffle-free forever after. Table names carry the sf_dir hash so
    # a session touching two SF dirs never reads a stale layout.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_orders = f"tada_bkt_orders_{tag}"
    t_lineitem = f"tada_bkt_lineitem_{tag}"
    if not index.committed(spark, t_orders):
        index.build_tables(
            [(t_orders, orders, "o_orderkey"), (t_lineitem, li, "l_orderkey")],
            8,
        )
    o, l = index.read_committed(spark, t_orders, t_lineitem)
    # hint the merge join: at test SF the orders side is broadcast-small,
    # which would hide the bucketing; at production scale SMJ-over-buckets
    # (zero Exchange) is exactly the plan we want to lock in
    return (
        o.hint("merge")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (
                        F.lit(1).cast("decimal(18,2)")
                        - F.col("l_discount").cast("decimal(18,2)")
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@query(oracle=(
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
))
def _dq_rules(spark, sf_dir):
    """Data-quality rule audit: one conditional-aggregation pass per
    table (every per-row rule is a ``sum(case ...)`` inside a single
    scan — rules never multiply scans), plus one keyed anti-join for
    referential integrity and one groupBy for PK uniqueness. Output is
    a tiny (rule, violation count) table.

    Scale: rule evaluation is map-side only; the orphan check is the
    only shuffle (lineitem keyed once on l_orderkey); the PK check
    aggregates orders once on its key. No collects, no row-at-a-time
    Python."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")

    li_rules = li.agg(
        F.sum(
            (F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0))
            .cast("long")
        ).alias("lineitem_nonpositive_qty"),
        F.sum(
            (~F.col("l_discount").between(0.0, 1.0)).cast("long")
        ).alias("lineitem_discount_range"),
        F.sum(
            (F.col("l_tax") < 0).cast("long")
        ).alias("lineitem_negative_tax"),
        F.sum(
            F.col("l_shipdate").isNull().cast("long")
        ).alias("lineitem_null_shipdate"),
    )
    ord_rules = orders.agg(
        F.sum(
            (F.col("o_totalprice") <= 0).cast("long")
        ).alias("orders_nonpositive_total"),
        F.sum(
            F.col("o_orderdate").isNull().cast("long")
        ).alias("orders_null_date"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("lineitem_orphan_orderkey").alias("rule"), "v")
    )
    dup_pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("orders_duplicate_pk").alias("rule"), "v")
    )

    def _unpivot(df: DataFrame) -> DataFrame:
        cols = df.columns
        pairs = []
        for c in cols:
            pairs.extend([F.lit(c), F.col(c)])
        return df.select(
            F.explode(F.create_map(*pairs)).alias("rule", "v")
        )

    return (
        _unpivot(li_rules)
        .unionByName(_unpivot(ord_rules))
        .unionByName(orphans)
        .unionByName(dup_pk)
        .select("rule", F.col("v").alias("violations"))
    )


@query(oracle=(
    "WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type, "
    "count(*) AS n FROM events GROUP BY 1, 2), "
    "r AS (SELECT hour, event_type, n, row_number() OVER "
    "(PARTITION BY hour ORDER BY n DESC, event_type) AS rk FROM c) "
    "SELECT hour, event_type, n, CAST(rk AS INTEGER) AS rk "
    "FROM r WHERE rk <= 3"
))
def _ev_windowed_topk(spark, sf_dir):
    """Top-3 event types per hour by event count: keyed agg on
    (hour, type) then a rank window partitioned BY HOUR — the window
    partitions on a bounded key (hours), never a global sort. Two
    bounded shuffles total; survives any corpus size because state per
    window partition is |event_type| rows."""
    ev = _events(spark, sf_dir)
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("hour").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("hour", "event_type", "n", "rk")
    )


@query(oracle=(
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
))
def _text_entropy(spark, sf_dir):
    """Per-document unigram entropy + type-token ratio — an
    information-theoretic quality score for corpus curation (low
    entropy = repetitive/boilerplate). One explode + one (doc, token)
    agg + one doc agg; all shuffles keyed on doc_id, no global
    state."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("raw"),
        )
        .select(
            "doc_id",
            F.regexp_replace("raw", r"^\W+|\W+$", "").alias("tok"),
        )
        .filter(F.length("tok") >= 2)
    )
    counts = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(
                F.log2(F.sum("c"))
                - F.sum(F.col("c") * F.log2(F.col("c"))) / F.sum("c"),
                4,
            ).alias("entropy_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "entropy_bits",
            F.round(F.col("n_types") / F.col("n_tokens"), 5).alias("ttr"),
        )
    )


@query(oracle=(
    "SELECT event_type, count(DISTINCT user_id) AS n_exact, "
    "true AS within_bound FROM events GROUP BY event_type"
))
def _sketch_hll_bound(spark, sf_dir):
    """HLL++ distinct-count sketch with its accuracy contract made
    oracle-checkable: per event type, the approx_count_distinct(rsd=5%)
    estimate must land within 3x rsd of the exact distinct count. The
    output carries the exact count (engine-portable) plus the bound
    verdict; the estimate itself is engine-specific and stays out of
    the compared columns. Sketches are fixed-size and map-side
    mergeable — the 100 TB profiling shape."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("est"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            / F.col("n_exact")
            <= 0.15
        ).alias("within_bound"),
    )


@query(oracle=(
    "SELECT l_returnflag, count(*) AS n, true AS rank_ok "
    "FROM lineitem GROUP BY l_returnflag"
))
def _sketch_quantile_bound(spark, sf_dir):
    """Greenwald-Khanna quantile sketch with its rank-error contract
    made oracle-checkable: the percentile_approx(0.5, accuracy=1000)
    estimate's true rank must lie within eps=1/1000 of the median rank
    in each group. One sketch pass + one broadcast join back for the
    rank count — the fact table shuffles once (keyed agg), never
    sorts."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    est = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("est"),
        F.count(F.lit(1)).alias("n"),
    )
    joined = li.join(F.broadcast(est), "l_returnflag")
    ranks = joined.groupBy("l_returnflag").agg(
        F.first("n").alias("n"),
        F.sum((F.col("l_extendedprice") < F.col("est")).cast("long")).alias(
            "r_lt"
        ),
        F.sum((F.col("l_extendedprice") <= F.col("est")).cast("long")).alias(
            "r_le"
        ),
    )
    eps = 0.001
    return ranks.select(
        "l_returnflag",
        "n",
        (
            (F.col("r_lt") <= F.ceil(F.col("n") * (0.5 + eps)))
            & (F.col("r_le") >= F.floor(F.col("n") * (0.5 - eps)))
        ).alias("rank_ok"),
    )


@query(oracle=(
    "WITH toks AS (SELECT t.tok FROM ("
    "SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok "
    "FROM documents) t WHERE length(t.tok) > 0), "
    "exact AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok), "
    "tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM exact) "
    "SELECT e.tok, e.cnt, true AS found FROM exact e, tot "
    "WHERE e.cnt > tot.n_total / 64"
))
def _sketch_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy-hitters sketch with its no-false-negative
    contract made oracle-checkable: every token whose exact frequency
    exceeds n/64 MUST appear in the merged MG candidate set (capacity
    4096 counters/partition, top-64 candidates — undercount <= n/4096,
    well under the n/64 threshold). The synthetic corpus' Zipf head has
    ~30 such tokens at any SF. Output = the true heavy hitters with
    exact counts and the inclusion verdict."""
    from task_on_dataframes_spark.operators.sketches import heavy_hitters

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    candidates = heavy_hitters(
        toks, "tok", k=64, capacity_per_partition=4096
    ).select(F.col("item").alias("cand"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = exact.agg(F.sum("cnt").alias("n_total"))
    hh = exact.join(F.broadcast(total)).filter(
        F.col("cnt") > F.col("n_total") / 64
    )
    return (
        hh.join(F.broadcast(candidates), hh.tok == F.col("cand"), "left")
        .select(
            "tok",
            "cnt",
            F.col("cand").isNotNull().alias("found"),
        )
    )


@query(oracle=(
    "SELECT l_returnflag, count(*) AS n, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
    "AS sum_qty FROM lineitem GROUP BY l_returnflag"
))
def _s14_compaction(spark, sf_dir):
    """Small-files compaction as a registry query: scatter a lineitem
    projection into 48 tiny files, compact to ~2 files with
    ``compact_parquet`` (atomic dir-swap, range-sort on l_orderkey so
    rowgroup min/max stats stay tight), read back and aggregate. The
    oracle aggregates the original parquet — compaction must be
    byte-lossless. The 100 TB maintenance op: tiny files destroy scan
    planning and footer-read time."""
    import tempfile

    from task_on_dataframes_spark.sources.writers import compact_parquet

    out = tempfile.mkdtemp(prefix="tada_compact_") + "/li"
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    li.repartition(48).write.mode("overwrite").parquet(out)
    compact_parquet(spark, out, target_file_mb=8, sort_cols=["l_orderkey"])
    back = catalog.read(spark, out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


@query(oracle=(
    "WITH per_flag AS (SELECT l_orderkey, l_returnflag, count(*) AS c "
    "FROM lineitem GROUP BY 1, 2) "
    "SELECT l_orderkey, "
    "CAST(count(*) AS INTEGER) AS n_flags, "
    "coalesce(CAST(sum(c) FILTER (l_returnflag = 'R') AS BIGINT), 0) "
    "AS r_lines, "
    "CAST(sum(c) AS BIGINT) AS total_lines "
    "FROM per_flag GROUP BY l_orderkey"
))
def _f_map_funcs(spark, sf_dir):
    """Map construction + lookup + transform functions (⊕ §2.8
    breadth): per-order map of lineitem return flags to their line
    counts, then scalar lookups out of it — maps stay engine-side,
    only portable scalars are compared."""
    li = _t(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_orderkey", "l_returnflag").agg(
        F.count(F.lit(1)).alias("c")
    )
    as_map = per_flag.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l_returnflag", "c")))
        ).alias("m")
    )
    return as_map.select(
        "l_orderkey",
        F.size(F.map_keys(F.col("m"))).alias("n_flags"),
        F.coalesce(F.element_at(F.col("m"), "R"), F.lit(0)).alias("r_lines"),
        F.aggregate(
            F.map_values(F.col("m")), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("total_lines"),
    )


@query(oracle=(
    "SELECT coalesce(CASE WHEN doc_id % 2 = 1 THEN lang END, "
    "'<pre-schema>') AS lang, count(*) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY 1"
))
def _s15_schema_merge(spark, sf_dir):
    """Parquet schema evolution: two generations of a dataset (the
    second adds a ``lang`` column) read back as one table with
    ``mergeSchema`` — the old generation's missing column surfaces as
    NULL. The long-lived-dataset reality at 100 TB: schemas change,
    rewrites don't happen. Aggregate proves both generations land and
    NULL semantics hold."""
    import tempfile

    out = tempfile.mkdtemp(prefix="tada_evo_") + "/docs"
    docs = _t(spark, sf_dir, "documents")
    gen1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")
    gen2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "n_chars", "lang"
    )
    gen1.write.mode("overwrite").parquet(f"{out}/gen=1")
    gen2.write.mode("overwrite").parquet(f"{out}/gen=2")
    merged = catalog.read(
        spark, f"{out}/gen=1", f"{out}/gen=2", mergeSchema="true"
    )
    return merged.groupBy(
        F.coalesce(F.col("lang"), F.lit("<pre-schema>")).alias("lang")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(oracle=(
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
))
def _snapshot_diff(spark, sf_dir):
    """Snapshot-to-snapshot corpus diff: classify every doc_id as
    added/removed/changed/unchanged between two derived snapshots
    (old = ids not divisible by 10; new = ids not divisible by 7, with
    ids divisible by 5 re-crawled with ' v2' appended). Digest-only
    full-outer join: the shuffle carries md5 digests, never bodies."""
    from task_on_dataframes_spark.operators.joins import snapshot_diff

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, "doc_id", "text").withColumnRenamed(
        "key", "doc_id"
    )


def _morton_sql_xy(bits: int = 10) -> str:
    from task_on_dataframes_spark.operators.layout import morton_code_sql

    return morton_code_sql("x", "y", bits)


@query(oracle=(
    # the layout rewrite must be lossless, so the oracle
    # aggregates the ORIGINAL table with the same interleave
    "WITH b AS (SELECT (l_partkey % 1024) AS x, "
    "(l_suppkey % 1024) AS y FROM lineitem) "
    "SELECT ("
    + _morton_sql_xy()
    + " >> 12) AS zbucket, count(*) AS n, "
    "min(x) AS min_x, max(x) AS max_x, "
    "min(y) AS min_y, max(y) AS max_y FROM b GROUP BY 1"
))
def _s16_zorder_stats(spark, sf_dir):
    """Z-order layout: write lineitem keys Morton-clustered (range
    partition + in-partition sort on the interleaved code), read back,
    and aggregate per Morton bucket. The oracle computes the same
    buckets from the original table — the layout rewrite must be
    lossless, and the bit-interleave arithmetic engine-identical.
    (test_curation_wave3 asserts the layout actually tightens rowgroup
    min/max rectangles for two-column pruning.)"""
    import tempfile

    from task_on_dataframes_spark.operators.layout import (
        morton_code,
        zorder_write,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 1024).alias("x"),
        (F.col("l_suppkey") % 1024).alias("y"),
    )
    out = tempfile.mkdtemp(prefix="tada_zorder_") + "/li"
    zorder_write(li, "x", "y", out, bits=10, files=8)
    back = catalog.read(spark, out)
    z = morton_code(F.col("x"), F.col("y"), 10)
    return (
        back.withColumn("zbucket", F.shiftright(z, 12))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


@query(oracle=(
    "SELECT o_orderstatus, count(*) AS n, "
    "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) "
    "AS DOUBLE) AS sum_price FROM orders "
    "WHERE o_orderkey % 3 = 0 GROUP BY 1"
))
def _s17_incremental_read(spark, sf_dir):
    """Incremental ingestion without table-format metadata: write
    batch 1, snapshot the file manifest, append batch 2, then read
    ONLY the files new since the manifest. The oracle aggregates
    batch 2 straight from the source — exactly-once batch processing
    by file-listing diff; old files are never reopened."""
    import tempfile

    from task_on_dataframes_spark.sources.writers import (
        manifest_snapshot,
        read_new_files,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = tempfile.mkdtemp(prefix="tada_incr_") + "/orders"
    orders.filter(F.col("o_orderkey") % 3 != 0).write.mode(
        "overwrite"
    ).parquet(out)
    manifest = manifest_snapshot(out)
    orders.filter(F.col("o_orderkey") % 3 == 0).write.mode(
        "append"
    ).parquet(out)
    inc = read_new_files(spark, out, manifest)
    return inc.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(oracle=linear_probe_oracle_sql(iters=4))
def _quality_linear_probe(spark, sf_dir):
    """Supervised training loop as a first-class operator: least-squares
    linear probe (stopword fraction ~ length/digit features) fit by 4
    full-batch GD iterations. Integer fixed-point end-to-end — exact
    decimal gradient sums make every iteration partitioning-invariant
    and bit-replayable by the chained-CTE DuckDB oracle. Per iteration:
    ONE scan-stage gradient aggregation (d-sized result); the corpus
    never shuffles. At 100 TB you'd persist the feature projection once
    and reuse it across iterations; at test SF the 4 re-scans of a
    2-column pruned parquet read are cheaper than the cache."""
    from task_on_dataframes_spark.operators.probe import linear_probe_weights

    docs = _docs(spark, sf_dir)
    return linear_probe_weights(docs, "text", iters=4)


#: count-min sketch cells of the oracle: 3 hash rows x 1024 buckets
_CMS_BUCKETS = " UNION ALL ".join(
    f"SELECT tok, {r} AS r, {perm_hash_sql(hash32_sql('tok'), r)} % 1024 AS bk"
    " FROM toks"
    for r in range(3)
)


@query(oracle=(
    "WITH toks AS (SELECT t.tok FROM (SELECT "
    "unnest(string_split_regex(lower(text), '\\s+')) AS tok "
    "FROM documents) t WHERE length(t.tok) > 0), "
    f"b AS ({_CMS_BUCKETS}), "
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
))
def _sketch_cms(spark, sf_dir):
    """Count-min sketch with an EXACT-replay oracle: 3x1024 counters
    over the document token stream (portable md5 hash family), point
    queries for the exact top-20 tokens, overcount = est - true. The
    counter build is one map-side-combined aggregation to a fixed
    3072-row table; estimates broadcast-join that table — the bounded-
    state frequency profile of an unbounded stream. CMS guarantees
    est >= true always; the overcount column shows the collision mass
    directly."""
    from task_on_dataframes_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    counters = cms_counters(toks, "tok", depth=3, width=1024)
    top20 = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(20)
    )
    est = cms_estimate(top20, counters, "tok", depth=3, width=1024)
    return est.select(
        "tok", "cnt", "est", (F.col("est") - F.col("cnt")).alias("overcount")
    )


@query(oracle=grouped_probe_oracle_sql("lang", iters=4))
def _quality_probe_by_lang(spark, sf_dir):
    """Per-language linear probes trained simultaneously: the grouped
    variant of quality_linear_probe — one GROUP BY gradient aggregation
    per iteration yields every language's d-sized gradient at once, and
    the n_groups-row weight frame broadcast-joins back. Per-domain
    calibration at corpus scale without per-domain jobs."""
    from task_on_dataframes_spark.operators.probe import (
        grouped_probe_weights,
    )

    docs = _docs(spark, sf_dir)
    return grouped_probe_weights(docs, "lang", "text", iters=4)


@query(oracle=(
    "SELECT o_orderstatus, count(*) AS n, "
    "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) "
    "AS DOUBLE) AS total "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "WHERE c_nationkey = 3 GROUP BY o_orderstatus"
))
def _s18_bloom_join_prune(spark, sf_dir):
    """Runtime Bloom-filter join pruning: the selective dim predicate
    (customers of one nation) compresses to a <=65536-bit Bloom set,
    probed scan-side on orders BEFORE the real join — k broadcast
    semi-joins on int keys, so at 100 TB the fact side sheds ~24/25 of
    its rows before the join shuffle even starts, while the shipped
    state stays ~0.5 MB no matter how large the dim grows (the regime
    where the dim itself is too big to broadcast but its key Bloom
    isn't). False negatives are impossible and false positives are
    removed by the real join, so the aggregate equals the plain join's
    — which is exactly what the oracle computes."""
    from task_on_dataframes_spark.operators.bloom import (
        bloom_probe_hits,
        build_bloom_bits,
    )

    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 3)
        .select("c_custkey")
    )
    bits = build_bloom_bits(dim, "c_custkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_totalprice"
    )
    pruned = bloom_probe_hits(orders, bits, "o_custkey")
    return (
        pruned.join(dim, pruned.o_custkey == dim.c_custkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("total"),
        )
    )


@query(oracle=(
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
))
def _quality_domain_calibrate(spark, sf_dir):
    """Per-domain score calibration WITHOUT a per-domain global sort:
    a raw quality score (stopword fraction, integer fixed-point) is
    binned to per-mille resolution, counted per (domain, bin) — ONE
    keyed aggregation with bounded output (<=1001 rows per domain) —
    cumulated over the tiny bin table, and broadcast-joined back to
    assign each doc its within-domain percentile. The obvious
    ``percent_rank() OVER (PARTITION BY domain ORDER BY score)``
    computes the same number but sorts each domain in one task — a
    30 TB domain at corpus scale is a single-machine sort, the exact
    anti-pattern this repo rejected for w6_ntile_bins. Binned-CDF
    calibration is the scale-safe equivalent (resolution = bin width,
    here 1/1000). Output: doc_id, source, score bin, percentile of
    strictly-lower-binned docs."""
    docs = _docs(spark, sf_dir)
    stop_list = ", ".join(
        f"'{w}'" for w in (
            "the", "a", "of", "and", "to", "in", "is", "it"
        )
    )
    scored = (
        docs.select(
            "doc_id",
            "source",
            F.expr(
                "filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)"
            ).alias("arr"),
        )
        .withColumn("n_tok", F.size("arr"))
        .filter(F.col("n_tok") > 0)
        .select(
            "doc_id",
            "source",
            F.expr(
                f"(cast(size(filter(arr, t -> t IN ({stop_list}))) as"
                " bigint) * 1000) div n_tok"
            ).alias("bin"),
        )
    )
    counts = scored.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = Window.partitionBy("source").orderBy("bin")
    cdf = counts.select(
        "source",
        "bin",
        (F.sum("c").over(wcum) - F.col("c")).alias("below"),
        F.sum("c").over(
            Window.partitionBy("source").orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    return scored.join(F.broadcast(cdf), ["source", "bin"]).select(
        "doc_id",
        "source",
        "bin",
        F.round(F.col("below") / F.col("n"), 6).alias("pctile"),
    )


@query(oracle=(
    "WITH ev AS (SELECT date_trunc('day', ts) AS day, event_type "
    "FROM events), "
    "t AS (SELECT min(day) AS d FROM ev), "
    "f AS (SELECT day, event_type FROM ev, t "
    "WHERE day <> d OR event_type <> 'error') "
    "SELECT day, count(*) AS n, "
    "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_errors FROM f GROUP BY day"
))
def _s19_dynamic_partition_overwrite(spark, sf_dir):
    """Partition-level incremental overwrite — the daily-backfill move:
    events land hive-partitioned by day; one day is then corrected
    (error events dropped) and rewritten with
    ``partitionOverwriteMode=dynamic``, which replaces ONLY the
    partitions present in the incoming frame and leaves every other
    day's files untouched (no full-table rewrite, no read-modify-write
    of unrelated partitions — at 100 TB that is the difference between
    rewriting one day and rewriting three years). The readback
    aggregate proves exactly one day changed; the oracle computes the
    same per-day counts with that day's errors excluded."""
    import tempfile

    # day-truncated TIMESTAMP (not DATE) so both engines serialize the
    # partition column identically (house convention, cf. registry/events)
    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).withColumn("day", F.date_trunc("day", F.col("ts")))
    base = tempfile.mkdtemp(prefix="tada_dpo_") + "/events"
    ev.write.partitionBy("day").mode("overwrite").parquet(base)
    # deterministic target: the earliest day in the table
    target = ev.agg(F.min("day").alias("d")).collect()[0]["d"]
    fixed = ev.filter(
        (F.col("day") == F.lit(target))
        & (F.col("event_type") != "error")
    )
    (
        fixed.write.partitionBy("day")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(base)
    )
    back = catalog.read(spark, base)
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias(
            "n_errors"
        ),
    )


@query(oracle=(
    "WITH rng AS (SELECT min(l_extendedprice) AS lo, "
    "max(l_extendedprice) AS hi FROM lineitem) "
    "SELECT l_returnflag, "
    "CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 10)),"
    " 9) AS INT) AS bin, count(*) AS n "
    "FROM lineitem, rng GROUP BY l_returnflag, bin"
))
def _a11_histogram(spark, sf_dir):
    """Grouped equi-width histogram — the profiling op between min/max
    (profile_table) and exact percentiles (a9): 10 equal-width bins of
    l_extendedprice per return flag. Global min/max come from ONE
    aggregate broadcast back; binning is a scan-stage expression, the
    histogram itself one bounded groupBy (n_groups x 10 cells). No
    sort anywhere — the classic two-pass histogram that profiles a
    100 TB column with two map-side-combined aggregations."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    rng = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    binned = li.join(F.broadcast(rng)).select(
        "l_returnflag",
        F.least(
            F.floor(
                (F.col("l_extendedprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 10)
            ),
            F.lit(9),
        )
        .cast("int")
        .alias("bin"),
    )
    return binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(oracle=probe_apply_oracle_sql(iters=4))
def _quality_probe_apply(spark, sf_dir):
    """Train-then-apply in one lazy plan: the 4-iteration GD probe's
    weights (a d-sized plan prefix) broadcast onto every document to
    score it — the inference half of quality_linear_probe, same
    integer fixed-point contract, bit-exact oracle replay. Per doc:
    predicted vs actual stopword fraction (micro units) and the
    signed error."""
    from task_on_dataframes_spark.operators.probe import probe_apply

    docs = _docs(spark, sf_dir)
    return probe_apply(docs, "text")
