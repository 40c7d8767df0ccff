"""Wider relational surface (rollup/cube/windows/upserts/IO round-trips) queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import catalog
from .common import _embs, _events, _t, query


@query(oracle=(
    "SELECT l_returnflag, "
    "round(quantile_cont(l_extendedprice, 0.25), 4) AS p25, "
    "round(quantile_cont(l_extendedprice, 0.5), 4) AS p50, "
    "round(quantile_cont(l_extendedprice, 0.75), 4) AS p75 "
    "FROM lineitem GROUP BY l_returnflag"
))
def _a5_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.75), 4).alias("p75"),
    )

@query(oracle=(
    "SELECT l_returnflag, "
    "round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price, "
    "round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price, "
    "round(stddev_samp(l_quantity), 4) AS sd_qty "
    "FROM lineitem GROUP BY l_returnflag"
))
def _a6_stats(spark, sf_dir):
    """Statistical aggregates: correlation, sample covariance/stddev."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
    )

@query(oracle=(
    "SELECT l_returnflag, "
    "CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_f, "
    "CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_o "
    "FROM lineitem GROUP BY l_returnflag"
))
def _p7_pivot(spark, sf_dir):
    """Pivot: linestatus columns per returnflag row (explicit value
    list so the plan is one pass, no distinct-values pre-query)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
        )
    )

@query(oracle=(
    "SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS value "
    "FROM part UNION ALL "
    "SELECT p_partkey, 'retailprice' AS attr, "
    "round(p_retailprice, 2) AS value FROM part"
))
def _p8_unpivot(spark, sf_dir):
    """Unpivot/melt: wide part attributes to long (attr, value) rows."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.round("p_retailprice", 2).alias("retailprice"),
    ).melt(
        ids=["p_partkey"],
        values=["size", "retailprice"],
        variableColumnName="attr",
        valueColumnName="value",
    )

@query(oracle=(
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
))
def _f_date_funcs(spark, sf_dir):
    """Date/time scalar functions (absent in the reference ⊕): ship
    delay in days, truncations, offsets, month boundaries."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return j.select(
        "l_orderkey",
        "l_linenumber",
        F.datediff("l_shipdate", "o_orderdate").alias("ship_delay_days"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("due_date"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
    )

@query(oracle=(
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
))
def _f_array_funcs(spark, sf_dir):
    """Array functions over array<float> (absent in the reference ⊕):
    size, element access, slicing aggregates, higher-order transform."""
    emb = _embs(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.round(F.element_at(v, 1), 5).alias("first"),
        F.round(F.array_max(v), 5).alias("vmax"),
        F.round(F.array_min(v), 5).alias("vmin"),
        F.round(
            F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x), 5
        ).alias("head8_sum"),
        F.round(
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            ),
            5,
        ).alias("sq_norm"),
    )

@query(oracle=(
    "SELECT doc_id, upper(lang) AS lang_up, length(text) AS text_len, "
    "substring(source, 1, 3) AS src3, "
    "concat(lang, '-', source) AS tag, "
    "regexp_replace(text, '\\d', '', 'g') AS no_digits FROM documents"
))
def _f_string_funcs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper(F.col("lang")).alias("lang_up"),
        F.length(F.col("text")).alias("text_len"),
        F.substring(F.col("source"), 1, 3).alias("src3"),
        F.concat(F.col("lang"), F.lit("-"), F.col("source")).alias("tag"),
        F.regexp_replace(F.col("text"), r"\d", "").alias("no_digits"),
    )

@query(oracle=(
    "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k "
    "FROM events"
))
def _f_json_extract(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k"),
    )

@query(oracle=(
    "WITH x AS (SELECT event_type, "
    "CAST(json_extract(props, '$.k') AS INT) AS k FROM events) "
    "SELECT event_type, count(*) AS n, "
    "CAST(sum(CAST(k AS BIGINT)) AS BIGINT) AS sum_k, "
    "CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_even, max(k) AS max_k, min(k) AS min_k FROM x "
    "GROUP BY event_type"
))
def _f_variant_json(spark, sf_dir):
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` decodes the props JSON ONCE into the binary variant
    encoding and every field access is a typed ``variant_get`` path —
    at scale this beats per-path ``get_json_object`` re-parsing when a
    pipeline reads several fields from one JSON column. The whole
    extract evaluates in the scan stage; one event_type-keyed
    aggregate follows."""
    ev = _events(spark, sf_dir)
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
            F.sum((F.col("k") % 2 == 0).cast("bigint")).alias("n_even"),
            F.max("k").alias("max_k"),
            F.min("k").alias("min_k"),
        )
    )

@query(oracle=(
    "SELECT event_id, event_type, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 4) "
    "AS DOUBLE) AS trailing_sum, "
    "count(*) OVER w AS n_window "
    "FROM events "
    "WINDOW w AS (PARTITION BY event_type "
    "ORDER BY CAST(floor(epoch(ts)) AS BIGINT) "
    "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"
))
def _w4_moving_avg(spark, sf_dir):
    """RANGE-frame window: per event type, trailing-hour value sum and
    window population (event-time range, not row count). Decimal-exact
    sum so the result is partitioning-independent; the division into a
    mean is left to the caller (engines round quotients differently)."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    dec = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.sum(dec).over(w), 4).cast("double").alias("trailing_sum"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    )

# ---------------------------------------------------------------------------
# §2.3 ⊕ as-of / range joins; §2.5 ranking windows; §2.7 set ops;
# §2.4 ⊕ distinct-agg / rollup; tf-idf
# ---------------------------------------------------------------------------

@query(oracle=(
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
))
def _j6_asof_join(spark, sf_dir):
    """For each click event, the most recent prior purchase by the same
    user — merge as-of via union-tag + running last() (one shuffle)."""
    from task_on_dataframes_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid"), "value"
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_cols=["pid", "value"],
        tiebreak="pid",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_pid").alias("prev_purchase_id"),
        F.round("asof_value", 4).alias("prev_purchase_value"),
    )

@query(oracle=(
    "SELECT b.label, count(*) AS n, "
    "CAST(round(sum(CAST(l.l_quantity AS DECIMAL(18,6))), 4) "
    "AS DOUBLE) AS sum_qty "
    "FROM lineitem l JOIN (VALUES (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'), "
    "(25.0, 40.0, 'high'), (40.0, 100.0, 'top')) AS b(lo, hi, label) "
    "ON l.l_quantity >= b.lo AND l.l_quantity < b.hi "
    "GROUP BY b.label"
))
def _j7_range_join(spark, sf_dir):
    """Bucket lineitem quantities into literal ranges: broadcast range
    join, then aggregate per bucket — the big side never shuffles for
    the join."""
    from task_on_dataframes_spark.operators.joins import range_join

    li = _t(spark, sf_dir, "lineitem").select("l_quantity")
    buckets = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 40.0, "high"),
         (40.0, 100.0, "top")],
        "lo double, hi double, label string",
    )
    return (
        range_join(li, buckets, "l_quantity")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_qty"),
        )
    )

@query(oracle=(
    "SELECT * FROM ("
    "SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, "
    "row_number() OVER w AS rn, rank() OVER w AS rnk, "
    "dense_rank() OVER w AS drnk, "
    "round(lag(o_totalprice) OVER w, 2) AS prev_price "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey ASC)"
    ") WHERE rn <= 3"
))
def _w3_ranking(spark, sf_dir):
    """row_number / rank / dense_rank / lag over a per-customer window —
    partitioned by key, so fully parallel."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        )
        .filter(F.col("rn") <= 3)
    )

@query(oracle=(
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
))
def _set_ops(spark, sf_dir):
    """UNION / INTERSECT / EXCEPT (distinct semantics) over customer key
    sets, tagged — §2.7 is absent in the reference; free in Spark."""
    orders = _t(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    high = (
        orders.filter(F.col("o_orderpriority") == "2-HIGH")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return (
        urgent.intersect(high).withColumn("tag", F.lit("both"))
        .unionByName(urgent.subtract(high).withColumn("tag", F.lit("urgent_only")))
        .unionByName(high.subtract(urgent).withColumn("tag", F.lit("high_only")))
    )

@query(oracle=(
    "SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, "
    "count(DISTINCT l_partkey) AS n_part, count(*) AS n "
    "FROM lineitem GROUP BY l_returnflag"
))
def _a3_distinct_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n"),
    )

@query(oracle=(
    "SELECT coalesce(l_returnflag, 'ALL') AS flag, "
    "coalesce(l_linestatus, 'ALL') AS status, "
    "count(*) AS n, "
    "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS sum_qty "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
))
def _a4_rollup(spark, sf_dir):
    """ROLLUP over (returnflag, linestatus): subtotal rows materialize
    NULL group keys, coalesced to 'ALL' so both engines agree."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "sum_qty",
        )
    )

@query(oracle=(
    "SELECT coalesce(l_returnflag, 'ALL') AS flag, "
    "coalesce(l_linestatus, 'ALL') AS status, count(*) AS n, "
    "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) "
    "AS sum_qty FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), "
    "(l_linestatus), ())"
))
def _a7_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup's prefix chain): totals by
    (flag, status), by status alone, and grand total — one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("v_li_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               count(*) AS n,
               round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS sum_qty
        FROM v_li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_linestatus), ())
        """
    ).withColumn("sum_qty", F.col("sum_qty").cast("double"))

@query(oracle=(
    "WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') "
    "AS ts FROM documents WHERE doc_id < 100) "
    "SELECT doc_id, CAST(i.i AS INT) AS ord, ts[i.i] AS token "
    "FROM t, LATERAL unnest(generate_series(1, len(ts))) AS i(i)"
))
def _f_posexplode(spark, sf_dir):
    """Explode with ordinality: token position within each document."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "token"),
    ).select("doc_id", (F.col("pos") + 1).alias("ord"), "token")

@query(oracle=(
    "SELECT o_orderpriority, count(*) AS n FROM orders "
    "WHERE EXISTS (SELECT 1 FROM lineitem "
    "WHERE l_orderkey = o_orderkey AND l_quantity > 45) "
    "GROUP BY o_orderpriority"
))
def _sql_exists_subquery(spark, sf_dir):
    """The SQL entry point: EXISTS decorrelates to a left-semi join
    (same plan the DataFrame API produces)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n
        FROM v_orders
        WHERE EXISTS (
            SELECT 1 FROM v_lineitem
            WHERE l_orderkey = o_orderkey AND l_quantity > 45
        )
        GROUP BY o_orderpriority
        """
    )

# round-trip oracles read the ORIGINAL parquet: equality proves
# the ORC/JSONL write+read cycle preserved the data
@query(oracle=(
    "SELECT l_returnflag, count(*) AS n, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
    "AS sum_qty, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) "
    "AS DOUBLE) AS sum_price "
    "FROM lineitem WHERE l_quantity <= 10 GROUP BY 1"
))
def _s9_orc_roundtrip(spark, sf_dir):
    """ORC sink + source: write a pruned, filtered projection to ORC,
    read it back, aggregate. Proves the ORC connector end-to-end (the
    same predicate-pushdown/column-pruning machinery as parquet); the
    oracle computes the identical aggregate from the original
    parquet."""
    import tempfile

    out = tempfile.mkdtemp(prefix="tada_orc_") + "/li"
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= 10)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_price"),
    )

@query(oracle=(
    "SELECT l_returnflag, count(*) AS n, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
    "AS sum_qty, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) "
    "AS DOUBLE) AS sum_price "
    "FROM lineitem WHERE l_quantity <= 10 GROUP BY 1"
))
def _s10_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines sink + source round-trip with the same aggregate
    check as the ORC twin (Spark writes shortest-round-trip doubles,
    so numeric fidelity survives the text format)."""
    import tempfile

    out = tempfile.mkdtemp(prefix="tada_jsonl_") + "/li"
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= 10)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    )
    li.write.mode("overwrite").json(out)
    back = spark.read.json(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_price"),
    )

@query(oracle=(
    "SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, "
    "c.c_acctbal, coalesce(o.n_orders, 0) AS n_orders "
    "FROM (SELECT c_custkey, c_acctbal FROM customer "
    "WHERE c_custkey % 3 = 0) c "
    "FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders "
    "FROM orders WHERE o_custkey % 5 = 0 GROUP BY 1) o "
    "ON c.c_custkey = o.o_custkey"
))
def _j9_full_outer(spark, sf_dir):
    """Full outer join with both-side-only rows (disjoint key filters
    guarantee unmatched rows in each direction). Shuffle-keyed on the
    join key; AQE handles the residual skew."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_acctbal")
    )
    oag = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 5 == 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = cust.join(oag, cust.c_custkey == oag.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_acctbal"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )

@query(oracle=(
    "SELECT l_orderkey, l_linenumber, "
    "first_value(l_quantity) OVER w AS first_qty, "
    "last_value(l_quantity) OVER w AS last_qty, "
    "nth_value(l_quantity, 2) OVER w AS second_qty "
    "FROM lineitem WHERE l_orderkey < 200 "
    "WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
))
def _w8_first_last(spark, sf_dir):
    """first_value / last_value / nth_value over the full-partition
    frame (ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING) — the frame
    spec last_value silently gets wrong with the default frame."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.first("l_quantity").over(w).alias("first_qty"),
        F.last("l_quantity").over(w).alias("last_qty"),
        F.nth_value("l_quantity", 2).over(w).alias("second_qty"),
    )

@query(oracle=(
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
))
def _profile_table(spark, sf_dir):
    """Data-quality profile of the orders table: per column null count,
    exact distinct count, numeric min/max and string min/max. ONE
    global aggregate (map-side partials), then a driver-free stack to
    long format — profiling 100 TB is a single pass."""
    o = _t(spark, sf_dir, "orders")
    num_cols = ["o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in num_cols + str_cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
        ]
    for c in num_cols:
        aggs += [
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    for c in str_cols:
        aggs += [F.min(c).alias(f"mns_{c}"), F.max(c).alias(f"mxs_{c}")]
    one = o.agg(*aggs)
    # stack() requires identical struct field names across rows — the
    # CASTs anonymize the per-column aliases into uniform colN names
    # stack() takes a FLAT argument list (n rows x 7 columns each);
    # the CASTs keep every column slot the same type across rows
    parts = []
    for c in num_cols:
        parts.append(
            f"'{c}', CAST(nn_{c} AS BIGINT), CAST(nd_{c} AS BIGINT), "
            f"CAST(mn_{c} AS DOUBLE), CAST(mx_{c} AS DOUBLE), "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for c in str_cols:
        parts.append(
            f"'{c}', CAST(nn_{c} AS BIGINT), CAST(nd_{c} AS BIGINT), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            f"CAST(mns_{c} AS STRING), CAST(mxs_{c} AS STRING)"
        )
    stack = (
        f"stack({len(parts)}, "
        + ", ".join(parts)
        + ") AS (col_name, n_nulls, n_distinct, min_num, max_num, "
        "min_str, max_str)"
    )
    return one.select(F.expr(stack))

@query(oracle=(
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
))
def _scd2_history(spark, sf_dir):
    """SCD-2 interval build from a change stream: per user, each
    event_type change opens a validity interval [valid_from, valid_to)
    closed by the next change (NULL = current). Gaps-and-islands via
    windows + one keyed aggregation — no correlated rescans."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = (prev.isNull() | (F.col("event_type") != prev)).cast("int")
    grp = F.sum(chg).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = ev.withColumn("grp", grp)
    iv = islands.groupBy("user_id", "grp", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # grp as the tiebreaker keeps lead() deterministic when two islands
    # of one user share an identical min ts (oracle orders the same way).
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "grp")
    return iv.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )

@query(oracle=(
    "SELECT event_type, count(*) AS n FROM events "
    "WHERE CAST(ts AS DATE) = "
    "(SELECT min(CAST(ts AS DATE)) FROM events) GROUP BY 1"
))
def _s11_partition_prune(spark, sf_dir):
    """Hive-style partitioned layout: write events partitioned by
    event date, read back filtered to the earliest date — the scan
    lists only matching directories (partition pruning,
    plan-asserted); the oracle filters the original parquet."""
    import tempfile

    ev = _events(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    out = tempfile.mkdtemp(prefix="tada_part_") + "/events"
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    d = ev.agg(F.min("event_date")).collect()[0][0]
    back = catalog.read(spark, out)
    return (
        back.filter(F.col("event_date") == F.lit(d))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query(oracle=(
    "SELECT user_id, event_id, "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us, "
    "CAST(round(CAST(value AS DECIMAL(18,6)) - "
    "lag(CAST(value AS DECIMAL(18,6))) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id), 4) AS DOUBLE) "
    "AS value_delta FROM events"
))
def _w5_lag_delta(spark, sf_dir):
    """lead/lag window coverage: per-user inter-event time delta and
    value change, keyed window (no global sort)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        # microsecond arithmetic: cast-to-seconds would round/truncate
        # differently across engines on fractional-second timestamps
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
        .alias("gap_us"),
        F.round(
            F.col("value").cast("decimal(18,6)")
            - F.lag(F.col("value").cast("decimal(18,6)")).over(w),
            4,
        )
        .cast("double")
        .alias("value_delta"),
    )

@query(oracle=(
    "WITH th AS (SELECT "
    "round(quantile_cont(n_chars, 0.25), 6) AS q25, "
    "round(quantile_cont(n_chars, 0.5), 6) AS q50, "
    "round(quantile_cont(n_chars, 0.75), 6) AS q75 FROM documents) "
    "SELECT 1 + CAST(CAST(n_chars AS DOUBLE) > q25 AS INT) "
    "+ CAST(CAST(n_chars AS DOUBLE) > q50 AS INT) "
    "+ CAST(CAST(n_chars AS DOUBLE) > q75 AS INT) AS bin, "
    "count(*) AS n, min(n_chars) AS min_chars, "
    "max(n_chars) AS max_chars FROM documents, th GROUP BY 1"
))
def _w6_ntile_bins(spark, sf_dir):
    """Quartile binning by document length (curriculum/difficulty
    bucketing): counts and length ranges per quartile. Boundaries come
    from ONE percentile aggregate and broadcast into a scan-stage CASE —
    threshold binning, NOT a global ntile window (which would move one
    row per document to a single partition; at 100 TB that is a
    single-machine sort of a corpus-cardinality table). Ties at a
    boundary all land in the lower bin, so bins are near-equal rather
    than ntile-exact — the scale-correct trade."""
    docs = _t(spark, sf_dir, "documents")
    th = docs.agg(
        *[
            F.expr(f"round(percentile(n_chars, {p}), 6)").alias(
                f"q{int(p * 100)}"
            )
            for p in (0.25, 0.5, 0.75)
        ]
    )
    nc = F.col("n_chars").cast("double")
    bin_ = (
        F.lit(1)
        + (nc > F.col("q25")).cast("int")
        + (nc > F.col("q50")).cast("int")
        + (nc > F.col("q75")).cast("int")
    )
    return (
        docs.crossJoin(F.broadcast(th))
        .select("n_chars", bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )

@query(oracle=(
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
))
def _j8_upsert(spark, sf_dir):
    """SCD-1 merge: a deterministic CDC batch (every 10th customer with
    bumped balance, plus 5 brand-new keys) upserted into customer —
    anti-join + append, base never shuffles (update keys broadcast)."""
    from task_on_dataframes_spark.operators.joins import upsert

    cust = _t(spark, sf_dir, "customer")
    changed = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal").cast("decimal(12,2)") + 100)
        .cast("double")
        .alias("c_acctbal"),
    )
    new_rows = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 5)
        .select(
            (F.col("n_nationkey") + 1_000_000).alias("c_custkey"),
            F.concat(F.lit("new customer "), F.col("n_name")).alias("c_name"),
            F.col("n_nationkey").alias("c_nationkey"),
            F.lit("BUILDING").alias("c_mktsegment"),
            F.lit(0.0).alias("c_acctbal"),
        )
    )
    updates = changed.unionByName(new_rows)
    merged = upsert(
        cust.select(
            "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
        ),
        updates,
        keys=["c_custkey"],
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_bal"),
        F.sum((F.col("c_custkey") >= 1_000_000).cast("int")).alias("n_new"),
    )

# ORACLE POLICY for approximate sketches: two engines' HLL++
# and Greenwald-Khanna sketches legitimately return different
# estimates for the same data, so no oracle here hashes an
# estimate. sketch_hll_bound and sketch_quantile_bound
# (registry/quality.py) expose only the sketch's error-bound verdict
# against exact aggregates, which the oracle checks exactly.
# a9_quantiles is the EXACT-quantile twin and carries a full value
# oracle.
@query(oracle=(
    "SELECT l_returnflag, count(*) AS n, "
    "round(quantile_cont(l_quantity, 0.25), 6) AS q25, "
    "round(quantile_cont(l_quantity, 0.5), 6) AS q50, "
    "round(quantile_cont(l_quantity, 0.75), 6) AS q75, "
    "round(quantile_cont(l_quantity, 0.95), 6) AS q95 "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
))
def _a9_quantiles(spark, sf_dir):
    """Exact per-group quantiles (sort-based `percentile`, identical
    interpolation formula to DuckDB's quantile_cont)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("q25"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("q50"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("q75"),
            F.round(F.expr("percentile(l_quantity, 0.95)"), 6).alias("q95"),
        )
        .orderBy("l_returnflag")
    )

@query(oracle=(
    "SELECT date_trunc('day', ts) AS day, "
    "count(CASE WHEN event_type = 'click' THEN 1 END) AS click, "
    "count(CASE WHEN event_type = 'error' THEN 1 END) AS error, "
    "count(CASE WHEN event_type = 'purchase' THEN 1 END) "
    "AS purchase, "
    "count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup, "
    "count(CASE WHEN event_type = 'view' THEN 1 END) AS view "
    "FROM events GROUP BY 1 ORDER BY day"
))
def _a10_pivot(spark, sf_dir):
    """Pivot: per-day event counts spread into one column per event
    type (explicit value list keeps the schema static — at scale an
    implicit pivot would scan once just to discover the columns)."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(F.date_trunc("day", "ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
        .orderBy("day")
    )

@query(oracle=(
    "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, "
    "round(percent_rank() OVER w, 6) AS pct_rank, "
    "round(cume_dist() OVER w, 6) AS cume "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-06-01' "
    "AND l_shipdate < TIMESTAMP '1996-06-08' "
    "WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)"
))
def _w7_percent_rank(spark, sf_dir):
    """percent_rank + cume_dist windows per return flag over one ship
    week — (rank-1)/(n-1) on identical operands is engine-exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01"))
        & (F.col("l_shipdate") < F.lit("1996-06-08"))
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )

@query(oracle=(
    "SELECT coalesce(l_returnflag, 'ALL') AS flag, "
    "coalesce(l_linestatus, 'ALL') AS status, count(*) AS n, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4) "
    "AS DOUBLE) AS sum_price "
    "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
))
def _a8_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all 2^2 grouping combinations
    in one shuffle (Expand feeds a single hash aggregate — no union of
    four scans). Subtotal NULL keys coalesce to 'ALL'."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 4
            )
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "sum_price",
        )
    )


# oracle reads the ORIGINAL events parquet: equality proves the
# sorted rewrite is lossless and the pruned scan is correct
@query(oracle=(
    "SELECT event_type, count(*) AS n, "
    "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) "
    "AS total_value FROM events "
    "WHERE user_id >= 100 AND user_id < 200 GROUP BY event_type"
))
def _s12_sorted_stats_prune(spark, sf_dir):
    """Sort-on-write data skipping: events range-partitioned and
    sorted by user_id on write, so every parquet row group carries a
    tight user_id min/max band and a selective user-range scan skips
    most of the file (PushedFilters reach the scan — plan-asserted in
    tests). The write itself is the distributed clustering pass a
    100 TB table would get from z-ordering on its hottest filter key;
    the oracle filters the original unsorted parquet."""
    import tempfile

    ev = _events(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="tada_sorted_") + "/events"
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = catalog.read(spark, out)
    return (
        back.filter((F.col("user_id") >= 100) & (F.col("user_id") < 200))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("total_value"),
        )
    )


#: shared ANSI SQL for the recursive-CTE reachability query — run
#: VERBATIM by both Spark (spark.sql over temp views) and the DuckDB
#: oracle. Spark 4 ships WITH RECURSIVE; the sparsity threshold is
#: RELATIVE (1.5x the mean edge weight) so the graph shape — and the
#: recursion depth actually exercised — survives scale-factor changes.
RECURSIVE_REACH_SQL = """
WITH RECURSIVE edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2),
avgw AS (SELECT avg(w) AS aw FROM edges),
sparse AS (SELECT src, dst FROM edges, avgw
           WHERE w * 2 >= 3 * aw AND src <> dst),
reach(node, hop) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hop
  UNION ALL
  SELECT s.dst, r.hop + 1 FROM reach r JOIN sparse s ON s.src = r.node
  WHERE r.hop < 4)
SELECT node, min(hop) AS hops FROM reach GROUP BY node
"""


@query(oracle=(
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
))
def _j10_interval_overlap_join(spark, sf_dir):
    """Interval x interval overlap join with BOTH sides large — the
    shape j7's broadcast point-in-range join can't cover. Per-(user,
    day) activity intervals overlap-join per-(event_type, day) busy
    windows. Scale mechanism: each interval explodes into the 6-hour
    time buckets it covers (day-bounded intervals -> at most 5), the
    join equi-keys on bucket, the exact micros overlap predicate
    filters inside the join, and a distinct collapses pairs that share
    several buckets. One bucket-keyed shuffle per side replaces the
    quadratic theta-join a naive `a.start <= b.end AND b.start <=
    a.end` condition would plan (BroadcastNestedLoop at best)."""
    bucket_us = 6 * 3600 * 1_000_000
    ev = _events(spark, sf_dir)

    def _intervals(df, key):
        g = df.groupBy(key, F.to_date("ts").alias("day")).agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
        )
        return g.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    (F.col("lo") / bucket_us).cast("long"),
                    (F.col("hi") / bucket_us).cast("long"),
                )
            ),
        )

    ud = _intervals(ev, "user_id").withColumnsRenamed(
        {"day": "du", "lo": "ulo", "hi": "uhi"}
    )
    td = _intervals(ev, "event_type").withColumnsRenamed(
        {"day": "dt", "lo": "tlo", "hi": "thi"}
    )
    pairs = (
        ud.join(td, "bucket")
        .filter(
            (F.col("ulo") <= F.col("thi")) & (F.col("tlo") <= F.col("uhi"))
        )
        .select("user_id", "du", "event_type", "dt")
        .distinct()
    )
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
|> AGGREGATE
     count(*) AS n,
     CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
       AS sum_qty,
     CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
       AS sum_price
   GROUP BY l_returnflag, l_linestatus
|> WHERE n > 0
|> SELECT l_returnflag, l_linestatus, n, sum_qty, sum_price
"""


@query(oracle=(
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) "
    "AS DOUBLE) AS sum_qty, "
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) "
    "AS DOUBLE) AS sum_price "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus"
))
def _sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (|>, new in Spark 4): the q1-style pricing
    aggregate written as a linear FROM -> WHERE -> AGGREGATE -> WHERE
    -> SELECT pipeline. Compiles to the identical scan-filter-aggregate
    plan as the classic formulation (the oracle IS that classic SQL on
    DuckDB), so this pins the surface, not a new execution path;
    decimal-exact sums per the repo's money discipline."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(PIPE_SQL)


# the recursive-CTE query ships ONE SQL text for both engines
@query(oracle=RECURSIVE_REACH_SQL)
def _sql_recursive_reach(spark, sf_dir):
    """Recursive-CTE BFS reachability (WITH RECURSIVE, new in Spark 4)
    over the strong-trade nation graph: shortest hop count from nation
    0 along edges carrying >=1.5x the mean lineitem volume. The SAME
    SQL text runs on Spark and DuckDB — zero dialect translation. The
    iterative twin of this shape is operators/graph.py (pagerank) and
    dedup's pointer-doubling connected components; the recursion here
    is depth-bounded (hop < 4), so state stays frontier-sized. At
    100 TB the edge aggregation is the only corpus-scale stage; the
    recursion runs over the 25-node nation graph."""
    for t in ("customer", "orders", "lineitem", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(RECURSIVE_REACH_SQL)
