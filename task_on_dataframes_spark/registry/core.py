"""Core reference-parity ops (projection/filter/join/agg/planner) queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import _t, query


# ---------------------------------------------------------------------------
# flagship: planner-driven top-90%-of-mass token pipeline (SURVEY §2.11 + W2)
# ---------------------------------------------------------------------------

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


_TOP90_SQL = (
    _TOKEN_CTE
    + 'SELECT c.tok AS top90_token FROM clean c JOIN top ON c.tok = top.tok'
)


@query(oracle=_TOP90_SQL)
def _planner_top90_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from task_on_dataframes_spark.basic_tasks import register_document_tasks
    from task_on_dataframes_spark.plans.solve import Executor

    registry = register_document_tasks(spark, sf_dir)
    goal = "docs.text.clean_tokens.top90"
    frames = Executor([], [[goal]], registry=registry)
    for frame in reversed(frames):
        if goal in frame.columns:
            return frame.select(F.col("`" + goal + "`").alias("top90_token"))
    raise RuntimeError("planner did not produce goal frame")

# ---------------------------------------------------------------------------
# §2.4/§2.5/§2.6 aggregations, windows, ordering
# ---------------------------------------------------------------------------

@query(oracle=(
    "SELECT l_returnflag, count(*) AS cnt FROM lineitem "
    "GROUP BY l_returnflag ORDER BY cnt DESC, l_returnflag"
))
def _a1_value_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "l_returnflag")
    )

@query(oracle=(
    "SELECT CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) "
    "AS DOUBLE) AS qty_sum FROM lineitem"
))
def _a2_scalar_sum(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("qty_sum")
    )

@query(oracle=(
    "WITH c AS (SELECT l_returnflag, count(*) AS cnt FROM lineitem "
    "GROUP BY l_returnflag) "
    "SELECT l_returnflag, cnt, CAST(sum(cnt) OVER (ORDER BY cnt DESC, "
    "l_returnflag ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS BIGINT) AS running_cnt FROM c"
))
def _w1_running_sum(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("l_returnflag")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return counts.withColumn("running_cnt", F.sum("cnt").over(w))

@query(oracle=_TOP90_SQL)
def _w2_top90_tokens(spark, sf_dir):
    from task_on_dataframes_spark.operators.text import (
        clean_tokens,
        tokenize,
        top_mass_filter,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokenize(docs, "text", "token", carry=["doc_id"])
    clean = clean_tokens(toks, "token", "token", carry=["doc_id"])
    top = top_mass_filter(clean, "token", 0.9)
    return top.select(F.col("token").alias("top90_token"))

@query(oracle=(
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey "
    "LIMIT 50 OFFSET 100"
))
def _o2_pagination(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
    )

@query(oracle=(
    "SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey "
    "ORDER BY cnt DESC, l_suppkey ASC LIMIT 5"
))
def _o3_topk_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l_suppkey"))
        .limit(5)
    )

# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------

@query(oracle=(
    "SELECT l_orderkey, l_quantity, CAST(NULL AS VARCHAR) AS ghost_col "
    "FROM lineitem"
))
def _p1_projection_reindex(spark, sf_dir):
    from task_on_dataframes_spark.runtime import reindex_frame
    import warnings

    li = _t(spark, sf_dir, "lineitem")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = reindex_frame(li, ["l_orderkey", "l_quantity", "ghost_col"])
    return out.withColumn("ghost_col", F.col("ghost_col").cast("string"))

@query(oracle=(
    "SELECT p_partkey, p_name, p_brand FROM part "
    "WHERE p_name LIKE 'small%'"
))
def _p3_filter_startswith(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_name").startswith("small")).select(
        "p_partkey", "p_name", "p_brand"
    )

@query(oracle=(
    "SELECT o_orderkey, o_orderpriority FROM orders o LEFT JOIN "
    "(SELECT DISTINCT o_orderpriority AS p, true AS istop FROM orders "
    "WHERE o_orderpriority LIKE '1%') f ON o.o_orderpriority = f.p "
    "WHERE coalesce(f.istop, false)"
))
def _p5_null_safe_flag_filter(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    flags = (
        orders.filter(F.col("o_orderpriority").startswith("1"))
        .select(F.col("o_orderpriority").alias("p"))
        .distinct()
        .withColumn("istop", F.lit(True))
    )
    joined = orders.join(
        F.broadcast(flags), orders.o_orderpriority == flags.p, "left"
    )
    return (
        joined.filter(F.coalesce(F.col("istop"), F.lit(False)))
        .select("o_orderkey", "o_orderpriority")
    )

@query(oracle=(
    "SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem"
))
def _p6_distinct_subset(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_returnflag").distinct()

# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

@query(oracle=(
    "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment FROM orders "
    "LEFT JOIN customer ON o_custkey = c_custkey"
))
def _j3_left_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(cust.select("c_custkey", "c_name", "c_mktsegment")),
        orders.o_custkey == cust.c_custkey,
        "left",
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")

@query(oracle=(
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN "
    "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"
))
def _j4_semi_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")

@query(oracle=(
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN "
    "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"
))
def _j5_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")

def _oracle_sf_dir() -> str:
    """The directory the oracle compares against. The driver and
    tools/check_correctness.py both run DuckDB views over SF_DIR
    (default sf0.01); file-listing oracles must follow the same root."""
    import os

    return os.environ.get("SF_DIR", "/root/testdata/sf0.01")


# SF_DIR-aware: the checker (and driver) compare at whatever
# directory the SF_DIR env var points to; hardcoding sf0.01 here
# would spuriously fail any other SF. The oracle is a function so SF_DIR
# is read when oracle_sql() runs, not when the registry is imported.
@query(oracle=lambda: (
    f"SELECT file AS path FROM glob('{_oracle_sf_dir()}/*.parquet')"
))
def _s1_glob_source(spark, sf_dir):
    """S1: one row per file matching a glob (reference get_paths) —
    distributed listing via the binaryFile source, content column
    pruned at the scan."""
    from task_on_dataframes_spark.sources.readers import glob_source

    paths = glob_source(spark, f"{sf_dir}/*.parquet", out="path")
    return paths.select(
        F.regexp_replace("path", "^file:(//)?", "").alias("path")
    )

@query(oracle=lambda: (
    "SELECT filename AS path, size AS n_bytes "
    f"FROM read_blob('{_oracle_sf_dir()}/*.parquet')"
))
def _s2_whole_file_read(spark, sf_dir):
    """S2: whole-file contents beside the path (reference get_text);
    here the byte length stands in for content equality with the
    oracle's read_blob."""
    df = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    return df.select(
        F.regexp_replace("path", "^file:(//)?", "").alias("path"),
        F.length("content").alias("n_bytes"),
    )

@query(oracle=(
    "SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) "
    "AS token FROM documents"
))
def _f1_explode_carry(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    )

@query(oracle=(
    # Java split-at-\b keeping word-leading pieces == the
    # maximal \w+ runs, which RE2 extracts directly
    "SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) "
    "AS piece FROM documents"
))
def _f2_word_boundary_split(spark, sf_dir):
    """F2: split at regex word boundaries (reference tokenize,
    basic_tasks.py:60 — str.split(r'\\b')), keeping word pieces."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\b")).alias("piece"),
    ).filter(F.col("piece").rlike(r"^\w"))

@query(oracle=(
    "WITH q AS (SELECT text, "
    "round(least(len(string_split_regex(lower(text), '\\s+')) / 100.0, "
    "1.0), 6) AS qs FROM documents), "
    "k AS (SELECT text FROM q WHERE qs >= 0.2), "
    "t AS (SELECT string_split_regex(text, '\\s+') AS ts FROM k) "
    "SELECT array_to_string(ts[i.i * 64 + 1 : i.i * 64 + 64], ' ') "
    "AS chunk FROM t, LATERAL unnest(generate_series(0, "
    "CAST(ceil(len(ts) / 64.0) AS INT) - 1)) AS i(i)"
))
def _planner_llm_chunks(spark, sf_dir):
    """Planner-composed LLM pipeline: the goal column
    ``docs.text.kept.chunks`` makes BFS assemble
    get_docs -> score_quality -> filter_quality -> chunk_docs, compiled
    by Catalyst as ONE lazy plan (quality filter pushed into the scan
    side of the chunk explode)."""
    from task_on_dataframes_spark.llm_tasks import register_llm_tasks
    from task_on_dataframes_spark.plans.solve import solve_goal

    reg = register_llm_tasks(spark, sf_dir, min_quality=0.2, chunk_tokens=64)
    frame = solve_goal([], ["docs.text.kept.chunks"], registry=reg)
    return frame.select(
        F.col("`docs.text.kept.chunks`").alias("chunk")
    )


@query(oracle=(
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
))
def _planner_pack(spark, sf_dir):
    """Planner-composed five-task pipeline: the goal pair
    (docs.text.kept.chunks, docs.text.kept.chunks.packs) makes BFS
    assemble get_docs -> score_quality -> filter_quality -> chunk_docs
    -> pack_chunks — the deepest registered composition, still ONE lazy
    Catalyst plan. Output is the per-pack summary; the oracle replays
    quality gating, chunking, md5-ordered prefix-sum packing."""
    from task_on_dataframes_spark.llm_tasks import (
        register_llm_tasks,
        register_pack_task,
    )
    from task_on_dataframes_spark.plans.solve import solve_goal

    reg = register_llm_tasks(spark, sf_dir, min_quality=0.2, chunk_tokens=64)
    register_pack_task(reg, budget=512)
    frame = solve_goal(
        [],
        ["docs.text.kept.chunks", "docs.text.kept.chunks.packs"],
        registry=reg,
    )
    return (
        frame.groupBy(F.col("`docs.text.kept.chunks.packs`").alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.size(
                    F.split(F.col("`docs.text.kept.chunks`"), r"\s+")
                )
            ).alias("pack_tokens"),
        )
    )
