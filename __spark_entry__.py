"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship planner-driven text pipeline at
sf0.001. ``queries()`` exposes every query registered with ``@query``
in ``task_on_dataframes_spark/registry``, check window first;
``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL for each, in
the same order, read from the ``oracle=`` of its ``@query``.

Column-name discipline: every computed column is aliased identically in
the Spark code and the oracle SQL (the driver's compare sorts columns by
name before hashing). Float aggregates are rounded on BOTH sides so
IEEE summation-order differences between engines can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from task_on_dataframes_spark.registry import ORACLES, QUERIES

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["planner_top90_tokens"](spark, SF0001)


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


def oracle_sql() -> dict[str, str]:
    oracles = {n: ORACLES[n] for n in queries()}
    return {n: o() if callable(o) else o for n, o in oracles.items()}
