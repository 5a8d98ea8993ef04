"""Driver contract for the spark-graft builder (PySpark target).

`queries()` / `oracle_sql()` are backed by the xtdb_spark query
catalog (xtdb_spark/queries/*) — one entry per implemented operator
from SURVEY.md §2, each oracle-checked against DuckDB where
SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing
    summary (the reference's own golden-output headliner,
    src/test/clojure/xtdb/tpch_test.clj)."""
    from xtdb_spark.queries import QUERIES

    return QUERIES["tpch_q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


# The driver's correctness gate samples the FIRST 50 entries of
# queries(), so the head is curated: 20 TPC-H + 10 operator
# headliners stay every round; the other 20 slots ROTATE across the
# catalog's classes (fn_/sql_/bitemp_/pipe_/xtql_/dyn_/src_) so
# driver-gate coverage reaches beyond the fixed subset over rounds
# (VERDICT r11 #6). The full 200+ catalog still runs in
# tools/check_oracle.py every round regardless.
_GATE_STABLE = [
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q4_order_priority", "tpch_q5_local_supplier_volume",
    "tpch_q6_revenue_forecast", "tpch_q10_returned_items",
    "tpch_q14_promo_effect", "tpch_q18_large_volume_customer",
    "tpch_q19_discounted_revenue", "tpch_q2_min_cost_supplier",
    "tpch_q8_national_market_share", "tpch_q9_product_type_profit",
    "tpch_q11_important_stock", "tpch_q13_customer_order_distribution",
    "tpch_q15_top_supplier", "tpch_q16_part_supplier_relationship",
    "tpch_q17_small_quantity_revenue", "tpch_q20_potential_promotion",
    "tpch_q21_suppliers_who_kept_orders_waiting",
    "tpch_q22_global_sales_opportunity",
    "op_join_inner", "op_join_left_outer", "op_join_full_outer",
    "op_join_semi", "op_join_anti", "op_join_mark", "op_join_single",
    "op_apply_decorrelated", "op_group_by_aggs",
    "op_order_by_nulls_limit",
]
# r13 rotation (VERDICT r12 #10: a DIFFERENT 20 each round): the
# aggregate/window/set-op battery returns — none of these 20 were in
# the r12 gate window, so the driver's 50-query gate keeps sweeping.
_GATE_ROTATION_R13 = [
    "op_agg_array", "op_agg_bool", "op_agg_distinct",
    "op_agg_empty_rel", "op_agg_percentile", "op_agg_stats",
    "op_cross_join", "op_distinct", "op_except", "op_grouping_rollup",
    "op_having", "op_intersect", "op_pivot", "op_top_offset_limit",
    "op_union_all", "op_unnest_ordinality", "op_window_frame_agg",
    "op_window_lead_lag", "op_window_rank", "op_window_row_number",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from xtdb_spark.queries import query_map

    qm = query_map()
    head = [k for k in (_GATE_STABLE + _GATE_ROTATION_R13) if k in qm]
    out = {k: qm[k] for k in head}
    out.update((k, v) for k, v in qm.items() if k not in out)
    return out


def oracle_sql() -> dict[str, str]:
    from xtdb_spark.queries import oracle_map

    return oracle_map()
