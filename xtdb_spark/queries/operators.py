"""Per-operator correctness queries — one per reference operator
(SURVEY.md §2; reference core/src/main/clojure/xtdb/operator/*.clj),
each paired with a DuckDB oracle. These are the Spark analogues of the
reference's operator unit tests (src/test/clojure/xtdb/operator/).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from xtdb_spark.queries.registry import dsum, ld, register

# ---------------------------------------------------------------- joins

@register(
    "op_join_inner",
    """
    SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_inner(spark, sf_dir):
    """:join (operator/join.clj:41-45) — broadcast hash join here."""
    n = ld(spark, sf_dir, "nation")
    r = F.broadcast(ld(spark, sf_dir, "region"))
    return n.join(r, n.n_regionkey == r.r_regionkey).select("n_name", "r_name")


@register(
    "op_join_left_outer",
    """
    SELECT n_nationkey, n_name,
           COUNT(s_suppkey) AS n_rich_suppliers,
           COUNT(*) AS n_rows
    FROM nation LEFT JOIN supplier
      ON s_nationkey = n_nationkey AND s_acctbal > 9000
    GROUP BY n_nationkey, n_name
    """,
)
def join_left(spark, sf_dir):
    """:left-outer-join (join.clj:47-51) — COUNT(col) vs COUNT(*)
    distinguishes null-extended rows."""
    n = ld(spark, sf_dir, "nation")
    s = ld(spark, sf_dir, "supplier")
    return (
        n.join(s, (s.s_nationkey == n.n_nationkey) & (s.s_acctbal > 9000), "left")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("s_suppkey").alias("n_rich_suppliers"),
             F.count("*").alias("n_rows"))
    )


@register(
    "op_join_full_outer",
    """
    WITH c AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_acctbal > 9980),
         s AS (SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal > 9500)
    SELECT c_nationkey, s_nationkey,
           (c_nationkey IS NULL) AS missing_customer,
           (s_nationkey IS NULL) AS missing_supplier
    FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
    """,
)
def join_full(spark, sf_dir):
    """:full-outer-join (join.clj:53-57)."""
    c = (ld(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9980)
         .select("c_nationkey").distinct())
    s = (ld(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9500)
         .select("s_nationkey").distinct())
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full")
        .select("c_nationkey", "s_nationkey",
                F.col("c_nationkey").isNull().alias("missing_customer"),
                F.col("s_nationkey").isNull().alias("missing_supplier"))
    )


@register(
    "op_join_semi",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
)
def join_semi(spark, sf_dir):
    """:semi-join (join.clj:59-63)."""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    )


@register(
    "op_join_anti",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def join_anti(spark, sf_dir):
    """:anti-join (join.clj:65-69) — customers with no orders."""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    )


@register(
    "op_join_mark",
    """
    SELECT mark, COUNT(*) AS n FROM (
      SELECT o_custkey IN (SELECT NULLIF(c_custkey, 7) FROM customer
                           WHERE c_acctbal > 9900) AS mark
      FROM orders) GROUP BY mark
    """,
)
def join_mark(spark, sf_dir):
    """:mark-join (join.clj:71-75; JoinType.kt mark kernel): 3-valued
    IN-subquery result as a column. Spark mapping per SURVEY §2.3:
    left join + CASE WHEN matched THEN true WHEN subquery-has-null
    THEN null ELSE false END."""
    o = ld(spark, sf_dir, "orders")
    sub = (ld(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
           .select(F.expr("NULLIF(c_custkey, 7)").alias("k")))
    # subquery-has-null stays IN-PLAN as a broadcast 1-row aggregate
    # (no extra driver-side job at plan-build time)
    has_null = sub.agg(F.coalesce(F.bool_or(F.col("k").isNull()),
                                  F.lit(False)).alias("__has_null"))
    matches = sub.filter(F.col("k").isNotNull()).distinct()
    j = (o.crossJoin(F.broadcast(has_null))
         .join(F.broadcast(matches), o.o_custkey == matches.k, "left"))
    mark = (F.when(F.col("k").isNotNull(), F.lit(True))
            .when(F.col("__has_null") | F.col("o_custkey").isNull(),
                  F.lit(None).cast("boolean"))
            .otherwise(F.lit(False)))
    return j.select(mark.alias("mark")).groupBy("mark").agg(F.count("*").alias("n"))


@register(
    "op_join_single",
    """
    SELECT s_suppkey, s_acctbal,
           s_acctbal - (SELECT MIN(s2.s_acctbal) FROM supplier s2
                        WHERE s2.s_nationkey = supplier.s_nationkey) AS above_nation_min
    FROM supplier
    """,
)
def join_single(spark, sf_dir):
    """:single-join (join.clj:77-81) — correlated scalar subquery,
    decorrelated to group-by + equi-join (the same rewrite the
    reference applies via apply-rules, logical_plan.clj:991-1210)."""
    s = ld(spark, sf_dir, "supplier")
    mins = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.min("s_acctbal").alias("nation_min"))
    return (
        s.join(F.broadcast(mins), s.s_nationkey == mins.nk)
        .select("s_suppkey", "s_acctbal",
                (F.col("s_acctbal") - F.col("nation_min")).alias("above_nation_min"))
    )


@register(
    "op_cross_join",
    "SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def cross_join(spark, sf_dir):
    """:cross-join (join.clj:23-27)."""
    return ld(spark, sf_dir, "region").crossJoin(
        ld(spark, sf_dir, "nation")).select("r_name", "n_name")


@register(
    "op_apply_decorrelated",
    """
    SELECT c_mktsegment, COUNT(*) AS n
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 350000)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_totalprice < 5000)
    GROUP BY c_mktsegment
    """,
)
def apply_decorrelated(spark, sf_dir):
    """:apply correlated EXISTS/NOT EXISTS (operator/apply.clj) —
    expressed directly as semi + anti joins, i.e. pre-decorrelated
    exactly like the reference's apply-rules rewrite."""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 350000)
    small = o.filter(F.col("o_totalprice") < 5000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .join(small, c.c_custkey == small.o_custkey, "left_anti")
        .groupBy("c_mktsegment").agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------- aggregation

@register(
    "op_group_by_aggs",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order,
           MIN(o_orderpriority) AS min_priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def group_by_aggs(spark, sf_dir):
    """:group-by (operator/group_by.clj) — count/count-distinct/
    min/max over numeric, temporal and utf8 (group_by.clj:183-217)."""
    o = ld(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.min("o_orderpriority").alias("min_priority"),
        dsum(F.col("o_totalprice"), "sum_price"),
    )


@register(
    "op_agg_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_quantity) AS n_distinct_qty,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_distinct_qty,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
             / COUNT(DISTINCT l_quantity) AS avg_distinct_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark, sf_dir):
    """distinct-wrapped aggregates (group_by.clj:219-259)."""
    l = ld(spark, sf_dir, "lineitem")
    qd = F.sum_distinct(F.col("l_quantity").cast("decimal(28,2)")).cast("double")
    nd = F.countDistinct("l_quantity")
    return l.groupBy("l_returnflag").agg(
        nd.alias("n_distinct_qty"),
        qd.alias("sum_distinct_qty"),
        (qd / nd).alias("avg_distinct_qty"),
    )


@register(
    "op_agg_stats",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS mean_qty,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*)
             - POW(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*), 2)
             AS var_pop_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark, sf_dir):
    """var_pop/stddev family (group_by.clj:156-166) — computed from
    exact decimal sums so the result is order-insensitive (Spark's
    native var_pop merges partials in nondeterministic order)."""
    l = ld(spark, sf_dir, "lineitem")
    n = F.count("*")
    s1 = F.sum(F.col("l_quantity").cast("decimal(28,2)")).cast("double")
    s2 = F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(28,4)")).cast("double")
    mean = s1 / n
    return l.groupBy("l_returnflag").agg(
        n.alias("n"),
        mean.alias("mean_qty"),
        (s2 / n - F.pow(mean, 2)).alias("var_pop_qty"),
    )


@register(
    "op_agg_bool",
    """
    SELECT l_returnflag,
           BOOL_AND(l_quantity < 50) AS all_under_50,
           BOOL_OR(l_discount > 0.09) AS any_big_discount,
           BOOL_AND(l_tax >= 0) AS every_tax_nonneg
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bool(spark, sf_dir):
    """bool_and/bool_or/every (group_by.clj:467-477)."""
    l = ld(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") < 50).alias("all_under_50"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_discount"),
        F.bool_and(F.col("l_tax") >= 0).alias("every_tax_nonneg"),
    )


@register(
    "op_agg_array",
    """
    SELECT s_nationkey,
           array_to_string(list_sort(array_agg(s_name)), ',') AS supplier_names,
           COUNT(*) AS n
    FROM supplier GROUP BY s_nationkey
    """,
)
def agg_array(spark, sf_dir):
    """array_agg (group_by.clj:282-351). Sorted then joined to a
    string so the value is order-insensitive and hash-comparable."""
    s = ld(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias("supplier_names"),
        F.count("*").alias("n"),
    )


@register(
    "op_agg_percentile",
    """
    SELECT l_linestatus,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_percentile(spark, sf_dir):
    """percentile_cont WITHIN GROUP (group_by.clj:353-465). Exact
    interpolated percentile (Spark `percentile`, not approx);
    rounded to absorb last-ulp interpolation differences.

    Both percentiles come from ONE percentile(col, array(...)) state:
    two separate percentile() aggregates each build their own
    value->count map over every row (r12 A/B at sf1: 4.6 -> 2.3 s,
    rows identical — same sorted map, same interpolation).

    r13 (guide §2.5): from sf1 (lineitem `is_big`) the same exact
    math runs through the spill-safe distinct+window path instead of
    the in-memory value->count map — both paths bit-identical
    (pinned by test_r13_opt)."""
    from xtdb_spark.operators.percentile import exact_percentiles

    l = ld(spark, sf_dir, "lineitem")
    g = exact_percentiles(l, "l_linestatus", "l_extendedprice",
                          [0.5, 0.9])
    return g.select(
        "l_linestatus",
        F.round(F.col("__p")[0], 4).alias("median_price"),
        F.round(F.col("__p")[1], 4).alias("p90_price"),
    )


@register(
    "op_agg_empty_rel",
    """
    SELECT COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS s,
           CAST(MIN(o_totalprice) AS DOUBLE) AS mn
    FROM orders WHERE o_totalprice < 0
    """,
)
def agg_empty_rel(spark, sf_dir):
    """zero-row aggregate semantics (group_by.clj:122-148): global
    aggregate over empty input → single row of count=0 / null sums."""
    o = ld(spark, sf_dir, "orders").filter(F.col("o_totalprice") < 0)
    return o.agg(F.count("*").alias("n"),
                 dsum(F.col("o_totalprice"), "s"),
                 F.min("o_totalprice").alias("mn"))


@register(
    "op_grouping_rollup",
    """
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_bal
    FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    """,
)
def grouping_rollup(spark, sf_dir):
    """ROLLUP — exceeds the reference (no grouping sets in its
    grammar, SURVEY §2.4) but native in both Spark and DuckDB."""
    c = ld(spark, sf_dir, "customer")
    return c.rollup("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("n"), dsum(F.col("c_acctbal"), "sum_bal"))


@register(
    "op_having",
    """
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
)
def having(spark, sf_dir):
    o = ld(spark, sf_dir, "orders")
    return (o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
            .filter(F.col("n_orders") >= 15))


@register(
    "op_pivot",
    """
    SELECT c_mktsegment,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot(spark, sf_dir):
    """Pivot — Spark-native .pivot(); exceeds the reference surface."""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(F.col("c_mktsegment"),
                F.coalesce("F", F.lit(0)).alias("status_f"),
                F.coalesce("O", F.lit(0)).alias("status_o"),
                F.coalesce("P", F.lit(0)).alias("status_p"))
    )


# ------------------------------------------------------------- windows

@register(
    "op_window_row_number",
    """
    SELECT o_orderstatus, o_orderkey, rn FROM (
      SELECT o_orderstatus, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def window_row_number(spark, sf_dir):
    """:window row_number (operator/window.clj:77-167) — top-k per group."""
    o = ld(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_orderstatus", "o_orderkey", "rn"))


@register(
    "op_window_lead_lag",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           CAST(o_totalprice - LAG(o_totalprice) OVER w AS DOUBLE) AS price_delta
    FROM orders WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lead_lag(spark, sf_dir):
    """lead/lag (window.clj:77-167)."""
    o = ld(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_delta"),
    )


@register(
    "op_window_rank",
    """
    SELECT s_nationkey, s_suppkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           PERCENT_RANK() OVER w AS prnk,
           CUME_DIST() OVER w AS cdist,
           NTILE(4) OVER w AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def window_rank(spark, sf_dir):
    """rank/dense_rank/percent_rank/cume_dist/ntile — parsed but
    unimplemented in the reference (Sql.g4:413-428 vs window.clj:23-24);
    native in Spark, so we exceed parity here."""
    s = ld(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return s.select(
        "s_nationkey", "s_suppkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "op_window_frame_agg",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rolling3_total
    FROM orders WHERE o_custkey < 50
    """,
)
def window_frame_agg(spark, sf_dir):
    """Aggregates-over-window with ROWS frames — grammar-only in the
    reference (Sql.g4:608-629), executable here."""
    o = ld(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(28,2)")
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").alias("running_total"),
        F.sum(dec).over(w.rowsBetween(-2, 0)).cast("double").alias("rolling3_total"),
    )


# ------------------------------------- sort / limit / distinct / set ops

@register(
    "op_order_by_nulls_limit",
    """
    SELECT s_suppkey, nullable_bal FROM (
      SELECT s_suppkey, CASE WHEN s_acctbal < 500 THEN NULL ELSE s_acctbal END
             AS nullable_bal
      FROM supplier)
    ORDER BY nullable_bal ASC NULLS FIRST, s_suppkey LIMIT 20
    """,
)
def order_by_nulls(spark, sf_dir):
    """:order-by with null ordering (operator/order_by.clj:17-28) +
    :top limit (operator/top.clj)."""
    s = ld(spark, sf_dir, "supplier")
    nb = F.when(F.col("s_acctbal") < 500, F.lit(None).cast("double")) \
        .otherwise(F.col("s_acctbal"))
    return (s.select("s_suppkey", nb.alias("nullable_bal"))
            .orderBy(F.col("nullable_bal").asc_nulls_first(), F.col("s_suppkey"))
            .limit(20))


@register(
    "op_top_offset_limit",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 5 OFFSET 10
    """,
)
def top_offset_limit(spark, sf_dir):
    """:top OFFSET/LIMIT (operator/top.clj:10-83)."""
    o = ld(spark, sf_dir, "orders")
    return (o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey", "o_totalprice").offset(10).limit(5))


@register(
    "op_distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_op(spark, sf_dir):
    """:distinct (operator/distinct.clj)."""
    return ld(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "op_union_all",
    """
    SELECT kind, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum FROM (
      SELECT 'customer' AS kind, c_custkey AS k FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_suppkey AS k FROM supplier)
    GROUP BY kind
    """,
)
def union_all(spark, sf_dir):
    """:union-all (operator/set.clj:19-23)."""
    c = ld(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"), F.col("c_custkey").alias("k"))
    s = ld(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"), F.col("s_suppkey").alias("k"))
    return (c.unionByName(s).groupBy("kind")
            .agg(F.count("*").alias("n"), F.sum("k").alias("key_sum")))


@register(
    "op_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9900
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def intersect_op(spark, sf_dir):
    """:intersect (operator/set.clj:81-145)."""
    c = (ld(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
         .select(F.col("c_nationkey").alias("nationkey")))
    s = ld(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "op_except",
    """
    SELECT n_nationkey AS nationkey FROM nation
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 0
    """,
)
def except_op(spark, sf_dir):
    """:difference (operator/set.clj:147-164)."""
    n = ld(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    s = (ld(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
         .select(F.col("s_nationkey").alias("nationkey")))
    return n.exceptAll(s).distinct()


@register(
    "op_unnest_ordinality",
    """
    SELECT doc_id, CAST(t.ord - 1 AS INTEGER) AS pos, t.word
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents
          WHERE doc_id < 20) d,
         LATERAL (SELECT UNNEST(d.words) AS word,
                         generate_subscripts(d.words, 1) AS ord) t
    """,
)
def unnest_ordinality(spark, sf_dir):
    """:unnest with ordinality (operator/unnest.clj:15-120) →
    posexplode."""
    d = (ld(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
         .select("doc_id", F.split("text", " ").alias("words")))
    return d.select("doc_id", F.posexplode("words").alias("pos", "word"))


@register(
    "op_window_range_frame",
    """
    SELECT user_id, ts,
           COUNT(*) OVER w AS n_24h,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS v_24h
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame(spark, sf_dir):
    """Time-based RANGE frame (trailing 24h rollup) — RANGE frames
    are grammar-only in the reference (Sql.g4:608-629, window.clj:23-24);
    native here. The decimal detour keeps the running sums
    order-insensitive."""
    e = ld(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    e.createOrReplaceTempView("xt_tmp_range_frame_events")
    return spark.sql("""
        SELECT user_id, ts,
               COUNT(*) OVER w AS n_24h,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS v_24h
        FROM xt_tmp_range_frame_events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW)
    """)


@register(
    "op_join_salted",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value * c_acctbal AS DECIMAL(38,6))), 2)
                AS DOUBLE) AS weighted
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY event_type ORDER BY event_type
    """,
)
def join_salted(spark, sf_dir):
    """Salted skew join (xtdb_spark/operators/skew.py): the fact side
    scatters over 8 salt buckets, the dim side replicates x8 — the
    power-law-key defense at 100 TB. Salting is result-neutral, so
    the oracle is the PLAIN join: the check proves the rewrite exact."""
    from xtdb_spark.operators.skew import salted_join

    e = ld(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    c = ld(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    j = salted_join(e, c, "c_custkey", salt=8)
    return (j.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 # 2dp on the exact decimal BEFORE the lossy cast:
                 # at sf10 this sum reaches 16 significant digits and
                 # the engines' decimal->double casts differ by 1 ulp
                 # (same find as tpch_q1, sf10 oracle soak)
                 F.round(F.sum((F.col("value") * F.col("c_acctbal"))
                               .cast("decimal(38,6)")), 2)
                 .cast("double").alias("weighted"))
            .orderBy("event_type"))


@register(
    "an_topk_per_type",
    """
    SELECT event_type, user_id, value, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT event_type, user_id, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id) AS rnk
          FROM events)
    WHERE rnk <= 3
    """,
)
def topk_per_type(spark, sf_dir):
    """Top-k per group — rank-filter shape (ClickBench staple)."""
    from pyspark.sql import Window

    e = ld(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (e.select("event_type", "user_id", "value",
                     F.row_number().over(w).alias("rnk"))
            .filter(F.col("rnk") <= 3))


@register(
    "fn_regexp_extract",
    """
    SELECT regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun,
           COUNT(*) AS n
    FROM part
    WHERE regexp_matches(p_name, '^[a-z]+ [a-z]+$')
    GROUP BY noun ORDER BY noun
    """,
)
def regexp_extract_fn(spark, sf_dir):
    """regexp_extract + regexp predicate (reference like_regex /
    regexp_replace family, expression.clj:1146-1161)."""
    p = ld(spark, sf_dir, "part")
    return (p.filter(F.col("p_name").rlike("^[a-z]+ [a-z]+$"))
            .select(F.regexp_extract("p_name", r"([a-z]+) ([a-z]+)", 2)
                    .alias("noun"))
            .groupBy("noun").agg(F.count("*").alias("n"))
            .orderBy("noun"))


@register(
    "op_grouping_sets_cube",
    """
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal,
           GROUPING(c_mktsegment) AS g_seg, GROUPING(c_nationkey) AS g_nat
    FROM customer
    WHERE c_nationkey < 10
    GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
    """,
)
def grouping_sets_cube(spark, sf_dir):
    """GROUPING SETS + GROUPING() markers — grammar-rejected in the
    reference (Sql.g4:595-599 allows plain elements only); native
    here. Spark computes all sets in one Expand+aggregate pass."""
    c = ld(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 10)
    c.createOrReplaceTempView("xt_tmp_gsets_customer")
    return spark.sql("""
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal,
               GROUPING(c_mktsegment) AS g_seg, GROUPING(c_nationkey) AS g_nat
        FROM xt_tmp_gsets_customer
        GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey),
                                (c_mktsegment), ())
    """)


_RECURSIVE_CTE_SQL = """
    WITH RECURSIVE chain(nk, depth) AS (
      SELECT n_nationkey AS nk, 0 AS depth FROM nation
      WHERE n_nationkey = 0
      UNION ALL
      SELECT n.n_nationkey, c.depth + 1
      FROM nation n JOIN chain c ON n.n_nationkey = c.nk + 5)
    SELECT nk, CAST(depth AS INTEGER) AS depth FROM chain ORDER BY nk
"""


@register("op_recursive_cte", _RECURSIVE_CTE_SQL)
def recursive_cte(spark, sf_dir):
    """WITH RECURSIVE (reference grammar Sql.g4:670 `withClause:
    'WITH' RECURSIVE?`): an iterative graph walk — anchor row plus a
    join-based recursive step — executed by Spark 4's native
    recursive-CTE support (one UnionLoop; each iteration is a
    distributed join, so the walk scales with cluster width)."""
    ld(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_RECURSIVE_CTE_SQL)
