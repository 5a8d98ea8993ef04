"""TPC-H-style analytical queries adapted to the driver's testdata
columns (TESTDATA.md; some standard TPC-H columns are absent).

Parity model: the reference runs TPC-H as its golden-output
correctness battery (reference src/test/clojure/xtdb/tpch_test.clj,
modules/bench/src/main/clojure/xtdb/bench/tpch.clj). Here each query
is declarative DataFrame API, so Catalyst handles join ordering,
predicate pushdown and AQE picks broadcast vs shuffle join at runtime
— the reference's mega-join greedy ordering (operator/join.clj:684-736)
and bloom sideways-pushdown (join.clj:172-226) have native Spark
equivalents (CBO/AQE + runtime bloom filter).

Scale notes (100 TB target):
- region/nation are bounded-size dimensions → explicit broadcast().
- fact-fact joins (orders⋈lineitem) shuffle on the join key; both
  sides are already key-partitionable and AQE handles skew.
- aggregates are partial-aggregated map-side by Spark automatically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xtdb_spark.queries.registry import (
    davg, dsum, exact_agg, fx, fxsum, ld, register,
    sql_davg, sql_dsum, sql_dsum2,
)

_REV = "l_extendedprice * (1 - l_discount)"


@register(
    "tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum2('l_extendedprice', 'sum_base_price')},
           {sql_dsum2(_REV, 'sum_disc_price')},
           {sql_dsum2(f'{_REV} * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc', 'DECIMAL(38,6)')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark, sf_dir):
    """registry.exact_agg: from sf1 (lineitem `is_big`) the full pass
    sums fixed-point longs and wide-decimal arithmetic only touches
    the per-partition partials (1.6× at the sf1 replica); below, one
    decimal(38,6) aggregate."""
    l = ld(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    filtered = l.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    out = exact_agg(
        filtered, ["l_returnflag", "l_linestatus"],
        round2={"sum_base_price", "sum_disc_price", "sum_charge"},
        sums={"sum_qty": F.col("l_quantity"),
              "sum_base_price": F.col("l_extendedprice"),
              "sum_disc_price": rev,
              "sum_charge": rev * (1 + F.col("l_tax"))},
        avgs={"avg_qty": F.col("l_quantity"),
              "avg_price": F.col("l_extendedprice"),
              "avg_disc": F.col("l_discount")},
        counts={"count_order": None})
    return out.select("l_returnflag", "l_linestatus", "sum_qty",
                      "sum_base_price", "sum_disc_price", "sum_charge",
                      "avg_qty", "avg_price", "avg_disc", "count_order")


@register(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l_orderkey, {sql_dsum(_REV, 'revenue')}, o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3(spark, sf_dir):
    c = ld(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = ld(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    l = ld(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        # per-order group ≤ 7 lineitems → bounded, long-sum-safe;
        # sort/limit on the raw fixed-point units (order-equivalent,
        # positive scale) so the decimal division touches 10 rows,
        # not 3M groups
        .agg(F.sum(fx(rev)).alias("__r"))
        .orderBy(F.desc("__r"), "l_orderkey")
        .limit(10)
        .select("l_orderkey",
                (F.col("__r").cast("decimal(38,0)") / 1_000_000)
                .cast("double").alias("revenue"),
                "o_orderdate", "o_orderpriority")
    )


@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01'
      AND o_orderdate < TIMESTAMP '1995-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4(spark, sf_dir):
    """Semi-join (reference :semi-join, operator/join.clj:59-63,485-493)."""
    o = ld(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp")))
    l = ld(spark, sf_dir, "lineitem")
    return (
        o.join(l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
               "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q5_local_supplier_volume",
    f"""
    SELECT n_name, {sql_dsum(_REV, 'revenue')}
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5(spark, sf_dir):
    """6-way join — the reference's :mega-join case
    (operator/join.clj:83-86,684-736); here Catalyst CBO + AQE pick
    the order, with dimensions broadcast explicitly."""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    l = ld(spark, sf_dir, "lineitem")
    s = ld(spark, sf_dir, "supplier")
    n = F.broadcast(ld(spark, sf_dir, "nation"))
    r = F.broadcast(ld(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey))
    # 5 nation groups, unbounded rows per group at scale: a big input
    # takes exact_agg's two-level path, long sums over the data pass
    # (no overflow — stage-1 groups are partition-bounded, stage-2
    # merge is decimal) instead of a wide-decimal sum over every row
    return (exact_agg(joined, ["n_name"], sums={"revenue": rev})
            .orderBy(F.desc("revenue"), "n_name"))


@register(
    "tpch_q6_revenue_forecast",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6(spark, sf_dir):
    l = ld(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
             F.count("*").alias("n_items"))
    )


@register(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name, {sql_dsum(_REV, 'revenue')}, c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1995-10-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10(spark, sf_dir):
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")))
    l = ld(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(ld(spark, sf_dir, "nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # per-customer-quarter group — data-model-bounded, long-sum-
        # safe; sort/limit on raw units, divide the 20 survivors only
        .agg(F.sum(fx(rev)).alias("__r"))
        .orderBy(F.desc("__r"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name",
                (F.col("__r").cast("decimal(38,0)") / 1_000_000)
                .cast("double").alias("revenue"),
                "c_acctbal", "n_name")
    )


@register(
    "tpch_q14_promo_effect",
    f"""
    SELECT (CAST(100 AS DOUBLE)
            * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST({_REV} AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE))
           / CAST(SUM(CAST({_REV} AS DECIMAL(38,6))) AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14(spark, sf_dir):
    l = ld(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp")))
    p = ld(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(38,6)"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(((F.lit(100.0) * F.sum(promo).cast("double"))
              / F.sum(rev).cast("double")).alias("promo_revenue"))
    )


@register(
    "tpch_q18_large_volume_customer",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 300)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18(spark, sf_dir):
    """Aggregate-subquery IN + re-aggregation. The subquery's
    per-order SUM *is* the outer query's sum_qty (grouping keys are
    unique per order), so one aggregation serves both — lineitem is
    shuffled once instead of twice."""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders")
    l = ld(spark, sf_dir, "lineitem")
    # per-order group ≤ 7 lineitems: exact long fixed-point sum stays
    # in the primitive fast path over the 15M-group shuffle
    big = (l.groupBy("l_orderkey")
           .agg(F.sum(fx(F.col("l_quantity"))).alias("__q"))
           .filter(F.col("__q") > 300 * 1_000_000))
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice",
                (F.col("__q").cast("decimal(38,0)") / 1_000_000)
                .cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q19_discounted_revenue",
    f"""
    SELECT {sql_dsum(_REV, 'revenue')}, COUNT(*) AS n_items
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
            AND l_quantity >= 1 AND l_quantity <= 30)
        OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
            AND l_quantity >= 5 AND l_quantity <= 40)
        OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
            AND l_quantity >= 10 AND l_quantity <= 50))
    """,
)
def q19(spark, sf_dir):
    """Join with disjunctive residual predicate — the reference's
    theta-join residual evaluation (operator/join.clj:331-334)."""
    l = ld(spark, sf_dir, "lineitem")
    p = ld(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 15) & q.between(1, 30))
        | ((F.col("p_brand") == "Brand#2") & sz.between(1, 25) & q.between(5, 40))
        | ((F.col("p_brand") == "Brand#3") & sz.between(1, 50) & q.between(10, 50))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(rev, "revenue"), F.count("*").alias("n_items"))
    )
