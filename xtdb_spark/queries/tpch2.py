"""TPC-H Q2/Q8/Q9/Q11/Q13/Q15/Q16/Q17/Q20/Q21/Q22 adapted to the
driver's testdata columns (TESTDATA.md: no partsupp, no
l_commitdate/l_receiptdate, no c_phone/p_container/p_mfgr).

Each adaptation preserves the query's *operator shape* — the thing
the reference's TPC-H battery exercises (reference
src/test/clojure/xtdb/tpch_test.clj, decorrelation rules
core/src/main/clojure/xtdb/logical_plan.clj:991-1210):

- Q2/Q15/Q17: correlated scalar-aggregate subquery (min/max/avg per
  outer key) → apply→join decorrelation; here expressed directly as
  an aggregate + equi-join, the same plan Catalyst's
  RewriteCorrelatedScalarSubquery produces.
- Q11: aggregate filtered against a global scalar subquery.
- Q13: outer join with ON-clause filter + two-level aggregation.
- Q16: NOT IN (subquery) → null-aware anti join.
- Q20: nested IN over a grouped HAVING subquery.
- Q21: EXISTS + NOT EXISTS double-correlated semi/anti join pair.
- Q22: scalar subquery threshold + NOT EXISTS anti join.

Hash-stability: every reduction over doubles goes through exact
DECIMAL sums (registry docstring); per-row double arithmetic
(division, multiplication) is IEEE-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xtdb_spark.queries.registry import (
    dsum, exact_agg, ld, register, sql_dsum,
)

_REV = "l_extendedprice * (1 - l_discount)"


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH supply AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, cost AS supplycost
    FROM supply, part, supplier, nation, region
    WHERE partkey = p_partkey AND suppkey = s_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE' AND p_size = 15 AND p_type = 'PROMO'
      AND cost = (SELECT MIN(s2.cost)
                  FROM supply s2, supplier sp2, nation n2, region r2
                  WHERE s2.partkey = p_partkey AND s2.suppkey = sp2.s_suppkey
                    AND sp2.s_nationkey = n2.n_nationkey
                    AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2(spark, sf_dir):
    """Q2 adapted: unit price from lineitem stands in for partsupp
    supply cost. The correlated MIN subquery is decorrelated into a
    per-part aggregate joined back on (partkey, cost).

    Scale shape: the part filter and the EU-supplier set are both
    broadcast-joined into lineitem BEFORE the (partkey, suppkey)
    aggregate — the reference's iid/bloom sideways pushdown
    (join.clj:172-226) — so the only big shuffle aggregates the
    surviving sliver instead of all of lineitem.

    r12 (guide §2.4/§3): the EU-supplier dimension is built ONCE —
    the inner broadcast join replaces the old semi-join prune and its
    attributes ride through the aggregate's grouping keys (suppkey →
    attrs is functionally dependent, so the groups are unchanged),
    instead of re-building the supplier⋈nation⋈region subtree a
    second time after the window. Same rows; one dimension build and
    one fewer join (same-JVM A/B 1.11×)."""
    l = ld(spark, sf_dir, "lineitem")
    p = ld(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO"))
    s = ld(spark, sf_dir, "supplier")
    n = F.broadcast(ld(spark, sf_dir, "nation"))
    r = F.broadcast(ld(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"))
    eu_supp = (s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
               .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
               .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    pruned = (l
              .join(F.broadcast(p.select("p_partkey")),
                    F.col("l_partkey") == F.col("p_partkey"), "left_semi")
              .join(F.broadcast(eu_supp),
                    F.col("l_suppkey") == F.col("s_suppkey")))
    supply = (pruned.groupBy(F.col("l_partkey").alias("partkey"),
                             F.col("l_suppkey").alias("suppkey"),
                             "s_acctbal", "s_name", "n_name")
              .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                   .alias("cost")))
    from pyspark.sql import Window
    w = Window.partitionBy("partkey")
    return (supply.withColumn("min_cost", F.min("cost").over(w))
            .filter(F.col("cost") == F.col("min_cost"))
            .join(F.broadcast(p), F.col("partkey") == p.p_partkey)
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
                    F.col("cost").alias("supplycost"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


@register(
    "tpch_q8_national_market_share",
    f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
                AS DOUBLE) / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
                 CAST({_REV} AS DECIMAL(38,6)) AS volume,
                 n2.n_name AS nation
          FROM part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
            AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
            AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                AND TIMESTAMP '1996-12-31'
            AND p_type = 'ECONOMY') all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8(spark, sf_dir):
    """Q8: market share of one supplier nation inside one customer
    region. 7-way join; both nation copies and region broadcast."""
    p = ld(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = ld(spark, sf_dir, "supplier")
    l = ld(spark, sf_dir, "lineitem")
    o = ld(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31"))
    c = ld(spark, sf_dir, "customer")
    n1 = F.broadcast(ld(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("nk1"),
                             F.col("n_regionkey").alias("rk1")))
    n2 = F.broadcast(ld(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("nk2"),
                             F.col("n_name").alias("nation")))
    r = F.broadcast(ld(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    joined = (l.join(p, F.col("p_partkey") == F.col("l_partkey"))
              .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
              .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c, F.col("o_custkey") == F.col("c_custkey"))
              .join(n1, F.col("c_nationkey") == F.col("nk1"))
              .join(r, F.col("rk1") == F.col("r_regionkey"))
              .join(n2, F.col("s_nationkey") == F.col("nk2"))
              .select(F.year("o_orderdate").alias("o_year"),
                      vol.alias("volume"), "nation"))
    num = F.sum(F.when(F.col("nation") == "NATION_5", F.col("volume"))
                .otherwise(F.lit(0).cast("decimal(38,6)")))
    return (joined.groupBy("o_year")
            .agg((num.cast("double") / F.sum("volume").cast("double"))
                 .alias("mkt_share"))
            .orderBy("o_year"))


@register(
    "tpch_q9_product_type_profit",
    """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount)
                      - p_retailprice * l_quantity AS DECIMAL(38,6)) AS amount
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9(spark, sf_dir):
    """Q9 adapted: p_retailprice*quantity stands in for partsupp
    supply cost in the profit expression."""
    p = ld(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = ld(spark, sf_dir, "supplier")
    l = ld(spark, sf_dir, "lineitem")
    o = ld(spark, sf_dir, "orders")
    n = F.broadcast(ld(spark, sf_dir, "nation"))
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * F.col("l_quantity")).cast("decimal(38,6)")
    return (l.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
            .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
            .select(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("o_year"),
                    amount.alias("amount"))
            .transform(lambda df: exact_agg(
                df, ["nation", "o_year"],
                sums={"sum_profit": F.col("amount")}))
            .orderBy("nation", F.desc("o_year")))


@register(
    "tpch_q11_important_stock",
    """
    WITH value AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS val
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_3'
      GROUP BY l_partkey)
    SELECT partkey, CAST(val AS DOUBLE) AS part_value
    FROM value
    WHERE CAST(val AS DOUBLE)
          > CAST((SELECT SUM(val) FROM value) AS DOUBLE) * 0.001
    ORDER BY part_value DESC, partkey
    """,
)
def q11(spark, sf_dir):
    """Q11 adapted: lineitem value per part for one nation's
    suppliers, kept if above a fraction of the national total
    (global scalar subquery)."""
    l = ld(spark, sf_dir, "lineitem")
    s = ld(spark, sf_dir, "supplier")
    n = F.broadcast(ld(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3"))
    value = (l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
             .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
             .groupBy(F.col("l_partkey").alias("partkey"))
             .agg(F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("val")))
    # the national total is one empty-partition window over the
    # per-part rows: a single pass over one task, which holds |part|
    # rows (the broadcast 1-row aggregate spelling serializes two
    # jobs over the same subtree — measured 0.91× at sf10)
    from pyspark.sql import Window
    total = F.sum("val").over(Window.partitionBy())
    thresholded = value.withColumn(
        "threshold", total.cast("double") * F.lit(0.001))
    return (thresholded
            .filter(F.col("val").cast("double") > F.col("threshold"))
            .select("partkey", F.col("val").cast("double").alias("part_value"))
            .orderBy(F.desc("part_value"), "partkey"))


@register(
    "tpch_q13_customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13(spark, sf_dir):
    """Q13 adapted (no o_comment): LOJ with ON-clause predicate, then
    a histogram of counts — two aggregation levels, second one tiny."""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


@register(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST({_REV} AS DECIMAL(38,6))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15(spark, sf_dir):
    """Q15: revenue view + scalar MAX subquery. Exact decimal revenue
    makes the MAX-equality deterministic across engines."""
    l = ld(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    revenue = (l.groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.sum(rev).alias("total_rev")))
    # the scalar MAX is one empty-partition window over the
    # per-supplier rows, as in q11
    from pyspark.sql import Window
    s = ld(spark, sf_dir, "supplier")
    capped = (revenue
              .withColumn("__mx",
                          F.max("total_rev").over(Window.partitionBy()))
              .filter(F.col("total_rev") == F.col("__mx")))
    return (capped
            .join(s, F.col("s_suppkey") == F.col("supplier_no"))
            .select("s_suppkey", "s_name",
                    F.col("total_rev").cast("double").alias("total_revenue"))
            .orderBy("s_suppkey"))


@register(
    "tpch_q16_part_supplier_relationship",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 15, 23)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16(spark, sf_dir):
    """Q16 adapted: lineitem is the part↔supplier relation; negative
    account balance stands in for the complaints filter. NOT IN over
    a never-null key = plain anti join."""
    p = ld(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 15, 23))
    l = ld(spark, sf_dir, "lineitem")
    bad = ld(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0) \
        .select("s_suppkey")
    # prune with the selective part filter BEFORE the count-distinct
    # expand (semi-join keeps only qualifying parts' lineitems, so the
    # distinct shuffles a sliver of lineitem)
    return (l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
            .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"))


@register(
    "tpch_q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                      / CAST(COUNT(l2.l_quantity) AS DOUBLE))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17(spark, sf_dir):
    """Q17: correlated per-part AVG threshold, decorrelated to an
    aggregate + join (what Catalyst's subquery rewrite emits). The
    exact decimal sum/count avg keeps the `<` comparison identical
    on both engines."""
    l = ld(spark, sf_dir, "lineitem")
    p = ld(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    # per-part avg only matters for Brand#3 parts — semi-join-prune
    # lineitem before the aggregate (correlation-key restriction, so
    # the result is unchanged)
    l_brand = l.join(F.broadcast(p.select("p_partkey")),
                     F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    part_avg = (l_brand.groupBy(F.col("l_partkey").alias("pk"))
                .agg(((F.sum(F.col("l_quantity").cast("decimal(38,6)"))
                       .cast("double"))
                      / F.count("l_quantity").cast("double")).alias("avg_qty")))
    return (l_brand.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
            .join(F.broadcast(part_avg), F.col("pk") == F.col("l_partkey"))
            .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
                  .cast("double") / F.lit(7.0)).alias("avg_yearly")))


@register(
    "tpch_q20_potential_promotion",
    """
    SELECT s_name, s_acctbal
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem, part
        WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 50)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
    ORDER BY s_name
    """,
)
def q20(spark, sf_dir):
    """Q20 adapted: shipped-quantity HAVING threshold stands in for
    partsupp availqty. IN (grouped subquery) = semi join on the
    aggregate's output.

    r12 (guide §2.4/§2.3): the pre-semi-join `.distinct()` was a
    redundant full exchange + two hash aggregates — a semi join
    dedups its build side by construction. And the nation filter now
    lands on supplier BEFORE the semi join, shrinking the probe side
    ~25× (filter below the join, same rows out; A/B 1.70×)."""
    l = ld(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    p = ld(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    heavy = (l.join(p, F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("l_suppkey", "l_partkey")
             .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("q"))
             .filter(F.col("q") > 50)
             .select("l_suppkey"))
    s = ld(spark, sf_dir, "supplier")
    n = F.broadcast(ld(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7"))
    sn = s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
    return (sn.join(heavy, sn.s_suppkey == heavy.l_suppkey, "left_semi")
            .select("s_name", "s_acctbal")
            .orderBy("s_name"))


@register(
    "tpch_q21_suppliers_who_kept_orders_waiting",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
      AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21(spark, sf_dir):
    """Q21 adapted (l_returnflag='R' stands in for the
    receipt-after-commit predicate): correlated EXISTS → left-semi,
    NOT EXISTS → left-anti, both on l_orderkey with a theta residual
    (l_suppkey <>) — the reference evaluates those residuals on hash
    matches (operator/join.clj:331-334)."""
    l = ld(spark, sf_dir, "lineitem")
    l1 = l.filter(F.col("l_returnflag") == "R") \
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
    l2 = l.select(F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2"))
    l3 = l.filter(F.col("l_returnflag") == "R") \
        .select(F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3"))
    o = ld(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey")
    s = ld(spark, sf_dir, "supplier")
    n = F.broadcast(ld(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2"))
    waiting = (l1
               .join(l2, (F.col("ok2") == F.col("ok"))
                     & (F.col("sk2") != F.col("sk")), "left_semi")
               .join(l3, (F.col("ok3") == F.col("ok"))
                     & (F.col("sk3") != F.col("sk")), "left_anti")
               .join(o, F.col("o_orderkey") == F.col("ok")))
    return (waiting.join(s, F.col("s_suppkey") == F.col("sk"))
            .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("s_name")
            .agg(F.count("*").alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name")
            .limit(100))


@register(
    "tpch_q22_global_sales_opportunity",
    """
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM (SELECT c_nationkey AS cntrycode, c_acctbal, c_custkey
          FROM customer
          WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
            AND c_acctbal > (
              SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                     / CAST(COUNT(c2.c_acctbal) AS DOUBLE)
              FROM customer c2
              WHERE c2.c_acctbal > 0.0
                AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))) custsale
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def q22(spark, sf_dir):
    """Q22 adapted: nation key stands in for the phone country code.
    Scalar AVG threshold (broadcast 1-row) + NOT EXISTS anti join on
    recent orders (every customer has *some* order in this data)."""
    keys = [1, 3, 5, 7, 9, 11, 13]
    c = ld(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(keys))
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double")
                     / F.count("c_acctbal").cast("double")).alias("avg_bal")))
    o = (ld(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
         .select("o_custkey"))
    # no broadcast hint on `o`: inside noise at sf0.01-sf1, slower at
    # sf10 (BENCH_NOTES.md, "Size gates from one estimate")
    return (c.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("avg_bal"))
            .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
            .groupBy(F.col("c_nationkey").alias("cntrycode"))
            .agg(F.count("*").alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
                 .cast("double").alias("totacctbal"))
            .orderBy("cntrycode"))
