"""Realistic event-analytics workload queries (ClickBench/funnel
style — the reference benches these shapes via clickbench.clj and
readings.clj), all oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from xtdb_spark.queries.registry import (
    dsum, exact_agg, ld, register, sql_dsum,
)


@register(
    "an_top_users_by_value",
    f"""
    SELECT user_id, COUNT(*) AS n_events,
           {sql_dsum('value', 'total_value')},
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    ORDER BY total_value DESC, user_id LIMIT 25
    """,
)
def top_users(spark, sf_dir):
    e = ld(spark, sf_dir, "events")
    return (e.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 dsum(F.col("value"), "total_value"),
                 F.countDistinct("event_type").alias("n_types"))
            .orderBy(F.desc("total_value"), "user_id").limit(25))


@register(
    "an_funnel_signup_purchase",
    """
    WITH first_signup AS (
      SELECT user_id, MIN(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    converted AS (
      SELECT DISTINCT s.user_id
      FROM first_signup s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts > s.signup_ts)
    SELECT (SELECT COUNT(*) FROM first_signup) AS n_signups,
           (SELECT COUNT(*) FROM converted) AS n_converted
    """,
)
def funnel(spark, sf_dir):
    """Conversion funnel: users who purchased after first signup."""
    e = ld(spark, sf_dir, "events")
    first_signup = (e.filter(F.col("event_type") == "signup")
                    .groupBy("user_id").agg(F.min("ts").alias("signup_ts")))
    purchases = e.filter(F.col("event_type") == "purchase") \
        .select("user_id", F.col("ts").alias("pts"))
    converted = (first_signup.join(purchases, "user_id")
                 .filter(F.col("pts") > F.col("signup_ts"))
                 .select("user_id").distinct())
    return (first_signup.agg(F.count("*").alias("n_signups"))
            .crossJoin(converted.agg(F.count("*").alias("n_converted"))))


@register(
    "an_daily_retention",
    """
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events)
    SELECT a.d AS day, COUNT(*) AS n_retained
    FROM daily a JOIN daily b
      ON a.user_id = b.user_id AND b.d = a.d + INTERVAL 1 DAY
    GROUP BY a.d
    """,
)
def daily_retention(spark, sf_dir):
    """Next-day retention: users active on day D and D+1.

    ONE shuffle by user_id (r12, guide §2.4): collect each user's
    distinct active-day set, then a day D is retained for that user
    iff the set also holds D + 1 day — identical to the old
    distinct + self-join spelling, which shuffled the daily relation
    twice MORE (by (user_id, d) for the distinct, then by
    (user_id, d±1day) for the join). Per-group state is bounded by
    the calendar span of the data, so the aggregate cannot hot-key at
    scale. Measured 1.8× at the sf1 replica, rows identical."""
    e = ld(spark, sf_dir, "events")
    per_user = (e.select("user_id", F.date_trunc("day", "ts").alias("d"))
                .groupBy("user_id")
                .agg(F.collect_set("d").alias("days")))
    return (per_user
            .select(F.explode("days").alias("day"), "days")
            .filter(F.array_contains(
                F.col("days"), F.col("day") + F.expr("INTERVAL 1 DAY")))
            .groupBy("day")
            .agg(F.count("*").alias("n_retained")))


@register(
    "an_event_type_share_per_day",
    """
    SELECT d, event_type, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY d) AS DOUBLE)
             AS share
    FROM (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, event_type, COUNT(*) AS n
          FROM events GROUP BY d, event_type)
    """,
)
def event_type_share(spark, sf_dir):
    """Aggregate + window-over-aggregate (share of day's traffic)."""
    e = ld(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
             .agg(F.count("*").alias("n")))
    w = Window.partitionBy("d")
    return daily.select(
        "d", "event_type", "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double"))
        .alias("share"))


@register(
    "tpch_q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year, {sql_dsum('volume', 'revenue')}
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                               AND TIMESTAMP '1996-12-31')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7(spark, sf_dir):
    """TPC-H Q7 adapted: bidirectional nation-pair trade volume —
    self-joined broadcast dimension with a disjunctive pair filter."""
    s = ld(spark, sf_dir, "supplier")
    l = ld(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31"))
    o = ld(spark, sf_dir, "orders")
    c = ld(spark, sf_dir, "customer")
    n1 = F.broadcast(ld(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("nk1"),
                             F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(ld(spark, sf_dir, "nation")
                     .select(F.col("n_nationkey").alias("nk2"),
                             F.col("n_name").alias("cust_nation")))
    pair = (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (s.join(l, s.s_suppkey == l.l_suppkey)
              .join(o, o.o_orderkey == l.l_orderkey)
              .join(c, c.c_custkey == o.o_custkey)
              .join(n1, F.col("s_nationkey") == F.col("nk1"))
              .join(n2, F.col("c_nationkey") == F.col("nk2"))
              .filter(pair))
    # 2 nation-pairs × years: low-cardinality groups, unbounded rows
    # per group → exact_agg (two-level fixed-point on a big input)
    return exact_agg(
        joined, ["supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year")],
        sums={"revenue": vol})


@register(
    "tpch_q12_late_shipments",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE epoch(l_shipdate) - epoch(o_orderdate)
                            > 90 * 86400) AS late_count,
           COUNT(*) AS total_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q12(spark, sf_dir):
    """TPC-H Q12 adapted (no l_shipmode in testdata): late-shipment
    counts per order priority via conditional aggregation."""
    o = ld(spark, sf_dir, "orders")
    l = ld(spark, sf_dir, "lineitem")
    late = (F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate")
            > 90 * 86400)
    return (o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.when(late, 1)).alias("late_count"),
                 F.count("*").alias("total_count")))


@register(
    "fn_json_extract",
    """
    SELECT k_bucket, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM (SELECT CAST(props->>'$.k' AS INTEGER) // 10 AS k_bucket, value
          FROM events)
    GROUP BY k_bucket
    ORDER BY k_bucket
    """,
)
def json_extract(spark, sf_dir):
    """JSON path extraction over a string column (the reference's
    dynamic nested-document access, get_field over :transit docs —
    expression.clj:1930-1961 — maps to get_json_object for
    JSON-serialized payloads). Stays JVM-side: get_json_object is a
    built-in, no Python UDF."""
    e = ld(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (e.select((k / F.lit(10)).cast("int").alias("k_bucket"), "value")
            .groupBy("k_bucket")
            .agg(F.count("*").alias("n"),
                 dsum(F.col("value"), "total_value"))
            .orderBy("k_bucket"))


@register(
    "an_hourly_traffic",
    """
    SELECT CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hour_of_day,
           event_type, COUNT(*) AS n
    FROM events
    GROUP BY hour_of_day, event_type
    ORDER BY hour_of_day, event_type
    """,
)
def hourly_traffic(spark, sf_dir):
    """ClickBench-style time histogram (reference clickbench.clj
    query shapes)."""
    e = ld(spark, sf_dir, "events")
    return (e.groupBy(F.hour("ts").alias("hour_of_day"), "event_type")
            .agg(F.count("*").alias("n"))
            .orderBy("hour_of_day", "event_type"))


@register(
    "an_value_percentiles_by_type",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def value_percentiles(spark, sf_dir):
    """Exact continuous percentiles per group (reference
    percentile_cont, group_by.clj:353-465). Exact (not approx) so the
    DuckDB comparison is bit-stable after 6dp rounding.

    One percentile(col, array(...)) state serves all three cut
    points — three separate percentile() aggregates each buffer the
    full value->count map (r12 A/B: 0.8 -> 0.7 s at sf1, identical
    rows; the win scales with group width).

    r13 (guide §2.5): from sf10 (events `is_big`) the same exact
    math runs through the spill-safe distinct+window path instead of
    the in-memory value->count map — both paths bit-identical
    (pinned by test_r13_opt)."""
    from xtdb_spark.operators.percentile import exact_percentiles

    e = ld(spark, sf_dir, "events")
    g = exact_percentiles(e, "event_type", "value",
                          [0.50, 0.95, 0.99])
    return (g.select("event_type",
                     F.round(F.col("__p")[0], 6).alias("p50"),
                     F.round(F.col("__p")[1], 6).alias("p95"),
                     F.round(F.col("__p")[2], 6).alias("p99"))
            .orderBy("event_type"))


@register(
    "op_agg_approx",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS approx_distinct_ok,
           TRUE AS approx_median_ok
    FROM events GROUP BY event_type
    """,
)
def agg_approx(spark, sf_dir):
    """Approximate aggregates for the 100 TB regime (beyond the
    reference, §2.4 extension): HyperLogLog++ distinct counts and
    quantile sketches are single-pass, mergeable, fixed-memory —
    COUNT(DISTINCT) and exact percentile need a shuffle of the full
    key set. The oracle contract: the entry returns the EXACT values
    plus booleans asserting the sketch landed inside its error bound,
    and DuckDB returns the exact values plus TRUE literals — so the
    accuracy claim itself is value-hash-verified, not just row-counted.

    The distinct aggregate runs ALONE: mixing COUNT(DISTINCT) with
    the sketch/percentile aggregates makes Spark's single-distinct
    rewrite evaluate their partials per (event_type, user_id) group —
    a KB-scale HLL buffer and a value->count map PER USER shuffled
    and merged (r12 A/B at sf1: 6.3-7.5 s -> 0.9-1.2 s, rows
    identical). The non-distinct aggregates share one narrow pass;
    the 1:1 join back on the grouping key is broadcast-sized."""
    e = ld(spark, sf_dir, "events")
    d = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"))
    nd = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("__acd"),
        F.expr("percentile(value, 0.5)").alias("__em"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("__am"))
    # one row per event_type (enum-like) — broadcast skips the
    # sort-merge the static planner picks at MB scale (AQE already
    # chooses broadcast at GB scale; sf1 A/B parity-or-better)
    out = d.join(F.broadcast(nd), "event_type")
    return out.select(
        "event_type", "n_users_exact",
        (F.abs(F.col("__acd") - F.col("n_users_exact"))
         <= 0.05 * F.col("n_users_exact") + F.lit(2)).alias("approx_distinct_ok"),
        (F.abs(F.col("__am") - F.col("__em"))
         <= 0.05 * F.abs(F.col("__em")) + F.lit(0.01)).alias("approx_median_ok"))
