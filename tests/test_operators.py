"""Tests for as-of join, sessionize, periods, XTQL DSL and the exact
aggregate primitives."""

from datetime import datetime

from pyspark.sql import functions as F

from xtdb_spark.functions import periods as P
from xtdb_spark.operators.asof import asof_join, sessionize

SF_DIR = "/root/testdata/sf0.001"


def T(s):
    return datetime.fromisoformat(s)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, T("2024-01-01 10:00"), "a"), (1, T("2024-01-01 12:00"), "b"),
         (2, T("2024-01-01 10:00"), "c")],
        "k long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, T("2024-01-01 09:00"), 100.0), (1, T("2024-01-01 11:00"), 200.0),
         (3, T("2024-01-01 08:00"), 999.0)],
        "k long, ts timestamp, v double")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["v"])
    got = {(r["k"], r["tag"]): r["v"] for r in out.collect()}
    assert got == {(1, "a"): 100.0, (1, "b"): 200.0, (2, "c"): None}


def test_asof_join_tie_inclusive(spark):
    left = spark.createDataFrame([(1, T("2024-01-01 10:00"), "x")],
                                 "k long, ts timestamp, tag string")
    right = spark.createDataFrame([(1, T("2024-01-01 10:00"), 5.0)],
                                  "k long, ts timestamp, v double")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["v"]).collect()
    assert out[0]["v"] == 5.0  # <= semantics
    strict = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                       right_cols=["v"], strict=True).collect()
    assert strict[0]["v"] is None  # < semantics


def test_sessionize(spark):
    rows = [(1, T("2024-01-01 10:00")), (1, T("2024-01-01 10:10")),
            (1, T("2024-01-01 11:30")), (2, T("2024-01-01 09:00"))]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    out = sessionize(df, key="u", ts="ts", gap_minutes=30)
    got = {(r["u"], str(r["ts"])): r["session_seq"] for r in out.collect()}
    assert got[(1, "2024-01-01 10:00:00")] == 1
    assert got[(1, "2024-01-01 10:10:00")] == 1
    assert got[(1, "2024-01-01 11:30:00")] == 2
    assert got[(2, "2024-01-01 09:00:00")] == 1


def test_sessionize_fractional_boundary(spark):
    # True gap 1800.5 s with frac(ts) > frac(prev): whole-second
    # truncation of each endpoint reads floor(1810.7)-floor(10.2) =
    # 1800 (NOT > 1800 -> same session), but fractional epoch
    # semantics give 1800.5 > 1800 -> NEW session. Pins the
    # microsecond-exact gap comparison in sessionize.
    rows = [(1, T("2024-01-01 10:00:10.200000")),
            (1, T("2024-01-01 10:30:10.700000")),   # +1800.5 s -> new
            (1, T("2024-01-01 11:00:10.100000"))]   # +1799.4 s -> same
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    out = sessionize(df, key="u", ts="ts", gap_minutes=30)
    seqs = [r["session_seq"] for r in out.orderBy("ts").collect()]
    assert seqs == [1, 2, 2]


def test_period_predicates(spark):
    df = spark.range(1)
    p1 = P.period(F.lit("2024-01-01"), F.lit("2024-02-01"))
    p2 = P.period(F.lit("2024-01-15"), F.lit("2024-03-01"))
    p3 = P.period(F.lit("2024-02-01"), F.lit("2024-03-01"))
    p_inf = P.period(F.lit("2024-01-01"), None)
    row = df.select(
        P.p_overlaps(p1, p2).alias("o12"),
        P.p_overlaps(p1, p3).alias("o13"),
        P.p_immediately_precedes(p1, p3).alias("ip13"),
        P.p_contains(p_inf, p2).alias("cinf"),
        P.p_contains_ts(p1, F.lit("2024-01-31 23:59:59")).alias("cts"),
        P.p_contains_ts(p1, F.lit("2024-02-01 00:00:00")).alias("cts_end"),
        P.p_precedes(p1, p3).alias("prec"),
        P.p_succeeds(p3, p1).alias("succ"),
        P.p_upper_inf(p_inf).alias("uinf"),
    ).collect()[0]
    assert row["o12"] and not row["o13"]
    assert row["ip13"]
    assert row["cinf"]
    assert row["cts"] and not row["cts_end"]  # half-open [from, to)
    assert row["prec"] and row["succ"]
    assert row["uinf"]


def test_xtql_pipeline(store):
    from xtdb_spark import xtql as x

    class XT:
        def __init__(self, store):
            self.store = store
            self.spark = store.spark

        def scan(self, table, **kw):
            return self.store.scan(table, **kw)

    store.put("people", [{"_id": 1, "name": "ada", "city": "london"},
                         {"_id": 2, "name": "bob", "city": "paris"}],
              system_from="2024-01-01")
    store.put("visits", [{"_id": 10, "city": "london", "n": 3},
                         {"_id": 11, "city": "paris", "n": 5},
                         {"_id": 12, "city": "london", "n": 2}],
              system_from="2024-01-01")
    xt = XT(store)
    out = x.q(
        xt,
        x.unify(
            x.from_("people", bind={"_id": "person_id"}),
            x.from_("visits", bind={"_id": "visit_id"}),
        ),
        x.where(F.col("n") > 1),
        x.aggregate("name", total=F.sum("n")),
        x.order_by("name"),
    )
    assert [(r["name"], r["total"]) for r in out.collect()] == [
        ("ada", 5), ("bob", 5)]

    # sideways candidate pruning reaches XTQL pipelines through
    # from_'s scan passthrough (the SQL path injects it
    # automatically; the DSL exposes the same knob) — results
    # identical to the plain scan by the prefilter superset law
    pruned = x.q(
        xt,
        x.from_("visits", prefilter="city = 'london'"),
        x.where(F.col("city") == "london"),
        x.aggregate("city", total=F.sum("n")),
    )
    assert [(r["city"], r["total"]) for r in pruned.collect()] == [
        ("london", 5)]


def test_asof_join_does_not_blend_right_rows(spark):
    """Right rows with genuine NULLs must be carried AS A WHOLE ROW:
    rowA (x=1, y=NULL) then rowB (x=NULL, y=2) must yield (NULL, 2)
    on a later left row — never the phantom (1, 2)."""
    left = spark.createDataFrame([(1, "2024-01-03")], "k long, ts string") \
        .selectExpr("k", "cast(ts as timestamp) ts")
    right = spark.createDataFrame(
        [(1, "2024-01-01", 1, None), (1, "2024-01-02", None, 2)],
        "k long, ts string, x long, y long") \
        .selectExpr("k", "cast(ts as timestamp) ts", "x", "y")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()
    assert len(out) == 1
    assert (out[0]["x"], out[0]["y"]) == (None, 2)


def test_exact_agg_paths_bit_identical(spark, monkeypatch):
    """The two-level fixed-point path and the single-level decimal
    path of registry.exact_agg must produce IDENTICAL values — the
    data-size gate (explain.is_big) is a physical choice only."""
    from xtdb_spark.plans import explain
    from xtdb_spark.queries.registry import exact_agg
    from pyspark.sql import functions as F

    def run(big, **kw):
        monkeypatch.setattr(explain, "BIG_BYTES", 0 if big else 1 << 64)
        out = exact_agg(df, ["g"], **kw)
        plan = out._jdf.queryExecution().analyzed().toString()
        assert ("__pid" in plan) == big
        return {r["g"]: tuple(r)[1:] for r in out.collect()}

    df = spark.range(2000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 1.37 % 97.3).alias("x"),
        F.when(F.col("id") % 11 == 0, None)
         .otherwise(F.col("id") / 7.0).alias("y"))
    kw = dict(sums={"sx": F.col("x"), "sy": F.col("y")},
              avgs={"ax": F.col("x")}, counts={"n": None, "ny": F.col("y")})
    a = run(True, **kw)
    b = run(False, **kw)
    assert a == b
    # round2 (money presentation, the sf10 ulp fix) holds the
    # identity too, and actually rounds
    kw2 = dict(kw, round2={"sx"})
    a2 = run(True, **kw2)
    b2 = run(False, **kw2)
    assert a2 == b2
    for g, vals in a2.items():
        assert round(vals[0], 2) == vals[0]          # 2dp
        assert abs(vals[0] - a[g][0]) <= 0.005 + 1e-9


def test_exact_agg_judges_any_input_by_its_plan(spark, store):
    """The size gate reads the frame's own plan, not a file under
    sf_dir: a small store scan takes the single-level aggregate, a
    frame Spark cannot size takes the two-level one, and a parquet
    read's estimate is its file's size."""
    import os

    from xtdb_spark.plans import explain
    from xtdb_spark.queries.registry import exact_agg

    def per_partition_stage(df):
        out = exact_agg(df, ["g"], sums={"sx": F.col("x")})
        return "__pid" in out._jdf.queryExecution().analyzed().toString()

    store.put("t", [{"_id": i, "g": i % 3, "x": i * 0.5}
                    for i in range(150)])
    store.put("t", [{"_id": i, "g": i % 3, "x": i * 0.5}
                    for i in range(150, 300)])
    assert 0 < explain.size_estimate(store.scan("t")) < 1 << 20
    assert not per_partition_stage(store.scan("t"))
    rdd = spark.createDataFrame([(1, 0.5), (2, 1.5)], "g long, x double")
    assert explain.size_estimate(rdd) == 2 ** 63 - 1
    assert per_partition_stage(rdd)
    f = os.path.join(SF_DIR, "lineitem.parquet")
    assert explain.size_estimate(spark.read.parquet(f)) == os.path.getsize(f)


def test_range_join_matches_theta_join(spark):
    """Bucketized range join ≡ the naive theta join on random
    intervals spanning many buckets (incl. degenerate from==to)."""
    import random

    from xtdb_spark.operators.range_join import range_join

    rnd = random.Random(20260814)
    base = T("2024-01-01 00:00").timestamp()

    def mk(n, tag):
        rows = []
        for i in range(n):
            k = rnd.randint(0, 4)
            f = base + rnd.uniform(0, 86400 * 3)
            dur = rnd.choice([0.0, 60.0, 3600.0, 7 * 3600.0, 86400.0 * 2])
            rows.append((i, k, datetime.fromtimestamp(f),
                         datetime.fromtimestamp(f + dur)))
        return spark.createDataFrame(
            rows, f"{tag}_id long, k long, {tag}_from timestamp, {tag}_to timestamp")

    lt, rt = mk(60, "l"), mk(60, "r")
    got = range_join(lt, rt, "l_from", "l_to", "r_from", "r_to",
                     on=["k"], bucket="6 hours")
    naive = lt.join(rt.withColumnRenamed("k", "k2"),
                    (F.col("k") == F.col("k2"))
                    & (F.col("l_from") < F.col("r_to"))
                    & (F.col("r_from") < F.col("l_to")), "inner")
    want = {(r["l_id"], r["r_id"]) for r in naive.collect()}
    have = [(r["l_id"], r["r_id"]) for r in got.collect()]
    assert len(have) == len(set(have)), "canonical-bucket dedup failed"
    assert set(have) == want


def test_range_join_left_outer_and_plan(spark):
    from xtdb_spark.operators.range_join import range_join

    lt = spark.createDataFrame(
        [(1, 1, T("2024-01-01 00:00"), T("2024-01-01 02:00")),
         (2, 1, T("2024-03-01 00:00"), T("2024-03-01 01:00")),
         (3, 2, T("2024-01-01 00:30"), T("2024-01-01 00:45"))],
        "l_id long, k long, l_from timestamp, l_to timestamp")
    rt = spark.createDataFrame(
        [(10, 1, T("2024-01-01 01:00"), T("2024-01-01 03:00")),
         (11, 2, T("2024-01-02 00:00"), T("2024-01-02 01:00"))],
        "r_id long, k long, r_from timestamp, r_to timestamp")
    out = range_join(lt, rt, "l_from", "l_to", "r_from", "r_to",
                     on=["k"], bucket="1 hour", how="left")
    got = {r["l_id"]: r["r_id"] for r in out.collect()}
    assert got == {1: 10, 2: None, 3: None}
    # the rewrite must execute as an equi-join, not a nested loop
    plan = range_join(lt, rt, "l_from", "l_to", "r_from", "r_to",
                      on=["k"], bucket="1 hour")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_xtql_from_binds_temporal_columns(store):
    """Round 12 (VERDICT): binding a temporal column in an XTQL
    `from_` switches the scan to its meta-carrying variant
    (reference xtql.clj binds :xt/valid-from on any From)."""
    from pyspark.sql import functions as F

    from xtdb_spark import xtql as x

    class XT:
        def __init__(self, store):
            self.store = store
            self.spark = store.spark

        def scan(self, table, **kw):
            return self.store.scan(table, **kw)

    xt = XT(store)
    store.put("xq_meta", [{"_id": 1, "v": 7}],
              system_from="2024-01-01", valid_from="2024-03-01")
    out = x.q(xt, x.from_("xq_meta", bind={"_valid_from": "vf"}))
    row = out.select("_id", "vf").collect()[0]
    assert row["_id"] == 1 and str(row["vf"]).startswith("2024-03-01")

    # the period structs ride along under keep_meta
    out2 = x.q(xt, x.from_("xq_meta", keep_meta=True))
    df = out2.select(F.col("_valid_time._from").alias("f"))
    assert str(df.collect()[0]["f"]).startswith("2024-03-01")

    # without a temporal bind the scan stays clean
    out3 = x.q(xt, x.from_("xq_meta"))
    assert sorted(out3.columns) == ["_id", "v"]


def test_asof_same_source_equals_general(spark):
    """asof_join_same_source ≡ asof_join when both sides filter one
    relation (ties, strict mode, and null carry included)."""
    from pyspark.sql import functions as F

    from xtdb_spark.operators.asof import asof_join, asof_join_same_source
    from xtdb_spark.queries.registry import ld

    e = ld(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value", "event_type")
    for strict in (False, True):
        clicks = e.filter(F.col("event_type") == "click") \
            .select("user_id", "ts", "event_id")
        purchases = e.filter(F.col("event_type") == "purchase") \
            .select("user_id", "ts", "value")
        general = asof_join(clicks, purchases, on="user_id",
                            left_ts="ts", right_ts="ts",
                            right_cols=["value"], strict=strict) \
            .select("event_id", "value", "asof_ts")
        same = asof_join_same_source(
            e, on="user_id", ts="ts",
            left_pred=F.col("event_type") == "click",
            right_pred=F.col("event_type") == "purchase",
            right_cols=["value"], strict=strict) \
            .select("event_id", "value", "asof_ts")
        assert _rows(general) == _rows(same), f"strict={strict}"


def test_percentile_array_equals_per_cut_calls(spark):
    """The shared percentile(col, array(...)) state must reproduce
    the per-cut percentile() calls bit-for-bit (same sorted map, same
    interpolation) for op_agg_percentile and
    an_value_percentiles_by_type."""
    from pyspark.sql import functions as F

    from xtdb_spark.queries import QUERIES
    from xtdb_spark.queries.registry import ld

    l = ld(spark, SF_DIR, "lineitem")
    old_l = l.groupBy("l_linestatus").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"))
    assert _rows(old_l) == _rows(
        QUERIES["op_agg_percentile"].fn(spark, SF_DIR))

    e = ld(spark, SF_DIR, "events")
    old_e = (e.groupBy("event_type")
             .agg(F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
                  F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
                  F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"))
             .orderBy("event_type"))
    assert _rows(old_e) == _rows(
        QUERIES["an_value_percentiles_by_type"].fn(spark, SF_DIR))


def test_agg_approx_split_equals_fused_aggregate(spark):
    """op_agg_approx's split (distinct-alone + non-distinct pass,
    broadcast-joined back) must equal the single fused aggregate it
    replaced."""
    from pyspark.sql import functions as F

    from xtdb_spark.queries import QUERIES
    from xtdb_spark.queries.registry import ld

    e = ld(spark, SF_DIR, "events")
    fused = (e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("__acd"),
        F.expr("percentile(value, 0.5)").alias("__em"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("__am"))
    ).select(
        "event_type", "n_users_exact",
        (F.abs(F.col("__acd") - F.col("n_users_exact"))
         <= 0.05 * F.col("n_users_exact") + F.lit(2)).alias("approx_distinct_ok"),
        (F.abs(F.col("__am") - F.col("__em"))
         <= 0.05 * F.abs(F.col("__em")) + F.lit(0.01)).alias("approx_median_ok"))
    assert _rows(fused) == _rows(QUERIES["op_agg_approx"].fn(spark, SF_DIR))
