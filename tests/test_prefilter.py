"""scan(prefilter=...) candidate-iid pruning: must be a pure
no-op on results (`scan(t, prefilter=p).filter(p) ==
scan(t).filter(p)`) across current-state, as-of, and all-history
scans — including the adversarial case where a HISTORICAL version
matches the predicate but the current one doesn't — and the
predicate must reach the parquet reader on the candidate pass."""

from datetime import datetime

from pyspark.sql import functions as F


def _setup(store):
    # 60 ids; versions v0 (x=id%10), v1 doubles x for ids<30,
    # deletes for ids%7==0 — so several iids match x<5 only
    # historically (prefilter keeps them; the outer filter drops them)
    t0 = datetime(2024, 1, 1)
    t1 = datetime(2024, 6, 1)
    t2 = datetime(2024, 9, 1)
    store.put("pf", [{"_id": i, "x": i % 10, "s": f"s{i % 3}"}
                     for i in range(60)], system_from=t0)
    store.put("pf", [{"_id": i, "x": (i % 10) * 2, "s": f"s{i % 3}"}
                     for i in range(30)], system_from=t1)
    store.delete("pf", [i for i in range(60) if i % 7 == 0],
                 system_from=t2)
    return t0, t1, t2


def _rows(df):
    return sorted((r["_id"], r["x"], r["s"]) for r in
                  df.select("_id", "x", "s").collect())


def test_prefilter_is_result_noop(store):
    _setup(store)
    for pred in [F.col("x") < 5, F.col("s") == "s1",
                 (F.col("x") >= 6) & (F.col("s") != "s2")]:
        base = _rows(store.scan("pf").filter(pred))
        fast = _rows(store.scan("pf", prefilter=pred).filter(pred))
        assert fast == base and len(base) > 0


def test_prefilter_with_temporal_args(store):
    t0, t1, t2 = _setup(store)
    pred = F.col("x") < 5
    for kw in [{"system_time": datetime(2024, 3, 1)},
               {"system_time": datetime(2024, 7, 1)},
               {"all_valid_time": True}]:
        base = _rows(store.scan("pf", **kw).filter(pred))
        fast = _rows(store.scan("pf", prefilter=pred, **kw).filter(pred))
        assert fast == base


def test_prefilter_sql_string(store):
    _setup(store)
    base = _rows(store.scan("pf").filter("x < 3"))
    fast = _rows(store.scan("pf", prefilter="x < 3").filter("x < 3"))
    assert fast == base


def test_prefilter_historical_match_survives_resolution(store):
    _setup(store)
    # id=2: v0 x=2 (<5), v1 x=4 (<5); id=8: v0 x=8, v1 x=16 — never
    # matches; id=4: v0 x=4 matches, v1 x=8 does NOT — candidate via
    # history only, must be dropped by the outer filter, not by scan
    pred = F.col("x") < 5
    got = {r["_id"] for r in
           store.scan("pf", prefilter=pred).filter(pred).collect()}
    assert 4 not in got and 8 not in got and 2 in got
    # and WITHOUT the outer filter, candidate iids resolve normally
    # (id=4's current x=8 row is present — prefilter is a superset)
    unfiltered = {r["_id"]: r["x"] for r in
                  store.scan("pf", prefilter=pred).collect()}
    assert unfiltered[4] == 8


def test_prefilter_rejects_temporal_predicates(store):
    import pytest

    _setup(store)
    for pred in [F.col("_valid_to") > "2024-01-01",
                 F.col("_system_from") >= "2024-01-01",
                 "_valid_from < TIMESTAMP'2024-06-01'",
                 (F.col("x") < 5) & F.col("_valid_to").isNull()]:
        with pytest.raises(ValueError, match="document columns"):
            store.scan("pf", prefilter=pred)
    # a plain typo still gets Spark's own missing-column error
    with pytest.raises(Exception, match="(?i)nope|resolve|exist"):
        store.scan("pf", prefilter=F.col("nope") < 5)


def test_prefilter_pushes_to_parquet(store):
    _setup(store)
    plan = store.scan("pf", prefilter=F.col("x") < 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "LessThan(x,5)" in plan
