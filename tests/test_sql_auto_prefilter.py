"""Automatic prefilter injection in the SQL path: selective
top-level WHERE conjuncts over temporal store tables become a
candidate-iid semi-join under the resolution window (the reference's
automatic bloom sideways pushdown, join.clj:172-226) — results
unchanged by construction, conservative bail-outs for every shape
the extractor can't prove."""

import pytest
from pyspark.sql import functions as F

from xtdb_spark.plans.explain import count_shuffles, formatted_plan
from xtdb_spark.session import XtdbSession
from xtdb_spark.tx import TableStore


@pytest.fixture()
def xt(spark, tmp_path):
    s = XtdbSession.__new__(XtdbSession)
    s.spark = spark
    s.store = TableStore(spark, str(tmp_path / "wh"))
    s.sql = XtdbSession.sql.__get__(s)
    s.scan = XtdbSession.scan.__get__(s)
    _tables(s.store)
    return s


def _tables(store):
    store.put("ap", [{"_id": i, "x": i, "s": f"s{i % 3}"}
                     for i in range(300)], system_from="2024-01-01")
    store.put("ap", [{"_id": i, "x": i + 1000, "s": f"s{i % 3}"}
                     for i in range(100)], system_from="2024-06-01")
    store.put("ap_dim", [{"_id": i, "x": i, "grp": i % 5}
                         for i in range(50)], system_from="2024-01-01")


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _ids(df):
    return sorted(r["_id"] for r in df.collect())


def _point_read(xt, monkeypatch, sql):
    """Run `sql`, asserting its one `_id`-pinned reference read
    through TableStore.lookup — no candidate semi-join, and a lookup
    that plans no shuffle."""
    got = []
    orig = xt.store.lookup
    monkeypatch.setattr(xt.store, "lookup",
                        lambda *a, **k: got.append(orig(*a, **k)) or got[-1])
    df = xt.sql(sql)
    monkeypatch.setattr(xt.store, "lookup", orig)
    assert "LeftSemi" not in _plan(df)
    assert len(got) == 1
    assert count_shuffles(formatted_plan(got[0])) == 0
    return df


def test_selective_conjunct_injects_semi_join(xt, monkeypatch):
    # footer stats: x = 1007 ≈ 1/1100 — well under the 0.5% threshold
    df = xt.sql("SELECT _id, x FROM ap WHERE x = 1007")
    assert "LeftSemi" in _plan(df)
    assert [(r["_id"], r["x"]) for r in df.collect()] == [(7, 1007)]
    # qualified by alias too
    df = xt.sql("SELECT a._id FROM ap AS a WHERE a.x = 1007 "
                "AND a.x >= 0")
    assert "LeftSemi" in _plan(df)
    assert _ids(df) == [7]
    # an `_id` conjunct reads the one entity instead
    df = _point_read(xt, monkeypatch, "SELECT _id, x FROM ap WHERE _id = 7")
    assert [(r["_id"], r["x"]) for r in df.collect()] == [(7, 1007)]
    df = _point_read(xt, monkeypatch, "SELECT a._id FROM ap AS a "
                     "WHERE a._id = 7 AND a.x >= 0")
    assert _ids(df) == [7]


def test_broad_conjunct_leaves_plain_scan(xt):
    df = xt.sql("SELECT _id FROM ap WHERE x >= 0")
    assert "LeftSemi" not in _plan(df)
    assert len(_ids(df)) == 300


def test_unsafe_shapes_bail_out(xt, monkeypatch):
    # OR at conjunction level
    assert "LeftSemi" not in _plan(
        xt.sql("SELECT _id FROM ap WHERE _id = 7 OR _id = 9"))
    # two WHEREs (subquery scoping)
    assert "LeftSemi" not in _plan(
        xt.sql("SELECT _id FROM ap WHERE _id = (SELECT MIN(_id) "
               "FROM ap_dim WHERE x = 3)"))
    # unqualified conjunct with two relations: the extractor can't
    # know which table owns `grp` (Spark can — it's dim-only), so no
    # injection anywhere
    assert "LeftSemi" not in _plan(
        xt.sql("SELECT a._id FROM ap a JOIN ap_dim d ON a._id = d._id "
               "WHERE grp = 2"))
    # self-join with DISTINCT aliases: safe since the race fix —
    # each ref rewrites to its own query-unique __pf view, so a's
    # selective conjunct injects without touching b's scan (before
    # unique names, both refs shared one view and injection had to
    # bail). Results unchanged either way.
    df = xt.sql("SELECT a._id AS ia, b._id AS ib FROM ap a, ap b "
                "WHERE a.x = 1007 AND b._id >= 0")
    assert "LeftSemi" in _plan(df)
    assert df.count() == 300
    # the same shape pinned by `_id`: a reads one entity, b stays a
    # plain scan
    df = _point_read(xt, monkeypatch, "SELECT a._id AS ia, b._id AS ib "
                     "FROM ap a, ap b WHERE a._id = 7 AND b._id >= 0")
    assert df.count() == 300
    # a derived table's columns are not the store table's: no
    # conjunct is attributed through it
    df = xt.sql("SELECT * FROM (SELECT x + 1 AS x, _id FROM ap) s "
                "WHERE x = 201")
    assert "LeftSemi" not in _plan(df)
    assert [tuple(r) for r in df.collect()] == [(201, 200)]
    # ... nor through a derived table whose alias shadows the store
    # reference inside it: `s.x` is the derived column, not ap's `x`
    df = xt.sql("SELECT * FROM (SELECT x + 1 AS x, _id FROM ap s) s "
                "WHERE s.x = 201")
    assert "LeftSemi" not in _plan(df)
    assert [tuple(r) for r in df.collect()] == [(201, 200)]


def test_prefilter_views_are_query_unique_no_interleave_race(xt):
    """Regression (round-9 ADVICE): an interleaved second rewrite of
    the same table+bounds must not replace the first query's
    prefiltered view. Rewrite A, then rewrite+run B with a different
    predicate, then run A's emitted SQL — before the query-unique
    __pf names, B's registration clobbered the shared view and A
    silently returned B's rows."""
    from xtdb_spark.sql.rewriter import rewrite

    sql_a = rewrite(xt, "SELECT _id FROM ap WHERE _id = 7")
    # interleaved query B on the same table+bounds, different filter
    assert _ids(xt.sql("SELECT _id FROM ap WHERE _id = 9")) == [9]
    df_a = xt.spark.sql(sql_a)
    assert "__pf" in sql_a
    assert _ids(df_a) == [7]
    # the shared plain view stays a full scan for non-injected users
    assert len(_ids(xt.sql("SELECT _id FROM ap WHERE x >= 0"))) == 300


def test_qualified_conjuncts_attribute_per_table(xt, monkeypatch):
    # d.grp >= 0 is broad on the dim per footer stats; a.x = 1007 is
    # selective on the fact
    df = xt.sql("SELECT a._id FROM ap a JOIN ap_dim d "
                "ON a._id = d._id WHERE a.x = 1007 AND d.grp >= 0")
    assert "LeftSemi" in _plan(df)
    assert _ids(df) == [7]
    # a._id = 7 pins the fact to one entity
    df = _point_read(xt, monkeypatch, "SELECT a._id FROM ap a JOIN ap_dim d "
                     "ON a._id = d._id WHERE a._id = 7 AND d.grp >= 0")
    assert _ids(df) == [7]


def test_temporal_bounds_compose_with_injection(xt, monkeypatch):
    df = xt.sql("SELECT _id, x FROM ap FOR SYSTEM_TIME AS OF "
                "TIMESTAMP '2024-03-01' WHERE x = 7")
    assert "LeftSemi" in _plan(df)
    assert [(r["_id"], r["x"]) for r in df.collect()] == [(7, 7)]
    df = _point_read(xt, monkeypatch, "SELECT _id, x FROM ap FOR SYSTEM_TIME "
                     "AS OF TIMESTAMP '2024-03-01' WHERE _id = 7")
    assert [(r["_id"], r["x"]) for r in df.collect()] == [(7, 7)]


def test_temporal_column_predicates_never_inject(xt):
    # only ALL-history scans expose temporal columns to SQL; scan()'s
    # prefilter guard rejects them (resolution rewrites them) and the
    # injector falls back to the plain view — the query still runs
    df = xt.sql("SELECT _id FROM ap FOR ALL SYSTEM_TIME "
                "WHERE _system_from <= TIMESTAMP '2030-01-01' "
                "AND _id = 7")
    # plan-text LeftSemi is no longer a valid injection proxy — the
    # polygon fast-path eligibility routing adds its own semi/anti
    # joins on _iid; the injection diagnostic is authoritative
    from xtdb_spark.sql.rewriter import LAST_PREFILTERS

    assert LAST_PREFILTERS == []
    assert _ids(df) == [7, 7]          # both versions of id 7


def test_kill_switch(xt):
    xt.store.sql_auto_prefilter = False
    try:
        df = xt.sql("SELECT _id FROM ap WHERE _id = 7")
        assert "LeftSemi" not in _plan(df)
        assert _ids(df) == [7]
    finally:
        xt.store.sql_auto_prefilter = True


def test_results_identical_on_off_battery(xt):
    queries = [
        "SELECT _id, x FROM ap WHERE _id = 7",
        "SELECT _id FROM ap WHERE x = 1007",
        "SELECT _id FROM ap WHERE _id <= 3 AND s = 's1'",
        "SELECT a._id FROM ap a JOIN ap_dim d ON a._id = d._id "
        "WHERE a._id = 7",
        "SELECT _id FROM ap FOR SYSTEM_TIME AS OF "
        "TIMESTAMP '2024-03-01' WHERE _id = 250",
    ]
    for q in queries:
        on = sorted(map(tuple, xt.sql(q).collect()))
        xt.store.sql_auto_prefilter = False
        try:
            off = sorted(map(tuple, xt.sql(q).collect()))
        finally:
            xt.store.sql_auto_prefilter = True
        assert on == off, q


def test_each_table_reference_builds_one_scan(xt, monkeypatch):
    """The prefilter is decided before any scan is built, so a
    prefiltered read builds its one store scan once (not a plain
    scan and then a prefiltered one); a point read builds none (it
    reads through lookup); two references to the same plain view
    share one build."""
    builds = []
    orig = xt.store.scan
    monkeypatch.setattr(xt.store, "scan", lambda table, **k: (
        builds.append((table, k.get("prefilter"))) or orig(table, **k)))

    df = xt.sql("SELECT _id, x FROM ap WHERE x = 1007")
    assert len(builds) == 1 and builds[0][1] is not None
    assert [(r["_id"], r["x"]) for r in df.collect()] == [(7, 1007)]

    builds.clear()
    df = _point_read(xt, monkeypatch, "SELECT _id, x FROM ap WHERE _id = 7")
    assert builds == []
    assert [(r["_id"], r["x"]) for r in df.collect()] == [(7, 1007)]

    builds.clear()
    df = xt.sql("SELECT a._id FROM ap a JOIN ap_dim d "
                "ON a._id = d._id WHERE a.x = 1007 AND d.grp >= 0")
    assert sorted(t for t, _ in builds) == ["ap", "ap_dim"]
    assert _ids(df) == [7]

    builds.clear()
    df = _point_read(xt, monkeypatch, "SELECT a._id FROM ap a JOIN ap_dim d "
                     "ON a._id = d._id WHERE a._id = 7 AND d.grp >= 0")
    assert [t for t, _ in builds] == ["ap_dim"]
    assert _ids(df) == [7]

    builds.clear()
    df = xt.sql("SELECT a._id FROM ap a, ap b WHERE a._id = b._id")
    assert builds == [("ap", None)]
    assert len(_ids(df)) == 300


def test_prefilter_enables_on_selective_skips_on_broad(xt, monkeypatch):
    """The rewriter's footer estimate decides the injection: `k = 7`
    estimates ≈ 2.2% (1/60 of the first file's rows, 1/30 of the
    second's), so it injects under a 5% threshold and not under the
    default 0.5%; a broad range never injects, nor does a string
    equality (the footers cannot bound it, so it gets no estimate).
    `_id = 7` would take the point route, hence the document column
    `k`. Results equal the uninjected read's either way."""
    from xtdb_spark.sql import rewriter

    xt.store.put("pf", [{"_id": i, "k": i, "x": i % 10, "s": f"s{i % 3}"}
                        for i in range(60)], system_from="2024-01-01")
    xt.store.put("pf", [{"_id": i, "k": i, "x": (i % 10) * 2,
                         "s": f"s{i % 3}"}
                        for i in range(30)], system_from="2024-06-01")
    for where, thresh, expect in [("k = 7", 0.05, True),
                                  ("k = 7", 0.005, False),
                                  ("x >= 0", 0.05, False),
                                  ("s = 's1'", 0.05, False)]:
        monkeypatch.setattr(rewriter, "PREFILTER_THRESHOLD", thresh)
        q = f"SELECT _id, k, x, s FROM pf WHERE {where}"
        df = xt.sql(q)
        assert ("LeftSemi" in _plan(df)) == expect, (where, thresh)
        assert bool(rewriter.LAST_PREFILTERS) == expect, (where, thresh)
        on = sorted(map(tuple, df.collect()))
        xt.store.sql_auto_prefilter = False
        try:
            assert sorted(map(tuple, xt.sql(q).collect())) == on
        finally:
            xt.store.sql_auto_prefilter = True


def test_declined_prefilter_reads_the_shared_view(xt):
    # a broad conjunct is declined before any scan is built: no
    # prefilter record, no query-unique view
    from xtdb_spark.sql.rewriter import LAST_PREFILTERS, rewrite

    sql = rewrite(xt, "SELECT _id FROM ap WHERE x >= 0")
    assert LAST_PREFILTERS == []
    assert "__pf" not in sql
    assert len(_ids(xt.spark.sql(sql))) == 300


def test_each_reference_lists_the_manifest_once(xt, monkeypatch):
    # the footer estimate and the read take one listing, so a put or
    # compaction between them cannot change the files the estimate
    # judged
    import xtdb_spark.compactor as compactor
    from xtdb_spark.sql.rewriter import LAST_PREFILTERS

    listed = []
    orig = compactor.live_files
    monkeypatch.setattr(compactor, "live_files",
                        lambda p: listed.append(p) or orig(p))
    ap, dim = xt.store._path("ap"), xt.store._path("ap_dim")
    df = xt.sql("SELECT _id, x FROM ap WHERE x = 1007")
    assert [e["table"] for e in LAST_PREFILTERS] == ["ap"]
    assert listed == [ap]
    assert [(r["_id"], r["x"]) for r in df.collect()] == [(7, 1007)]

    listed.clear()
    xt.sql("SELECT _id FROM ap WHERE x >= 0")
    assert LAST_PREFILTERS == [] and listed == [ap]

    listed.clear()
    df = xt.sql("SELECT a._id FROM ap a JOIN ap_dim d "
                "ON a._id = d._id WHERE a.x = 1007 AND d.grp >= 0")
    assert [e["table"] for e in LAST_PREFILTERS] == ["ap"]
    assert sorted(listed) == sorted([ap, dim])
    assert _ids(df) == [7]
