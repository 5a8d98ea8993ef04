"""Join-derived sideways pushdown in the SQL path (reference
join.clj:172-226 pushes build-side filters into the probe scan at
runtime): a temporal fact scan INNER-equi-joined to a selective
build scan gets a `fact_key IN (build keys)` candidate-iid
semi-join injected — results unchanged by construction, conservative
bail-outs for outer joins, broad builds, string keys, and
unestimable shapes."""

import pytest
from pyspark.sql import functions as F

from xtdb_spark.session import XtdbSession
from xtdb_spark.sql import rewriter
from xtdb_spark.tx import TableStore


def _jd_injections(table=None):
    """Join-derived injections recorded by the most recent rewrite
    (plan-text assertions are ambiguous: one injection yields two
    LeftSemi nodes, and Catalyst infers transitive literals
    itself)."""
    return [e for e in rewriter.LAST_PREFILTERS
            if e["join_derived"] and (table is None
                                      or e["table"] == table)]


@pytest.fixture()
def xt(spark, tmp_path, monkeypatch):
    s = XtdbSession.__new__(XtdbSession)
    s.spark = spark
    s.store = TableStore(spark, str(tmp_path / "wh"))
    s.sql = XtdbSession.sql.__get__(s)
    s.scan = XtdbSession.scan.__get__(s)
    _tables(s.store)
    # the production floor (256 MB of fact parquet) exists because
    # the planning probe costs more than a full scan of a small
    # table; tests exercise the mechanism, not the economics
    monkeypatch.setattr(rewriter, "JOIN_PREFILTER_MIN_FACT_BYTES", 0)
    return s


def _tables(store):
    # fact: 1000 rows, key `ref` ranging 0..499 (IN estimate for one
    # key = 1/500 = 0.002, under the 0.005 injection threshold)
    store.put("jf", [{"_id": i, "ref": i % 500, "x": i}
                     for i in range(1000)], system_from="2024-01-01")
    # dim: 500 rows (one-key predicate est = 1/500 = 0.002, under the
    # 0.05 build-side gate)
    store.put("jd", [{"_id": i, "grp": i % 5, "tag": f"t{i % 3}"}
                     for i in range(500)], system_from="2024-01-01")


def _star_tables(store):
    # a fact with two keys into two dims
    store.put("jf3", [{"_id": i, "ra": i % 500, "rb": (i * 7) % 400}
                      for i in range(1000)], system_from="2024-01-01")
    store.put("jda", [{"_id": i} for i in range(500)],
              system_from="2024-01-01")
    store.put("jdb", [{"_id": i} for i in range(400)],
              system_from="2024-01-01")


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _ids(df):
    return sorted(r["_id"] for r in df.collect())


def test_inner_join_where_equi_injects_in_list(xt):
    # comma join, equi + selective build literal in the ONE WHERE
    df = xt.sql("SELECT f._id FROM jf f, jd d "
                "WHERE f.ref = d._id AND d._id = 7")
    inj = _jd_injections("jf")
    assert len(inj) == 1 and "ref IN (7)" in inj[0]["pred"] \
        and inj[0]["broadcast"]
    assert "LeftSemi" in _plan(df)
    assert _ids(df) == [7, 507]


def test_inner_join_on_equi_injects(xt):
    df = xt.sql("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
                "WHERE d._id = 9")
    inj = _jd_injections("jf")
    assert len(inj) == 1 and "ref IN (9)" in inj[0]["pred"]
    assert _ids(df) == [9, 509]


def test_empty_build_side_lowers_to_false(xt):
    df = xt.sql("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
                "WHERE d._id = 99999")
    inj = _jd_injections("jf")
    assert len(inj) == 1 and "(false)" in inj[0]["pred"]
    assert _ids(df) == []


def test_broad_build_side_bails(xt):
    # grp = 2 selects 1/5 of the dim — over the 5% build gate
    df = xt.sql("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
                "WHERE d.grp = 2")
    assert not _jd_injections()
    # 100 dim rows with grp=2; each matched by 2 of the 1000 facts
    assert len(_ids(df)) == 200


def test_outer_join_on_equi_never_injects(xt):
    # LEFT JOIN: the ON equi doesn't filter the preserved fact side —
    # deriving a fact prefilter from it would drop preserved rows
    df = xt.sql("SELECT f._id FROM jf f LEFT JOIN jd d "
                "ON f.ref = d._id AND d._id = 7")
    assert not rewriter.LAST_PREFILTERS    # no injection of ANY kind
    assert len(_ids(df)) == 1000   # every fact row preserved


def test_string_keys_bail(xt):
    # equi on a STRING column: no footer point-mass estimate → skip
    xt.store.put("jf2", [{"_id": i, "rtag": f"t{i % 3}"}
                         for i in range(30)], system_from="2024-01-01")
    df = xt.sql("SELECT f._id FROM jf2 f JOIN jd d ON f.rtag = d.tag "
                "WHERE d._id = 7")
    # d's literal injection may fire; the FACT side must not carry a
    # join-derived IN over the string key
    assert not _jd_injections("jf2")
    assert len(_ids(df)) == 10     # 30 facts / 3 tags × 1 dim row


def test_kill_switch(xt):
    xt.store.sql_join_prefilter = False
    try:
        df = xt.sql("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
                    "WHERE d._id = 7")
        assert _ids(df) == [7, 507]
        assert not _jd_injections()
    finally:
        xt.store.sql_join_prefilter = True


def test_results_identical_on_off_battery(xt):
    queries = [
        "SELECT f._id FROM jf f, jd d WHERE f.ref = d._id AND d._id = 7",
        "SELECT f._id, f.x FROM jf f JOIN jd d ON f.ref = d._id "
        "WHERE d._id = 3",
        "SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
        "WHERE d._id = 99999",
        "SELECT f._id FROM jf f LEFT JOIN jd d ON f.ref = d._id "
        "AND d._id = 7",
        "SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
        "WHERE d.grp = 2",
        "SELECT d._id FROM jd d JOIN jf f ON d._id = f.ref "
        "WHERE f._id = 3",   # roles swapped: jd is the probe side
    ]
    for q in queries:
        on = sorted(map(tuple, xt.sql(q).collect()))
        xt.store.sql_join_prefilter = False
        xt.store.sql_auto_prefilter = False
        try:
            off = sorted(map(tuple, xt.sql(q).collect()))
        finally:
            xt.store.sql_join_prefilter = True
            xt.store.sql_auto_prefilter = True
        assert on == off, q


def test_star_join_composes_multiple_in_filters(xt):
    """Star joins compose: with TWO selective dims, the fact scan's
    prefilter carries BOTH derived IN lists (each is a superset, so
    their AND is too)."""
    _star_tables(xt.store)
    df = xt.sql("SELECT f._id FROM jf3 f "
                "JOIN jda a ON f.ra = a._id "
                "JOIN jdb b ON f.rb = b._id "
                "WHERE a._id = 7 AND b._id = 49")
    inj = _jd_injections("jf3")
    assert len(inj) == 1
    assert "ra IN (7)" in inj[0]["pred"] and "rb IN (49)" in inj[0]["pred"]
    # ra = 7 → ids {7, 507}; rb = 49: 7i % 400 == 49 → i ≡ 7 (mod 400)
    # within each — intersection: ids where both hold
    expect = sorted(i for i in range(1000)
                    if i % 500 == 7 and (i * 7) % 400 == 49)
    assert _ids(df) == expect and expect   # non-empty by construction
    on = _ids(df)
    xt.store.sql_join_prefilter = False
    try:
        assert _ids(xt.sql(
            "SELECT f._id FROM jf3 f JOIN jda a ON f.ra = a._id "
            "JOIN jdb b ON f.rb = b._id "
            "WHERE a._id = 7 AND b._id = 49")) == on
    finally:
        xt.store.sql_join_prefilter = True


def test_randomized_join_grammar_equal_results(xt):
    """Seeded random walk over the join grammar the injector parses
    (comma joins, JOIN..ON, LEFT JOIN, ON-side literals, extra fact
    filters, swapped sides, three-relation chains): every query must
    return identical rows with the injector on and off. Guards the
    conservatism claims against grammar corners the targeted tests
    don't enumerate."""
    import random

    rng = random.Random(42)
    picks = {
        "jointype": ["inner_comma", "inner_on", "left_on"],
        "bfilt": ["d._id = {k}", "d.grp = {g}", None],
        "ffilt": ["f.x >= {x}", None],
        "proj": ["f._id", "f._id, d.grp", "d._id AS did, f.x"],
    }
    for i in range(25):
        jt = rng.choice(picks["jointype"])
        bf = rng.choice(picks["bfilt"])
        ff = rng.choice(picks["ffilt"])
        proj = rng.choice(picks["proj"])
        k, g, x = rng.randrange(500), rng.randrange(5), rng.randrange(900)
        conds = []
        if bf:
            conds.append(bf.format(k=k, g=g))
        if ff:
            conds.append(ff.format(x=x))
        where = (" WHERE " + " AND ".join(conds)) if conds else ""
        if jt == "inner_comma":
            q = (f"SELECT {proj} FROM jf f, jd d"
                 + (" WHERE f.ref = d._id"
                    + ("".join(f" AND {c}" for c in conds))))
        elif jt == "inner_on":
            q = f"SELECT {proj} FROM jf f JOIN jd d ON f.ref = d._id{where}"
        else:
            q = (f"SELECT {proj} FROM jf f LEFT JOIN jd d "
                 f"ON f.ref = d._id{where}")
        on = sorted(map(tuple, xt.sql(q).collect()))
        xt.store.sql_join_prefilter = False
        xt.store.sql_auto_prefilter = False
        try:
            off = sorted(map(tuple, xt.sql(q).collect()))
        finally:
            xt.store.sql_join_prefilter = True
            xt.store.sql_auto_prefilter = True
        assert on == off, (i, q)


def test_updated_build_keys_reflect_current_state(xt):
    """The key set is a SUPERSET drawn from the build side's raw
    events (sound — the join still filters): before any dim version
    matches, the derived set is empty and the join lowers to false;
    after a new version matches, its key appears."""
    df0 = xt.sql("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
                 "WHERE d.grp = 99")
    assert _ids(df0) == []
    xt.store.put("jd", [{"_id": 7, "grp": 99, "tag": "z"}],
                 system_from="2024-06-01")
    df = xt.sql("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
                "WHERE d.grp = 99")
    assert _ids(df) == [7, 507]
