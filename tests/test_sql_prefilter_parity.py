"""Parity battery for the SQL prefilter decisions: for each statement
over the auto-prefilter and join-prefilter fixtures, whether a
candidate semi-join is injected and whether its candidate set is
broadcast-hinted. The pinned outcomes are those of the store-side
decision (`scan(prefilter_mode="auto")` estimating from a parse of
Spark's Column rendering) that the rewriter's own conjunct fold
replaced; a moved decision fails here, a moved result fails the
on/off batteries of the two fixture modules."""

import pytest

from test_sql_auto_prefilter import _tables as _auto_tables
from test_sql_join_prefilter import _star_tables, _tables as _join_tables
from xtdb_spark.session import XtdbSession
from xtdb_spark.sql import rewriter
from xtdb_spark.tx import TableStore


@pytest.fixture(scope="module")
def xt(spark, tmp_path_factory):
    s = XtdbSession.__new__(XtdbSession)
    s.spark = spark
    s.store = TableStore(spark, str(tmp_path_factory.mktemp("parity")))
    s.sql = XtdbSession.sql.__get__(s)
    s.scan = XtdbSession.scan.__get__(s)
    _auto_tables(s.store)
    _join_tables(s.store)
    _star_tables(s.store)
    return s


def _decision(xt, sql):
    """(injected?, broadcast-hinted?) for `sql`: the analyzed plan
    with both SQL injectors on carries more semi-joins / broadcast
    hints than with both off (the temporal resolution paths add
    their own, identical in both)."""
    def counts():
        p = xt.sql(sql)._jdf.queryExecution().analyzed().toString()
        return p.count("LeftSemi"), p.count("strategy=broadcast")

    on = counts()
    xt.store.sql_auto_prefilter = xt.store.sql_join_prefilter = False
    try:
        off = counts()
    finally:
        xt.store.sql_auto_prefilter = xt.store.sql_join_prefilter = True
    return on[0] > off[0], on[1] > off[1]


# literal conjuncts (the auto-prefilter fixture's production gates)
_LITERAL = [
    # selective and broad numeric conjuncts
    ("SELECT _id, x FROM ap WHERE x = 1007", (True, True)),
    ("SELECT _id FROM ap WHERE x >= 0", (False, False)),
    ("SELECT _id FROM ap WHERE x >= 1050 AND x <= 1051", (True, True)),
    ("SELECT _id FROM ap WHERE x > 10 AND x < 5", (True, True)),
    # a string equality; a numeric and a string conjunct
    ("SELECT _id FROM ap WHERE s = 's1'", (False, False)),
    ("SELECT _id FROM ap WHERE x = 1007 AND s = 's1'", (False, False)),
    # literal on the left; negative literals
    ("SELECT _id FROM ap WHERE 1007 = x", (True, True)),
    ("SELECT _id FROM ap WHERE 1005 < x AND 1008 >= x", (False, False)),
    ("SELECT _id FROM ap WHERE x > -5 AND x < 1", (True, True)),
    ("SELECT _id FROM ap WHERE x = -1", (True, True)),
    ("SELECT _id FROM ap WHERE x >= -300", (False, False)),
    # literals the numeric grammar never took
    ("SELECT _id FROM ap WHERE x < 1e3", (False, False)),
    ("SELECT _id FROM ap WHERE x < 5.", (False, False)),
    ("SELECT _id FROM ap WHERE x <= 0.5", (True, True)),
    # temporal bounds
    ("SELECT _id, x FROM ap FOR SYSTEM_TIME AS OF "
     "TIMESTAMP '2024-03-01' WHERE x = 7", (True, True)),
    ("SELECT _id, x FROM ap FOR SYSTEM_TIME AS OF "
     "TIMESTAMP '2024-03-01' WHERE x >= 0", (False, False)),
    ("SELECT _id FROM ap FOR ALL VALID_TIME WHERE x = 1007",
     (True, True)),
    ("SELECT _id FROM ap FOR ALL VALID_TIME WHERE x >= 0",
     (False, False)),
    # two qualified tables; a self-join; a point read
    ("SELECT a._id FROM ap a JOIN ap_dim d ON a._id = d._id "
     "WHERE a.x = 1007 AND d.grp >= 0", (True, True)),
    ("SELECT a._id FROM ap a JOIN ap_dim d ON a._id = d._id "
     "WHERE a.x >= 0 AND d.x = 3", (False, False)),
    ("SELECT a._id AS ia, b._id AS ib FROM ap a, ap b "
     "WHERE a.x = 1007 AND b._id >= 0", (True, True)),
    ("SELECT _id, x FROM ap WHERE _id = 7", (False, False)),
]

# join-derived IN lists (the join-prefilter fixture: no fact-size floor)
_JOIN = [
    ("SELECT f._id FROM jf f, jd d WHERE f.ref = d._id AND d._id = 7",
     (True, True)),
    ("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
     "WHERE d._id = 9", (True, True)),
    ("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
     "WHERE d._id = 9 AND f.x >= 0", (True, True)),
    ("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
     "WHERE d.grp = 2", (False, False)),
    ("SELECT f._id FROM jf f LEFT JOIN jd d ON f.ref = d._id "
     "AND d._id = 7", (False, False)),
    ("SELECT f._id FROM jf3 f JOIN jda a ON f.ra = a._id "
     "JOIN jdb b ON f.rb = b._id WHERE a._id = 7 AND b._id = 49",
     (True, True)),
]


# the candidate set never fits the broadcast budget: literal
# prefilters still inject, unhinted; join-derived lists do not inject
_NO_BUDGET = [
    ("SELECT _id, x FROM ap WHERE x = 1007", (True, False)),
    ("SELECT _id, x FROM ap FOR SYSTEM_TIME AS OF "
     "TIMESTAMP '2024-03-01' WHERE x = 7", (True, False)),
    ("SELECT _id FROM ap FOR ALL VALID_TIME WHERE x = 1007",
     (True, False)),
    ("SELECT _id FROM ap WHERE x >= 0", (False, False)),
    ("SELECT f._id FROM jf f JOIN jd d ON f.ref = d._id "
     "WHERE d._id = 9", (False, False)),
]


@pytest.mark.parametrize("sql,want", _LITERAL)
def test_literal_prefilter_decisions(xt, sql, want):
    assert _decision(xt, sql) == want


@pytest.mark.parametrize("sql,want", _JOIN)
def test_join_derived_prefilter_decisions(xt, monkeypatch, sql, want):
    monkeypatch.setattr(rewriter, "JOIN_PREFILTER_MIN_FACT_BYTES", 0)
    assert _decision(xt, sql) == want


@pytest.mark.parametrize("sql,want", _NO_BUDGET)
def test_decisions_without_broadcast_budget(xt, monkeypatch, sql, want):
    monkeypatch.setattr(rewriter, "JOIN_PREFILTER_MIN_FACT_BYTES", 0)
    monkeypatch.setattr(TableStore, "_prefilter_fits_broadcast",
                        lambda self, est, files: False)
    assert _decision(xt, sql) == want
