"""SQL point reads through the iid-bucketed lookup: a store table
reference pinned by a top-level `WHERE [alias.]_id = <literal>`
reads through `TableStore.lookup` (reference operator/scan.clj:127-140
iid selection) — one bucket's files, one iid's events, resolved on
one partition. The results must equal the full scan filtered on
`_id` under every temporal bound; literals whose type does not match
the stored `_id`, and tables whose `_id` mixed types, keep the full
scan."""

from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from xtdb_spark.compactor import live_files
from xtdb_spark.plans.explain import count_shuffles, formatted_plan
from xtdb_spark.session import XtdbSession
from xtdb_spark.tx import TableStore

BOUNDS = [
    ("", {}),
    ("FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15'",
     {"system_time": "2024-02-15"}),
    ("FOR VALID_TIME AS OF TIMESTAMP '2024-02-15'",
     {"valid_time": "2024-02-15"}),
    ("FOR ALL SYSTEM_TIME", {"all_system_time": True}),
    ("FOR ALL VALID_TIME", {"all_valid_time": True}),
]
# updated, updated again in an L0 file beside the levels, untouched,
# deleted, erased, erased then put again, missing
IDS = [0, 1, 5, 10, 12, 13, 30, 999]


@pytest.fixture(scope="module")
def xt(spark, tmp_path_factory):
    s = XtdbSession.__new__(XtdbSession)
    s.spark = spark
    s.store = TableStore(spark, str(tmp_path_factory.mktemp("pnt") / "wh"))
    s.sql = XtdbSession.sql.__get__(s)
    s.scan = XtdbSession.scan.__get__(s)
    st = s.store
    st.put("pnt", [{"_id": i, "x": i, "s": f"s{i % 3}"} for i in range(40)],
           system_from="2024-01-01")
    st.put("pnt", [{"_id": i, "x": i + 1000, "s": "v2"} for i in range(10)],
           system_from="2024-02-01")
    st.delete("pnt", [10, 11], system_from="2024-03-01")
    st.erase("pnt", [12, 13], system_from="2024-04-01")
    st.put("pnt", [{"_id": 13, "x": 13, "s": "again"}],
           system_from="2024-05-01")
    st.compact("pnt", l0_threshold=2)
    st.put("pnt", [{"_id": 1, "x": 2001, "s": "v3"},
                  {"_id": 30, "x": 2030, "s": "v3"}],
           system_from="2024-06-01")
    st.put("pstr", [{"_id": f"k{i}", "x": i} for i in range(20)],
           system_from="2024-01-01")
    st.put("pstr", [{"_id": "k3", "x": 33}], system_from="2024-02-01")
    st.put("pmix", [{"_id": 1, "x": 1}], system_from="2024-01-01")
    st.put("pmix", [{"_id": "1", "x": 2}], system_from="2024-02-01")
    return s


@pytest.fixture()
def lookups(xt, monkeypatch):
    """The DataFrames `TableStore.lookup` returned, in call order."""
    out = []
    orig = xt.store.lookup
    monkeypatch.setattr(xt.store, "lookup",
                        lambda *a, **k: out.append(orig(*a, **k)) or out[-1])
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.select("_id", "x").collect())


def test_store_holds_l0_beside_levels(xt):
    l0, entries = live_files(xt.store._path("pnt"))
    assert l0 and entries


@pytest.mark.parametrize("spelling,kw", BOUNDS)
def test_point_route_equals_filtered_scan(xt, lookups, spelling, kw):
    for k in IDS:
        lookups.clear()
        got = xt.sql(f"SELECT _id, x FROM pnt {spelling} WHERE _id = {k}")
        want = xt.scan("pnt", **kw).filter(F.col("_id") == k)
        assert _rows(got) == _rows(want), (spelling, k)
        assert len(lookups) == 1, (spelling, k)
        assert count_shuffles(formatted_plan(lookups[0])) == 0


def test_setting_default_system_time_routes(xt, lookups):
    for k in IDS:
        lookups.clear()
        got = xt.sql("SETTING DEFAULT SYSTEM_TIME AS OF TIMESTAMP "
                     f"'2024-02-15' SELECT _id, x FROM pnt WHERE _id = {k}")
        want = xt.scan("pnt", system_time="2024-02-15") \
            .filter(F.col("_id") == k)
        assert _rows(got) == _rows(want), k
        assert len(lookups) == 1


def test_select_star_keeps_the_scan_columns(xt, lookups):
    got = xt.sql("SELECT * FROM pnt WHERE _id = 7")
    assert got.columns == xt.sql("SELECT * FROM pnt").columns
    assert len(lookups) == 1


def test_string_ids_route(xt, lookups):
    for k in ("k3", "k7", "nope"):
        lookups.clear()
        got = xt.sql(f"SELECT _id, x FROM pstr WHERE _id = '{k}'")
        want = xt.scan("pstr").filter(F.col("_id") == k)
        assert _rows(got) == _rows(want), k
        assert len(lookups) == 1


def test_mismatched_literal_type_keeps_the_scan(xt, lookups):
    # '5' over integer ids coerces to 5 in SQL; the iid of '5' is
    # another entity's, so the lookup would miss the row
    got = xt.sql("SELECT _id, x FROM pnt WHERE _id = '5'")
    assert _rows(got) == [(5, 1005)]
    assert lookups == []
    # (an integer over string ids is a cast error under ANSI SQL, as
    # over the full scan)
    xt.sql("SELECT _id, x FROM pstr WHERE _id = 3")
    assert lookups == []


def test_mixed_id_types_keep_the_scan(xt, lookups):
    for lit, k in (("1", 1), ("'1'", "1")):
        got = xt.sql(f"SELECT _id, x FROM pmix WHERE _id = {lit}")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, xt.scan("pmix").filter(F.col("_id") == k)
                .select("_id", "x").collect())), lit
    assert lookups == []


def test_unsafe_shapes_keep_the_scan(xt, lookups):
    queries = [
        # the WHERE's `_id` is the derived table's column, not pnt's
        "SELECT * FROM (SELECT _id + 1 AS _id, x FROM pnt) s WHERE _id = 6",
        # two SELECTs: scopes cannot be told apart from tokens
        "SELECT _id, x FROM pnt WHERE _id = 5 AND x IN "
        "(SELECT x FROM pnt)",
        # range bounds resolve from the events, never through lookup
        "SELECT _id, x FROM pnt FOR SYSTEM_TIME BETWEEN "
        "TIMESTAMP '2024-01-01' AND TIMESTAMP '2024-02-15' WHERE _id = 5",
        # two different ids
        "SELECT _id, x FROM pnt WHERE _id = 5 AND _id = 6",
    ]
    for q in queries:
        xt.sql(q).collect()
        assert lookups == [], q
    got = xt.sql(queries[0])
    assert _rows(got) == [(6, 1005)]


def test_self_join_routes_each_pinned_alias(xt, lookups):
    got = xt.sql("SELECT a._id, b.x FROM pnt a, pnt b "
                 "WHERE a._id = 5 AND b._id = 6")
    assert sorted(map(tuple, got.collect())) == [(5, 1006)]
    assert len(lookups) == 2


def test_point_read_scans_exactly_the_point_files(xt):
    for k in (1, 5, 30):
        df = xt.sql(f"SELECT _id, x FROM pnt WHERE _id = {k}")
        scanned = sorted(urlparse(u).path for u in df.inputFiles())
        assert scanned == sorted(xt.store.point_files("pnt", k,
                                                      current_only=True))
        assert len(scanned) < len(xt.store.table_files("pnt"))


def test_point_read_lists_the_manifest_once(xt, lookups, monkeypatch):
    # the type guard and the lookup read one listing, so a put or a
    # compaction between them cannot change the files the guard judged
    import xtdb_spark.compactor as compactor

    listed = []
    orig = compactor.live_files
    monkeypatch.setattr(compactor, "live_files",
                        lambda p: listed.append(p) or orig(p))
    df = xt.sql("SELECT _id, x FROM pnt WHERE _id = 5")
    assert len(lookups) == 1
    assert listed == [xt.store._path("pnt")]
    assert _rows(df) == [(5, 1005)]


def test_serving_cache_store_routes_current_reads(xt, lookups):
    xt.store.serve_cache = True
    try:
        assert _rows(xt.sql("SELECT _id, x FROM pnt WHERE _id = 5")) == \
            [(5, 1005)]
        assert len(lookups) == 1
    finally:
        xt.store.serve_cache = False


def test_compacted_mixed_ids_keep_the_scan(xt, lookups):
    # compaction reads the int and string puts through _events_lub:
    # every output file types `_id` as string, so the footers look
    # uniform, but the rows of ids 5 and 6 keep their integer iids —
    # a lookup of the string '5' would find nothing ('o' shares the
    # level-1 bucket of the iid of '5', so that bucket holds a file)
    st = xt.store
    st.put("pcmp", [{"_id": 5, "x": 1}, {"_id": 6, "x": 2}])
    st.put("pcmp", [{"_id": "a", "x": 3}])
    st.put("pcmp", [{"_id": "o", "x": 4}])
    st.compact("pcmp", l0_threshold=2)
    assert all(st._file_footer(f).spark_schema["_id"].dataType
               == StringType() for f in st.table_files("pcmp"))
    assert st.point_files("pcmp", "5", current_only=True)
    assert _rows(xt.sql("SELECT _id, x FROM pcmp WHERE _id = '5'")) == \
        [("5", 1)]
    assert lookups == []
    # a string that no lowered id spells still routes
    assert _rows(xt.sql("SELECT _id, x FROM pcmp WHERE _id = 'a'")) == \
        [("a", 3)]
    assert len(lookups) == 1


def test_lowered_id_spellings_never_route(xt):
    for k in ("5", "-12", "true", "false", "sixteen-byte-key"):
        assert not xt.store.lookup_matches_scan("pstr", k), k
    assert xt.store.lookup_matches_scan("pstr", "k3")
