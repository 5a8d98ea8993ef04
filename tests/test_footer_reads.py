"""Store reads planned from the cached parquet footers: `events()`
takes its schema from the footers (no schema-merge job) and
`_resolve` skips `drop_erased` when no footer of the read admits an
erase. Both must read exactly what the Spark merge read and the
self-join path read, and a point read must run one Spark job."""

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from xtdb_spark import dyntypes
from xtdb_spark.session import XtdbSession
from xtdb_spark.tx import TableStore

TS = dt.datetime(2024, 3, 1, 12, 30, tzinfo=dt.timezone.utc)


@pytest.fixture(scope="module")
def xt(spark, tmp_path_factory):
    s = XtdbSession.__new__(XtdbSession)
    s.spark = spark
    s.store = TableStore(spark, str(tmp_path_factory.mktemp("ftr") / "wh"))
    s.sql = XtdbSession.sql.__get__(s)
    s.scan = XtdbSession.scan.__get__(s)
    return s


def _merge_read(st, files):
    return st.spark.read.option("mergeSchema", "true").parquet(*files)


def _rows(df):
    return sorted(map(repr, df.collect()))


def _assert_footer_schema(st, table):
    files = st.table_files(table)
    assert files
    assert st._footer_schema(files) is not None, "footers fell back"
    got, want = st.events(table), _merge_read(st, files)
    assert got.schema == want.schema           # types, order, nullability
    assert _rows(got) == _rows(want.select(got.columns))


def test_fast_path_puts_and_a_later_column(xt):
    st = xt.store
    st.put("ffast", [{"_id": i, "b": i % 2 == 0, "f": i / 3, "s": f"s{i}",
                      "bin": bytes([i]), "ts": TS, "d": dt.date(2024, 1, i + 1)}
                     for i in range(5)])
    # a later put adds a column and leaves some out
    st.put("ffast", [{"_id": 9, "later": "x", "s": "nine"}])
    assert st._file_footer(st.table_files("ffast")[0]).spark_schema is not None
    _assert_footer_schema(st, "ffast")
    assert st.events("ffast").columns[-1] == "later"


def test_spark_path_puts_with_dates_and_dyntypes(xt):
    st, spark = xt.store, xt.spark
    st.put("fspark", dyntypes.encode_rows(spark, [
        {"_id": 1, "v": 42, "d": dt.date(2024, 1, 1), "ts": TS},
        {"_id": 2, "v": "hello", "d": dt.date(2024, 1, 2), "ts": TS}]))
    st.put("fspark", dyntypes.encode_rows(spark, [
        {"_id": 3, "v": True, "d": dt.date(2024, 1, 3), "ts": TS,
         "extra": 1.5},
        {"_id": 5, "v": [1, "a"], "d": None, "ts": None, "extra": None}]))
    assert dict(st.events("fspark").dtypes)["v"].startswith("struct")
    _assert_footer_schema(st, "fspark")
    # a fast-path file beside the Spark-written ones
    st.put("fspark", [{"_id": 4, "d": dt.date(2024, 1, 4), "ts": TS}])
    _assert_footer_schema(st, "fspark")


def test_sql_insert_and_compaction_outputs(xt):
    st = xt.store
    xt.sql("INSERT INTO fsql (_id, n, d, t) VALUES "
           "(1, 10, DATE '2024-01-01', TIMESTAMP '2024-01-01 10:00:00')")
    xt.sql("INSERT INTO fsql (_id, n, label) VALUES (2, 20, 'two')")
    _assert_footer_schema(st, "fsql")
    st.put("fsql", [{"_id": 3, "n": 30}])
    st.compact("fsql", l0_threshold=2)
    from xtdb_spark.compactor import live_files

    l0, entries = live_files(st._path("fsql"))
    assert entries and not l0
    _assert_footer_schema(st, "fsql")


def test_type_conflict_still_reaches_events_lub(xt, monkeypatch):
    st = xt.store
    st.put("fconf", [{"_id": 1, "x": 1}])
    st.put("fconf", [{"_id": 2, "x": "two"}])
    assert st._footer_schema(st.table_files("fconf")) is None
    calls = []
    orig = st._events_lub
    monkeypatch.setattr(st, "_events_lub",
                        lambda files: calls.append(files) or orig(files))
    assert dict(st.events("fconf").dtypes)["x"] == "string"
    assert calls


def test_unknown_and_drifting_files_use_the_merge_read(xt, spark):
    st = xt.store
    # drift: a nested struct gains a field — Spark's merge widens it
    st.put("fdrift", spark.createDataFrame(
        [(1, (1,))], "_id long, o struct<a:long>"))
    st.put("fdrift", spark.createDataFrame(
        [(2, (2, "b"))], "_id long, o struct<a:long, b:string>"))
    files = st.table_files("fdrift")
    assert st._footer_schema(files) is None
    assert st.events("fdrift").schema == _merge_read(st, files).schema
    assert st.events("fdrift").schema["o"].dataType.fieldNames() == ["a", "b"]
    # unknown: a file from another writer, with a type outside the
    # closed set the pyarrow fast path writes
    st.put("fother", [{"_id": 1, "x": 1}])
    src = st.table_files("fother")[0]
    t = pq.read_table(src)
    t = t.append_column("n32", pa.array([7], type=pa.int32()))
    pq.write_table(t, os.path.join(st._path("fother"),
                                   "part-other-00000.parquet"))
    files = st.table_files("fother")
    assert len(files) == 2 and st._footer_schema(files) is None
    assert st.events("fother").schema == _merge_read(st, files).schema
    assert dict(st.events("fother").dtypes)["n32"] == "int"


# ---- erase presence ------------------------------------------------------

BOUNDS = [
    {},
    {"system_time": "2024-02-15"},            # before every erase
    {"system_time": "2024-04-15"},
    {"valid_time": "2024-02-15"},
    {"all_system_time": True},
    {"all_valid_time": True},
]


def _forced(st, monkeypatch, fn):
    with monkeypatch.context() as m:
        m.setattr(st, "_may_erase", lambda files: True)
        return fn()


def _gate_matches_self_join(st, table, monkeypatch) -> int:
    """Check every bound's scan and point reads against the forced
    self-join; return how many reads skipped the join."""
    skipped = []
    orig = st._may_erase
    with monkeypatch.context() as m:
        m.setattr(st, "_may_erase",
                  lambda files: orig(files) or skipped.append(1))
        for b in BOUNDS:
            got = _rows(st.scan(table, **b).select("_id", "x"))
            want = _forced(st, m, lambda: _rows(
                st.scan(table, **b).select("_id", "x")))
            assert got == want, b
            for i in (12, 13, 20, 33):
                got = _rows(st.lookup(table, i, **b).select("_id", "x"))
                want = _forced(st, m, lambda: _rows(
                    st.lookup(table, i, **b).select("_id", "x")))
                assert got == want, (i, b)
    return len(skipped)


def test_erase_gate_matches_the_self_join(xt, monkeypatch):
    """ids 0-39 put, 1-9 updated, 12 and 13 erased and 13 put again,
    all compacted: reads of erase-free buckets skip the join. Then
    20 is erased in an L0 file beside the levels: every read holds
    that file and keeps the join."""
    st = xt.store
    st.put("fer", [{"_id": i, "x": i} for i in range(40)],
           system_from="2024-01-01")
    st.put("fer", [{"_id": i, "x": i + 100} for i in range(1, 10)],
           system_from="2024-02-01")
    st.erase("fer", [12, 13], system_from="2024-03-01")
    st.put("fer", [{"_id": 13, "x": 1013}], system_from="2024-04-01")
    st.compact("fer", l0_threshold=2)
    assert _gate_matches_self_join(st, "fer", monkeypatch) > 0
    assert _rows(st.lookup("fer", 12)) == []
    assert _rows(st.lookup("fer", 13).select("x")) == ["Row(x=1013)"]
    # an AS-OF read before the erase sees neither erased id
    assert _rows(st.lookup("fer", 12, system_time="2024-02-15")) == []
    assert _rows(st.lookup("fer", 13, system_time="2024-02-15")) == []
    assert _rows(st.lookup("fer", 20).select("x")) == ["Row(x=20)"]

    st.erase("fer", [20], system_from="2024-05-01")
    assert _gate_matches_self_join(st, "fer", monkeypatch) == 0
    assert _rows(st.lookup("fer", 20)) == []
    assert not any("_id=20," in r for r in _rows(st.scan("fer")))


def test_erase_free_buckets_skip_the_join(xt):
    st = xt.store
    st.put("fclean", [{"_id": i, "x": i} for i in range(40)],
           system_from="2024-01-01")
    st.erase("fclean", [12], system_from="2024-03-01")
    st.compact("fclean", l0_threshold=2)
    assert st._may_erase(st.point_files("fclean", 12))
    clean = [i for i in range(40)
             if not st._may_erase(st.point_files("fclean", i))]
    assert clean                         # other buckets hold no erase
    i = clean[0]
    assert "Join" not in st.lookup("fclean", i)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Join" in st.lookup("fclean", 12)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert _rows(st.lookup("fclean", i).select("x")) == [f"Row(x={i})"]
    assert _rows(st.lookup("fclean", 12)) == []


def test_delete_and_put_in_one_file_keeps_the_join(xt):
    st = xt.store
    st.put("fdel", [{"_id": i, "x": i} for i in range(8)],
           system_from="2024-01-01")
    st.delete("fdel", [3], system_from="2024-02-01")
    st.compact("fdel", l0_threshold=2)
    files = st.point_files("fdel", 3)
    # op spans "delete".."put": the footer cannot rule out "erase"
    assert st._may_erase(files)
    assert "Join" in st.lookup("fdel", 3)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert _rows(st.lookup("fdel", 3)) == []


# ---- one Spark job per point read ---------------------------------------

def _jobs(spark, run):
    sc = spark.sparkContext
    gid = f"footer-reads-{time.time_ns()}"
    sc.setJobGroup(gid, "footer reads")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tr = sc.statusTracker()
    n = -1
    for _ in range(20):        # job events reach the tracker async
        time.sleep(0.1)
        if n == (n := len(tr.getJobIdsForGroup(gid))):
            break
    return n, out


def test_point_reads_run_one_job(xt):
    st = xt.store
    st.put("fone", [{"_id": i, "x": i} for i in range(50)],
           system_from="2024-01-01")
    st.put("fone", [{"_id": i, "x": i + 1} for i in range(5)],
           system_from="2024-02-01")
    st.compact("fone", l0_threshold=2)
    st.put("fone", [{"_id": 2, "x": 77}], system_from="2024-03-01")
    for q, want in [
            ("SELECT _id, x FROM fone WHERE _id = 2", [(2, 77)]),
            ("SELECT _id, x FROM fone FOR SYSTEM_TIME AS OF "
             "TIMESTAMP '2024-02-15' WHERE _id = 2", [(2, 3)])]:
        n, rows = _jobs(xt.spark, lambda: xt.sql(q).collect())
        assert [tuple(r) for r in rows] == want, q
        assert n == 1, (q, n)
