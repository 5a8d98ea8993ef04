"""SQL DML tests — reference update_test.clj / sql_test.clj DML
analogues."""

import pytest
from pyspark.sql import functions as F

from xtdb_spark.session import XtdbSession
from xtdb_spark.sql.dml import AssertFailed
from xtdb_spark.tx import TableStore


@pytest.fixture()
def xt(spark, tmp_path):
    s = XtdbSession.__new__(XtdbSession)
    s.spark = spark
    s.store = TableStore(spark, str(tmp_path / "wh"))
    s.sql = XtdbSession.sql.__get__(s)
    s.scan = XtdbSession.scan.__get__(s)
    return s


def state(xt, table):
    return sorted(tuple(r) for r in
                  xt.scan(table).drop("_iid").collect())


def test_insert_values_and_select(xt):
    xt.sql("INSERT INTO t (_id, name, score) VALUES (1, 'ada', 10), (2, 'bob', 5)")
    assert state(xt, "t") == [(1, "ada", 10), (2, "bob", 5)]
    xt.sql("INSERT INTO t2 (_id, name) SELECT _id + 100, name FROM t")
    assert state(xt, "t2") == [(101, "ada"), (102, "bob")]


def test_update_where(xt):
    xt.sql("INSERT INTO u (_id, name, score) VALUES (1, 'ada', 10), (2, 'bob', 5)")
    xt.sql("UPDATE u SET score = score * 2 WHERE name = 'bob'")
    assert state(xt, "u") == [(1, "ada", 10), (2, "bob", 10)]
    # full history kept
    assert xt.scan("u", all_system_time=True).count() == 3


def test_delete_and_erase(xt):
    xt.sql("INSERT INTO d (_id, v) VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    xt.sql("DELETE FROM d WHERE v = 'y'")
    assert [t[0] for t in state(xt, "d")] == [1, 3]
    # delete keeps history; erase destroys it
    assert xt.scan("d", all_system_time=True).where("_id = 2").count() == 1
    xt.sql("ERASE FROM d WHERE _id = 1")
    assert xt.scan("d", all_system_time=True).where("_id = 1").count() == 0


def test_update_portion_of_valid_time(xt):
    xt.store.put("p", [{"_id": 1, "rate": 100}], system_from="2024-01-01")
    xt.sql("UPDATE p FOR PORTION OF VALID_TIME FROM '2024-06-01' TO '2024-09-01' "
           "SET rate = 150")
    june = xt.scan("p", valid_time="2024-07-01").collect()
    jan = xt.scan("p", valid_time="2024-02-01").collect()
    oct_ = xt.scan("p", valid_time="2024-10-01").collect()
    assert june[0]["rate"] == 150
    assert jan[0]["rate"] == 100
    assert oct_[0]["rate"] == 100


def test_assert(xt):
    xt.sql("INSERT INTO a (_id, n) VALUES (1, 5)")
    xt.sql("ASSERT (SELECT COUNT(*) FROM a) = 1")
    with pytest.raises(AssertFailed):
        xt.sql("ASSERT (SELECT COUNT(*) FROM a) > 10")


def test_patch_portion_fills_gaps(xt):
    """patch-gaps (reference operator/patch.clj + PatchGapsCursor):
    within the portion, existing versions get the patch merged over
    them; uncovered sub-ranges get the patch doc alone."""
    # existing: v covers [2024-01-05, 2024-01-10) only
    xt.put("pg", [{"_id": 1, "a": "old", "b": "keep"}],
           valid_from="2024-01-05", valid_to="2024-01-10",
           system_from="2024-01-01")
    # patch [2024-01-01, 2024-01-20): merge over the covered slice,
    # fill [01-01,01-05) and [01-10,01-20) with the patch alone
    xt.patch("pg", [{"_id": 1, "a": "new"}],
             valid_from="2024-01-01", valid_to="2024-01-20",
             system_from="2024-02-01")

    hist = (xt.scan("pg", all_valid_time=True)
            .select("_id", "a", "b", "_valid_from", "_valid_to")
            .collect())
    by_vf = {str(r["_valid_from"]): r for r in hist
             if r["a"] == "new" or r["b"] is not None}
    # covered slice: merged (a patched, b kept)
    mid = by_vf["2024-01-05 00:00:00"]
    assert mid["a"] == "new" and mid["b"] == "keep"
    assert str(mid["_valid_to"]) == "2024-01-10 00:00:00"
    # gaps: patch doc alone (no b)
    head = by_vf["2024-01-01 00:00:00"]
    assert head["a"] == "new" and head["b"] is None
    assert str(head["_valid_to"]) == "2024-01-05 00:00:00"
    tail = by_vf["2024-01-10 00:00:00"]
    assert tail["a"] == "new" and tail["b"] is None
    assert str(tail["_valid_to"]) == "2024-01-20 00:00:00"


def test_sql_patch_into(xt):
    from xtdb_spark.sql.rewriter import rewrite_and_run

    rewrite_and_run(xt, "INSERT INTO sp (_id, a, b) VALUES (1, 'x', 'y')")
    rewrite_and_run(xt, "PATCH INTO sp (_id, a) VALUES (1, 'x2')")
    cur = {r["_id"]: r for r in xt.scan("sp").collect()}
    assert cur[1]["a"] == "x2" and cur[1]["b"] == "y"


def test_submit_tx_atomic(xt):
    """Multi-op tx: one system time, abort-before-commit semantics
    (reference api submit-tx; ASSERT aborts, Sql.g4:35)."""
    store = xt.store
    st = store.submit_tx([
        ("put", "acct", [{"_id": 1, "bal": 100}]),
        ("put", "audit", [{"_id": "tx1", "what": "open"}]),
    ])
    # both writes share one system time
    sts = {r["_system_from"]
           for r in store.events("acct").select("_system_from").collect()}
    sts |= {r["_system_from"]
            for r in store.events("audit").select("_system_from").collect()}
    assert sts == {st}

    # failing op aborts the whole batch
    def guard(s):
        raise RuntimeError("insufficient funds")

    try:
        store.submit_tx([
            ("put", "acct", [{"_id": 1, "bal": -1}]),
            ("assert_", guard),
            ("put", "audit", [{"_id": "tx2", "what": "overdraw"}]),
        ])
        raise AssertionError("tx should have aborted")
    except RuntimeError:
        pass
    assert store.scan("acct").collect()[0]["bal"] == 100
    assert store.scan("audit").count() == 1


def test_copy_from_bulk_load(xt, tmp_path, spark):
    src = str(tmp_path / "bulk")
    spark.createDataFrame([(i, f"d{i}") for i in range(20)],
                          "_id long, name string") \
        .coalesce(1).write.parquet(src)
    xt.store.copy_from("bulk_t", src)
    assert xt.scan("bulk_t").count() == 20


def test_submit_tx_patch_and_pretx_snapshot(xt):
    """submit_tx supports the patch op, and every op evaluates against
    the PRE-tx snapshot: a payload derived from events(table) is
    materialized before any append, so it cannot observe earlier
    appends from the same tx."""
    store = xt.store
    store.put("snap", [{"_id": 1, "a": 1, "b": "x"}], system_from="2024-01-01")
    # payload lazily derived from the table's own current state
    derived = store.scan("snap").select("_id", (F.col("a") + 100).alias("a"))
    store.submit_tx([
        ("put", "snap", [{"_id": 2, "a": 2, "b": "y"}]),
        ("put", "snap", derived),            # must see only the pre-tx row
        ("patch", "snap", [{"_id": 1, "b": "patched"}]),
    ])
    rows = {r["_id"]: (r["a"], r["b"]) for r in store.scan("snap").collect()}
    # patch merged over the derived put (same tx, patch staged later
    # but both committed at one system time; patch evaluated pre-tx)
    assert rows[2] == (2, "y")
    assert 1 in rows
    # derived payload saw ONLY the pre-tx snapshot: one derived row
    ev = store.events("snap")
    assert ev.filter((F.col("_id") == 2) & (F.col("a") == 102)).count() == 0


def test_delete_accepts_dataframe_ids(xt):
    store = xt.store
    store.put("dfids", [{"_id": i, "v": i * 10} for i in range(6)],
              system_from="2024-01-01")
    ids = store.scan("dfids").filter(F.col("v") >= 30).select("_id")
    store.delete("dfids", ids)
    left = sorted(r["_id"] for r in store.scan("dfids").collect())
    assert left == [0, 1, 2]


def test_xt_txs_system_table(xt):
    """The queryable tx log (reference xt.txs): every tx op records a
    row with system_time + committed flag; an aborted submit_tx is
    recorded committed=false with the error."""
    store = xt.store
    store.put("tx1", [{"_id": 1, "v": 1}])
    store.delete("tx1", [1])
    with pytest.raises(AssertionError):
        store.submit_tx([
            ("put", "tx1", [{"_id": 2, "v": 2}]),
            ("assert_", lambda s: (_ for _ in ()).throw(
                AssertionError("balance check failed"))),
        ])
    rows = xt.sql("SELECT committed, error FROM xt.txs "
                  "ORDER BY system_time").collect()
    assert [r["committed"] for r in rows] == [True, True, False]
    assert "balance check failed" in rows[-1]["error"]
    # tx ids are monotonic, system_time is typed
    txs = xt.sql("SELECT _id, system_time FROM xt.txs ORDER BY _id").collect()
    assert txs[0]["_id"] < txs[-1]["_id"]
    assert txs[0]["system_time"] is not None


def test_session_status(xt):
    assert xt.status()["latest_completed_tx"] is None
    xt.store.put("st", [{"_id": 1, "v": 1}])
    s = xt.status()
    assert s["n_tables"] == 1 and s["n_bytes"] > 0
    assert s["latest_completed_tx"]["tx_id"] > 0


def test_to_arrow_channel(xt):
    xt.store.put("ar", [{"_id": 1, "v": 1.5, "s": "x"},
                        {"_id": 2, "v": 2.5, "s": "y"}],
                 system_from="2024-01-01")
    import pyarrow as pa

    t = xt.to_arrow("SELECT _id, v, s FROM ar ORDER BY _id")
    assert isinstance(t, pa.Table)
    assert t.column_names == ["_id", "v", "s"]
    assert t.column("v").to_pylist() == [1.5, 2.5]


def test_dml_returning(xt):
    """DML … RETURNING <selectList> (reference Sql.g4:788
    DmlReturningStatement): rows from the statement's affected
    relation — inserted/updated docs, pre-delete rows, post-merge
    PATCH state."""
    rows = xt.sql("INSERT INTO r (_id, name, score) "
                  "VALUES (1, 'ada', 10), (2, 'bob', 5) "
                  "RETURNING _id, upper(name) AS uname").collect()
    assert sorted((r["_id"], r["uname"]) for r in rows) == \
        [(1, "ADA"), (2, "BOB")]

    rows = xt.sql("UPDATE r SET score = score + 1 WHERE _id = 1 "
                  "RETURNING _id, score").collect()
    assert [(r["_id"], r["score"]) for r in rows] == [(1, 11)]
    assert xt.scan("r").filter("_id = 1").collect()[0]["score"] == 11

    # DELETE RETURNING yields the deleted (pre-delete) rows
    rows = xt.sql("DELETE FROM r WHERE score > 6 "
                  "RETURNING _id, name, score").collect()
    assert [(r["_id"], r["name"], r["score"]) for r in rows] == \
        [(1, "ada", 11)]
    assert {r["_id"] for r in xt.scan("r").collect()} == {2}

    # PATCH RETURNING yields the post-merge document
    rows = xt.sql("PATCH INTO r (_id, team) VALUES (2, 'eng') "
                  "RETURNING _id, name, team").collect()
    assert [(r["_id"], r["name"], r["team"]) for r in rows] == \
        [(2, "bob", "eng")]

    # RETURNING * and string-literal immunity
    rows = xt.sql("INSERT INTO r2 (_id, note) "
                  "VALUES (1, 'not RETURNING data') RETURNING *").collect()
    assert rows[0]["note"] == "not RETURNING data"

    with pytest.raises(ValueError, match="RETURNING"):
        xt.sql("ASSERT 1 = 1 RETURNING _id")


def test_dml_returning_over_pgwire(xt):
    """INSERT … RETURNING over the wire: rows + `INSERT 0 n` tag."""
    from xtdb_spark.pgwire import PgWireServer
    from tests.test_pgwire import PgClient

    srv = PgWireServer(xt, port=0).start()
    try:
        c = PgClient(srv.port)
        c.startup()
        res, tags = c.query("INSERT INTO wr (_id, v) VALUES (1, 7) "
                            "RETURNING _id, v * 2 AS d")
        assert tags == ["INSERT 0 1"]
        assert res[0][1] == [["1", "14"]]
        res, tags = c.query("DELETE FROM wr WHERE _id = 1 RETURNING v")
        assert tags == ["DELETE 1"]
        assert res[0][1] == [["7"]]
        c.close()
    finally:
        srv.stop()


def test_put_batch_duplicate_id_last_wins(xt):
    """Within-tx later-op-wins (reference tx op ordering; the golden
    TPC-H results depend on it — sf0.001 partsupp has duplicate
    composite keys and the reference keeps the LAST)."""
    xt.store.put("dup", [{"_id": 1, "v": "first"},
                         {"_id": 2, "v": "only"},
                         {"_id": 1, "v": "second"},
                         {"_id": 1, "v": "third"}])
    assert state(xt, "dup") == [(1, "third"), (2, "only")]
    # the shadowed events never existed at any system time
    assert xt.scan("dup", all_system_time=True).count() == 2


def test_put_batch_duplicate_id_last_wins_spark_fallback(xt):
    """Same semantics when the batch falls back to the Spark write
    path (nested values bypass the pyarrow fast path)."""
    xt.store.put("dupn", [{"_id": 1, "v": {"a": 1}},
                          {"_id": 1, "v": {"a": 2}}])
    rows = xt.scan("dupn").collect()
    assert len(rows) == 1 and rows[0]["v"]["a"] == 2


def test_insert_decimal_literal_keeps_double_column(xt, monkeypatch):
    """INSERT VALUES and INSERT SELECT cast a DECIMAL literal back to
    the DOUBLE column it lands in, like UPDATE; a float8-bound write
    (the `D` suffix pgwire binds) never reads the table's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    xt.store.put("acct", [{"_id": i, "bal": i + 0.25} for i in range(3)])
    xt.sql("INSERT INTO acct (_id, bal) VALUES (3, 1.5)")
    xt.sql("INSERT INTO acct (_id, bal) SELECT 4, 2.5")
    reads = []
    orig_events = TableStore.events
    monkeypatch.setattr(TableStore, "events",
                        lambda self, table, files=None: reads.append(table)
                        or orig_events(self, table, files))
    xt.sql("INSERT INTO acct (_id, bal) VALUES (5, 3.5D)")
    assert reads == []
    assert [pq.read_schema(f).field("bal").type
            for f in xt.store.table_files("acct")] == [pa.float64()] * 4
    lub = []
    orig = TableStore._events_lub
    monkeypatch.setattr(TableStore, "_events_lub",
                        lambda self, files: lub.append(files)
                        or orig(self, files))
    df = xt.scan("acct")
    assert dict(df.dtypes)["bal"] == "double"
    assert {r["_id"]: r["bal"] for r in df.collect()} == \
        {0: 0.25, 1: 1.25, 2: 2.25, 3: 1.5, 4: 2.5, 5: 3.5}
    assert lub == []


def test_update_decimal_literal_keeps_double_column(xt, monkeypatch):
    """`SET bal = 0.5` parses as DECIMAL(1,1): written as is beside
    DOUBLE files it would defeat the merged parquet read, and every
    later scan would fall back to TableStore._events_lub."""
    xt.store.put("acct", [{"_id": i, "bal": i + 0.25} for i in range(3)])
    xt.sql("UPDATE acct SET bal = 0.5 WHERE _id = 1")
    lub = []
    orig = TableStore._events_lub
    monkeypatch.setattr(TableStore, "_events_lub",
                        lambda self, files: lub.append(files)
                        or orig(self, files))
    df = xt.scan("acct")
    assert dict(df.dtypes)["bal"] == "double"
    assert {r["_id"]: r["bal"] for r in df.collect()} == \
        {0: 0.25, 1: 0.5, 2: 2.25}
    assert lub == []
