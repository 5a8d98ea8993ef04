"""Arrow Flight endpoint tests — a real gRPC client (pyarrow.flight)
driving the server: schema negotiation, query execution, bulk ingest
via do_put, admin actions (reference flight_sql.clj test surface:
statement execute + ingest over Flight)."""

import pyarrow as pa
import pytest

from xtdb_spark.flight import FlightClient, serve_flight
from xtdb_spark.session import XtdbSession
from xtdb_spark.tx import TableStore


@pytest.fixture()
def xt(spark, tmp_path):
    s = XtdbSession.__new__(XtdbSession)
    s.spark = spark
    s.store = TableStore(spark, str(tmp_path / "wh"))
    for m in ("sql", "scan", "to_arrow", "put", "delete", "erase", "status"):
        setattr(s, m, getattr(XtdbSession, m).__get__(s))
    return s


@pytest.fixture()
def client(xt):
    server = serve_flight(xt)
    c = FlightClient(server.port)
    yield xt, c
    c.close()
    server.shutdown()


def test_put_then_query_roundtrip(client):
    xt, c = client
    c.put("people", [{"_id": 1, "name": "ada", "score": 9},
                     {"_id": 2, "name": "bob", "score": 7}])
    out = c.sql("SELECT _id, name FROM people ORDER BY _id")
    assert out.column("name").to_pylist() == ["ada", "bob"]
    assert "people" in c.tables()


def test_schema_without_execution(client):
    xt, c = client
    c.put("t", [{"_id": 1, "v": 2.5}])
    schema = c.schema("SELECT _id, v FROM t")
    assert schema.names == ["_id", "v"]
    assert pa.types.is_floating(schema.field("v").type)


def test_temporal_clause_over_flight(client):
    xt, c = client
    tx1 = xt.put("accounts", [{"_id": 1, "bal": 10}])
    xt.put("accounts", [{"_id": 1, "bal": 20}])
    now = c.sql("SELECT bal FROM accounts")
    then = c.sql("SELECT bal FROM accounts FOR SYSTEM_TIME AS OF ?",
                 [str(tx1)])
    assert now.column("bal").to_pylist() == [20]
    assert then.column("bal").to_pylist() == [10]


def test_actions_status_delete(client):
    xt, c = client
    c.put("evts", [{"_id": i, "k": i % 2} for i in range(6)])
    st = c.action("status")
    assert st["n_tables"] == 1 and st["latest_completed_tx"] is not None
    c.action("delete", {"table": "evts", "ids": [0, 2, 4]})
    out = c.sql("SELECT count(*) AS n FROM evts")
    assert out.column("n").to_pylist() == [3]


def test_list_actions_and_unknown_action(client):
    xt, c = client
    names = {a.type for a in c._c.list_actions()}
    assert {"status", "delete", "erase", "optimize"} <= names
    with pytest.raises(Exception):
        c.action("nope")


# ---- Flight SQL proper (reference flight_sql.clj, adbc.clj:1-153) ----------
#
# These tests send the EXACT wire bytes a stock adbc_driver_flightsql
# client sends (Any-wrapped FlightSql.proto commands) through a plain
# pyarrow.flight connection — the ADBC package itself isn't in the
# container, so the protocol bytes are the contract under test.

import pyarrow.flight as _fl

from xtdb_spark import flightsql as fsql


def _fsql_get(conn, msg_name, payload):
    desc = _fl.FlightDescriptor.for_command(fsql.any_wrap(msg_name, payload))
    info = conn.get_flight_info(desc)
    return info, conn.do_get(info.endpoints[0].ticket).read_all()


def test_flightsql_statement_query(client):
    xt, c = client
    xt.put("fs_t", [{"_id": i, "v": i * 2} for i in range(5)])
    conn = _fl.connect(f"grpc://127.0.0.1:{c._c.port}") \
        if hasattr(c._c, "port") else c._c
    info, tbl = _fsql_get(
        conn, "CommandStatementQuery",
        fsql.field_str(1, "SELECT _id, v FROM fs_t WHERE v >= 4 ORDER BY _id"))
    assert [f.name for f in info.schema] == ["_id", "v"]
    assert tbl.column("v").to_pylist() == [4, 6, 8]


def test_flightsql_metadata_commands(client):
    xt, c = client
    xt.put("fs_meta", [{"_id": 1, "x": "a"}])
    conn = c._c
    _, cats = _fsql_get(conn, "CommandGetCatalogs", b"")
    assert cats.column("catalog_name").to_pylist() == ["xtdb"]
    _, schemas = _fsql_get(conn, "CommandGetDbSchemas", b"")
    assert schemas.column("db_schema_name").to_pylist() == ["public"]
    _, tables = _fsql_get(
        conn, "CommandGetTables",
        fsql.field_str(3, "%") + fsql.field_varint(5, 1))
    names = tables.column("table_name").to_pylist()
    assert "fs_meta" in names
    # include_schema=1: the schema column is IPC bytes that parse back
    idx = names.index("fs_meta")
    raw = tables.column("table_schema").to_pylist()[idx]
    schema = pa.ipc.read_schema(pa.BufferReader(raw))
    assert "x" in schema.names


def test_flightsql_sql_info(client):
    xt, c = client
    _, info = _fsql_get(c._c, "CommandGetSqlInfo", b"")
    vals = dict(zip(info.column("info_name").to_pylist(),
                    info.column("value").to_pylist()))
    assert vals[0] == "xtdb_spark"   # FLIGHT_SQL_SERVER_NAME


def test_flightsql_prepared_statement(client):
    xt, c = client
    xt.put("fs_prep", [{"_id": 1, "v": 10}, {"_id": 2, "v": 20}])
    conn = c._c
    req = fsql.any_wrap("ActionCreatePreparedStatementRequest",
                        fsql.field_str(1, "SELECT v FROM fs_prep ORDER BY _id"))
    (res,) = list(conn.do_action(_fl.Action("CreatePreparedStatement", req)))
    name, payload = fsql.any_unwrap(res.body.to_pybytes())
    assert name == "ActionCreatePreparedStatementResult"
    f = fsql.parse_fields(payload)
    handle = f[1][0]
    dataset_schema = pa.ipc.read_schema(pa.BufferReader(f[2][0]))
    assert dataset_schema.names == ["v"]
    _, tbl = _fsql_get(conn, "CommandPreparedStatementQuery",
                       fsql.field_bytes(1, handle))
    assert tbl.column("v").to_pylist() == [10, 20]
    # close, then the handle is gone
    close = fsql.any_wrap("ActionClosePreparedStatementRequest",
                          fsql.field_bytes(1, handle))
    list(conn.do_action(_fl.Action("ClosePreparedStatement", close)))
    with pytest.raises(Exception, match="unknown prepared statement"):
        _fsql_get(conn, "CommandPreparedStatementQuery",
                  fsql.field_bytes(1, handle))


def test_flightsql_json_convention_still_works(client):
    # the legacy JSON ticket path must coexist with Flight SQL
    xt, c = client
    xt.put("fs_legacy", [{"_id": 1, "v": 1}])
    assert c.sql("SELECT v FROM fs_legacy").column("v").to_pylist() == [1]


def test_proto_codec_roundtrip():
    msg = (fsql.field_str(1, "hello 'world'")
           + fsql.field_varint(5, 1)
           + fsql.field_bytes(2, b"\x00\xff"))
    f = fsql.parse_fields(msg)
    assert f[1][0] == b"hello 'world'"
    assert f[5][0] == 1
    assert f[2][0] == b"\x00\xff"
    wrapped = fsql.any_wrap("CommandStatementQuery", msg)
    name, payload = fsql.any_unwrap(wrapped)
    assert name == "CommandStatementQuery" and payload == msg
    assert fsql.any_unwrap(b'{"sql": "SELECT 1"}') is None
    # varint edge: multi-byte lengths
    big = fsql.field_bytes(1, b"x" * 300)
    assert fsql.parse_fields(big)[1][0] == b"x" * 300


def test_serve_under_concurrent_spark_load(xt):
    """Server start + client connect must be reliable while the
    machine is busy with Spark work: 20/20 fresh server+client cycles
    with a churn thread running, each first RPC answered. A server
    answers RPCs once constructed; cycles used to fail when a serve
    thread of the previous server shut the next one down (see
    serve_flight)."""
    import threading

    stop = threading.Event()

    def churn():
        while not stop.is_set():
            xt.spark.range(2_000_00).selectExpr("sum(id % 7)").collect()

    t = threading.Thread(target=churn, daemon=True)
    t.start()
    try:
        xt.store.put("load_t", [{"_id": 1, "v": 42}],
                     system_from="2024-01-01")
        for i in range(20):
            server = serve_flight(xt)
            c = FlightClient(server.port)
            out = c.sql("SELECT v FROM load_t")
            assert out.num_rows == 1 and out.column("v")[0].as_py() == 42
            c.close()
            server.shutdown()
    finally:
        stop.set()
        t.join(timeout=30)


def test_pgwire_under_concurrent_spark_load(xt):
    """Same gate for the pgwire listener: 20/20 connect+query cycles
    under churn."""
    import threading

    from xtdb_spark.pgwire import PgWireServer
    from test_pgwire import PgClient

    stop = threading.Event()

    def churn():
        while not stop.is_set():
            xt.spark.range(2_000_00).selectExpr("sum(id % 5)").collect()

    t = threading.Thread(target=churn, daemon=True)
    t.start()
    try:
        xt.store.put("load_p", [{"_id": 1, "v": 7}],
                     system_from="2024-01-01")
        srv = PgWireServer(xt, port=0).start()
        for i in range(20):
            c = PgClient(srv.port)
            c.startup()
            results, _ = c.query("SELECT v FROM load_p")
            assert results[0][1] == [["7"]]
            c.close()
        srv.stop()
    finally:
        stop.set()
        t.join(timeout=30)


def test_export_action_roundtrip(client, tmp_path):
    """Flight 'export' admin action produces an importable snapshot
    (reference export.clj surface over the wire)."""
    from xtdb_spark.tx import TableStore

    xt, c = client
    c.put("exp_t", [{"_id": 1, "v": "x"}])
    names = {a.type for a in c._c.list_actions()}
    assert "export" in names
    out = c.action("export", {"path": str(tmp_path / "snap")})
    assert out["ok"]
    s2 = TableStore.import_warehouse(xt.spark, out["path"],
                                     str(tmp_path / "wh2"))
    assert [r["v"] for r in s2.scan("exp_t").collect()] == ["x"]
