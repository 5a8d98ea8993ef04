"""Arrow Flight endpoint — the engine's Arrow-native wire surface.

Reference: the reference node exposes Arrow Flight SQL
(reference core/src/main/clojure/xtdb/flight_sql.clj — FlightSqlProducer
with statement execute / prepared statements streaming Arrow record
batches) alongside pgwire. This module is the Spark-first counterpart
built on `pyarrow.flight`, speaking BOTH protocols on one port:

- **Flight SQL proper** (see :mod:`xtdb_spark.flightsql`):
  Any-wrapped protobuf descriptor commands — CommandStatementQuery,
  CommandPreparedStatementQuery, CommandGetCatalogs/DbSchemas/Tables/
  SqlInfo, CreatePreparedStatement/ClosePreparedStatement actions —
  the wire surface stock `adbc_driver_flightsql` / JDBC clients use.
- **Plain Flight** with the conventional "ticket carries the query"
  JSON encoding, kept for the lightweight FlightClient below:

- `get_flight_info` / `get_schema`: descriptor is either a table path
  (store table) or a command payload `{"sql": ..., "args": [...]}` —
  returns the Arrow schema WITHOUT executing (schema comes from the
  lazy DataFrame's Catalyst schema) and a one-endpoint ticket.
- `do_get`: executes the ticket's SQL through the full dialect layer
  (temporal clauses, DML passthrough) and streams the result as Arrow
  record batches (`XtdbSession.to_arrow`).
- `do_put`: bulk ingestion — uploaded record batches are appended to
  the named store table as a put (Flight SQL's CommandStatementIngest
  analogue).
- `do_action`: `status` (node status), `erase` / `delete`
  (`{"table": ..., "ids": [...]}`), `optimize` — the admin verbs the
  reference exposes over its API.
- `list_flights`: one FlightInfo per store table.

Scale note: like pgwire, Flight is a driver-side surface — the query
executes distributed and only the RESULT stream passes through the
endpoint. `do_get` streams batch-by-batch (toArrow on the driver holds
one result at a time); for cluster deployments the natural extension
is one endpoint per result partition, which Flight's multi-endpoint
FlightInfo already models.
"""

from __future__ import annotations

import json
import threading

import pyarrow as pa

try:  # gRPC flight extension — present in the bundled pyarrow
    import pyarrow.flight as flight
    _HAVE_FLIGHT = True
except ImportError:  # pragma: no cover
    flight = None
    _HAVE_FLIGHT = False


def _ticket_payload(sql: str, args: list | None = None) -> bytes:
    return json.dumps({"sql": sql, "args": args or []}).encode()


if _HAVE_FLIGHT:

    class XtdbFlightServer(flight.FlightServerBase):
        """In-process Flight server over an XtdbSession.

        `location` defaults to an ephemeral localhost port; read
        `.port` after construction. `serve()` blocks, so callers use
        the threaded `start()` helper below or the pytest fixture.
        """

        def __init__(self, session, location: str = "grpc://127.0.0.1:0"):
            from xtdb_spark.flightsql import FlightSqlHandler

            super().__init__(location)
            self.session = session
            self._lock = threading.Lock()
            self._fsql = FlightSqlHandler(session)

        # -- helpers -------------------------------------------------
        def _df_for_descriptor(self, descriptor):
            if descriptor.descriptor_type == flight.DescriptorType.PATH:
                table = descriptor.path[0].decode()
                return self.session.scan(table), _ticket_payload(
                    f"SELECT * FROM {table}")
            cmd = json.loads(descriptor.command.decode())
            return (self.session.sql(cmd["sql"], cmd.get("args") or None),
                    descriptor.command)

        def _arrow_schema(self, df) -> pa.Schema:
            from pyspark.sql.pandas.types import to_arrow_schema

            return to_arrow_schema(df.schema)

        def _info(self, descriptor) -> "flight.FlightInfo":
            df, ticket = self._df_for_descriptor(descriptor)
            endpoint = flight.FlightEndpoint(flight.Ticket(ticket), [])
            return flight.FlightInfo(self._arrow_schema(df), descriptor,
                                     [endpoint], -1, -1)

        def _fsql_info(self, descriptor):
            """FlightInfo when the descriptor is a Flight SQL
            (Any-wrapped protobuf) command, else None."""
            from xtdb_spark.flightsql import any_unwrap

            if descriptor.descriptor_type != flight.DescriptorType.CMD:
                return None
            wrapped = any_unwrap(descriptor.command)
            if wrapped is None:
                return None
            served = self._fsql.info_for(*wrapped)
            if served is None:
                return None
            schema, ticket = served
            endpoint = flight.FlightEndpoint(flight.Ticket(ticket), [])
            return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

        # -- Flight verbs --------------------------------------------
        def get_flight_info(self, context, descriptor):
            info = self._fsql_info(descriptor)
            if info is not None:
                return info
            return self._info(descriptor)

        def get_schema(self, context, descriptor):
            info = self._fsql_info(descriptor)
            if info is not None:
                return flight.SchemaResult(info.schema)
            df, _ = self._df_for_descriptor(descriptor)
            return flight.SchemaResult(self._arrow_schema(df))

        def list_flights(self, context, criteria):
            for table in self.session.store.tables():
                yield self._info(
                    flight.FlightDescriptor.for_path(table.encode()))

        def do_get(self, context, ticket):
            from xtdb_spark.flightsql import any_unwrap

            wrapped = any_unwrap(ticket.ticket)
            if wrapped is not None:
                return flight.RecordBatchStream(
                    self._fsql.table_for_ticket(*wrapped))
            cmd = json.loads(ticket.ticket.decode())
            tbl = self.session.to_arrow(cmd["sql"], cmd.get("args") or None)
            return flight.RecordBatchStream(tbl)

        def do_put(self, context, descriptor, reader, writer):
            if descriptor.descriptor_type != flight.DescriptorType.PATH:
                raise flight.FlightServerError(
                    "do_put descriptor must be a table path")
            table = descriptor.path[0].decode()
            batches = reader.read_all()
            rows = batches.to_pylist()
            if rows:
                with self._lock:  # store appends are single-writer
                    self.session.put(table, rows)

        def do_action(self, context, action):
            raw = action.body.to_pybytes() if action.body else b""
            fsql = self._fsql.action(action.type, raw)
            if fsql is not None:
                for payload in fsql:
                    yield flight.Result(payload)
                return
            body = json.loads(raw.decode()) if raw else {}
            if action.type == "status":
                out = self.session.status()
            elif action.type == "delete":
                with self._lock:
                    out = {"tx_id": self.session.delete(
                        body["table"], body["ids"])}
            elif action.type == "erase":
                with self._lock:
                    out = {"tx_id": self.session.erase(
                        body["table"], body["ids"])}
            elif action.type == "optimize":
                with self._lock:
                    n = self.session.store.optimize(
                        body["table"], full=bool(body.get("full")))
                    out = {"ok": True, "n_files": n}
            elif action.type == "export":
                # warehouse snapshot export (reference export.clj)
                with self._lock:
                    dest = self.session.store.export_warehouse(
                        body["path"])
                    out = {"ok": True, "path": dest}
            else:
                raise flight.FlightServerError(
                    f"unknown action {action.type!r}")
            yield flight.Result(json.dumps(out, default=str).encode())

        def list_actions(self, context):
            return [("status", "node status summary"),
                    ("delete", "delete ids: {table, ids}"),
                    ("erase", "erase ids: {table, ids}"),
                    ("optimize", "run leveled compaction (pass "
                                 "{full: true} to rewrite whole table "
                                 "and apply erases physically)"),
                    ("export", "warehouse snapshot export: {path}"),
                    ("CreatePreparedStatement", "Flight SQL prepare"),
                    ("ClosePreparedStatement", "Flight SQL close")]


def serve_flight(session, location: str = "grpc://127.0.0.1:0"):
    """Start a Flight server; returns it (`.port`, `.shutdown()`).

    The constructor builds and starts the gRPC server, so it answers
    RPCs as soon as this returns. `serve()` is deliberately not run:
    pyarrow's `serve()` is `ServeWithSignals`, whose signal loop is
    process-wide, and a server stopped while another one was starting
    shut the new one down (connection refused, CANCELLED or GOAWAY on
    its first RPC — 15 of 400 start/connect/stop cycles with a serve
    thread, 0 of 400 without one, pyarrow 16.1 on a 4-core Linux
    host)."""
    if not _HAVE_FLIGHT:  # pragma: no cover
        raise RuntimeError("pyarrow.flight not available in this build")
    return XtdbFlightServer(session, location)


class FlightClient:
    """Minimal client helper mirroring the server conventions
    (reference lang clients connect over Flight SQL / ADBC). gRPC
    channels are lazy: the first RPC opens the connection."""

    def __init__(self, port: int, host: str = "127.0.0.1"):
        self._c = flight.connect(f"grpc://{host}:{port}")

    def sql(self, sql: str, args: list | None = None) -> pa.Table:
        info = self._c.get_flight_info(
            flight.FlightDescriptor.for_command(_ticket_payload(sql, args)))
        return self._c.do_get(info.endpoints[0].ticket).read_all()

    def put(self, table: str, rows: list[dict]):
        tbl = pa.Table.from_pylist(rows)
        writer, _ = self._c.do_put(
            flight.FlightDescriptor.for_path(table.encode()), tbl.schema)
        writer.write_table(tbl)
        writer.close()

    def tables(self) -> list[str]:
        return [fi.descriptor.path[0].decode()
                for fi in self._c.list_flights()]

    def schema(self, sql: str) -> pa.Schema:
        return self._c.get_schema(flight.FlightDescriptor.for_command(
            _ticket_payload(sql))).schema

    def action(self, name: str, body: dict | None = None) -> dict:
        results = list(self._c.do_action(flight.Action(
            name, json.dumps(body or {}).encode())))
        return json.loads(results[0].body.to_pybytes().decode())

    def close(self):
        self._c.close()
