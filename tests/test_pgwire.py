"""Postgres wire protocol tests — a raw-socket v3 client driving the
server exactly the way psql/psycopg do (reference pgwire_test.clj
analogue; no postgres client lib in the container, so the client side
is implemented here from the published protocol)."""

import socket
import struct

import pytest

from xtdb_spark.pgwire import PgWireServer
from xtdb_spark.session import XtdbSession
from xtdb_spark.tx import TableStore


@pytest.fixture()
def xt(spark, tmp_path):
    s = XtdbSession.__new__(XtdbSession)
    s.spark = spark
    s.store = TableStore(spark, str(tmp_path / "wh"))
    s.sql = XtdbSession.sql.__get__(s)
    s.scan = XtdbSession.scan.__get__(s)
    return s


@pytest.fixture()
def server(xt):
    srv = PgWireServer(xt, port=0).start()
    yield srv
    srv.stop()


class PgClient:
    """Minimal protocol-v3 frontend."""

    def __init__(self, port):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.buf = b""

    def close(self):
        self.send(b"X", b"")
        self.sock.close()

    # -- framing
    def _recv(self, n):
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionResetError
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def read_msg(self):
        t = self._recv(1)
        (ln,) = struct.unpack(">i", self._recv(4))
        return t, self._recv(ln - 4)

    def send(self, t, payload):
        self.sock.sendall(t + struct.pack(">i", len(payload) + 4) + payload)

    @staticmethod
    def cstr(s):
        return s.encode() + b"\x00"

    # -- protocol steps
    def startup(self):
        body = struct.pack(">i", 196608) + self.cstr("user") + \
            self.cstr("test") + self.cstr("database") + self.cstr("xtdb") + b"\x00"
        self.sock.sendall(struct.pack(">i", len(body) + 4) + body)
        params = {}
        while True:
            t, b = self.read_msg()
            if t == b"R":
                assert struct.unpack(">i", b[:4])[0] == 0  # AuthenticationOk
            elif t == b"S":
                k, v = b.rstrip(b"\x00").split(b"\x00")
                params[k.decode()] = v.decode()
            elif t == b"Z":
                return params
            elif t == b"E":
                raise AssertionError(b)

    def collect_results(self):
        """Read until ReadyForQuery; return per-statement results.
        On ErrorResponse, drain to ReadyForQuery first (like real
        clients), then raise."""
        results, cols, rows, tags = [], None, [], []
        error = None
        while True:
            t, b = self.read_msg()
            if t == b"Z":
                if error is not None:
                    raise RuntimeError(error)
                return results, tags
            if error is not None:
                continue
            if t == b"E":
                error = b.decode(errors="replace")
            elif t == b"T":
                (n,) = struct.unpack(">h", b[:2])
                cols, off = [], 2
                for _ in range(n):
                    end = b.index(b"\x00", off)
                    name = b[off:end].decode()
                    oid = struct.unpack(">i", b[end + 7:end + 11])[0]
                    cols.append((name, oid))
                    off = end + 19
                rows = []
            elif t == b"D":
                (n,) = struct.unpack(">h", b[:2])
                vals, off = [], 2
                for _ in range(n):
                    (ln,) = struct.unpack(">i", b[off:off + 4])
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(b[off:off + ln].decode())
                        off += ln
                rows.append(vals)
            elif t == b"C":
                tags.append(b.rstrip(b"\x00").decode())
                results.append((cols, rows))
                cols, rows = None, []
            elif t in (b"I", b"n", b"1", b"2", b"3", b"t"):
                continue

    def query(self, sql):
        self.send(b"Q", self.cstr(sql))
        return self.collect_results()

    def prepared_fmt(self, sql, params, oids=None, pfmts=None, rfmts=None):
        """Extended-protocol round trip with explicit Bind format
        codes. `params` entries may be bytes (sent verbatim — binary
        format) or str. Returns (cols, raw_rows) with UNDECODED value
        bytes so binary results can be unpacked by the caller."""
        oids = oids or [0] * len(params)
        pfmts = pfmts or []
        rfmts = rfmts or []
        self.send(b"P", self.cstr("") + self.cstr(sql)
                  + struct.pack(">h", len(oids))
                  + b"".join(struct.pack(">i", o) for o in oids))
        bind = self.cstr("") + self.cstr("")
        bind += struct.pack(">h", len(pfmts))
        bind += b"".join(struct.pack(">h", f) for f in pfmts)
        bind += struct.pack(">h", len(params))
        for p in params:
            if p is None:
                bind += struct.pack(">i", -1)
            else:
                e = p if isinstance(p, bytes) else str(p).encode()
                bind += struct.pack(">i", len(e)) + e
        bind += struct.pack(">h", len(rfmts))
        bind += b"".join(struct.pack(">h", f) for f in rfmts)
        self.send(b"B", bind)
        self.send(b"D", b"P" + self.cstr(""))
        self.send(b"E", self.cstr("") + struct.pack(">i", 0))
        self.send(b"S", b"")
        cols, rows, error = [], [], None
        while True:
            t, b = self.read_msg()
            if t == b"Z":
                if error is not None:
                    raise RuntimeError(error)
                return cols, rows
            if t == b"E":
                error = b.decode(errors="replace")
            elif t == b"T":
                cols = []  # Execute re-describes; keep the latest
                (n,) = struct.unpack(">h", b[:2])
                off = 0 + 2
                for _ in range(n):
                    end = b.index(b"\x00", off)
                    name = b[off:end].decode()
                    oid = struct.unpack(">i", b[end + 7:end + 11])[0]
                    fmt = struct.unpack(">h", b[end + 17:end + 19])[0]
                    cols.append((name, oid, fmt))
                    off = end + 19
            elif t == b"D":
                (n,) = struct.unpack(">h", b[:2])
                vals, off = [], 2
                for _ in range(n):
                    (ln,) = struct.unpack(">i", b[off:off + 4])
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(b[off:off + ln])
                        off += ln
                rows.append(vals)

    def prepared(self, sql, params, oids=None):
        oids = oids or [0] * len(params)
        self.send(b"P", self.cstr("") + self.cstr(sql)
                  + struct.pack(">h", len(oids))
                  + b"".join(struct.pack(">i", o) for o in oids))
        bind = self.cstr("") + self.cstr("") + struct.pack(">h", 0) \
            + struct.pack(">h", len(params))
        for p in params:
            if p is None:
                bind += struct.pack(">i", -1)
            else:
                e = str(p).encode()
                bind += struct.pack(">i", len(e)) + e
        bind += struct.pack(">h", 0)
        self.send(b"B", bind)
        self.send(b"D", b"P" + self.cstr(""))
        self.send(b"E", self.cstr("") + struct.pack(">i", 0))
        self.send(b"S", b"")
        return self.collect_results()


@pytest.fixture()
def client(server):
    c = PgClient(server.port)
    c.startup()
    yield c
    c.close()


def test_startup_handshake(client):
    pass  # startup() asserts AuthenticationOk + ReadyForQuery


def test_simple_query_roundtrip(xt, client):
    xt.store.put("users", [{"_id": 1, "name": "ada", "age": 30},
                           {"_id": 2, "name": "bob", "age": 40}],
                 system_from="2024-01-01")
    results, tags = client.query(
        "SELECT name, age FROM users ORDER BY age")
    (cols, rows), = results
    assert [c[0] for c in cols] == ["name", "age"]
    assert cols[1][1] == 20  # bigint → oid 20
    assert rows == [["ada", "30"], ["bob", "40"]]
    assert tags == ["SELECT 2"]


def test_simple_query_multi_statement_and_dml(xt, client):
    results, tags = client.query(
        "INSERT INTO t (_id, v) VALUES (1, 'x'); SELECT v FROM t")
    assert tags[0].startswith("INSERT")
    assert results[1][1] == [["x"]]


def test_temporal_query_over_wire(xt, client):
    xt.store.put("acct", [{"_id": 1, "bal": 10}], system_from="2024-01-01")
    xt.store.put("acct", [{"_id": 1, "bal": 20}], system_from="2024-02-01")
    results, _ = client.query(
        "SELECT bal FROM acct FOR SYSTEM_TIME AS OF '2024-01-15'")
    assert results[0][1] == [["10"]]


def test_extended_protocol_params(xt, client):
    xt.store.put("p", [{"_id": i, "v": i * 10} for i in range(5)],
                 system_from="2024-01-01")
    results, tags = client.prepared(
        "SELECT _id, v FROM p WHERE v > $1 ORDER BY _id", ["25"], oids=[20])
    (cols, rows), = results
    assert rows == [["3", "30"], ["4", "40"]]
    assert tags == ["SELECT 2"]


def test_extended_protocol_temporal_param(xt, client):
    xt.store.put("a2", [{"_id": 1, "v": 1}], system_from="2024-01-01")
    xt.store.put("a2", [{"_id": 1, "v": 2}], system_from="2024-02-01")
    results, _ = client.prepared(
        "SELECT v FROM a2 FOR SYSTEM_TIME AS OF $1", ["2024-01-15"])
    assert results[0][1] == [["1"]]


def test_error_then_recovery(xt, client):
    with pytest.raises(RuntimeError):
        client.query("SELECT * FROM this_table_does_not_exist_anywhere")
    # connection still usable after the error
    results, _ = client.query("SELECT 1 AS one")
    assert results[0][1] == [["1"]]


def test_noop_statements(client):
    _, tags = client.query("BEGIN")
    assert tags == ["BEGIN"]
    _, tags = client.query("SET search_path TO public")
    assert tags == ["SET"]


def test_null_and_types_encoding(xt, client):
    xt.store.put("ty", [{"_id": 1, "d": 1.5, "b": True, "s": None},
                        {"_id": 2, "d": 2.0, "b": False, "s": "x"}],
                 system_from="2024-01-01")
    results, _ = client.query("SELECT d, b, s FROM ty WHERE _id = 1")
    (cols, rows), = results
    oids = {c[0]: c[1] for c in cols}
    assert oids["d"] == 701 and oids["b"] == 16
    assert rows == [["1.5", "t", None]]


def test_pg_catalog_introspection_over_wire(xt, client):
    """The `\\d`-style flow: catalog tables resolve over the wire
    (dotted and search-path spellings both)."""
    xt.store.put("wt", [{"_id": 1, "x": 1}], system_from="2024-01-01")
    results, _ = client.query(
        "SELECT tablename FROM pg_tables ORDER BY tablename")
    assert ["wt"] == [r[0] for r in results[0][1]]
    results, _ = client.query("""
        SELECT a.attname FROM pg_catalog.pg_attribute a
        JOIN pg_catalog.pg_class c ON a.attrelid = c.oid
        WHERE c.relname = 'wt' ORDER BY a.attnum
    """)
    assert [r[0] for r in results[0][1]] == ["_id", "x", "_iid"]


def test_concurrent_clients(server, xt):
    xt.store.put("cc", [{"_id": i, "v": i} for i in range(10)],
                 system_from="2024-01-01")
    clients = []
    for _ in range(3):
        c = PgClient(server.port)
        c.startup()
        clients.append(c)
    try:
        for i, c in enumerate(clients):
            results, _ = c.query(f"SELECT COUNT(*) AS n FROM cc WHERE v >= {i}")
            assert results[0][1] == [[str(10 - i)]]
    finally:
        for c in clients:
            c.close()


def test_client_compat_session_functions(client):
    """What SQLAlchemy/psql/BI tools issue on connect: version(),
    current_schema(), SHOW <param>."""
    results, _ = client.query("SELECT version() AS v")
    assert results[0][1][0][0].startswith("PostgreSQL")
    results, _ = client.query("SELECT current_schema() AS s")
    assert results[0][1] == [["public"]]
    results, tags = client.query("SHOW standard_conforming_strings")
    assert results[0][1] == [["on"]] and tags == ["SHOW"]
    results, _ = client.query("SHOW transaction_isolation")
    assert results[0][1] == [["read committed"]]


def test_show_answers_agree_library_and_wire(xt, server, client):
    """`xt.sql("SHOW <name>")`, pgwire `SHOW <name>` and the library's
    current_setting() answer every static setting alike (one table
    backs all three), multi-word spelling included. pgwire answers
    an unknown name with 42704 (not `on`), `transaction_read_only`
    with the open block's access mode, and SET and startup
    parameters from the session."""
    from xtdb_spark.sql.rewriter import SHOW_VALUES

    for name in [*SHOW_VALUES, "TRANSACTION ISOLATION LEVEL"]:
        lib = xt.sql(f"SHOW {name}").collect()
        wire, tags = client.query(f"SHOW {name}")
        assert [[r[0] for r in lib]] == wire[0][1], name
        assert tags == ["SHOW"]
    for name, val in SHOW_VALUES.items():
        got = xt.sql(f"SELECT current_setting('{name}') AS v").collect()
        assert got[0]["v"] == val, name
    assert xt.sql("SHOW server_version").collect()[0][0] == "16.0"

    for name in ("no_such_setting", "application_name"):
        with pytest.raises(RuntimeError, match="42704"):
            client.query(f"SHOW {name}")

    def show(c, name):
        return c.query(f"SHOW {name}")[0][0][1][0][0]

    assert show(client, "transaction_read_only") == "off"
    client.query("BEGIN READ ONLY")
    assert show(client, "transaction_read_only") == "on"
    client.query("COMMIT")
    assert show(client, "transaction_read_only") == "off"
    client.query("BEGIN READ WRITE")
    assert show(client, "transaction_read_only") == "off"
    client.query("COMMIT")

    client.query("SET application_name = 'probe'")
    assert show(client, "application_name") == "probe"
    c = PgClient(server.port)
    body = (struct.pack(">i", 196608) + c.cstr("user") + c.cstr("test")
            + c.cstr("database") + c.cstr("xtdb")
            + c.cstr("application_name") + c.cstr("from_startup") + b"\x00")
    c.sock.sendall(struct.pack(">i", len(body) + 4) + body)
    _drain_to_ready(c)
    try:
        assert show(c, "application_name") == "from_startup"
        assert show(c, "timezone") == "UTC"
    finally:
        c.close()


# ---- authentication (reference authn.clj:16-71) ----------------------------

def _auth_startup(port, user, password=None, md5=False):
    """Startup exchange returning ('ok'|'error', detail)."""
    import hashlib

    c = PgClient(port)
    body = struct.pack(">i", 196608) + c.cstr("user") + c.cstr(user) \
        + c.cstr("database") + c.cstr("xtdb") + b"\x00"
    c.sock.sendall(struct.pack(">i", len(body) + 4) + body)
    while True:
        t, b = c.read_msg()
        if t == b"E":
            c.sock.close()
            return "error", b.decode(errors="replace")
        if t == b"R":
            (code,) = struct.unpack(">i", b[:4])
            if code == 0:
                return "ok", c
            if code == 3:       # cleartext
                c.send(b"p", c.cstr(password or ""))
            elif code == 5:     # md5
                salt = b[4:8]
                inner = hashlib.md5(
                    ((password or "") + user).encode()).hexdigest()
                resp = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
                c.send(b"p", c.cstr(resp))
            else:
                raise AssertionError(f"unexpected auth code {code}")


def _drain_to_ready(c):
    while True:
        t, _ = c.read_msg()
        if t == b"Z":
            return


def test_auth_cleartext_password(xt):
    from xtdb_spark.pgwire import AuthRules

    srv = PgWireServer(xt, port=0, auth=AuthRules(
        rules=[{"method": "password"}], users={"alice": "s3cret"})).start()
    try:
        st, detail = _auth_startup(srv.port, "alice", "wrong")
        assert st == "error" and "28P01" in detail
        st, c = _auth_startup(srv.port, "alice", "s3cret")
        assert st == "ok"
        _drain_to_ready(c)
        results, tags = c.query("SELECT 1 AS one")
        assert results[0][1] == [["1"]]
        c.close()
    finally:
        srv.stop()


def test_auth_md5(xt):
    from xtdb_spark.pgwire import AuthRules

    srv = PgWireServer(xt, port=0, auth=AuthRules(
        rules=[{"user": "bob", "method": "md5"}],
        users={"bob": "hunter2"})).start()
    try:
        st, detail = _auth_startup(srv.port, "bob", "wrong", md5=True)
        assert st == "error" and "28P01" in detail
        st, c = _auth_startup(srv.port, "bob", "hunter2", md5=True)
        assert st == "ok"
        _drain_to_ready(c)
        assert c.query("SELECT 2 AS two")[0][0][1] == [["2"]]
        c.close()
        # no rule matches another user → startup refused, 28000
        st, detail = _auth_startup(srv.port, "mallory", "x")
        assert st == "error" and "28000" in detail
    finally:
        srv.stop()


def test_auth_address_rules(xt):
    from xtdb_spark.pgwire import AuthRules

    # first match wins: loopback trusted, everyone else needs password
    srv = PgWireServer(xt, port=0, auth=AuthRules(
        rules=[{"address": "127.", "method": "trust"},
               {"method": "password"}])).start()
    try:
        st, c = _auth_startup(srv.port, "anyone")
        assert st == "ok"
        _drain_to_ready(c)
        c.close()
    finally:
        srv.stop()


# ---- parameter-binding injection hardening (ADVICE round 3) ----------------

def test_bind_backslash_literal_roundtrip(xt, client):
    # a value ending in a backslash must come back as DATA, not
    # swallow the closing quote (Spark treats \ as an escape char)
    results, _ = client.prepared("SELECT $1 AS v", ["tricky\\"])
    assert results[0][1] == [["tricky\\"]]
    results, _ = client.prepared("SELECT $1 AS v", ["a\\'b"])
    assert results[0][1] == [["a\\'b"]]


def test_bind_dollar_inside_string_is_data(xt, client):
    # $1 inside a string literal is data; only the bare $1 binds
    results, _ = client.prepared("SELECT '$1' AS s, $1 AS v", ["bound"])
    (cols, rows), = results
    assert rows == [["$1", "bound"]]


def test_auth_scram_sha_256(xt):
    """Full RFC 5802 client exchange against the server — the
    mechanism psycopg/JDBC default to on modern Postgres."""
    import base64
    import hashlib
    import hmac as hmac_mod
    import os as os_mod

    from xtdb_spark.pgwire import AuthRules

    srv = PgWireServer(xt, port=0, auth=AuthRules(
        rules=[{"method": "scram-sha-256"}],
        users={"carol": "tops3cret"})).start()

    def scram_login(user, password):
        c = PgClient(srv.port)
        body = struct.pack(">i", 196608) + c.cstr("user") + c.cstr(user) \
            + c.cstr("database") + c.cstr("xtdb") + b"\x00"
        c.sock.sendall(struct.pack(">i", len(body) + 4) + body)
        t, b = c.read_msg()
        if t == b"E":
            return "error", b.decode(errors="replace")
        assert t == b"R" and struct.unpack(">i", b[:4])[0] == 10
        assert b"SCRAM-SHA-256" in b
        cnonce = base64.b64encode(os_mod.urandom(16)).decode()
        bare = f"n={user},r={cnonce}"
        client_first = ("n,," + bare).encode()
        c.send(b"p", c.cstr("SCRAM-SHA-256")
               + struct.pack(">i", len(client_first)) + client_first)
        t, b = c.read_msg()
        if t == b"E":
            return "error", b.decode(errors="replace")
        assert struct.unpack(">i", b[:4])[0] == 11
        server_first = b[4:].decode()
        attrs = dict(kv.split("=", 1) for kv in server_first.split(","))
        assert attrs["r"].startswith(cnonce)
        salt = base64.b64decode(attrs["s"])
        iters = int(attrs["i"])
        salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, iters)
        ckey = hmac_mod.new(salted, b"Client Key", hashlib.sha256).digest()
        skey = hashlib.sha256(ckey).digest()
        without_proof = f"c=biws,r={attrs['r']}"
        auth_msg = f"{bare},{server_first},{without_proof}".encode()
        csig = hmac_mod.new(skey, auth_msg, hashlib.sha256).digest()
        proof = bytes(a ^ x for a, x in zip(ckey, csig))
        final = (without_proof + ",p=" + base64.b64encode(proof).decode())
        c.send(b"p", final.encode())
        t, b = c.read_msg()
        if t == b"E":
            return "error", b.decode(errors="replace")
        assert struct.unpack(">i", b[:4])[0] == 12   # SASLFinal
        # server signature verifies (mutual auth)
        v = base64.b64decode(dict(
            kv.split("=", 1) for kv in b[4:].decode().split(","))["v"])
        server_key = hmac_mod.new(salted, b"Server Key",
                                  hashlib.sha256).digest()
        assert v == hmac_mod.new(server_key, auth_msg,
                                 hashlib.sha256).digest()
        t, b = c.read_msg()
        assert t == b"R" and struct.unpack(">i", b[:4])[0] == 0
        _drain_to_ready(c)
        return "ok", c

    try:
        st, detail = scram_login("carol", "wrong-password")
        assert st == "error" and "28P01" in detail
        st, c = scram_login("carol", "tops3cret")
        assert st == "ok"
        assert c.query("SELECT 3 AS three")[0][0][1] == [["3"]]
        c.close()
    finally:
        srv.stop()


def test_tx_block_commits_atomically(xt, client):
    """BEGIN…COMMIT buffers DML and submits ONE atomic tx: nothing
    visible before COMMIT, everything shares one system time after."""
    _, tags = client.query("BEGIN")
    assert tags == ["BEGIN"]
    client.query("INSERT INTO txa (_id, v) VALUES (1, 'a')")
    client.query("INSERT INTO txa (_id, v) VALUES (2, 'b')")
    # not visible pre-commit (fresh scan on the server side)
    assert xt.scan("txa").count() == 0 if "txa" in xt.store.tables() else True
    _, tags = client.query("COMMIT")
    assert tags == ["COMMIT"]
    rows = xt.scan("txa").collect()
    assert sorted(r["v"] for r in rows) == ["a", "b"]
    sts = {str(r["_system_from"]) for r in
           xt.store.events("txa").select("_system_from").collect()}
    assert len(sts) == 1  # one tx, one system time


def test_tx_rollback_discards(xt, client):
    client.query("BEGIN")
    client.query("INSERT INTO txr (_id) VALUES (1)")
    _, tags = client.query("ROLLBACK")
    assert tags == ["ROLLBACK"]
    assert "txr" not in xt.store.tables()


def test_tx_error_aborts_block_until_rollback(xt, client):
    client.query("BEGIN")
    client.query("INSERT INTO txe (_id) VALUES (1)")
    with pytest.raises(RuntimeError):
        client.query("BOGUS SYNTAX !!")
    # aborted: even valid statements now refuse with 25P02
    with pytest.raises(RuntimeError, match="25P02"):
        client.query("SELECT 1")
    # COMMIT of a failed tx rolls back
    _, tags = client.query("COMMIT")
    assert tags == ["ROLLBACK"]
    assert "txe" not in xt.store.tables()
    # connection usable again
    results, _ = client.query("SELECT 1 AS one")
    _cols, rows = results[0]
    assert rows == [["1"]]


def test_tx_assert_aborts_whole_batch(xt, client):
    client.query("BEGIN")
    client.query("INSERT INTO txq (_id, v) VALUES (1, 5)")
    client.query("ASSERT 1 = 2")
    with pytest.raises(RuntimeError):
        client.query("COMMIT")
    assert "txq" not in xt.store.tables()


def test_copy_in_json_over_wire(xt, client):
    """COPY <t> FROM STDIN (reference pgwire.clj:1298-1317):
    CopyInResponse → CopyData → CopyDone → documents ingested."""
    client.send(b"Q", client.cstr(
        "COPY cp_docs FROM STDIN WITH (FORMAT 'json')"))
    t, b = client.read_msg()
    assert t == b"G"  # CopyInResponse
    payload = b'{"_id": 1, "name": "a"}\n{"_id": 2, "name": "b", "x": 5}\n'
    client.send(b"d", payload[:10])
    client.send(b"d", payload[10:])
    client.send(b"c", b"")
    results, tags = client.collect_results()
    assert tags == ["COPY 2"]
    res, _ = client.query("SELECT _id, name, x FROM cp_docs ORDER BY _id")
    assert res[0][1] == [["1", "a", None], ["2", "b", "5"]]


def test_copy_in_arrow_stream_over_wire(xt, client):
    import io

    import pyarrow as pa

    tbl = pa.table({"_id": [10, 11], "v": [1.5, 2.5]})
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    client.send(b"Q", client.cstr(
        "COPY cp_arrow FROM STDIN WITH (FORMAT 'arrow-stream')"))
    t, _ = client.read_msg()
    assert t == b"G"
    client.send(b"d", sink.getvalue())
    client.send(b"c", b"")
    _, tags = client.collect_results()
    assert tags == ["COPY 2"]
    res, _ = client.query("SELECT _id, v FROM cp_arrow ORDER BY _id")
    assert res[0][1] == [["10", "1.5"], ["11", "2.5"]]


def test_binary_result_format(xt, client):
    """Bind result-format=binary (reference pgwire.clj:1164): int8,
    float8, bool, text, timestamp, date come back in postgres binary
    wire encodings with format code 1 in RowDescription."""
    cols, rows = client.prepared_fmt(
        "SELECT CAST(42 AS BIGINT) AS i, CAST(1.5 AS DOUBLE) AS d, "
        "TRUE AS b, 'hey' AS s, "
        "TIMESTAMP '2024-01-15 10:30:00.123456' AS ts, "
        "DATE '2024-01-15' AS dt, CAST(NULL AS BIGINT) AS nl",
        params=[], rfmts=[1])
    assert [c[2] for c in cols] == [1] * 7  # all advertised binary
    r = rows[0]
    assert struct.unpack(">q", r[0])[0] == 42
    assert struct.unpack(">d", r[1])[0] == 1.5
    assert r[2] == b"\x01"
    assert r[3] == b"hey"
    epoch_us = struct.unpack(">q", r[4])[0]
    from datetime import datetime, timedelta
    assert datetime(2000, 1, 1) + timedelta(microseconds=epoch_us) == \
        datetime(2024, 1, 15, 10, 30, 0, 123456)
    days = struct.unpack(">i", r[5])[0]
    assert days == (datetime(2024, 1, 15) - datetime(2000, 1, 1)).days
    assert r[6] is None

    # per-column mixed codes: first binary, second text
    cols, rows = client.prepared_fmt(
        "SELECT CAST(7 AS BIGINT) AS a, CAST(8 AS BIGINT) AS b",
        params=[], rfmts=[1, 0])
    assert struct.unpack(">q", rows[0][0])[0] == 7
    assert rows[0][1] == b"8"


def test_binary_parameter_format(xt, client):
    """Bind arg-format=binary (reference pgwire.clj:887): int8 /
    float8 / bool / timestamp params arrive as binary and bind
    correctly."""
    from datetime import datetime

    ts = datetime(2024, 3, 1, 12, 0, 0)
    us = int((ts - datetime(2000, 1, 1)).total_seconds() * 1_000_000)
    cols, rows = client.prepared_fmt(
        "SELECT $1 + 1 AS i, CAST($2 * 2.0 AS DOUBLE) AS d, $3 AS b, "
        "CAST($4 AS TIMESTAMP) AS ts",
        params=[struct.pack(">q", 41), struct.pack(">d", 1.25),
                b"\x01", struct.pack(">q", us)],
        oids=[20, 701, 16, 1114],
        pfmts=[1, 1, 1, 1])
    assert rows[0][0] == b"42"
    assert rows[0][1] == b"2.5"
    assert rows[0][2] == b"t"
    # CAST AS TIMESTAMP is an instant → timestamptz text carries
    # the explicit UTC offset
    assert rows[0][3] == b"2024-03-01 12:00:00+00"

    # mixed: binary int8 + text string
    _, rows = client.prepared_fmt(
        "SELECT $1 AS n, $2 AS s",
        params=[struct.pack(">q", 9), "hello"],
        oids=[20, 25], pfmts=[1, 0])
    assert rows[0][0] == b"9" and rows[0][1] == b"hello"


def test_copy_inside_tx_block_rejected(xt, client):
    """COPY executes immediately and non-atomically, so inside
    BEGIN…COMMIT it must be rejected (regression: the COPY match ran
    before the tx checks and executed mid-block)."""
    client.query("BEGIN")
    client.query("INSERT INTO cp_tx (_id) VALUES (1)")
    with pytest.raises(RuntimeError, match="transaction block"):
        client.query("COPY cp_tx FROM STDIN WITH (FORMAT 'json')")
    # the error aborts the block (postgres semantics)
    with pytest.raises(RuntimeError, match="25P02"):
        client.query("COPY cp_tx FROM STDIN WITH (FORMAT 'json')")
    _, tags = client.query("COMMIT")
    assert tags == ["ROLLBACK"]
    assert "cp_tx" not in xt.store.tables()
    # connection usable again; COPY works outside a block
    client.send(b"Q", client.cstr(
        "COPY cp_tx FROM STDIN WITH (FORMAT 'json')"))
    t, _ = client.read_msg()
    assert t == b"G"
    client.send(b"d", b'{"_id": 9}\n')
    client.send(b"c", b"")
    _, tags = client.collect_results()
    assert tags == ["COPY 1"]


def test_copy_in_bad_format_refused(xt, client):
    import pytest

    with pytest.raises(RuntimeError, match="valid format"):
        client.query("COPY cp_x FROM STDIN WITH (FORMAT 'csv')")
    # connection still usable
    res, _ = client.query("SELECT 1 AS one")
    assert res[0][1] == [["1"]]


def test_set_show_current_setting(xt, client):
    """Session settings: SET is remembered per connection, SHOW and
    current_setting() (Sql.g4:364) reflect it."""
    _, tags = client.query("SET application_name = 'my_app'")
    assert tags == ["SET"]
    res, _ = client.query("SHOW application_name")
    assert res[0][1] == [["my_app"]]
    res, _ = client.query(
        "SELECT current_setting('application_name') AS app, "
        "current_setting('timezone') AS tz")
    assert res[0][1] == [["my_app", "UTC"]]
    # TO spelling + quoted value with escape
    client.query("SET search_path TO 'a''b'")
    res, _ = client.query("SHOW search_path")
    assert res[0][1] == [["a'b"]]
    # unknown setting → NULL from current_setting
    res, _ = client.query("SELECT current_setting('no_such') AS x")
    assert res[0][1] == [[None]]
    # SET TIME ZONE special form maps to the timezone setting
    client.query("SET TIME ZONE 'America/New_York'")
    res, _ = client.query("SHOW timezone")
    assert res[0][1] == [["America/New_York"]]


def test_snapshot_token_function(xt, client):
    """SNAPSHOT_TOKEN() (Sql.g4:379 SnapshotTokenFunction): the
    current basis token as a scalar — same value SHOW SNAPSHOT_TOKEN
    reports, usable inside a query."""
    xt.store.put("stf", [{"_id": 1}])
    res, _ = client.query("SHOW SNAPSHOT_TOKEN")
    tok = res[0][1][0][0]
    res, _ = client.query("SELECT SNAPSHOT_TOKEN() AS t")
    assert res[0][1] == [[tok]]
    res, _ = client.query("SELECT SNAPSHOT_TOKEN AS t")   # bare form
    assert res[0][1] == [[tok]]
    # a new tx moves the token
    xt.store.put("stf", [{"_id": 2}])
    res, _ = client.query("SELECT SNAPSHOT_TOKEN() AS t")
    assert int(res[0][1][0][0]) > int(tok)


def test_begin_read_only_with_basis_options(xt, client):
    """Transaction-level basis (Sql.g4:837-860 readOnlyTxOption;
    reference basis.clj): BEGIN READ ONLY WITH (SNAPSHOT_TOKEN …)
    pins every query in the block to that snapshot — repeatable read
    across statements — CLOCK_TIME pins the block's clock, DML is
    rejected with 25006, and COMMIT restores normal reads."""
    xt.store.put("txb", [{"_id": 1, "name": "v1"}])
    res, _ = client.query("SHOW SNAPSHOT_TOKEN")
    tok = res[0][1][0][0]

    xt.store.put("txb", [{"_id": 1, "name": "v2"},
                         {"_id": 2, "name": "new"}])

    _, tags = client.query(
        f"BEGIN READ ONLY WITH (SNAPSHOT_TOKEN = '{tok}', "
        "CLOCK_TIME = TIMESTAMP '2024-05-04 12:00:00')")
    assert tags == ["BEGIN"]
    res, _ = client.query("SELECT name FROM txb ORDER BY _id")
    assert res[0][1] == [["v1"]]           # pinned: pre-write state
    res, _ = client.query("SELECT current_timestamp AS ts")
    assert res[0][1] == [["2024-05-04 12:00:00+00"]]
    # repeatable across statements, even after ANOTHER write
    xt.store.put("txb", [{"_id": 3, "name": "late"}])
    res, _ = client.query("SELECT COUNT(*) AS n FROM txb")
    assert res[0][1] == [["1"]]
    # DML is rejected in a read-only block
    with pytest.raises(RuntimeError, match="read-only"):
        client.query("INSERT INTO txb (_id, name) VALUES (9, 'x')")
    client.query("ROLLBACK")

    # outside the block: current state, live clock
    res, _ = client.query("SELECT COUNT(*) AS n FROM txb")
    assert res[0][1] == [["3"]]

    # READ WRITE WITH (SYSTEM_TIME …): the block's DML commits at
    # the given system time
    client.query("BEGIN READ WRITE WITH "
                 "(SYSTEM_TIME = TIMESTAMP '2030-01-01 00:00:00')")
    client.query("INSERT INTO txw (_id, v) VALUES (1, 10)")
    _, tags = client.query("COMMIT")
    assert tags == ["COMMIT"]
    rows = xt.store.events("txw").select("_system_from").collect()
    assert [str(r["_system_from"]) for r in rows] == \
        ["2030-01-01 00:00:00"]
    # basis options on a read-write block are rejected at BEGIN
    with pytest.raises(RuntimeError, match="READ ONLY"):
        client.query("BEGIN READ WRITE WITH (SNAPSHOT_TOKEN = '123')")


def test_zone_delta_parsing():
    """_zone_delta unit battery: ISO fixed offsets keep their sign,
    UTC/GMT-prefixed ones are POSIX (west-positive → sign flips),
    IANA resolves via zoneinfo, junk → None."""
    from datetime import timedelta

    from xtdb_spark.pgwire import _zone_delta

    assert _zone_delta("+05:30") == timedelta(hours=5, minutes=30)
    assert _zone_delta("-03") == timedelta(hours=-3)
    assert _zone_delta("'+0230'") == timedelta(hours=2, minutes=30)
    # POSIX: postgres resolves UTC-3 to UTC+03, UTC+5 to UTC-05
    assert _zone_delta("UTC-3") == timedelta(hours=3)
    assert _zone_delta("UTC+5") == timedelta(hours=-5)
    assert _zone_delta("GMT-2") == timedelta(hours=2)
    assert _zone_delta("utc-1") == timedelta(hours=1)
    # prefixed == negated bare, for every offset
    for off in ("1", "2:30", "11", "0:45"):
        b = _zone_delta(f"+{off}")
        assert _zone_delta(f"UTC-{off}") == b
        assert _zone_delta(f"UTC+{off}") == -b
    try:
        from zoneinfo import ZoneInfo  # noqa: F401
        import datetime as _dt

        exp = _dt.datetime.now(ZoneInfo("America/New_York")).utcoffset()
        assert _zone_delta("America/New_York") == exp
    except Exception:
        pass                       # no tzdata in this container
    assert _zone_delta("Not/AZone") is None
    assert _zone_delta("") is None


def test_set_time_zone_honored_in_evaluation(client):
    """SET TIME ZONE is applied, not just recorded (reference pgwire
    session params + query.clj:429 expr/*clock*): current_timestamp
    RENDERS at the session zone's wall clock (the shift happens at
    the wire boundary, like postgres renders timestamptz); the Spark
    session and the evaluated instant stay UTC underneath."""
    from datetime import datetime, timedelta, timezone

    def now_ts():
        # timestamptz text carries an explicit offset; the WALL CLOCK
        # (offset dropped) is what must follow the session zone
        res, _ = client.query("SELECT current_timestamp AS ts")
        return datetime.fromisoformat(res[0][1][0][0]).replace(tzinfo=None)

    utc0 = now_ts()
    assert abs((utc0 - datetime.now(timezone.utc).replace(tzinfo=None))
               .total_seconds()) < 120

    client.query("SET TIME ZONE '+05:30'")
    ahead = now_ts()
    delta = (ahead - datetime.now(timezone.utc).replace(tzinfo=None)) \
        .total_seconds()
    assert abs(delta - 5.5 * 3600) < 120

    # POSIX zone spec: the UTC/GMT prefix makes the sign WEST-
    # positive — postgres resolves 'UTC-3' to UTC+03 (round-9 ADVICE)
    client.query("SET TIME ZONE 'UTC-3'")
    posix = now_ts()
    delta = (posix - datetime.now(timezone.utc).replace(tzinfo=None)) \
        .total_seconds()
    assert abs(delta - 3 * 3600) < 120

    # IANA names resolve when zoneinfo has data; otherwise the query
    # must still answer (UTC-pinned fallback), never error
    client.query("SET TIME ZONE 'America/New_York'")
    ny = now_ts()
    delta = (ny - datetime.now(timezone.utc).replace(tzinfo=None)) \
        .total_seconds()
    try:
        from zoneinfo import ZoneInfo

        off = datetime.now(ZoneInfo("America/New_York"))\
            .utcoffset().total_seconds()
    except Exception:
        off = 0.0
    assert abs(delta - off) < 120

    # back to UTC: pinning restored; current_date follows the zone too
    client.query("SET TIME ZONE 'UTC'")
    back = now_ts()
    assert abs((back - datetime.now(timezone.utc).replace(tzinfo=None))
               .total_seconds()) < 120
    client.query("SET TIME ZONE '+05:30'")
    res, _ = client.query("SELECT current_date AS d")
    want = (datetime.now(timezone.utc)
            + timedelta(hours=5, minutes=30)).date().isoformat()
    assert res[0][1][0][0] == want
    client.query("SET TIME ZONE 'UTC'")


def test_session_zone_is_rendering_only_not_evaluation(xt, client):
    """Round-9 ADVICE regression: the session zone must NOT move the
    instant now-valued functions evaluate at. Before the fix, SET
    TIME ZONE '+05:30' substituted a zone-rendered naive literal, so
    `x <= current_timestamp` compared against a value 5.5 h in the
    future and DML stored a local-rendered instant."""
    from datetime import datetime, timedelta, timezone

    client.query("SET TIME ZONE '+05:30'")
    utc = datetime.now(timezone.utc).replace(tzinfo=None)
    ahead = (utc + timedelta(hours=2)).isoformat(sep=" ")
    behind = (utc - timedelta(hours=2)).isoformat(sep=" ")
    res, _ = client.query(
        f"SELECT current_timestamp > TIMESTAMP '{ahead}' AS a, "
        f"current_timestamp > TIMESTAMP '{behind}' AS b")
    assert res[0][1] == [["f", "t"]]

    # DML through now() stores the UTC instant: read back in UTC,
    # the stored value is within minutes of utc-now, not 5.5 h ahead
    client.query("INSERT INTO zdml (_id, ts) VALUES (1, NOW())")
    client.query("SET TIME ZONE 'UTC'")
    res, _ = client.query("SELECT ts FROM zdml WHERE _id = 1")
    aware = datetime.fromisoformat(res[0][1][0][0])
    assert aware.utcoffset().total_seconds() == 0     # UTC session → +00
    stored = aware.replace(tzinfo=None)
    assert abs((stored - utc).total_seconds()) < 300

    # rendering shift applies to STORED timestamps too (timestamptz
    # semantics): the same row reads 5.5 h later under the zone
    client.query("SET TIME ZONE '+05:30'")
    res, _ = client.query("SELECT ts FROM zdml WHERE _id = 1")
    aware = datetime.fromisoformat(res[0][1][0][0])
    # wall clock shifts; the offset is declared; the INSTANT is equal
    assert aware.utcoffset() == timedelta(hours=5, minutes=30)
    shifted = aware.replace(tzinfo=None)
    assert abs((shifted - stored).total_seconds() - 5.5 * 3600) < 5
    assert aware.astimezone(timezone.utc).replace(tzinfo=None) == stored
    client.query("SET TIME ZONE 'UTC'")


def test_timestamptz_oid_offset_and_dst(xt, client):
    """Zone-rendered timestamps are declared timestamptz (oid 1184)
    with an explicit per-value UTC offset (round-9 ADVICE): a client
    reading then re-writing a value can never silently shift the
    instant, and values on both sides of a DST transition render at
    their own offset — January is -05 under America/New_York while
    July is -04 (postgres per-value semantics, not today's offset)."""
    import struct as _struct
    from datetime import datetime, timezone

    xt.store.put("dstt", [
        {"_id": 1, "ts": datetime(2024, 1, 15, 12, 0, 0)},   # EST
        {"_id": 2, "ts": datetime(2024, 7, 15, 12, 0, 0)},   # EDT
    ])
    res, _ = client.query("SELECT ts FROM dstt ORDER BY _id")
    cols, rows = res[0]
    assert cols[0][1] == 1184                       # timestamptz
    assert rows[0][0].endswith("+00") and rows[1][0].endswith("+00")

    client.query("SET TIME ZONE 'America/New_York'")
    res, _ = client.query("SELECT ts FROM dstt ORDER BY _id")
    jan, jul = res[0][1][0][0], res[0][1][1][0]
    assert jan == "2024-01-15 07:00:00-05"          # EST wall clock
    assert jul == "2024-07-15 08:00:00-04"          # EDT wall clock
    # both decode back to the same stored instants
    assert datetime.fromisoformat(jan).astimezone(timezone.utc)         .replace(tzinfo=None) == datetime(2024, 1, 15, 12, 0, 0)

    # BINARY timestamptz is the UTC instant — session zone never
    # shifts it (postgres binary timestamptz is zone-independent)
    _, raw = client.prepared_fmt(
        "SELECT ts FROM dstt WHERE _id = 1", params=[], rfmts=[1])
    (us,) = _struct.unpack(">q", raw[0][0])
    assert us == int((datetime(2024, 1, 15, 12) - datetime(2000, 1, 1))
                     .total_seconds() * 1_000_000)
    client.query("SET TIME ZONE 'UTC'")


def test_reset_and_discard(xt, client):
    client.query("SET a.one = '1'")
    client.query("SET a.two = '2'")
    client.query("RESET a.one")
    res, _ = client.query("SELECT current_setting('a.one') AS x, "
                          "current_setting('a.two') AS y")
    assert res[0][1] == [[None, "2"]]
    client.query("DISCARD ALL")
    res, _ = client.query("SELECT current_setting('a.two') AS y")
    assert res[0][1] == [[None]]


def test_token_and_transaction_statements(xt, client):
    """xtdb session token statements (Sql.g4:48,52-54) + SET
    TRANSACTION characteristics (Sql.g4:42,45)."""
    # snapshot token tracks the latest committed tx
    client.query("INSERT INTO tok (_id) VALUES (1)")
    res, _ = client.query("SHOW SNAPSHOT_TOKEN")
    tok1 = int(res[0][1][0][0])
    client.query("INSERT INTO tok (_id) VALUES (2)")
    res, _ = client.query("SHOW SNAPSHOT_TOKEN")
    assert int(res[0][1][0][0]) > tok1

    # SET/SHOW AWAIT_TOKEN round-trips (appends are synchronous, so
    # the await gate is satisfied immediately)
    client.query(f"SET AWAIT_TOKEN = '{tok1}'")
    res, _ = client.query("SHOW AWAIT_TOKEN")
    assert res[0][1][0][0] == str(tok1)

    # clock time is a live ISO timestamp
    res, _ = client.query("SHOW CLOCK_TIME")
    assert res[0][1][0][0].startswith("20")

    # SET TRANSACTION / SESSION CHARACTERISTICS are reportable state
    client.query("SET TRANSACTION ISOLATION LEVEL SERIALIZABLE")
    res, _ = client.query("SHOW TRANSACTION ISOLATION LEVEL")
    assert res[0][1][0][0] == "serializable"
    client.query("SET SESSION CHARACTERISTICS AS TRANSACTION READ ONLY")
    res, _ = client.query("SHOW transaction_read_only")
    assert res[0][1][0][0] == "on"


def test_set_role_and_start_transaction(xt, client):
    """SET ROLE (Sql.g4:46), START TRANSACTION (Sql.g4:41), COMMIT
    SYNC/ASYNC (Sql.g4:43 — ours is always durable-on-return, the
    stronger end of the reference's options)."""
    client.query("SET ROLE analyst")
    res, _ = client.query("SHOW role")
    assert res[0][1][0][0] == "analyst"
    client.query("SET ROLE NONE")
    res, _ = client.query("SHOW role")
    assert res[0][1][0][0] == "none"

    # START TRANSACTION … COMMIT SYNC is an atomic block like BEGIN
    client.query("INSERT INTO st_t (_id, v) VALUES (0, 'z')")
    client.query("START TRANSACTION")
    client.query("INSERT INTO st_t (_id, v) VALUES (1, 'a')")
    res, _ = client.query("SELECT count(*) AS n FROM st_t")
    assert res[0][1][0][0] == "1"          # not visible pre-commit
    client.query("COMMIT SYNC")
    res, _ = client.query("SELECT count(*) AS n FROM st_t")
    assert res[0][1][0][0] == "2"


def test_copy_in_transit_msgpack_over_wire(xt, client):
    """COPY … WITH (FORMAT 'transit-msgpack') — the reference's other
    transit flavor (types.clj:284-294): stream of msgpack-framed
    transit maps with keyword keys and per-message cache codes."""
    from tests.test_transit import _mp

    d1 = _mp({"~:_id": 1, "~:product_name": "alpha", "~:qty": 3})
    d2 = _mp({"~:_id": 2, "~:product_name": "beta", "~:qty": -5})
    client.send(b"Q", client.cstr(
        "COPY cp_tmp FROM STDIN WITH (FORMAT 'transit-msgpack')"))
    t, _ = client.read_msg()
    assert t == b"G"
    blob = d1 + d2
    client.send(b"d", blob[:7])            # arbitrary chunk split
    client.send(b"d", blob[7:])
    client.send(b"c", b"")
    _, tags = client.collect_results()
    assert tags == ["COPY 2"]
    res, _ = client.query(
        "SELECT _id, product_name, qty FROM cp_tmp ORDER BY _id")
    assert res[0][1] == [["1", "alpha", "3"], ["2", "beta", "-5"]]


def test_cancel_request_interrupts_running_query(xt, server, client):
    """CancelRequest (reference pgwire.clj:196 cmd-cancel): a fresh
    connection quoting the BackendKeyData pid+secret interrupts the
    target connection's running Spark jobs; the victim gets SQLSTATE
    57014 and the connection stays usable."""
    import threading as _th
    import time as _t

    from xtdb_spark import pgwire as pgw

    pid = max(pgw._BACKENDS)            # the client fixture's conn
    secret, _conn = pgw._BACKENDS[pid]
    errs, done = [], []

    def run():
        try:
            client.query(
                "SELECT count(*) AS n FROM "
                "(SELECT explode(sequence(1, 60000)) AS x) a CROSS JOIN "
                "(SELECT explode(sequence(1, 60000)) AS y) b")
            done.append("finished")
        except Exception as e:  # noqa: BLE001
            errs.append(f"{type(e).__name__}: {e}")

    th = _th.Thread(target=run)
    th.start()
    _t.sleep(3)                         # let the stages start
    s = socket.create_connection(("127.0.0.1", server.port), timeout=10)
    s.sendall(struct.pack(">iiii", 16, 80877102, pid, secret))
    s.close()
    th.join(timeout=90)
    assert not th.is_alive(), "query was not cancelled"
    assert errs and "57014" in errs[0]
    assert pgw._CANCELLED_TOTAL >= 1   # feeds xt.metrics
    res, _ = client.query("SELECT 1 AS one")
    assert res[0][1] == [["1"]]

    # wrong secret must NOT cancel (and must not crash the server)
    s = socket.create_connection(("127.0.0.1", server.port), timeout=10)
    s.sendall(struct.pack(">iiii", 16, 80877102, pid, secret ^ 1))
    s.close()
    res, _ = client.query("SELECT 2 AS two")
    assert res[0][1] == [["2"]]


# --- round 7: portal edge-cases a real JDBC driver exercises -----------------

def _read_until_z(c):
    """Collect (type, body) messages until ReadyForQuery."""
    msgs = []
    while True:
        t, b = c.read_msg()
        msgs.append((t, b))
        if t == b"Z":
            return msgs


def test_portal_suspension_fetchsize(xt, client):
    """JDBC setFetchSize: Execute with max_rows returns that many
    DataRows + PortalSuspended; re-Execute CONTINUES; the final
    segment gets CommandComplete with the total."""
    xt.store.put("ps", [{"_id": i, "v": i * 10} for i in range(10)],
                 system_from="2024-01-01")
    c = client
    c.send(b"P", c.cstr("s1") + c.cstr(
        "SELECT _id, v FROM ps ORDER BY _id") + struct.pack(">h", 0))
    c.send(b"B", c.cstr("p1") + c.cstr("s1")
           + struct.pack(">h", 0) + struct.pack(">h", 0)
           + struct.pack(">h", 0))
    c.send(b"D", b"P" + c.cstr("p1"))
    c.send(b"E", c.cstr("p1") + struct.pack(">i", 4))   # fetch 4
    c.send(b"E", c.cstr("p1") + struct.pack(">i", 4))   # next 4
    c.send(b"E", c.cstr("p1") + struct.pack(">i", 4))   # last 2
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    kinds = [t for t, _ in msgs]
    # exactly ONE RowDescription (from Describe) — Execute must not
    # re-describe a described portal (pgjdbc compat)
    assert kinds.count(b"T") == 1
    assert kinds.count(b"D") == 10
    assert kinds.count(b"s") == 2            # two suspensions
    tags = [b.rstrip(b"\x00").decode() for t, b in msgs if t == b"C"]
    assert tags == ["SELECT 10"]
    # segment boundaries: 4 rows, suspend, 4 rows, suspend, 2 rows
    seq = [t for t, _ in msgs if t in (b"D", b"s")]
    assert seq == [b"D"] * 4 + [b"s"] + [b"D"] * 4 + [b"s"] + [b"D"] * 2
    # rows arrive in order across segments
    first_vals = [b for t, b in msgs if t == b"D"]
    ids = [int(v[6:6 + struct.unpack(">i", v[2:6])[0]]) for v in first_vals]
    assert ids == list(range(10))


def test_portal_exhausted_at_boundary(xt, client):
    """max_rows == row count: suspension is reported (the server
    can't know the iterator is dry), and the follow-up Execute
    completes with the total."""
    xt.store.put("pb", [{"_id": i} for i in range(3)],
                 system_from="2024-01-01")
    c = client
    c.send(b"P", c.cstr("") + c.cstr("SELECT _id FROM pb ORDER BY _id")
           + struct.pack(">h", 0))
    c.send(b"B", c.cstr("") + c.cstr("") + struct.pack(">h", 0)
           + struct.pack(">h", 0) + struct.pack(">h", 0))
    c.send(b"D", b"P" + c.cstr(""))
    c.send(b"E", c.cstr("") + struct.pack(">i", 3))
    c.send(b"E", c.cstr("") + struct.pack(">i", 3))
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    kinds = [t for t, _ in msgs]
    assert kinds.count(b"D") == 3 and kinds.count(b"s") == 1
    tags = [b.rstrip(b"\x00").decode() for t, b in msgs if t == b"C"]
    assert tags == ["SELECT 3"]


def test_describe_statement_before_bind_on_dml(xt, client):
    """pgjdbc describes a DML statement BEFORE binding (prepared
    INSERT): expect ParameterDescription then NoData, no crash."""
    c = client
    c.send(b"P", c.cstr("ins") + c.cstr(
        "INSERT INTO dd (_id, v) VALUES ($1, $2)")
        + struct.pack(">h", 2) + struct.pack(">ii", 23, 25))
    c.send(b"D", b"S" + c.cstr("ins"))
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    kinds = [t for t, _ in msgs]
    assert b"1" in kinds                     # ParseComplete
    assert b"t" in kinds                     # ParameterDescription
    t_body = next(b for t, b in msgs if t == b"t")
    (nparams,) = struct.unpack(">h", t_body[:2])
    assert nparams == 2
    assert b"n" in kinds                     # NoData
    assert b"E" not in kinds


def test_missing_portal_error_then_resync(xt, client):
    """Execute on a portal that doesn't exist → SQLSTATE 34000,
    messages drained to Sync, and the CONNECTION KEEPS WORKING."""
    c = client
    c.send(b"E", c.cstr("nope") + struct.pack(">i", 0))
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    err = next(b for t, b in msgs if t == b"E")
    assert b"34000" in err
    # connection still usable after resync
    results, tags = c.query("SELECT 1 AS one")
    assert results[0][1] == [["1"]]


def test_missing_statement_describe_error(xt, client):
    c = client
    c.send(b"D", b"S" + c.cstr("ghost"))
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    err = next(b for t, b in msgs if t == b"E")
    assert b"26000" in err
    results, _ = c.query("SELECT 2 AS two")
    assert results[0][1] == [["2"]]


def test_close_actually_removes(xt, client):
    """Close('S'/'P') must drop the object: a later Bind/Execute on
    it errors instead of silently reusing stale state."""
    xt.store.put("cl", [{"_id": 1}], system_from="2024-01-01")
    c = client
    c.send(b"P", c.cstr("st") + c.cstr("SELECT _id FROM cl")
           + struct.pack(">h", 0))
    c.send(b"B", c.cstr("po") + c.cstr("st") + struct.pack(">h", 0)
           + struct.pack(">h", 0) + struct.pack(">h", 0))
    c.send(b"C", b"P" + c.cstr("po"))        # close portal
    c.send(b"E", c.cstr("po") + struct.pack(">i", 0))
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    err = next(b for t, b in msgs if t == b"E")
    assert b"34000" in err
    # statement still there — rebind works
    c.send(b"B", c.cstr("po2") + c.cstr("st") + struct.pack(">h", 0)
           + struct.pack(">h", 0) + struct.pack(">h", 0))
    c.send(b"E", c.cstr("po2") + struct.pack(">i", 0))
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    assert [t for t, _ in msgs].count(b"D") == 1
    # close the statement: bind on it now errors
    c.send(b"C", b"S" + c.cstr("st"))
    c.send(b"B", c.cstr("po3") + c.cstr("st") + struct.pack(">h", 0)
           + struct.pack(">h", 0) + struct.pack(">h", 0))
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    assert any(t == b"E" for t, _ in msgs)


def test_period_pseudo_columns_over_wire(xt, client):
    """Round 12 (VERDICT): the temporal meta surface works through
    pgwire — simple query selecting `_valid_from`, and an
    extended-query Bind of a period bound compared against it."""
    xt.store.put("pw_meta", [{"_id": 1, "v": 10}],
                 system_from="2024-01-01", valid_from="2024-01-01")
    results, _ = client.query(
        "SELECT _id, _valid_from FROM pw_meta")
    (cols, rows), = results
    assert [c[0] for c in cols] == ["_id", "_valid_from"]
    assert rows[0][0] == "1" and rows[0][1].startswith("2024-01-01")

    # extended protocol: bind a timestamp and compare a period bound
    results2, tags = client.prepared(
        "SELECT _id FROM pw_meta WHERE _valid_from <= $1", ["2024-06-01"])
    assert results2[0][1] == [["1"]]
    assert tags == ["SELECT 1"]


def test_tls_upgrade(xt, tmp_path):
    """TLS on the wire (reference pgwire.clj:485 upgrade-to-ssl /
    ->ssl-ctx:1837 keystore config): SSLRequest answered 'S', the
    connection wrapped, and the normal protocol continuing inside
    the TLS channel. A server WITHOUT a context still answers 'N'
    (covered implicitly by every other test here — psql's default
    sslmode=prefer then falls back to cleartext)."""
    import ssl as ssl_mod
    import subprocess

    cert = tmp_path / "srv.crt"
    key = tmp_path / "srv.key"
    p = subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(cert), "-days", "1",
         "-subj", "/CN=localhost"],
        capture_output=True)
    if p.returncode != 0:
        pytest.skip("openssl unavailable for cert generation")

    from xtdb_spark.pgwire import PgWireServer

    xt.store.put("tls_t", [{"_id": 1, "v": 42}], system_from="2024-01-01")
    srv = PgWireServer(xt, port=0, ssl_certfile=str(cert),
                       ssl_keyfile=str(key)).start()
    try:
        raw = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
        # SSLRequest: length 8, code 80877103
        raw.sendall(struct.pack(">ii", 8, 80877103))
        assert raw.recv(1) == b"S"
        ctx = ssl_mod.SSLContext(ssl_mod.PROTOCOL_TLS_CLIENT)
        ctx.check_hostname = False
        ctx.verify_mode = ssl_mod.CERT_NONE
        tls = ctx.wrap_socket(raw)
        client = PgClient.__new__(PgClient)
        client.sock = tls
        client.buf = b""
        client.startup()
        results, tags = client.query("SELECT v FROM tls_t")
        assert results[0][1] == [["42"]] and tags == ["SELECT 1"]
        client.close()
    finally:
        srv.stop()


# ---- one plan per wire read: Describe plans the portal, Execute
# reuses it; the extended protocol answers exactly as the simple one


def _row_desc(body):
    """(name, type oid) per field of a RowDescription body."""
    (n,) = struct.unpack(">h", body[:2])
    cols, off = [], 2
    for _ in range(n):
        end = body.index(b"\x00", off)
        cols.append((body[off:end].decode(),
                     struct.unpack(">i", body[end + 7:end + 11])[0]))
        off = end + 19
    return cols


def _data_row(body):
    (n,) = struct.unpack(">h", body[:2])
    vals, off = [], 2
    for _ in range(n):
        (ln,) = struct.unpack(">i", body[off:off + 4])
        off += 4
        vals.append(None if ln == -1 else body[off:off + ln].decode())
        off += max(ln, 0)
    return vals


def _extended_read(c, sql, params=(), oids=(), max_rows=0, executes=1):
    """Parse/Bind/Describe(portal)/Execute×executes/Sync with text
    parameters → (RowDescription fields, rows, tags, message types)."""
    c.send(b"P", c.cstr("") + c.cstr(sql) + struct.pack(">h", len(oids))
           + b"".join(struct.pack(">i", o) for o in oids))
    enc = [str(p).encode() for p in params]
    c.send(b"B", c.cstr("") + c.cstr("") + struct.pack(">hh", 0, len(enc))
           + b"".join(struct.pack(">i", len(e)) + e for e in enc)
           + struct.pack(">h", 0))
    c.send(b"D", b"P" + c.cstr(""))
    for _ in range(executes):
        c.send(b"E", c.cstr("") + struct.pack(">i", max_rows))
    c.send(b"S", b"")
    msgs = _read_until_z(c)
    descs = [_row_desc(b) for t, b in msgs if t == b"T"]
    rows = [_data_row(b) for t, b in msgs if t == b"D"]
    tags = [b.rstrip(b"\x00").decode() for t, b in msgs if t == b"C"]
    return (descs[0] if descs else None), rows, tags, [t for t, _ in msgs]


@pytest.fixture()
def rewrites(monkeypatch):
    """Names of the rewriter entry points called, in order."""
    from xtdb_spark.sql import rewriter

    calls = []
    for name in ("rewrite", "rewrite_with_args"):
        orig = getattr(rewriter, name)
        monkeypatch.setattr(rewriter, name,
                            lambda *a, _o=orig, _n=name, **k:
                            calls.append(_n) or _o(*a, **k))
    return calls


def test_extended_reads_match_simple_and_plan_once(xt, client, rewrites):
    """A point read, a suspended portal (max_rows > 0) and a read in
    a BEGIN READ ONLY WITH (SNAPSHOT_TIME …) block: the extended
    protocol sends the simple protocol's RowDescription and rows,
    and each read is rewritten exactly once."""
    xt.store.put("pe", [{"_id": i, "v": i * 10, "s": f"a{i}"}
                        for i in range(5)], system_from="2024-01-01")
    xt.store.put("pe", [{"_id": i, "v": i * 100, "s": f"b{i}"}
                        for i in range(5)], system_from="2024-06-01")

    def simple(sql):
        rewrites.clear()
        (res,), tags = client.query(sql)
        assert rewrites == ["rewrite_with_args"]
        return res[0], res[1], tags

    def extended(sql, *a, **k):
        rewrites.clear()
        desc, rows, tags, kinds = _extended_read(client, sql, *a, **k)
        assert rewrites == ["rewrite_with_args"]
        return desc, rows, tags, kinds

    point = "SELECT _id, v, s FROM pe WHERE _id = "
    cols, rows, tags = simple(point + "3")
    assert rows == [["3", "300", "b3"]]
    desc, erows, etags, kinds = extended(point + "$1", [3], [20])
    assert (desc, erows, etags) == (cols, rows, tags)
    assert kinds.count(b"T") == 1

    scan = "SELECT _id, v FROM pe ORDER BY _id"
    cols, rows, tags = simple(scan)
    desc, erows, etags, kinds = extended(scan, max_rows=2, executes=3)
    assert (desc, erows, etags) == (cols, rows, tags)
    assert kinds.count(b"s") == 2 and tags == ["SELECT 5"]

    client.query("BEGIN READ ONLY WITH "
                 "(SNAPSHOT_TIME = TIMESTAMP '2024-03-01 00:00:00')")
    cols, rows, tags = simple(point + "2")
    assert rows == [["2", "20", "a2"]]              # pinned basis
    desc, erows, etags, _ = extended(point + "$1", [2], [20])
    assert (desc, erows, etags) == (cols, rows, tags)
    client.query("ROLLBACK")


def test_failed_tx_plans_nothing_and_execute_answers_25p02(
        xt, client, rewrites):
    xt.store.put("pf", [{"_id": 1, "v": 1}], system_from="2024-01-01")
    client.query("BEGIN")
    with pytest.raises(RuntimeError):
        client.query("SELECT * FROM no_such_table_pf")
    rewrites.clear()
    desc, rows, _, kinds = _extended_read(
        client, "SELECT v FROM pf WHERE _id = $1", [1], [20])
    assert rewrites == []
    assert desc is None and b"n" in kinds and rows == []
    assert b"E" in kinds
    client.query("ROLLBACK")


def test_extended_column_names_match_simple(xt, client):
    """Anonymous items are `_column_<n>` and unquoted identifiers
    fold to lowercase over both protocols — portal Describe and
    statement Describe alike."""
    xt.store.put("cn", [{"_id": 1, "a": 5}], system_from="2024-01-01")
    for sql, names in [("SELECT 1, upper('x'), a + 1 FROM cn",
                        ["_column_1", "_column_2", "_column_3"]),
                       ("SELECT A FROM cn", ["a"])]:
        (res,), _ = client.query(sql)
        assert [n for n, _ in res[0]] == names
        desc, _, _, _ = _extended_read(client, sql)
        assert desc == res[0]
        client.send(b"P", client.cstr("cn_st") + client.cstr(sql)
                    + struct.pack(">h", 0))
        client.send(b"D", b"S" + client.cstr("cn_st"))
        client.send(b"S", b"")
        msgs = _read_until_z(client)
        assert [_row_desc(b) for t, b in msgs if t == b"T"] == [res[0]]
