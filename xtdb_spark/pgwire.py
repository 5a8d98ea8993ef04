"""Postgres wire protocol (v3) server over the SQL dialect layer.

Reference: the reference node's primary client surface is pgwire
(reference core/src/main/clojure/xtdb/pgwire.clj — startup/auth,
simple + extended query protocols, ParameterStatus handshake,
text-format encoding; every `lang/*` client test connects over it).
This module re-implements that surface in pure Python on top of
`XtdbSession.sql` — `psql`, psycopg, JDBC and BI tools can point at
an xtdb_spark engine.

Protocol subset (what real clients actually use):

- StartupMessage / SSLRequest (refused with 'N') / CancelRequest
- Authentication: trust, cleartext password, and MD5 per an ordered
  (user, address) rule list — the reference's authn rules model
  (reference core/src/main/clojure/xtdb/authn.clj:16-71; pgwire.clj
  startup). Unmatched startups are refused with SQLSTATE 28000,
  failed passwords with 28P01.
- ParameterStatus handshake, BackendKeyData, ReadyForQuery
- Simple query `Q`: multi-statement (tokenizer split on top-level
  `;`), RowDescription + DataRow* + CommandComplete per statement
- Extended protocol: Parse/Bind/Describe/Execute/Close/Flush/Sync —
  enough for psycopg's default flow and prepared statements; `$n`
  parameters are bound at Bind time (text format) and substituted as
  typed SQL literals, so temporal clauses (`FOR SYSTEM_TIME AS OF
  $1`) work through the same rewriter path
- ErrorResponse with SQLSTATE, EmptyQueryResponse, Terminate

All values are sent in text format (format code 0), the default for
every driver. Result columns map Spark types → pg OIDs.

Scale note: the wire server is a DRIVER-side surface — results stream
to the client from `toLocalIterator()` batch by batch, so a big
result set never materializes on the driver heap at once; the query
itself runs distributed as usual.
"""

from __future__ import annotations

import itertools as _itertools
import json
import re
import secrets as _secrets
import socket
import socketserver
import struct
import threading
from typing import Any

from xtdb_spark.sql.rewriter import SHOW_VALUES, show_name

# cancellation registry: BackendKeyData pid → (secret, live _Conn)
# (reference pgwire.clj:129 keeps the netty channel registry for the
# same purpose)
_PID_COUNTER = _itertools.count(1)
_BACKENDS: dict[int, tuple[int, "_Conn"]] = {}
_CANCELLED_TOTAL = 0  # process metric (reference pgwire.clj:200)

# Spark simpleString (prefix) → postgres type oid
_OID = {
    "bigint": 20, "int": 23, "smallint": 21, "tinyint": 21,
    "double": 701, "float": 700, "decimal": 1700,
    "string": 25, "boolean": 16,
    # Spark `timestamp` is an INSTANT (TIMESTAMP WITH LOCAL TIME
    # ZONE) → timestamptz 1184, rendered with an explicit UTC offset
    # like postgres/the reference; only `timestamp_ntz` is the
    # zone-independent 1114 (never shifted, no offset)
    "timestamp_ntz": 1114, "timestamp": 1184, "date": 1082,
    "binary": 17,
}
_JSON_OID = 114

_NUMERIC_OIDS = {20, 21, 23, 26, 700, 701, 1700}


def _oid_of(dtype: str) -> int:
    for prefix, oid in _OID.items():
        if dtype == prefix or dtype.startswith(prefix + "("):
            return oid
    return _JSON_OID


def _text(v: Any) -> str | None:
    """Postgres text-format encoding of one value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (bytes, bytearray)):
        return "\\x" + bytes(v).hex()
    if isinstance(v, (list, tuple, dict)):
        return json.dumps(v, default=str)
    return str(v)


_NUM_RE = re.compile(r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$")

# binary wire formats (reference pgwire.clj:887 arg-format /
# :1164 result-format negotiation). Postgres epoch for binary
# timestamp (µs since 2000-01-01) and date (days since 2000-01-01).
import datetime as _dt

_PG_EPOCH = _dt.datetime(2000, 1, 1)
_PG_EPOCH_DATE = _dt.date(2000, 1, 1)


def _binary_encode(v: Any, oid: int) -> bytes:
    """One value in postgres BINARY result format. Covers the types a
    driver actually requests binary for (int2/4/8, float4/8, bool,
    bytea, timestamp, date); text-ish and exotic oids fall back to
    their text bytes — the same bytes a text-format column carries,
    which is what postgres itself does for type text."""
    if oid == 16:
        return b"\x01" if v else b"\x00"
    if oid == 21:
        return struct.pack(">h", int(v))
    if oid == 23:
        return struct.pack(">i", int(v))
    if oid == 20:
        return struct.pack(">q", int(v))
    if oid == 700:
        return struct.pack(">f", float(v))
    if oid == 701:
        return struct.pack(">d", float(v))
    if oid == 17:
        return bytes(v)
    if oid in (1114, 1184) and isinstance(v, _dt.datetime):
        # binary timestamptz IS the UTC instant (postgres stores
        # timestamptz zone-independently) — never session-shifted
        d = v.replace(tzinfo=None) - _PG_EPOCH
        return struct.pack(
            ">q", (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if oid == 1082 and isinstance(v, _dt.date):
        return struct.pack(">i", (v - _PG_EPOCH_DATE).days)
    return (_text(v) or "").encode()


def _binary_param_text(b: bytes, oid: int) -> str:
    """Binary-format Bind argument → its TEXT-format spelling, so the
    downstream literal-substitution path is identical for both
    formats (reference pgwire.clj reads arg-format per parameter)."""
    if oid == 16:
        return "t" if b and b[0] else "f"
    if oid == 21:
        return str(struct.unpack(">h", b)[0])
    if oid == 23:
        return str(struct.unpack(">i", b)[0])
    if oid == 20:
        return str(struct.unpack(">q", b)[0])
    if oid == 700:
        return repr(struct.unpack(">f", b)[0])
    if oid == 701:
        return repr(struct.unpack(">d", b)[0])
    if oid == 17:
        return "\\x" + b.hex()
    if oid in (1114, 1184):
        (us,) = struct.unpack(">q", b)
        return (_PG_EPOCH + _dt.timedelta(microseconds=us)) \
            .isoformat(sep=" ")
    if oid == 1082:
        (days,) = struct.unpack(">i", b)
        return (_PG_EPOCH_DATE + _dt.timedelta(days=days)).isoformat()
    return b.decode()  # text/varchar/unknown


def _col_formats(nfields: int, result_formats: list[int] | None) -> list[int]:
    """Resolve Bind's result-format codes to one per column (0 codes
    = all text; 1 code = applies to every column)."""
    if not result_formats:
        return [0] * nfields
    if len(result_formats) == 1:
        return [result_formats[0]] * nfields
    return (list(result_formats) + [0] * nfields)[:nfields]


class AuthRules:
    """Authentication config (reference authn.clj:16-71): an ordered
    rule list matched on (user, client address); the FIRST matching
    rule decides the method, and a startup matching no rule is
    refused. Methods: ``trust`` | ``password`` (cleartext) | ``md5``.

    >>> AuthRules(rules=[{"user": "admin", "method": "password"},
    ...                  {"address": "127.", "method": "trust"}],
    ...           users={"admin": "s3cret"})

    The default (no rules) trusts everyone — the out-of-the-box
    behavior of the reference's dev node."""

    def __init__(self, rules: list[dict] | None = None,
                 users: dict[str, str] | None = None):
        self.rules = rules if rules is not None else [{"method": "trust"}]
        self.users = users or {}

    def method_for(self, user: str, address: str) -> str | None:
        for r in self.rules:
            if r.get("user") is not None and r["user"] != user:
                continue
            if r.get("address") is not None and \
                    not address.startswith(r["address"]):
                continue
            return r.get("method", "trust")
        return None

    def check_password(self, user: str, password: str) -> bool:
        expect = self.users.get(user)
        return expect is not None and password == expect

    def check_md5(self, user: str, response: str, salt: bytes) -> bool:
        import hashlib

        expect = self.users.get(user)
        if expect is None:
            return False
        inner = hashlib.md5((expect + user).encode()).hexdigest()
        want = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
        return response == want

    def scram_keys(self, user: str, salt: bytes,
                   iterations: int) -> tuple[bytes, bytes] | None:
        """(StoredKey, ServerKey) per RFC 5802 §3 for the user's
        password, or None for an unknown user."""
        import hashlib
        import hmac as _hmac

        password = self.users.get(user)
        if password is None:
            return None
        salted = hashlib.pbkdf2_hmac("sha256", password.encode(),
                                     salt, iterations)
        client_key = _hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        server_key = _hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        return stored_key, server_key


def _literal(value: str | None, oid: int) -> str:
    """Render a text-format parameter as a SQL literal (the engine has
    no plan cache, so literal substitution == binding; typed by the
    Parse-declared oid). Emits a PG STANDARD string — only ''
    doubling, backslashes verbatim: the bound SQL goes through the
    dialect rewriter, whose tokenizer re-encodes every plain string
    for Spark's escape-processing parser (`_std_str` doubles
    backslashes exactly once, round 7). Doubling here too would
    double-escape; a trailing ``\\`` is safe either way because the
    tokenizer sees it as data, not an escape (injection-safe)."""
    if value is None:
        return "NULL"
    if oid in _NUMERIC_OIDS or (oid == 0 and _NUM_RE.match(value)):
        if _NUM_RE.match(value):
            # float4/float8 stay DOUBLE via the D suffix — a bare
            # `1234.5678` literal is DECIMAL to Spark, which would
            # let a bound UPDATE drift a double column's stored type
            if oid in (700, 701):
                return value + "D"
            return value
    if oid == 16:
        return "TRUE" if value in ("t", "true", "1") else "FALSE"
    return "'" + value.replace("'", "''") + "'"


def _split_statements(sql: str) -> list[str]:
    """Split a simple-query payload on top-level semicolons using the
    dialect tokenizer (semicolons inside strings/comments survive)."""
    from xtdb_spark.sql.rewriter import _tokenize

    parts, cur = [], []
    for kind, text in _tokenize(sql):
        if kind == "punct" and text == ";":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(text)
    parts.append("".join(cur))
    return [p for p in (s.strip() for s in parts) if p]


_TAG_RE = re.compile(
    r"^\s*(INSERT|UPDATE|DELETE|ERASE|PATCH|ASSERT|COPY|BEGIN|START|"
    r"COMMIT|ROLLBACK|SET|RESET|DISCARD)\b",
    re.IGNORECASE)

# statements accepted as connection-level no-ops (reference pgwire
# tags these for driver compatibility); BEGIN/COMMIT/ROLLBACK are
# real transaction-block control, handled in _run
_NOOP = {"SET", "RESET", "DISCARD"}


class _ResyncAfterError(Exception):
    """ErrorResponse already sent — main loop should drain to Sync
    without emitting a second error (postgres extended-protocol
    error recovery)."""


_ZONE_OFFSET_RE = re.compile(
    r"^(?P<posix>UTC|GMT)?\s*(?P<sign>[+-])\s*(?P<h>\d{1,2})"
    r"(?::?(?P<m>\d{2}))?$", re.IGNORECASE)


def _zone_delta(zone: str):
    """Session zone → UTC offset as a timedelta (local = UTC +
    delta), or None for an unknown zone (caller leaves the session
    UTC-pinned). Fixed offsets follow postgres: a bare '+05:30' is
    ISO-signed, but a UTC/GMT-prefixed 'UTC-3' is a POSIX zone spec
    whose sign is WEST-positive — postgres resolves 'UTC-3' to
    UTC+03 — so the prefix flips the sign. IANA names resolve
    through zoneinfo at the current instant — only correct for
    now-valued uses, which is the one thing this is used for (the
    CURRENT_DATE/LOCALTIME session wall clock, plus fixed offsets in
    _zone_renderer); stored timestamptz VALUES render through
    _zone_renderer's per-value offsets instead (round 10)."""
    import datetime as _dt

    z = (zone or "").strip().strip("'\"")
    m = _ZONE_OFFSET_RE.match(z)
    if m:
        off = _dt.timedelta(hours=int(m.group("h")),
                            minutes=int(m.group("m") or 0))
        sign = 1 if m.group("sign") == "+" else -1
        if m.group("posix"):
            sign = -sign          # POSIX west-positive semantics
        return sign * off
    try:
        from zoneinfo import ZoneInfo

        return _dt.datetime.now(ZoneInfo(z)).utcoffset()
    except Exception:
        return None


def _zone_renderer(zone: str | None):
    """Session zone → callable (naive-UTC datetime → utcoffset
    timedelta) for timestamptz TEXT rendering. Unlike _zone_delta
    (one session-level offset, used for the CURRENT_DATE wall clock —
    correct by definition at now's instant), this resolves IANA zones
    PER VALUE, so rows on the other side of a DST transition render
    at their own offset, exactly as postgres does. Returns the UTC
    renderer for no/unknown zone."""
    _utc = lambda v: _ZERO_OFF                            # noqa: E731
    z = (zone or "").strip().strip("'\"")
    if not z or z.upper() in ("UTC", "GMT", "ETC/UTC"):
        return _utc
    m = _ZONE_OFFSET_RE.match(z)
    if m:
        fixed = _zone_delta(z)
        return lambda v: fixed
    try:
        from zoneinfo import ZoneInfo

        zi = ZoneInfo(z)
    except Exception:
        return _utc
    return lambda v: v.replace(tzinfo=_dt.timezone.utc) \
        .astimezone(zi).utcoffset()


_ZERO_OFF = _dt.timedelta(0)


def _render_tstz(v: "_dt.datetime", off: "_dt.timedelta") -> str:
    """Postgres text format for timestamptz: the zone-local wall
    clock followed by its explicit UTC offset (`+05`, `-04:30`) —
    the value itself stays the UTC instant."""
    mins = int(off.total_seconds()) // 60
    sign = "+" if mins >= 0 else "-"
    hh, mm = divmod(abs(mins), 60)
    suffix = f"{sign}{hh:02d}" + (f":{mm:02d}" if mm else "")
    return (v + off).isoformat(sep=" ") + suffix


class _Conn:
    """One client connection (runs on its own thread)."""

    BATCH = 1024  # DataRows per socket write

    def __init__(self, sock: socket.socket, xt, auth: AuthRules | None = None,
                 ssl_context=None):
        self.sock = sock
        self.xt = xt
        self.auth = auth or AuthRules()
        self.ssl_context = ssl_context
        self.buf = b""
        self.statements: dict[str, tuple[str, list[int]]] = {}
        self.portals: dict[str, dict] = {}
        # explicit transaction block state: None = autocommit, else
        # the buffered submit_tx ops (reference pgwire.clj: DML in
        # BEGIN…COMMIT accumulates and commits as ONE atomic tx)
        self.tx: list | None = None
        self.tx_failed = False
        self.tx_opts: dict = {}
        # session settings: SET name = value / SET name TO value is
        # remembered per connection so SHOW and current_setting()
        # reflect it (reference pgwire session parameters; the
        # planner-relevant ones like timezone stay pinned — we
        # report, we don't re-plan by them)
        self.settings: dict[str, str] = {}
        # replication=database startup param switches this conn into
        # walsender mode (replication.py WalSender)
        self.replication = False
        # cancellation identity (BackendKeyData) — see cancel()
        self.pid = next(_PID_COUNTER)
        self.secret = _secrets.randbits(31)
        self.cancel_requested = False

    def cancel(self) -> None:
        """CancelRequest target (reference pgwire.clj:196 cmd-cancel):
        interrupt this connection's running Spark jobs.  Statements on
        this conn run inside job group `pgwire-<pid>` (thread-local,
        set once in handle()), so cancelJobGroup kills exactly its
        in-flight stages; the resulting exception surfaces as SQLSTATE
        57014 like postgres."""
        global _CANCELLED_TOTAL
        _CANCELLED_TOTAL += 1
        self.cancel_requested = True
        try:
            self.xt.spark.sparkContext.cancelJobGroup(f"pgwire-{self.pid}")
        except Exception:       # racing a finished query is fine
            pass

    # ---- low-level frames

    def _recv(self, n: int) -> bytes:
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionResetError
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def _send(self, type_: bytes, payload: bytes = b"") -> None:
        self.sock.sendall(type_ + struct.pack(">i", len(payload) + 4) + payload)

    @staticmethod
    def _cstr(s: str) -> bytes:
        return s.encode() + b"\x00"

    # ---- handshake

    def startup(self) -> bool:
        while True:
            (ln,) = struct.unpack(">i", self._recv(4))
            body = self._recv(ln - 4)
            (code,) = struct.unpack(">i", body[:4])
            if code == 80877103:        # SSLRequest
                # TLS upgrade when the server carries a context
                # (reference pgwire.clj:485-486 upgrade-to-ssl over
                # its keystore ssl-ctx); refused with 'N' otherwise
                if self.ssl_context is None:
                    self.sock.sendall(b"N")
                    continue
                self.sock.sendall(b"S")
                self.sock = self.ssl_context.wrap_socket(
                    self.sock, server_side=True)
                self.buf = b""
                continue
            if code == 80877102:        # CancelRequest (pid, secret)
                pid, secret = struct.unpack(">ii", body[4:12])
                target = _BACKENDS.get(pid)
                if target is not None and target[0] == secret:
                    target[1].cancel()
                return False
            if code == 196608:          # protocol 3.0
                break
            self._error("08P01", f"unsupported protocol code {code}")
            return False
        # startup params: key\0value\0 ... \0
        params: dict[str, str] = {}
        parts = body[4:].split(b"\x00")
        for k, v in zip(parts[::2], parts[1::2]):
            if k:
                params[k.decode()] = v.decode()
        if not self._authenticate(params.get("user", "")):
            return False
        self.replication = params.get("replication", "") in (
            "database", "true", "on", "1")
        # the remaining startup parameters are session settings, as
        # in postgres (application_name, …) — except TimeZone: the
        # session zone stays UTC until an explicit SET TIME ZONE
        self.settings.update(
            (k.lower(), v) for k, v in params.items()
            if k.lower() not in ("user", "database", "replication",
                                 "options", "timezone"))
        self._send(b"R", struct.pack(">i", 0))  # AuthenticationOk
        for k, v in (("server_version", "16.0 (xtdb_spark)"),
                     ("server_encoding", "UTF8"),
                     ("client_encoding", "UTF8"),
                     ("DateStyle", "ISO"),
                     ("TimeZone", "UTC"),
                     ("integer_datetimes", "on"),
                     ("standard_conforming_strings", "on")):
            self._send(b"S", self._cstr(k) + self._cstr(v))
        # BackendKeyData: pid + secret, the cancellation identity
        # (reference pgwire.clj:129,362 cmd-cancel) — a CancelRequest
        # on a fresh connection quoting them interrupts this conn's
        # running Spark jobs
        self._send(b"K", struct.pack(">ii", self.pid, self.secret))
        _BACKENDS[self.pid] = (self.secret, self)
        self._ready()
        return True

    def _authenticate(self, user: str) -> bool:
        """Run the auth exchange for `user` per the configured rules
        (reference authn.clj:16-71 + pgwire.clj startup): trust →
        AuthenticationOk immediately; password → AuthenticationCleartextPassword
        (R code 3); md5 → AuthenticationMD5Password (R code 5 + salt).
        No matching rule refuses the startup (SQLSTATE 28000)."""
        try:
            address = self.sock.getpeername()[0]
        except OSError:
            address = ""
        method = self.auth.method_for(user, address)
        if method is None:
            self._error("28000", f"no auth rule matches user {user!r}")
            return False
        if method == "trust":
            return True
        if method == "password":
            self._send(b"R", struct.pack(">i", 3))
            ok = self.auth.check_password(user, self._read_password())
        elif method == "md5":
            import os as _os

            salt = _os.urandom(4)
            self._send(b"R", struct.pack(">i", 5) + salt)
            ok = self.auth.check_md5(user, self._read_password(), salt)
        elif method == "scram-sha-256":
            ok = self._scram_exchange(user)
        else:
            self._error("28000", f"unsupported auth method {method!r}")
            return False
        if not ok:
            self._error("28P01", f"password authentication failed for "
                                 f"user {user!r}")
            return False
        return True

    def _read_password(self) -> str:
        """Read the client's PasswordMessage ('p')."""
        t = self._recv(1)
        (ln,) = struct.unpack(">i", self._recv(4))
        body = self._recv(ln - 4)
        if t != b"p":
            return ""
        return body.rstrip(b"\x00").decode()

    def _read_p(self) -> bytes:
        t = self._recv(1)
        (ln,) = struct.unpack(">i", self._recv(4))
        body = self._recv(ln - 4)
        return body if t == b"p" else b""

    def _scram_exchange(self, user: str) -> bool:
        """SCRAM-SHA-256 (RFC 5802/7677, the mechanism modern
        Postgres clients default to). Server side of the 4-message
        exchange; channel binding is not offered (gs2 'n')."""
        import base64
        import hashlib
        import hmac as _hmac
        import os as _os

        # AuthenticationSASL: advertise the mechanism
        self._send(b"R", struct.pack(">i", 10)
                   + self._cstr("SCRAM-SHA-256") + b"\x00")
        # SASLInitialResponse: mechanism cstr + int32 + client-first
        body = self._read_p()
        try:
            mech, rest = body.split(b"\x00", 1)
            (rlen,) = struct.unpack(">i", rest[:4])
            client_first = rest[4:4 + rlen].decode()
            if mech.decode() != "SCRAM-SHA-256":
                return False
            # gs2 header "n,," then n=user,r=nonce
            bare = client_first.split(",", 2)[2]
            attrs = dict(kv.split("=", 1) for kv in bare.split(","))
            cnonce = attrs["r"]
        except (ValueError, KeyError, IndexError, struct.error):
            return False
        snonce = base64.b64encode(_os.urandom(18)).decode()
        salt = _os.urandom(16)
        iterations = 4096
        server_first = (f"r={cnonce}{snonce},"
                        f"s={base64.b64encode(salt).decode()},i={iterations}")
        self._send(b"R", struct.pack(">i", 11) + server_first.encode())
        # SASLResponse: client-final "c=biws,r=...,p=proof"
        final = self._read_p().decode()
        try:
            without_proof, proof_part = final.rsplit(",p=", 1)
            fattrs = dict(kv.split("=", 1)
                          for kv in without_proof.split(","))
            if fattrs.get("r") != cnonce + snonce:
                return False
            proof = base64.b64decode(proof_part)
        except (ValueError, KeyError):
            return False
        keys = self.auth.scram_keys(user, salt, iterations)
        if keys is None:
            return False
        stored_key, server_key = keys
        auth_message = f"{bare},{server_first},{without_proof}".encode()
        client_sig = _hmac.new(stored_key, auth_message,
                               hashlib.sha256).digest()
        client_key = bytes(a ^ b for a, b in zip(proof, client_sig))
        if hashlib.sha256(client_key).digest() != stored_key:
            return False
        server_sig = _hmac.new(server_key, auth_message,
                               hashlib.sha256).digest()
        v = "v=" + base64.b64encode(server_sig).decode()
        self._send(b"R", struct.pack(">i", 12) + v.encode())
        return True

    def _ready(self) -> None:
        # protocol-correct status byte: Idle / in-Transaction / Error
        status = (b"E" if self.tx_failed
                  else b"T" if self.tx is not None else b"I")
        self._send(b"Z", status)

    def _error(self, sqlstate: str, message: str) -> None:
        self._send(b"E", b"S" + self._cstr("ERROR")
                   + b"C" + self._cstr(sqlstate)
                   + b"M" + self._cstr(message) + b"\x00")

    # ---- result encoding

    def _row_description(self, df, result_formats=None) -> None:
        fields = df.schema.fields
        fmts = _col_formats(len(fields), result_formats)
        payload = struct.pack(">h", len(fields))
        for f, fmt in zip(fields, fmts):
            oid = _oid_of(f.dataType.simpleString())
            payload += (self._cstr(f.name)
                        + struct.pack(">ihihih", 0, 0, oid, -1, -1, fmt))
        self._send(b"T", payload)

    def _send_rows(self, df, result_formats=None) -> int:
        oids = [_oid_of(f.dataType.simpleString())
                for f in df.schema.fields]
        fmts = _col_formats(len(oids), result_formats)
        return self._send_row_iter(df.toLocalIterator(), oids, fmts)

    def _send_row_iter(self, rows, oids, fmts, max_rows: int = 0) -> int:
        """DataRow encode/batch loop shared by the simple protocol
        (`_send_rows`) and suspended-portal Execute: stops after
        `max_rows` rows when non-zero (the iterator keeps its
        position for the next Execute).

        Timestamptz (oid 1184) TEXT values render in the SESSION
        ZONE with their explicit per-value UTC offset — at the wire
        boundary only, like postgres; binary 1184 and 1114 (ntz)
        values are never shifted. The stored/evaluated value stays
        the naive-UTC instant; the shift is pure display (see
        _apply_session_zone)."""
        zr = _zone_renderer(self.settings.get("timezone"))
        n = 0
        batch = []
        for row in rows:
            payload = struct.pack(">h", len(oids))
            for v, oid, fmt in zip(row, oids, fmts):
                if v is None:
                    payload += struct.pack(">i", -1)
                    continue
                if fmt == 1:
                    b = _binary_encode(v, oid)
                elif oid == 1184 and isinstance(v, _dt.datetime):
                    b = _render_tstz(v, zr(v)).encode()
                else:
                    b = (_text(v) or "").encode()
                payload += struct.pack(">i", len(b)) + b
            batch.append(b"D" + struct.pack(">i", len(payload) + 4) + payload)
            n += 1
            if len(batch) >= self.BATCH:
                self.sock.sendall(b"".join(batch))
                batch = []
            if max_rows and n >= max_rows:
                break
        if batch:
            self.sock.sendall(b"".join(batch))
        return n

    # session functions pg clients call on connect (SQLAlchemy, BI
    # tools); substituted token-aware so string literals are safe
    _COMPAT_FNS = {
        "version": "'PostgreSQL 16.0 (xtdb_spark)'",
        "current_schema": "'public'",
        "current_database": "'xtdb'",
        "current_user": "'xtdb'",
        "current_schemas": "array('public')",
    }

    @classmethod
    def _compat_sql(cls, sql: str) -> str:
        from xtdb_spark.sql.rewriter import _tokenize

        toks = _tokenize(sql)
        out, i = [], 0
        while i < len(toks):
            kind, text = toks[i]
            repl = cls._COMPAT_FNS.get(text.lower()) if kind == "word" else None
            if repl is not None:
                j = i + 1
                while j < len(toks) and toks[j][0] in ("ws", "comment"):
                    j += 1
                if j + 1 < len(toks) and toks[j] == ("punct", "(") and \
                        toks[j + 1] == ("punct", ")"):
                    out.append(repl)
                    i = j + 2
                    continue
                if text.lower() == "current_user":  # also valid bare
                    out.append(repl)
                    i += 1
                    continue
            out.append(text)
            i += 1
        return "".join(out)

    _SHOW_RE = re.compile(
        r"^\s*SHOW\s+([A-Za-z_.]+(?:\s+[A-Za-z_]+)*)\s*;?\s*$",
        re.IGNORECASE)
    _SET_TX_RE = re.compile(
        r"^\s*SET\s+(?:SESSION\s+CHARACTERISTICS\s+AS\s+)?"
        r"TRANSACTION\s+(?P<body>.+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL)

    def _latest_tx_id(self):
        """Latest committed tx id from the store's tx log manifest —
        the snapshot/basis token (reference basis.clj tokens; our
        tx id IS the system time in micros, tx.py _record_tx)."""
        import json as _json
        import os as _os

        path = _os.path.join(self.xt.store.warehouse, "_txs.jsonl")
        last = None
        if _os.path.exists(path):
            with open(path) as f:
                for ln in f:
                    if ln.strip():
                        rec = _json.loads(ln)
                        if rec.get("committed"):
                            last = rec["tx_id"]
        return last
    _SET_RE = re.compile(
        r"^\s*SET\s+(?:SESSION\s+)?(?:(?P<tz>TIME\s+ZONE)|"
        r"(?P<name>[A-Za-z_.]+)\s*(?:=|TO))\s*(?P<val>.+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL)

    def _run(self, sql: str, describe_only: bool = False,
             result_formats: list[int] | None = None,
             send_desc: bool = True):
        """Execute one statement; emit T/D*/C (or just T).
        `result_formats` = Bind's per-column format codes (extended
        protocol only; the simple protocol is always text).
        `send_desc=False` suppresses RowDescription — Execute on an
        already-Described portal (postgres: 'T' belongs to Describe,
        and pgjdbc treats a second one as a new result set)."""
        if not sql.strip():
            self._send(b"I")  # EmptyQueryResponse
            return
        m_role = re.match(r"^\s*SET\s+ROLE\s+([A-Za-z_]\w*)\s*;?\s*$",
                          sql, re.IGNORECASE)
        if m_role:
            # SET ROLE name | NONE (Sql.g4:46 SetRoleStatement) —
            # recorded, reportable via SHOW role, like the reference
            r = m_role.group(1)
            if r.upper() == "NONE":
                self.settings.pop("role", None)
            else:
                self.settings["role"] = r
            self._send(b"C", self._cstr("SET"))
            return
        m_set = self._SET_RE.match(sql)
        if m_set:
            name = ("timezone" if m_set.group("tz")
                    else m_set.group("name").lower())
            val = m_set.group("val").strip()
            if val and val[0] == "'" and val[-1] == "'":
                val = val[1:-1].replace("''", "'")
            self.settings[name] = val
            self._send(b"C", self._cstr("SET"))
            return
        m_txc = self._SET_TX_RE.match(sql)
        if m_txc:
            # SET TRANSACTION / SET SESSION CHARACTERISTICS AS
            # TRANSACTION (Sql.g4:42,45): record isolation/access
            # mode as session settings (single-writer store executes
            # read-committed; the characteristics are reportable
            # state, like the reference's cmd-set-transaction)
            body = m_txc.group("body")
            iso = re.search(r"ISOLATION\s+LEVEL\s+([A-Za-z ]+?)\s*(?:,|$)",
                            body, re.IGNORECASE)
            if iso:
                self.settings["transaction_isolation"] = \
                    " ".join(iso.group(1).lower().split())
            if re.search(r"READ\s+ONLY", body, re.IGNORECASE):
                self.settings["transaction_read_only"] = "on"
            elif re.search(r"READ\s+WRITE", body, re.IGNORECASE):
                self.settings["transaction_read_only"] = "off"
            self._send(b"C", self._cstr("SET"))
            return
        m_show = self._SHOW_RE.match(sql)
        if m_show:
            name = show_name(m_show.group(1))
            val = self._setting(name)
            if val is None:
                self._error("42704", "unrecognized configuration "
                            f'parameter "{name}"')
                return
            payload = (struct.pack(">h", 1) + self._cstr(name)
                       + struct.pack(">ihihih", 0, 0, 25, -1, -1, 0))
            self._send(b"T", payload)
            if not describe_only:
                b = val.encode()
                self._send(b"D", struct.pack(">h", 1)
                           + struct.pack(">i", len(b)) + b)
                self._send(b"C", self._cstr("SHOW"))
            return
        m_copy = self._COPY_RE.match(sql)
        if m_copy:
            # tx checks must come FIRST: COPY executes immediately and
            # non-atomically, so inside BEGIN...COMMIT (or an aborted
            # block) it must be rejected, not run (postgres 25P02 /
            # reference pgwire.clj COPY-outside-tx rule)
            if self.tx_failed:
                self._error("25P02", "current transaction is aborted, "
                            "commands ignored until end of transaction "
                            "block")
                return
            if self.tx is not None:
                self.tx_failed = True
                self._error("25001", "COPY is not allowed inside a "
                            "transaction block")
                return
            self._copy_in(m_copy.group("table"),
                          m_copy.group("opts") or "")
            return
        sql = self._apply_session_zone(
            self._apply_setting_fns(self._compat_sql(sql)))
        m = _TAG_RE.match(sql)
        kw = m.group(1).upper() if m else None
        if self.tx_failed and kw not in ("COMMIT", "ROLLBACK"):
            self._error("25P02", "current transaction is aborted, "
                        "commands ignored until end of transaction block")
            return
        if kw in ("BEGIN", "START"):
            # BEGIN [TRANSACTION] | START TRANSACTION with
            # characteristics (Sql.g4:41,837-860): READ ONLY WITH
            # (SNAPSHOT_TOKEN/SNAPSHOT_TIME/CLOCK_TIME/AWAIT_TOKEN/
            # TIMEZONE …) pins the whole block's basis — every query
            # inside runs at that snapshot/clock (repeatable read);
            # READ WRITE WITH (SYSTEM_TIME …) commits the block's
            # DML at the given system time (reference tx-options,
            # basis.clj). ASYNC/METADATA are accepted (appends are
            # synchronous here, so ASYNC=false semantics hold).
            if self.tx is None:
                try:
                    opts = self._parse_tx_options(sql)
                except ValueError as e:
                    self._error("42601", str(e))
                    return
                self.tx, self.tx_failed = [], False
                self.tx_opts = opts
                if opts.get("timezone") is not None:
                    self._tz_saved = self.settings.get("timezone")
                    self.settings["timezone"] = opts["timezone"]
            self._send(b"C", self._cstr("BEGIN"))
            return
        if kw == "ROLLBACK":
            self.tx, self.tx_failed = None, False
            self._end_tx_opts()
            self._send(b"C", self._cstr("ROLLBACK"))
            return
        if kw == "COMMIT":
            if self.tx_failed:          # postgres: COMMIT of a failed
                self.tx, self.tx_failed = None, False   # tx rolls back
                self._end_tx_opts()
                self._send(b"C", self._cstr("ROLLBACK"))
                return
            ops, self.tx = self.tx, None
            sys_t = self.tx_opts.get("system_time")
            self._end_tx_opts()
            if ops:
                # raises → wire error upstream
                self.xt.submit_tx(ops, **({"system_from": sys_t}
                                          if sys_t else {}))
            self._send(b"C", self._cstr("COMMIT"))
            return
        if kw in _NOOP:
            if kw == "RESET":
                # RESET ALL | RESET <name>
                arg = sql.strip().rstrip(";").split(None, 1)
                name = arg[1].strip().lower() if len(arg) > 1 else "all"
                if name == "all":
                    self.settings.clear()
                else:
                    self.settings.pop(name, None)
            elif kw == "DISCARD":
                # DISCARD ALL drops all session state
                self.settings.clear()
                self.statements.clear()
                self.portals.clear()
            self._send(b"C", self._cstr(kw))
            return
        if self.tx is not None and kw is not None:
            if self.tx_opts.get("read_only"):
                self.tx_failed = True
                self._error("25006", f"cannot execute {kw} in a "
                            "read-only transaction")
                return
            # DML inside an explicit block: record, don't execute
            from xtdb_spark.sql.dml import record_dml_ops

            self.tx.extend(record_dml_ops(self.xt, sql))
            tag = {"INSERT": "INSERT 0 0"}.get(kw, kw + " 0")
            if not describe_only:
                self._send(b"C", self._cstr(tag))
            else:
                self._send(b"n")
            return
        if self.tx is not None:
            sql = self._with_tx_basis(sql)
        df = self.xt.sql(sql)
        from pyspark.sql import DataFrame as _DF

        if m and isinstance(df, _DF):
            # DML … RETURNING (Sql.g4:788): rows + the DML tag with
            # the affected count, postgres-style
            if send_desc:
                self._row_description(df, result_formats)
            if describe_only:
                return
            n = self._send_rows(df, result_formats)
            kw2 = m.group(1).upper()
            tag = f"INSERT 0 {n}" if kw2 == "INSERT" else f"{kw2} {n}"
            self._send(b"C", self._cstr(tag))
            return
        if df is None or m or not isinstance(df, _DF):
            # DML (or a statement like EXECUTE-of-DML that returned a
            # tx time, not a relation): no result rows, just the tag
            tag = (m.group(1).upper() if m else "OK")
            tag = {"INSERT": "INSERT 0 0"}.get(tag, tag + " 0")
            if not describe_only:
                self._send(b"C", self._cstr(tag))
            else:
                self._send(b"n")     # NoData
            return
        if send_desc:
            self._row_description(df, result_formats)
        if describe_only:
            return
        n = self._send_rows(df, result_formats)
        self._send(b"C", self._cstr(f"SELECT {n}"))

    _BEGIN_RE = re.compile(
        r"(?is)^\s*(?:BEGIN|START)\s*(?:TRANSACTION\b\s*)?"
        r"(?P<body>.*?);?\s*$")
    _TXOPT_RE = re.compile(
        r"(?is)\b(?P<name>SNAPSHOT_TOKEN|SNAPSHOT_TIME|CLOCK_TIME|"
        r"AWAIT_TOKEN|SYSTEM_TIME|ASYNC|METADATA|TIMEZONE|"
        r"TIME\s+ZONE)\s*=?\s*(?:(?:TIMESTAMP|DATE)\s*)?"
        r"(?P<val>'(?:[^']|'')*'|[\w.+:-]+)")

    def _parse_tx_options(self, sql: str) -> dict:
        """BEGIN/START TRANSACTION characteristics (Sql.g4:837-860):
        access mode, isolation (recorded), and the WITH (…) basis
        options. Returns {} for a bare BEGIN."""
        body = self._BEGIN_RE.match(sql).group("body") or ""
        opts: dict = {}
        if re.search(r"(?i)\bREAD\s+ONLY\b", body):
            opts["read_only"] = True
        iso = re.search(r"(?i)ISOLATION\s+LEVEL\s+"
                        r"([A-Za-z]+(?:\s+[A-Za-z]+)?)", body)
        if iso:
            self.settings["transaction_isolation"] = \
                " ".join(iso.group(1).lower().split())
        wm = re.search(r"(?is)\bWITH\s*\((?P<opts>.*)\)", body)
        if not wm:
            return opts
        for om in self._TXOPT_RE.finditer(wm.group("opts")):
            name = "_".join(om.group("name").lower().split())
            name = {"time_zone": "timezone"}.get(name, name)
            val = om.group("val")
            if val and val[0] == "'":
                val = val[1:-1].replace("''", "'")
            if name == "snapshot_token":
                from xtdb_spark.sql.rewriter import _token_to_ts

                opts["snapshot_time"] = _token_to_ts(val)
            elif name in ("snapshot_time", "clock_time",
                          "system_time", "timezone"):
                opts[name] = val
            elif name == "await_token":
                # appends are synchronous: everything ≤ any token is
                # already indexed — record it, nothing to wait for
                self.settings["await_token"] = val
            # ASYNC / METADATA: accepted; commit is synchronous and
            # metadata travels in the ledger line, nothing to do
        if (opts.get("snapshot_time") or opts.get("clock_time")) \
                and not opts.get("read_only"):
            raise ValueError("SNAPSHOT_TOKEN/SNAPSHOT_TIME/CLOCK_TIME "
                             "require a READ ONLY transaction")
        if opts.get("system_time") and opts.get("read_only"):
            raise ValueError("SYSTEM_TIME requires a READ WRITE "
                             "transaction")
        return opts

    def _end_tx_opts(self) -> None:
        if getattr(self, "_tz_saved", None) is not None \
                or "timezone" in self.tx_opts:
            saved = getattr(self, "_tz_saved", None)
            if saved is None:
                self.settings.pop("timezone", None)
            else:
                self.settings["timezone"] = saved
            self._tz_saved = None
        self.tx_opts = {}

    def _with_tx_basis(self, sql: str) -> str:
        """Inside a basis-pinned block, queries get the block's
        SETTING prefix (reference: the tx basis fixes snapshot and
        clock for every statement in the tx). An explicit user
        SETTING prefix on the statement wins."""
        snap, clock = (self.tx_opts.get("snapshot_time"),
                       self.tx_opts.get("clock_time"))
        if (snap is None and clock is None) \
                or re.match(r"(?is)^\s*SETTING\b", sql):
            return sql
        parts = []
        if snap is not None:
            parts.append("SNAPSHOT_TIME TO TIMESTAMP '"
                         + snap.replace("'", "''") + "'")
        if clock is not None:
            parts.append("CLOCK_TIME TO TIMESTAMP '"
                         + clock.replace("'", "''") + "'")
        return "SETTING " + ", ".join(parts) + " " + sql

    _CURSET_RE = re.compile(r"current_setting\s*\(\s*'([^']*)'\s*\)",
                            re.IGNORECASE)
    _SNAPTOK_FN_RE = re.compile(r"\bSNAPSHOT_TOKEN\s*(?:\(\s*\))?"
                                r"(?!\s*(?:\(|TO\b|=))",
                                re.IGNORECASE)

    def _setting(self, name: str) -> str | None:
        """A setting as SHOW and current_setting() report it; None
        for a name the connection does not know. The xtdb token
        variables (Sql.g4:52-54) are live values, not static settings
        — snapshot token = latest committed tx id (the basis the next
        read runs at; appends are synchronous so indexed ==
        committed), clock time = the node's current wall clock.
        `transaction_read_only` is the open block's access mode, and
        outside a block the session default (SET SESSION
        CHARACTERISTICS, else off). Anything else is a SET or
        startup value over the static table."""
        if name == "snapshot_token":
            return str(self._latest_tx_id() or "")
        if name == "clock_time":
            import datetime as _dtm

            return _dtm.datetime.now(_dtm.timezone.utc).isoformat()
        if name == "await_token":
            return self.settings.get("await_token", "")
        if name == "transaction_read_only":
            if self.tx is not None:
                return "on" if self.tx_opts.get("read_only") else "off"
            return self.settings.get(name, "off")
        return self.settings.get(name, SHOW_VALUES.get(name))

    def _apply_setting_fns(self, sql: str) -> str:
        """current_setting('name') (reference Sql.g4:364
        CurrentSettingFunction) → the session's value as a literal —
        SET-set values first, then the static defaults, else NULL.
        SNAPSHOT_TOKEN [()] (Sql.g4:379 SnapshotTokenFunction) → the
        current basis token as a literal (same value SHOW
        SNAPSHOT_TOKEN reports); the SETTING/tx-option spellings
        (followed by TO/=/value) are left for their own parsers."""
        def repl(m):
            val = self._setting(m.group(1).lower())
            if val is None:
                return "CAST(NULL AS STRING)"
            return "'" + val.replace("'", "''") + "'"

        sql = self._CURSET_RE.sub(repl, sql)
        if self._SNAPTOK_FN_RE.search(sql):
            tok = str(self._latest_tx_id() or "")
            sql = self._SNAPTOK_FN_RE.sub("'" + tok + "'", sql)
        return sql

    _CLOCK_PREFIX_RE = re.compile(r"(?is)^\s*SETTING\b.*?\bCLOCK_TIME\b")

    def _apply_session_zone(self, sql: str) -> str:
        """Honor `SET TIME ZONE` with postgres semantics (reference
        pgwire session params + query.clj:429 expr/*clock*): the
        session zone NEVER changes the instant a query evaluates at —
        stored timestamps are naive-UTC-valued instants, so
        CURRENT_TIMESTAMP / NOW() / LOCALTIMESTAMP pin to the current
        UTC instant (predicates like `_system_from <= NOW()` and DML
        writes are zone-independent, exactly as in postgres where the
        zone affects rendering only). The zone shows up in two
        places: (a) CURRENT_DATE / CURRENT_TIME / LOCALTIME, which
        postgres defines as SESSION-ZONE wall clock, take their parts
        from the zone-local clock; (b) timestamp RESULT VALUES are
        shifted into the session zone at the wire boundary
        (_send_row_iter), like postgres renders timestamptz. An
        explicit SETTING CLOCK_TIME prefix wins (the user pinned the
        clock; we must not substitute underneath it)."""
        zone = self.settings.get("timezone")
        if not zone or zone.upper() in ("UTC", "GMT", "ETC/UTC"):
            return sql
        if self._CLOCK_PREFIX_RE.match(sql):
            return sql
        if self.tx is not None and self.tx_opts.get("clock_time"):
            return sql            # the tx basis pins the clock
        zd = _zone_delta(zone)
        if zd is None:
            return sql
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        from xtdb_spark.sql.rewriter import apply_clock

        return apply_clock(sql, now.isoformat(sep=" "),
                           local_clock=(now + zd).isoformat(sep=" "))

    _COPY_RE = re.compile(
        r"^\s*COPY\s+(?P<table>[\w.]+|\"(?:[^\"]|\"\")*\")\s+FROM\s+STDIN"
        r"(?:\s+WITH\s*\((?P<opts>.*?)\))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL)
    _COPY_FMT_RE = re.compile(r"FORMAT\s*=?\s*'([^']*)'", re.IGNORECASE)

    def _copy_in(self, table: str, opts: str) -> None:
        """COPY <table> FROM STDIN (reference pgwire.clj:1298-1317,
        CopyInStmt Sql.g4:40): CopyInResponse → CopyData* →
        CopyDone/CopyFail → bulk document ingest. Formats:
        'arrow-stream' / 'arrow-file' (the reference's main formats —
        parsed with pyarrow IPC), 'json' (JSON-lines of documents),
        and 'transit-json' (the reference's primary document codec —
        pure-Python reader, xtdb_spark/transit.py)."""
        fm = self._COPY_FMT_RE.search(opts or "")
        fmt = fm.group(1).lower() if fm else None
        if fmt not in ("arrow-stream", "arrow-file", "json",
                       "transit-json", "transit-msgpack"):
            raise ValueError(
                "COPY IN requires a valid format: 'arrow-file', "
                "'arrow-stream', 'json', 'transit-json', "
                "'transit-msgpack'")
        table = table.strip('"')
        # CopyInResponse: overall binary format, 0 column formats
        self._send(b"G", struct.pack(">bh", 1, 0))
        chunks: list[bytes] = []
        failed: str | None = None
        while True:
            t = self._recv(1)
            (ln,) = struct.unpack(">i", self._recv(4))
            body = self._recv(ln - 4)
            if t == b"d":                    # CopyData
                chunks.append(body)
            elif t == b"c":                  # CopyDone
                break
            elif t == b"f":                  # CopyFail
                failed = body.rstrip(b"\x00").decode() or "COPY aborted"
                break
            elif t in (b"H", b"S"):          # Flush/Sync mid-copy
                continue
            else:
                failed = f"unexpected message {t!r} during COPY"
                break
        if failed is not None:
            raise ValueError(f"COPY failed: {failed}")
        data = b"".join(chunks)
        if fmt == "json":
            import json as _json

            rows = [_json.loads(ln) for ln in data.decode().splitlines()
                    if ln.strip()]
        elif fmt == "transit-json":
            # the reference's primary document wire form
            # (types.clj:284-294, pgwire.clj:1324) — one transit map
            # per line; see xtdb_spark/transit.py for the subset
            from xtdb_spark import transit

            rows = transit.parse_lines(data)
        elif fmt == "transit-msgpack":
            # same transit semantics over MessagePack framing — a
            # stream of concatenated msgpack maps
            from xtdb_spark import transit

            rows = transit.parse_msgpack(data)
        else:
            import pyarrow as pa

            rdr = (pa.ipc.open_stream(pa.BufferReader(data))
                   if fmt == "arrow-stream"
                   else pa.ipc.open_file(pa.BufferReader(data)))
            rows = rdr.read_all().to_pylist()
        if not rows:
            self._send(b"C", self._cstr("COPY 0"))
            return
        self.xt.store.put(table, rows)
        self._send(b"C", self._cstr(f"COPY {len(rows)}"))

    # ---- message loop

    def handle(self) -> None:
        if not self.startup():
            return
        try:
            # all of this conn's Spark actions run in its own job
            # group so CancelRequest can interrupt them (thread-local
            # property; one thread per connection)
            self.xt.spark.sparkContext.setJobGroup(
                f"pgwire-{self.pid}", "pgwire statement",
                interruptOnCancel=True)
        except Exception:
            pass
        try:
            while True:
                t = self._recv(1)
                (ln,) = struct.unpack(">i", self._recv(4))
                body = self._recv(ln - 4)
                if t == b"X":
                    return
                try:
                    # a stale cancel that raced a COMPLETED statement
                    # must not relabel the next unrelated error 57014
                    self.cancel_requested = False
                    self._dispatch(t, body)
                except (ConnectionResetError, BrokenPipeError):
                    raise
                except _ResyncAfterError:
                    # ErrorResponse already sent (e.g. missing
                    # portal/statement) — just drain to Sync
                    if self.tx is not None:
                        self.tx_failed = True
                    self._sync_after_error()
                except Exception as e:  # noqa: BLE001 — every engine error → wire error
                    if self.tx is not None:   # error inside a tx block
                        self.tx_failed = True  # aborts it (postgres 25P02)
                    if self.cancel_requested:
                        self.cancel_requested = False
                        self._error("57014", "canceling statement due "
                                             "to user request")
                    else:
                        self._error("XX000", f"{type(e).__name__}: {e}")
                    if t == b"Q":
                        self._ready()
                    else:
                        self._sync_after_error()
        finally:
            _BACKENDS.pop(self.pid, None)

    def _sync_after_error(self) -> None:
        """Extended protocol: skip messages until Sync, then ReadyForQuery."""
        while True:
            t = self._recv(1)
            (ln,) = struct.unpack(">i", self._recv(4))
            self._recv(ln - 4)
            if t == b"S":
                self._ready()
                return
            if t == b"X":
                raise ConnectionResetError

    def _dispatch(self, t: bytes, body: bytes) -> None:
        if t == b"Q":
            stmts = _split_statements(body.rstrip(b"\x00").decode())
            if not stmts:
                self._send(b"I")
            for s in stmts:
                if self.replication:
                    # walsender grammar first (IDENTIFY_SYSTEM /
                    # *_REPLICATION_SLOT / START_REPLICATION); plain
                    # SQL still falls through, like postgres
                    from xtdb_spark.replication import WalSender
                    if WalSender(self, self.xt.store).handle(s):
                        continue
                self._run(s)
            self._ready()
        elif t == b"P":                      # Parse
            name, rest = body.split(b"\x00", 1)
            sql, rest = rest.split(b"\x00", 1)
            (nparams,) = struct.unpack(">h", rest[:2])
            oids = list(struct.unpack(f">{nparams}i", rest[2:2 + 4 * nparams]))
            self.statements[name.decode()] = (sql.decode(), oids)
            self._send(b"1")                 # ParseComplete
        elif t == b"B":                      # Bind
            portal, rest = body.split(b"\x00", 1)
            stmt, rest = rest.split(b"\x00", 1)
            # per-argument format codes (0=text, 1=binary) —
            # reference pgwire.clj:887 arg-format
            (nfmt,) = struct.unpack(">h", rest[:2])
            pfmts = list(struct.unpack(f">{nfmt}h", rest[2:2 + 2 * nfmt]))
            rest = rest[2 + 2 * nfmt:]
            (nvals,) = struct.unpack(">h", rest[:2])
            rest = rest[2:]
            raw: list[bytes | None] = []
            for _ in range(nvals):
                (vlen,) = struct.unpack(">i", rest[:4])
                rest = rest[4:]
                if vlen == -1:
                    raw.append(None)
                else:
                    raw.append(rest[:vlen])
                    rest = rest[vlen:]
            # result-format codes — reference pgwire.clj:1164
            (nrf,) = struct.unpack(">h", rest[:2])
            rfmts = list(struct.unpack(f">{nrf}h", rest[2:2 + 2 * nrf]))
            sql, oids = self.statements[stmt.decode()]
            params: list[str | None] = []
            for i, b in enumerate(raw):
                fmt = (pfmts[i] if len(pfmts) == nvals
                       else (pfmts[0] if pfmts else 0))
                if b is None:
                    params.append(None)
                elif fmt == 1:
                    params.append(_binary_param_text(
                        b, oids[i] if i < len(oids) else 0))
                else:
                    params.append(b.decode())
            self.portals[portal.decode()] = {
                "sql": self._bind(sql, params, oids), "rfmts": rfmts,
                "described": False, "suspended": None}
            self._send(b"2")                 # BindComplete
        elif t == b"D":                      # Describe
            kind, name = body[:1], body[1:].rstrip(b"\x00").decode()
            if kind == b"S":
                if name not in self.statements:
                    self._error("26000",
                                f"prepared statement {name!r} does "
                                "not exist")
                    raise _ResyncAfterError
                sql, oids = self.statements[name]
                self._send(b"t", struct.pack(">h", len(oids))
                           + b"".join(struct.pack(">i", o or 25) for o in oids))
                self._describe_sql(sql)
            else:
                if name not in self.portals:
                    self._error("34000",
                                f"portal {name!r} does not exist")
                    raise _ResyncAfterError
                p = self.portals[name]
                df = self._portal_df(p)
                if df is not None:
                    self._row_description(df, p["rfmts"])
                else:
                    self._describe_sql(p["sql"], p["rfmts"])
                p["described"] = True
        elif t == b"E":                      # Execute
            name, rest = body.split(b"\x00", 1)
            max_rows = struct.unpack(">i", rest[:4])[0] if len(rest) >= 4 \
                else 0
            if name.decode() not in self.portals:
                self._error("34000",
                            f"portal {name.decode()!r} does not exist")
                raise _ResyncAfterError
            self._execute_portal(self.portals[name.decode()], max_rows)
        elif t == b"C":                      # Close
            kind, cname = body[:1], body[1:].rstrip(b"\x00").decode()
            if kind == b"S":
                self.statements.pop(cname, None)
            else:
                self.portals.pop(cname, None)
            self._send(b"3")
        elif t == b"H":                      # Flush
            pass
        elif t == b"S":                      # Sync
            self._ready()
        else:
            self._error("08P01", f"unhandled message type {t!r}")

    # side-effect-free reads: the statements a portal plans before
    # Execute (anything else may act when built — DML, EXECUTE,
    # PREPARE, SHOW, SET, COPY)
    _READ_RE = re.compile(r"^\s*(?:SELECT|WITH|VALUES|SETTING)\b",
                          re.IGNORECASE)

    def _plan(self, sql: str):
        """Build a wire read's DataFrame the way _run executes a
        query: session functions, session zone and the transaction
        block's basis applied, then `xt.sql` (rewrite, column naming,
        Spark analysis)."""
        sql = self._apply_session_zone(
            self._apply_setting_fns(self._compat_sql(sql)))
        if self.tx is not None:
            sql = self._with_tx_basis(sql)
        return self.xt.sql(sql)

    def _portal_df(self, p: dict):
        """The portal's DataFrame, for a side-effect-free read: built
        once, by Describe or else by the first Execute, and kept on
        the portal until it is closed or rebound (postgres: a portal
        is a bound, planned statement). None for any other statement
        and inside a failed transaction — those go through _run,
        which answers 25P02."""
        if self.tx_failed or not self._READ_RE.match(p["sql"]):
            return None
        if "df" not in p:
            p["df"] = self._plan(p["sql"])
        return p["df"]

    def _describe_sql(self, sql: str,
                      result_formats: list[int] | None = None) -> None:
        """Describe of a prepared statement, and of a portal that
        _portal_df does not plan: RowDescription or NoData, executing
        nothing. A read is named exactly as Execute names it."""
        if self._SHOW_RE.match(sql):
            self._run(sql, describe_only=True)
            return
        if _TAG_RE.match(sql) or not sql.strip() or self.tx_failed \
                or re.search(r"\$\d+", sql):
            # unbound params: the client describes the portal after
            # Bind to get the row shape; a failed transaction builds
            # nothing (Execute answers 25P02)
            self._send(b"n")                 # NoData
            return
        if self._READ_RE.match(sql):
            df = self._plan(sql)
        else:
            from xtdb_spark.sql.rewriter import rewrite

            df = self.xt.spark.sql(rewrite(self.xt, self._compat_sql(sql)))
        self._row_description(df, result_formats)

    def _execute_portal(self, p: dict, max_rows: int) -> None:
        """Execute message semantics (postgres protocol / reference
        pgwire.clj portal execution): `max_rows > 0` returns at most
        that many rows then PortalSuspended ('s'); a later Execute on
        the same portal CONTINUES from where it stopped (JDBC
        setFetchSize — pgjdbc uses it only with autocommit off, so it
        works inside BEGIN too). Execute never re-sends
        RowDescription once the portal was Described (pgjdbc treats a
        second 'T' as a new result set); an un-Described portal still
        gets one so simple clients keep working. A read runs its
        kept DataFrame (_portal_df); anything else goes through
        _run."""
        s, p["suspended"] = p["suspended"], None
        if s is None:
            df = self._portal_df(p)
            if df is None:
                self._run(p["sql"], result_formats=p["rfmts"],
                          send_desc=not p["described"])
                return
            if not p["described"]:
                self._row_description(df, p["rfmts"])
            oids = [_oid_of(f.dataType.simpleString())
                    for f in df.schema.fields]
            s = {"iter": df.toLocalIterator(), "oids": oids,
                 "fmts": _col_formats(len(oids), p["rfmts"]), "sent": 0}
        n = self._send_row_iter(s["iter"], s["oids"], s["fmts"], max_rows)
        s["sent"] += n
        if max_rows and n >= max_rows:
            p["suspended"] = s
            self._send(b"s")                 # PortalSuspended
            return
        self._send(b"C", self._cstr(f"SELECT {s['sent']}"))

    @staticmethod
    def _bind(sql: str, params: list[str | None], oids: list[int]) -> str:
        """Substitute $n with typed literals (see _literal),
        token-aware: a `$n` inside a string literal, quoted
        identifier, or comment is DATA and must survive verbatim —
        regex-over-raw-SQL substitution would rewrite it."""
        from xtdb_spark.sql.rewriter import _tokenize

        toks = _tokenize(sql)
        out, i = [], 0
        while i < len(toks):
            kind, text = toks[i]
            if (kind == "punct" and text == "$"
                    and i + 1 < len(toks) and toks[i + 1][0] == "num"
                    and toks[i + 1][1].isdigit()):
                idx = int(toks[i + 1][1]) - 1
                if 0 <= idx < len(params):
                    oid = oids[idx] if idx < len(oids) else 0
                    out.append(_literal(params[idx], oid))
                    i += 2
                    continue
            out.append(text)
            i += 1
        return "".join(out)


class PgWireServer:
    """`PgWireServer(xt).start()` → `psql -h 127.0.0.1 -p <port>`.

    Reference analogue: pgwire.clj's netty server; here a thread per
    connection (each connection issues blocking Spark actions anyway).
    """

    def __init__(self, xt, host: str = "127.0.0.1", port: int = 0,
                 auth: AuthRules | None = None,
                 ssl_certfile: str | None = None,
                 ssl_keyfile: str | None = None):
        """`ssl_certfile`/`ssl_keyfile` (PEM) enable the TLS upgrade
        path: a client's SSLRequest is answered 'S' and the
        connection wrapped (reference pgwire.clj ssl-ctx from its
        `ssl {keystore …}` config, ->ssl-ctx:1837); without them the
        server answers 'N' and continues in cleartext, which every
        client negotiates (sslmode=prefer)."""
        self.xt = xt
        self.host = host
        self.auth = auth
        self.ssl_context = None
        if ssl_certfile:
            import ssl as _ssl

            self.ssl_context = _ssl.SSLContext(_ssl.PROTOCOL_TLS_SERVER)
            self.ssl_context.load_cert_chain(ssl_certfile, ssl_keyfile)

        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):  # noqa: D401
                try:
                    _Conn(self.request, outer.xt, outer.auth,
                          ssl_context=outer.ssl_context).handle()
                except (ConnectionResetError, BrokenPipeError):
                    pass

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "PgWireServer":
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
