"""Logical-replication PUBLISHER: the pgwire server side of Postgres
streaming replication, emitting wal2json v2 change lines from the
store's own tx log.

Reference parity: the reference CONSUMES a Postgres logical slot
(modules/postgres-source, PostgresSource.kt:42-220) and PRODUCES a
CDC stream of its own committed txs for downstream consumers. Here
both halves speak the PUBLIC Postgres replication wire protocol
(walsender subprotocol over pgwire, PostgreSQL docs "Streaming
Replication Protocol"; same spirit as streaming/kafkalite.py for the
Kafka protocol):

- `IDENTIFY_SYSTEM`, `CREATE_REPLICATION_SLOT name LOGICAL wal2json`,
  `DROP_REPLICATION_SLOT name`, `START_REPLICATION SLOT name LOGICAL
  X/Y` on a connection opened with the `replication=database` startup
  parameter (pgwire.py routes those here).
- Change data comes from the commit protocol's OWN artifacts — no
  separate WAL is kept: `_txs.jsonl` is the ordered ledger of
  committed tx ids, and every event file a tx wrote is identifiable
  by its `part-xt{txid}-` name (tx.py:554-573 controlled naming).
  One tx = one consistent batch of wal2json lines, read driver-side
  with pyarrow (metadata-scale work; the walsender never launches a
  Spark job).
- The tx id IS the LSN (both are the log position; rendered in the
  standard `X/Y` hex form). A slot's `confirmed_flush` persists in
  `_slots.json`, so disconnect/reconnect resumes exactly after the
  last acknowledged tx — the reference's resume-token semantics
  (PostgresSource.kt:199-210) from the publisher side.

Compaction interplay (the WAL-retention problem, solved the postgres
way): the stream replays from live event files, and compaction
(`optimize(full=True)` included) rewrites them under new names — so
every job (`compactor.run_job`) archives the wal2json rendering of
every tx some slot hasn't confirmed to `_wal/<txid>.jsonl` BEFORE
consuming its files (`archive_unacked`; postgres likewise retains
WAL segments for lagging slots). `changes_for_tx` reads the archive
first; acks and slot drops trim it; with no slots there is zero
overhead.

Scale shape: one slot reader streams metadata + row payloads for ONE
tx at a time (bounded memory); the apply side
(sources/cdc.py:apply_cdc_batch) stays fully distributed.
"""

from __future__ import annotations

import glob as _glob
import json as _json
import os
import struct
import time

# epoch shift: Postgres wire timestamps are µs since 2000-01-01 UTC
_PG_EPOCH_OFFSET_S = 946_684_800

_INTERNAL_COLS = ("_iid", "_valid_from", "_valid_to", "_system_from", "op")

# parquet/arrow type → the pg type name wal2json would print
_PG_TYPES = {
    "int64": "bigint", "int32": "integer", "double": "double precision",
    "float": "real", "string": "text", "large_string": "text",
    "bool": "boolean", "date32[day]": "date", "binary": "bytea",
    "large_binary": "bytea",
}


def lsn_str(lsn: int) -> str:
    """64-bit log position → the standard `X/Y` hex rendering."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def parse_lsn(s: str) -> int:
    hi, lo = s.strip().split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _pg_now_us() -> int:
    return int((time.time() - _PG_EPOCH_OFFSET_S) * 1_000_000)


import threading as _threading

_SLOT_LOCKS: dict = {}
_SLOT_LOCKS_GUARD = _threading.Lock()


def _slot_lock(path: str) -> "_threading.Lock":
    with _SLOT_LOCKS_GUARD:
        return _SLOT_LOCKS.setdefault(path, _threading.Lock())


class SlotStore:
    """Replication-slot state, persisted per warehouse in
    `_slots.json` (atomic rewrite, like the manifest files): slot →
    {plugin, confirmed_flush}. The analogue of
    pg_replication_slots.confirmed_flush_lsn. Mutations take a
    per-path lock — concurrent walsender connections (one thread
    each) would otherwise lose each other's read-modify-write."""

    def __init__(self, warehouse: str):
        self.path = os.path.join(warehouse, "_slots.json")

    def load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return _json.load(f)
        return {}

    def _save(self, slots: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(slots, f)
        os.replace(tmp, self.path)

    def create(self, name: str, plugin: str, at: int) -> None:
        with _slot_lock(self.path):
            slots = self.load()
            if name in slots:
                raise ValueError(
                    f'replication slot "{name}" already exists')
            slots[name] = {"plugin": plugin, "confirmed_flush": at}
            self._save(slots)

    def drop(self, name: str) -> None:
        with _slot_lock(self.path):
            slots = self.load()
            if name not in slots:
                raise ValueError(
                    f'replication slot "{name}" does not exist')
            del slots[name]
            self._save(slots)
        trim_wal(os.path.dirname(self.path))

    def confirm(self, name: str, flushed: int) -> None:
        with _slot_lock(self.path):
            slots = self.load()
            if name not in slots \
                    or flushed <= slots[name]["confirmed_flush"]:
                return
            slots[name]["confirmed_flush"] = flushed
            self._save(slots)
        trim_wal(os.path.dirname(self.path))


def committed_txids(warehouse: str, after: int) -> list[int]:
    """Ordered committed tx ids beyond a log position, straight from
    the `_txs.jsonl` ledger (tx.py:431-454)."""
    path = os.path.join(warehouse, "_txs.jsonl")
    out = []
    if os.path.exists(path):
        with open(path) as f:
            for ln in f:
                if not ln.strip():
                    continue
                r = _json.loads(ln)
                if r.get("committed") and r["tx_id"] > after:
                    out.append(r["tx_id"])
    return sorted(set(out))


class LedgerTail:
    """Incremental `_txs.jsonl` reader for the streaming loop: the
    ledger is append-only (tx.py `_record_tx` under the commit lock),
    so the walsender only ever needs the bytes past its last read —
    a stat + seek per poll, not a full re-parse (at 10⁶ txs the
    50 ms idle loop would otherwise re-scan MBs each tick). A
    partial trailing line (appender mid-write) stays buffered until
    its newline arrives."""

    def __init__(self, warehouse: str):
        self.path = os.path.join(warehouse, "_txs.jsonl")
        self.offset = 0
        self.partial = b""

    def new_committed(self, after: int) -> list[int]:
        try:
            size = os.path.getsize(self.path)
        except OSError:
            return []
        if size <= self.offset:
            return []
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            chunk = self.partial + f.read(size - self.offset)
        self.offset = size
        lines = chunk.split(b"\n")
        self.partial = lines.pop()
        out = []
        for ln in lines:
            if not ln.strip():
                continue
            r = _json.loads(ln)
            if r.get("committed") and r["tx_id"] > after:
                out.append(r["tx_id"])
        return sorted(set(out))


def wal_path(warehouse: str) -> str:
    return os.path.join(warehouse, "_wal")


def min_confirmed(warehouse: str) -> int | None:
    """The laggiest slot's confirmed_flush — everything at or below it
    is deliverable to nobody and needs no retention. None = no slots
    (no retention obligation at all)."""
    slots = SlotStore(warehouse).load()
    if not slots:
        return None
    return min(s.get("confirmed_flush", 0) for s in slots.values())


def txid_of_l0(path: str) -> int | None:
    """tx id from a `part-xt{txid}-…` event-file name (tx.py
    controlled naming), None for non-tx-stamped files."""
    name = os.path.basename(path)
    if not name.startswith("part-xt"):
        return None
    try:
        return int(name[7:].split("-", 1)[0])
    except ValueError:
        return None


def archive_unacked(warehouse: str, txids) -> int:
    """Slot-retained WAL (postgres holds WAL segments for lagging
    slots; our "WAL" is the part-xt file attribution, which compaction
    consumes): before a compaction eats a tx's event files, persist
    that tx's wal2json rendering to `_wal/<txid>.jsonl` if ANY slot
    still needs it. The whole tx (all tables) archives on first touch
    — archival runs before any input deletion, so every table's files
    are still present. Returns the number of txs archived. No slots →
    no work, no overhead."""
    mc = min_confirmed(warehouse)
    if mc is None:
        return 0
    wdir = wal_path(warehouse)
    n = 0
    for txid in sorted(set(txids)):
        if txid <= mc:
            continue
        p = os.path.join(wdir, f"{txid}.jsonl")
        if os.path.exists(p):
            continue
        lines = changes_for_tx(warehouse, txid)
        if not lines:
            continue
        os.makedirs(wdir, exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, p)
        n += 1
    return n


def trim_wal(warehouse: str) -> None:
    """Drop archived txs every slot has confirmed (or all of them if
    no slots remain) — called on slot confirm/drop."""
    wdir = wal_path(warehouse)
    if not os.path.isdir(wdir):
        return
    mc = min_confirmed(warehouse)
    for f in _glob.glob(os.path.join(wdir, "*.jsonl")):
        try:
            txid = int(os.path.basename(f).split(".", 1)[0])
        except ValueError:
            continue
        if mc is None or txid <= mc:
            try:
                os.remove(f)
            except OSError:
                pass


def _value_text(v):
    """Arrow value → the JSON value wal2json prints (numbers/bools
    stay native JSON; timestamps/dates render as pg text)."""
    if v is None:
        return None
    if isinstance(v, bytes):
        return "\\x" + v.hex()
    if isinstance(v, (int, float, bool, str)):
        return v
    iso = getattr(v, "isoformat", None)
    if iso is not None:
        try:
            return iso(sep=" ")        # datetime
        except TypeError:
            return iso()               # date / time take no sep
    return str(v)


def changes_for_tx(warehouse: str, txid: int,
                   tables: list[str] | None = None) -> list[str]:
    """One committed tx → its wal2json v2 lines (one JSON object per
    changed row; `action` I for put, D for delete/erase), read from
    the tx's `part-xt{txid}-` event files with pyarrow — driver-side
    metadata work, no Spark session needed."""
    import pyarrow.parquet as pq

    # slot-retained archive first: once compaction has consumed the
    # tx's part-xt files, `_wal/<txid>.jsonl` (archive_unacked) is
    # the surviving attribution
    wp = os.path.join(wal_path(warehouse), f"{txid}.jsonl")
    if os.path.exists(wp):
        with open(wp) as f:
            return [ln for ln in f.read().splitlines() if ln.strip()]

    if tables is None:
        tables = sorted(
            d for d in os.listdir(warehouse)
            if os.path.isdir(os.path.join(warehouse, d))
            and not d.startswith(("_", ".")))
    lsn = lsn_str(txid)
    lines: list[str] = []
    for d in tables:
        files = sorted(_glob.glob(os.path.join(
            warehouse, d, f"part-xt{txid}-*.parquet")))
        if not files:
            continue
        table = d.replace("__", ".")
        for fp in files:
            t = pq.read_table(fp)
            names = t.schema.names
            types = [str(f.type) for f in t.schema]
            rows = t.to_pylist()
            for row in rows:
                action = "D" if row.get("op") in ("delete", "erase") else "I"
                ident = [{"name": "_id",
                          "type": _PG_TYPES.get(
                              types[names.index("_id")], "text"),
                          "value": _value_text(row.get("_id"))}]
                change = {"action": action, "schema": "public",
                          "table": table, "lsn": lsn,
                          "timestamp": _value_text(
                              row.get("_system_from")) or "",
                          "identity": ident}
                if action == "I":
                    change["columns"] = [
                        {"name": n, "type": _PG_TYPES.get(ty, "text"),
                         "value": _value_text(row[n])}
                        for n, ty in zip(names, types)
                        if n not in _INTERNAL_COLS]
                lines.append(_json.dumps(change))
    # an empty result is legitimate (assert-only txs append nothing);
    # a slot parked behind a compaction also lands here — that caveat
    # is documented in the module docstring
    return lines


import re as _re

_ADVANCE_RE = _re.compile(
    r"(?i)^\s*SELECT\s+pg_replication_slot_advance\(\s*'([^']+)'\s*,"
    r"\s*'([^']+)'\s*\)\s*$")


class WalSender:
    """The replication-mode command loop for one pgwire connection.

    Runs on the connection's thread; `conn` is the pgwire `_Conn`
    (we use its framed send/recv + error helpers). Handles the four
    walsender statements and the CopyBoth streaming loop with
    standby-status acks and keepalives."""

    def __init__(self, conn, store):
        self.conn = conn
        self.store = store
        self.slots = SlotStore(store.warehouse)

    # a one-row result in the walsender's text format
    def _result(self, cols: list[tuple[str, str | None]], tag: str) -> None:
        c = self.conn
        body = struct.pack(">h", len(cols))
        for name, _ in cols:
            body += c._cstr(name) + struct.pack(">ihihih", 0, 0, 25, -1, -1, 0)
        c._send(b"T", body)
        row = struct.pack(">h", len(cols))
        for _, v in cols:
            if v is None:
                row += struct.pack(">i", -1)
            else:
                b = v.encode()
                row += struct.pack(">i", len(b)) + b
        c._send(b"D", row)
        c._send(b"C", c._cstr(tag))

    def _head_lsn(self) -> int:
        ids = committed_txids(self.store.warehouse, 0)
        return ids[-1] if ids else 0

    def handle(self, sql: str) -> bool:
        """Dispatch one simple-query statement if it is replication
        grammar; returns False to fall through to normal SQL (a
        replication connection may also run plain queries)."""
        s = sql.strip().rstrip(";")
        up = s.upper()
        if up == "IDENTIFY_SYSTEM":
            self._result(
                [("systemid", "7" + str(abs(hash(self.store.warehouse))
                                        % 10**15)),
                 ("timeline", "1"),
                 ("xlogpos", lsn_str(self._head_lsn())),
                 ("dbname", "xtdb")], "IDENTIFY_SYSTEM")
            return True
        if up.startswith("CREATE_REPLICATION_SLOT"):
            parts = s.split()
            name = parts[1].strip('"')
            # grammar: name [TEMPORARY] LOGICAL plugin [options]
            # (physical slots aren't meaningful here — no physical WAL)
            rest = [p for p in parts[2:] if p.upper() != "TEMPORARY"]
            if not rest or rest[0].upper() != "LOGICAL":
                raise ValueError("only LOGICAL replication slots are "
                                 "supported")
            plugin = rest[1] if len(rest) > 1 else "wal2json"
            head = self._head_lsn()
            self.slots.create(name, plugin, head)
            self._result([("slot_name", name),
                          ("consistent_point", lsn_str(head)),
                          ("snapshot_name", None),
                          ("output_plugin", plugin)],
                         "CREATE_REPLICATION_SLOT")
            return True
        if up.startswith("READ_REPLICATION_SLOT"):
            # PG 15+ command: lets clients learn the slot's position
            # without opening the stream (the pgrepl streaming
            # source's initialOffset)
            name = s.split()[1].strip('"')
            slots = self.slots.load()
            if name not in slots:
                raise ValueError(
                    f'replication slot "{name}" does not exist')
            self._result(
                [("slot_type", "logical"),
                 ("restart_lsn", lsn_str(slots[name]["confirmed_flush"])),
                 ("restart_tli", "1")], "READ_REPLICATION_SLOT")
            return True
        m = _ADVANCE_RE.match(s)
        if m:
            # pg_replication_slot_advance(): the out-of-stream ack —
            # the pgrepl source commits batch offsets with it
            name, lsn = m.group(1), parse_lsn(m.group(2))
            if name not in self.slots.load():
                raise ValueError(
                    f'replication slot "{name}" does not exist')
            self.slots.confirm(name, lsn)
            self._result([("slot_name", name), ("end_lsn", lsn_str(lsn))],
                         "SELECT 1")
            return True
        if up.startswith("DROP_REPLICATION_SLOT"):
            self.slots.drop(s.split()[1].strip('"'))
            self.conn._send(b"C", self.conn._cstr("DROP_REPLICATION_SLOT"))
            return True
        if up.startswith("START_REPLICATION"):
            self._stream(s)
            return True
        return False

    # ---- CopyBoth streaming

    def _xlog_data(self, lsn: int, payload: bytes) -> None:
        self.conn._send(b"d", b"w" + struct.pack(
            ">qqq", lsn, lsn, _pg_now_us()) + payload)

    def _keepalive(self, lsn: int) -> None:
        self.conn._send(b"d", b"k" + struct.pack(
            ">qq", lsn, _pg_now_us()) + b"\x00")

    def _try_frame(self, timeout: float):
        """Read one client frame with a deadline, buffering partials
        (the walsender interleaves reads with sending new txs)."""
        c = self.conn
        c.sock.settimeout(timeout)
        try:
            while True:
                if len(c.buf) >= 5:
                    (ln,) = struct.unpack(">i", c.buf[1:5])
                    if len(c.buf) >= 1 + ln:
                        t = c.buf[0:1]
                        body = c.buf[5:1 + ln]
                        c.buf = c.buf[1 + ln:]
                        return t, body
                chunk = c.sock.recv(65536)
                if not chunk:
                    raise ConnectionResetError
                c.buf += chunk
        except TimeoutError:
            return None, None
        finally:
            c.sock.settimeout(None)

    def _stream(self, s: str) -> None:
        parts = s.split()
        if parts[1].upper() != "SLOT":
            raise ValueError("only `START_REPLICATION SLOT ... LOGICAL"
                             " ...` is supported (no physical slots)")
        name = parts[2].strip('"')
        slots = self.slots.load()
        if name not in slots:
            raise ValueError(f'replication slot "{name}" does not exist')
        # grammar: SLOT name LOGICAL X/Y [(opt 'v', ...)] — plugin
        # options (format-version etc.) are accepted and ignored: the
        # one emitted format IS wal2json v2 lines
        requested = 0
        for p in parts[3:]:
            if p.startswith("("):
                break
            if "/" in p:
                requested = parse_lsn(p)
                break
        pos = max(slots[name]["confirmed_flush"], requested)
        c = self.conn
        c._send(b"W", struct.pack(">bh", 0, 0))  # CopyBothResponse
        tail = LedgerTail(self.store.warehouse)
        last_keepalive = time.monotonic()
        while True:
            for txid in tail.new_committed(pos):
                for line in changes_for_tx(self.store.warehouse, txid):
                    self._xlog_data(txid, line.encode())
                pos = txid
            t, body = self._try_frame(0.05)
            if t is None:
                if time.monotonic() - last_keepalive > 5.0:
                    self._keepalive(pos)
                    last_keepalive = time.monotonic()
                continue
            if t == b"d" and body[:1] == b"r":     # Standby Status Update
                _written, flushed, _applied, _ts = struct.unpack(
                    ">qqqq", body[1:33])
                self.slots.confirm(name, flushed)
                if body[33:34] == b"\x01":         # reply requested:
                    self._keepalive(pos)           # report position now
                    last_keepalive = time.monotonic()
            elif t == b"d" and body[:1] == b"k":
                pass
            elif t in (b"c", b"X"):                # CopyDone / Terminate
                if t == b"c":
                    c._send(b"c")
                    c._send(b"C", c._cstr("COPY 0"))
                return
            # any other frame mid-copy is a protocol error → drop it
