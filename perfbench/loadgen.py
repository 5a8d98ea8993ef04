"""Load generator for serving_pgwire: one process, separate from the
server, driving closed-loop Postgres-protocol connections. It imports
nothing from the program; its model of the data comes from the same
dbgen tables the server loaded, plus the writes the server
acknowledged.

    python3 -m perfbench.loadgen --port P --seed N --sf SF --basis TS
                                 [--spans PATH]

Commands arrive one per line on standard input: `warm` runs WARM once
on the first connection, `round` runs one round of SEQUENCE on every
connection, `end` runs the end-of-run scan checks and exits. Each
command answers with one JSON line.
"""

from __future__ import annotations

import argparse
import json
import math
import random
import socket
import struct
import sys
import threading
import time

INT8, TEXT, FLOAT8 = 20, 25, 701
CUSTOMER_COLS = ["_id", "c_custkey", "c_name", "c_address", "c_nationkey",
                 "c_phone", "c_acctbal", "c_mktsegment", "c_comment"]
CUSTOMER_OIDS = [INT8, INT8, TEXT, TEXT, INT8, TEXT, FLOAT8, TEXT, TEXT]
CONNS = 2
# one connection's round, in order: 5 reads and 2 upserts. Point reads
# are 3 of the 5, so the median read of a round is always a point
# read, whichever read class a change speeds up.
SEQUENCE = ["point", "upsert", "asof_point", "point", "by_cust", "upsert",
            "point"]
# the untimed warm-up: every statement shape once, and 2 upserts, so
# the compaction after it runs exactly one job
WARM = ["point", "upsert", "asof_point", "by_cust", "upsert"]
POINT_SQL = "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE _id = $1"


class PgClient:
    """Minimal protocol-v3 frontend (simple and extended query)."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        self.buf = b""
        body = (struct.pack(">i", 196608) + b"user\0bench\0database\0xtdb\0\0")
        self.sock.sendall(struct.pack(">i", len(body) + 4) + body)
        self._until_ready()

    def close(self) -> None:
        try:
            self._send(b"X", b"")
        finally:
            self.sock.close()

    def _recv(self, n: int) -> bytes:
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionResetError("server closed the connection")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def _msg(self):
        t = self._recv(1)
        (ln,) = struct.unpack(">i", self._recv(4))
        return t, self._recv(ln - 4)

    def _send(self, t: bytes, payload: bytes) -> None:
        self.sock.sendall(t + struct.pack(">i", len(payload) + 4) + payload)

    def _until_ready(self):
        """Rows (text values) up to ReadyForQuery; raises on an
        ErrorResponse after draining."""
        rows, error = [], None
        while True:
            t, b = self._msg()
            if t == b"Z":
                if error:
                    raise RuntimeError(error)
                return rows
            if t == b"E":
                error = b.decode(errors="replace")
            elif t == b"D":
                (n,) = struct.unpack(">h", b[:2])
                vals, off = [], 2
                for _ in range(n):
                    (ln,) = struct.unpack(">i", b[off:off + 4])
                    off += 4
                    vals.append(None if ln == -1 else b[off:off + ln].decode())
                    off += max(ln, 0)
                rows.append(vals)

    def simple(self, sql: str):
        self._send(b"Q", sql.encode() + b"\0")
        return self._until_ready()

    def extended(self, sql: str, params: list, oids: list[int]):
        """Parse/Bind/Describe/Execute/Sync, text parameters — the
        message sequence psycopg and JDBC send for a bound query."""
        self._send(b"P", b"\0" + sql.encode() + b"\0"
                   + struct.pack(">h", len(oids))
                   + b"".join(struct.pack(">i", o) for o in oids))
        enc = [str(p).encode() for p in params]
        self._send(b"B", b"\0\0" + struct.pack(">hh", 0, len(enc))
                   + b"".join(struct.pack(">i", len(e)) + e for e in enc)
                   + struct.pack(">h", 0))
        self._send(b"D", b"P\0")
        self._send(b"E", b"\0" + struct.pack(">i", 0))
        self._send(b"S", b"")
        return self._until_ready()


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class Connection:
    """One closed-loop client: its key range, its seeded sequence and
    its model of the rows it owns (source rows + acknowledged
    writes)."""

    def __init__(self, port, cid, seed, customers, orders, basis):
        self.cid = cid
        self.rng = random.Random(f"{seed}-{cid}")
        self.model = {r["_id"]: dict(r) for r in customers}
        self.source = {r["_id"]: dict(r) for r in customers}
        self.keys = sorted(self.model)
        self.orders = orders
        self.basis = basis
        self.written: list[int] = []
        self.client = PgClient(port)
        self.port = self.client.sock.getsockname()[1]

    def _check_point(self, rows, want) -> bool:
        if len(rows) != 1:
            return False
        key, name, bal = rows[0]
        return (int(key) == want["c_custkey"] and name == want["c_name"]
                and _close(float(bal), want["c_acctbal"]))

    def op(self, kind: str) -> bool:
        c, rng = self.client, self.rng
        if kind == "point":
            # half the reads revisit a key this connection wrote
            k = (rng.choice(self.written) if self.written and rng.random() < 0.5
                 else rng.choice(self.keys))
            return self._check_point(c.extended(POINT_SQL, [k], [INT8]),
                                     self.model[k])
        if kind == "asof_point":
            k = rng.choice(self.keys)
            rows = c.extended(f"SETTING DEFAULT SYSTEM_TIME AS OF TIMESTAMP "
                              f"'{self.basis}' {POINT_SQL}", [k], [INT8])
            return self._check_point(rows, self.source[k])
        if kind == "by_cust":
            k = rng.choice(self.keys)
            rows = c.extended("SELECT o_orderkey, o_totalprice FROM orders "
                              "WHERE o_custkey = $1", [k], [INT8])
            got = sorted((int(a), float(b)) for a, b in rows)
            want = sorted(self.orders.get(k, []))
            return len(got) == len(want) and all(
                a == x and _close(b, y) for (a, b), (x, y) in zip(got, want))
        if kind == "upsert":
            k = rng.choice(self.keys)
            row = dict(self.model[k], c_acctbal=round(rng.uniform(-999, 9999), 2))
            c.extended(f"INSERT INTO customer ({', '.join(CUSTOMER_COLS)}) "
                       f"VALUES ({', '.join(f'${i + 1}' for i in range(9))})",
                       [row[col] for col in CUSTOMER_COLS], CUSTOMER_OIDS)
            self.model[k] = row             # acknowledged
            self.written.append(k)
            return True
        raise ValueError(kind)

    def scan_check(self) -> bool:
        """End of run: row count and balance sum over the key range."""
        lo, hi = self.keys[0], self.keys[-1]
        rows = self.client.simple(
            f"SELECT count(*), sum(c_acctbal) FROM customer "
            f"WHERE _id BETWEEN {lo} AND {hi}")
        n, total = int(rows[0][0]), float(rows[0][1])
        return n == len(self.model) and math.isclose(
            total, sum(r["c_acctbal"] for r in self.model.values()),
            rel_tol=1e-9, abs_tol=1e-4)


class Generator:
    def __init__(self, args):
        from perfbench import data

        tables = data.tpch_tables(args.sf)
        customers = tables["customer"].to_pylist()
        orders: dict[int, list] = {}
        for o in tables["orders"].to_pylist():
            orders.setdefault(o["o_custkey"], []).append(
                (o["o_orderkey"], o["o_totalprice"]))
        n = len(customers)
        bounds = [n * i // CONNS for i in range(CONNS + 1)]
        self.conns = [Connection(args.port, i, args.seed,
                                 customers[bounds[i]:bounds[i + 1]],
                                 orders, args.basis)
                      for i in range(CONNS)]
        self.trace = args.spans is not None
        self.spans: list[dict] = []
        self.lock = threading.Lock()

    def _timed(self, phase, conn, kind, fn):
        t0 = time.time_ns()
        try:
            ok, err = fn(), ""
        except Exception as e:              # a failed operation, recorded
            ok, err = False, f"{type(e).__name__}: {e}"[:300]
        t1 = time.time_ns()
        if self.trace:
            with self.lock:
                # the local port names the connection to the server
                self.spans.append({"name": f"client.{kind}", "phase": phase,
                                   "conn": conn.cid, "port": conn.port,
                                   "start_ns": t0, "end_ns": t1})
        return [kind, kind, (t1 - t0) / 1e9, ok, err]

    def round(self):
        out: list[list] = [[] for _ in self.conns]
        # lockstep: the connections start each step together, so every
        # operation overlaps the same kind of operation on the others
        step = threading.Barrier(len(self.conns))

        def drive(i, conn):
            for kind in SEQUENCE:
                step.wait(timeout=300)
                out[i].append(self._timed("round", conn, kind,
                                          lambda k=kind: conn.op(k)))

        threads = [threading.Thread(target=drive, args=(i, c))
                   for i, c in enumerate(self.conns)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [op for ops in out for op in ops]

    def warm(self):
        """WARM on the first connection alone: compiles every
        statement shape without the cost of a round."""
        conn = self.conns[0]
        return [self._timed("warm", conn, kind, lambda k=kind: conn.op(k))
                for kind in WARM]

    def end(self):
        ops = [self._timed("end", c, "scan_check", c.scan_check)
               for c in self.conns]
        for c in self.conns:
            c.client.close()
        return ops


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--basis", required=True)
    p.add_argument("--spans")
    args = p.parse_args(argv)
    gen = Generator(args)
    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "round":
            print(json.dumps({"ops": gen.round()}), flush=True)
        elif cmd == "warm":
            print(json.dumps({"ops": gen.warm()}), flush=True)
        elif cmd == "end":
            print(json.dumps({"ops": gen.end()}), flush=True)
            break
    if gen.trace:
        with open(args.spans, "w") as f:
            for s in gen.spans:
                f.write(json.dumps(s) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
