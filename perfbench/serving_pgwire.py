"""serving_pgwire: dbgen customer and orders loaded through
`TableStore.put` and compacted, served over the Postgres wire
protocol (`PgWireServer`) to a separate load-generator process with
two closed-loop connections (perfbench/loadgen.py). Reads and
upserts interleave; `TableStore.compact` runs after the warm-up and
after every round, the store having no background compactor."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import common, data

SETUPS = 3
# timed rounds per run: one round is 10 reads and 4 upserts over the
# 2 connections, then a compaction (15-18 s on 2 task slots)
ROUNDS = 1
# compact once 2 appends wait: the warm-up (2 upserts) and every round
# (4 upserts) each end in exactly one compaction job
COMPACT_L0 = 2
SF, SMOKE_SF = 0.01, 0.001
TABLES = ("customer", "orders")
READS = ("point", "by_cust", "asof_point")


class _LoadGen:
    def __init__(self, root, port, seed, sf, basis, spans):
        cmd = [sys.executable, "-m", "perfbench.loadgen", "--port", str(port),
               "--seed", str(seed), "--sf", str(sf), "--basis", basis]
        if spans:
            cmd += ["--spans", spans]
        self.proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        self.ask(None)                       # wait for "ready"

    def ask(self, cmd):
        if cmd is not None:
            self.proc.stdin.write(cmd + "\n")
            self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited early")
        return json.loads(line)

    def close(self):
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)


def run(spark, root, seed, seconds, smoke=False, spans=None):
    from xtdb_spark.pgwire import PgWireServer
    from xtdb_spark.session import XtdbSession

    sf = SMOKE_SF if smoke else SF
    tables = data.tpch_tables(sf)
    base = common.work_dir(root, "serving_pgwire")
    setups = []
    for k in range(1 if smoke else SETUPS):
        t0 = time.perf_counter()
        xt = XtdbSession(spark, common.fresh_dir(os.path.join(base, f"wh{k}")))
        for t in TABLES:
            basis = xt.put(t, tables[t].to_pylist())
        for t in TABLES:
            xt.store.compact(t)
        setups.append(time.perf_counter() - t0)

    srv = PgWireServer(xt, port=0).start()
    gen = None
    log = common.OpLog()
    compacts: list[float] = []
    errors: list[str] = []

    def one_round(_i, cmd="round"):
        ops = gen.ask(cmd)["ops"]
        t0 = time.perf_counter()
        xt.store.compact("customer", l0_threshold=COMPACT_L0)
        if cmd == "round":
            compacts.append(time.perf_counter() - t0)
            for kind, name, secs, ok, err in ops:
                log.add(kind, name, secs, ok)
                if err:
                    errors.append(err)

    try:
        gen = _LoadGen(root, srv.port, seed, sf, basis.isoformat(sep=" "), spans)
        t0 = time.perf_counter()
        one_round(0, cmd="warm")                 # untimed warm-up
        warmup_s = time.perf_counter() - t0
        wall = common.fixed_rounds(ROUNDS, seconds, one_round)
        for kind, name, secs, ok, err in gen.ask("end")["ops"]:
            log.add(kind, name, secs, ok)
            if err:
                errors.append(err)
    finally:
        if gen is not None:
            gen.close()
        srv.stop()

    live = sum(os.path.getsize(f) for t in TABLES
               for f in xt.store.table_files(t))
    current = sum(_current_bytes(xt, t, os.path.join(base, "current.parquet"))
                  for t in TABLES)
    medians = log.per_name_medians(READS + ("upsert",))
    details = {
        "sf": sf, "rounds": ROUNDS, "loop_s": wall, "warmup_s": warmup_s,
        "setup_s_each": setups, "rows_loaded": sum(tables[t].num_rows
                                                   for t in TABLES),
        "read_p50_ms": common.median(log.latencies(READS)) * 1000,
        "write_p50_ms": common.median(log.latencies(("upsert",))) * 1000,
        "compact_s": common.median(compacts), "compact_s_each": compacts,
        "space_amp": live / current, "live_bytes": live,
        "current_bytes": current, "op_medians_s": medians,
        "errors": errors[:20],
    }
    return {"log": log, "wall": wall,
            "setup_once_s": common.median(setups) + warmup_s,
            "battery_s": sum(medians.values()), "details": details, "xt": xt}


def _current_bytes(xt, table, path) -> int:
    """Bytes of the table's current state written once as parquet
    with the store's codec: the denominator of space_amp."""
    import pyarrow.parquet as pq

    pq.write_table(xt.scan(table).toArrow(), path, compression="snappy")
    size = os.path.getsize(path)
    os.remove(path)
    return size
