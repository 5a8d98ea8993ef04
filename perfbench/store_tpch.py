"""store_tpch: dbgen TPC-H loaded through `TableStore.put`, revised
by a seeded refresh transaction (`submit_tx`), compacted, then TPC-H
query texts run hot through `XtdbSession.sql` — current state, and a
subset again at the pre-refresh system time. Every query re-reads the
store's event files and resolves bitemporal visibility."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from perfbench import common, data

# TPC-H numbers run per round (a scan-aggregate, joins of 2-3 tables,
# an EXISTS subquery, a filter-aggregate) and the AS-OF subset
HOT = [1, 3, 4, 6, 12, 14]
ASOF = [3, 6]
SETUPS = 3                      # set-ups per run; setup_s takes the median
ROUNDS = 1                      # timed passes over the statements
SF, SMOKE_SF = 0.01, 0.001
CHUNKS = {"orders": 4, "lineitem": 4}   # put batches: L0 files to compact


def _setup(spark, wh, tables, refresh):
    """Load → refresh → compact into a fresh warehouse. Returns the
    session, the pre-refresh basis and the phase timings."""
    from xtdb_spark.session import XtdbSession

    xt = XtdbSession(spark, common.fresh_dir(wh))
    t_put, rows, basis = 0.0, 0, None
    for t, tbl in tables.items():
        recs = tbl.to_pylist()
        k = CHUNKS.get(t, 1)
        step = (len(recs) + k - 1) // k
        for i in range(0, len(recs), step):
            t0 = time.perf_counter()
            basis = xt.put(t, recs[i:i + step])
            t_put += time.perf_counter() - t0
        rows += len(recs)
    t0 = time.perf_counter()
    xt.submit_tx([("put", "orders", refresh["orders_put"]),
                  ("delete", "lineitem", refresh["lineitem_delete"]),
                  ("put", "lineitem", refresh["lineitem_put"])])
    t_refresh = time.perf_counter() - t0
    t0 = time.perf_counter()
    for t in tables:
        xt.store.compact(t)
    t_compact = time.perf_counter() - t0
    return xt, basis, {"put_s": t_put, "rows": rows, "refresh_s": t_refresh,
                       "compact_s": t_compact}


def _current_bytes(oracle, tables, path) -> int:
    """Bytes of the current-state rows written once as parquet with
    the store's codec (snappy): the denominator of space_amp."""
    total = 0
    for t in tables:
        pq.write_table(oracle.execute(f"SELECT * FROM {t}").arrow(), path,
                       compression="snappy")
        total += os.path.getsize(path)
    os.remove(path)
    return total


def run(spark, root, seed, seconds, smoke=False):
    sf = SMOKE_SF if smoke else SF
    tables = data.tpch_tables(sf)
    refresh = data.refresh_ops(tables, seed)
    texts = data.tpch_query_texts()
    post = data.duckdb_with(tables, refresh)
    pre = data.duckdb_with(tables)
    expected = {("q", n): post.execute(texts[n]).fetchall() for n in HOT}
    expected.update({("asof", n): pre.execute(texts[n]).fetchall()
                     for n in ASOF})
    base = common.work_dir(root, "store_tpch")

    setups = []
    for k in range(1 if smoke else SETUPS):
        t0 = time.perf_counter()
        xt, basis, phases = _setup(spark, os.path.join(base, f"wh{k}"),
                                   tables, refresh)
        phases["total_s"] = time.perf_counter() - t0
        setups.append(phases)
    stmts = [("q", n, texts[n]) for n in HOT] + [
        ("asof", n, f"SETTING DEFAULT SYSTEM_TIME AS OF TIMESTAMP "
                    f"'{basis.isoformat(sep=' ')}' {texts[n]}")
        for n in ASOF]

    log = common.OpLog()
    errors: list[str] = []

    def one_round(_i, record=True):
        for kind, n, sql in stmts:
            t0 = time.perf_counter()
            try:
                got = [tuple(r) for r in xt.sql(sql).collect()]
                secs = time.perf_counter() - t0
                ok = common.rows_match(expected[(kind, n)], got)[0]
            except Exception as e:       # a failed operation, recorded
                secs, ok = time.perf_counter() - t0, False
                errors.append(f"{kind}{n}: {type(e).__name__}: {e}"[:300])
            if record:
                log.add(kind, f"{kind}{n}", secs, ok)

    t0 = time.perf_counter()
    one_round(0, record=False)               # warm-up pass
    warmup_s = time.perf_counter() - t0
    wall = common.fixed_rounds(ROUNDS, seconds, one_round)

    live = sum(os.path.getsize(f) for t in tables
               for f in xt.store.table_files(t))
    current = _current_bytes(post, tables, os.path.join(base, "current.parquet"))
    hot = log.per_name_medians({"q"})
    asof = log.per_name_medians({"asof"})
    med = {k: common.median([s[k] for s in setups])
           for k in ("put_s", "refresh_s", "compact_s", "total_s")}
    details = {
        "sf": sf, "rounds": ROUNDS, "loop_s": wall, "warmup_s": warmup_s,
        "setups": setups, "rows_loaded": setups[0]["rows"],
        "load_rows_per_s": setups[0]["rows"] / med["put_s"],
        "refresh_s": med["refresh_s"], "compact_s": med["compact_s"],
        "space_amp": live / current, "live_bytes": live,
        "current_bytes": current,
        "asof_battery_s": sum(asof.values()),
        "query_medians_s": {**hot, **asof}, "errors": errors[:20],
    }
    return {
        "log": log, "wall": wall, "setup_once_s": med["total_s"] + warmup_s,
        "battery_s": sum(hot.values()), "details": details, "xt": xt,
    }
