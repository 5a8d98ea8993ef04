"""catalog_hot: bench.py's HEADLINE battery through the catalog's plan
cache (`registry.cached_plan`) over `cache_tables`-pinned parquet.
The working set fits in Spark's cache; the run never touches the
store, the compactor, the SQL rewriter or the wire."""

from __future__ import annotations

import os
import time

import duckdb

from perfbench import common, data

SETUPS = 2
# timed passes over the heads per run (one in smoke mode)
ROUNDS = 2
SF, SMOKE_SF = 0.01, 0.001


def _oracle_rows(con, sql, cols):
    """DuckDB's answer, columns reordered to the engine's order."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    idx = [names.index(c) for c in cols]
    return [tuple(r[i] for i in idx) for r in cur.fetchall()]


def run(spark, root, seed, seconds, smoke=False):
    from bench import BENCH_TABLES, HEADLINE
    from xtdb_spark.queries.registry import (cache_tables, cached_plan,
                                             oracle_map)

    sf = SMOKE_SF if smoke else SF
    # every other head of the battery: all three of its families
    # (TPC-H, operators/bitemporal, pipeline) at half the warm-up cost
    heads = HEADLINE[::2]
    sf_dir = common.fresh_dir(os.path.join(common.work_dir(root, "catalog_hot"),
                                           "data"))
    counts = data.write_catalog_tables(sf_dir, sf, seed)
    in_bytes = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
                   for t in BENCH_TABLES)

    # set-up: pin the tables (repeated; setup_s takes the median), then
    # one untimed pass that builds every plan and compiles its code
    pins = []
    for _ in range(1 if smoke else SETUPS):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        cache_tables(spark, sf_dir, BENCH_TABLES)
        pins.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    cols = {}
    for name in heads:
        df = cached_plan(spark, name, sf_dir)
        df.collect()
        cols[name] = df.columns
    warmup_s = time.perf_counter() - t0

    con = duckdb.connect()
    for t in BENCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    oracles = oracle_map()
    expected = {n: _oracle_rows(con, oracles[n], cols[n])
                for n in heads if n in oracles}
    con.close()

    log = common.OpLog()
    errors: list[str] = []

    def one_round(_i):
        for name in heads:
            t0 = time.perf_counter()
            try:
                got = [tuple(r) for r in cached_plan(spark, name, sf_dir).collect()]
            except Exception as e:       # a failed operation, recorded
                log.add("head", name, time.perf_counter() - t0, False)
                errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            secs = time.perf_counter() - t0
            ok = (common.rows_match(expected[name], got)[0]
                  if name in expected else bool(got))
            log.add("head", name, secs, ok)

    rounds = 1 if smoke else ROUNDS
    wall = common.fixed_rounds(rounds, seconds, one_round)
    medians = log.per_name_medians({"head"})
    details = {
        "sf": sf, "heads": heads, "rows": counts, "input_bytes": in_bytes,
        "rounds": rounds, "loop_s": wall, "warmup_s": warmup_s,
        "pin_s": pins, "oracle_checked": sorted(expected),
        "query_medians_s": medians, "errors": errors[:20],
    }
    return {"log": log, "wall": wall,
            "setup_once_s": common.median(pins) + warmup_s,
            "battery_s": sum(medians.values()), "details": details}
