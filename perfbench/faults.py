"""Reproduce the two known faults the benchmark documents.

    python3 perfbench/faults.py decimal-update   # DECIMAL write into a DOUBLE column
    python3 perfbench/faults.py double-plan      # extended protocol plans twice

Run from the root of a checkout. Each prints what it measured; the
exit code is 0 when the fault still shows and 1 when it does not.
"""

from __future__ import annotations

import os
import sys
import time


def _serve(root, rows):
    from perfbench import common
    from xtdb_spark.pgwire import PgWireServer
    from xtdb_spark.session import XtdbSession

    spark, _ = common.start_spark(root, "perfbench-faults")
    xt = XtdbSession(spark, common.fresh_dir(common.work_dir(root, "faults", "wh")))
    xt.put("customer", rows)
    return spark, xt, PgWireServer(xt, port=0).start()


def _rows(n=200):
    return [{"_id": i, "c_custkey": i, "c_name": f"Customer#{i:09d}",
             "c_acctbal": float(i) + 0.25} for i in range(1, n + 1)]


def decimal_update(root) -> bool:
    """`UPDATE … SET c_acctbal = 0.5` over the simple protocol writes
    the literal as DECIMAL(1,1) beside DOUBLE files: every later read
    of the table falls back to `TableStore._events_lub` until a
    compaction rewrites the files."""
    from perfbench import common
    from perfbench.loadgen import PgClient
    from xtdb_spark import tx

    spark, xt, srv = _serve(root, _rows())
    lub = []
    orig = tx.TableStore._events_lub
    tx.TableStore._events_lub = lambda self, files: (lub.append(len(files))
                                                     or orig(self, files))
    try:
        c = PgClient(srv.port)
        q = "SELECT c_acctbal FROM customer WHERE _id = 7"

        def timed():
            t0 = time.perf_counter()
            rows = c.simple(q)
            return (time.perf_counter() - t0) * 1000, rows

        for _ in range(2):
            before, _r = timed()
        c.simple("UPDATE customer SET c_acctbal = 0.5 WHERE _id = 7")
        n0 = len(lub)
        after, rows = timed()
        fell_back = len(lub) > n0
        t0 = time.perf_counter()
        jobs = xt.store.compact("customer", l0_threshold=2)
        heal = time.perf_counter() - t0
        n1 = len(lub)
        healed, rows2 = timed()
        c.close()
        print(f"point read before the UPDATE: {before:.0f} ms")
        print(f"after it: {after:.0f} ms, _events_lub fallback: {fell_back}, "
              f"value {rows}")
        print(f"compaction ({jobs} jobs) took {heal:.1f} s; read after it: "
              f"{healed:.0f} ms, fallback: {len(lub) > n1}, value {rows2}")
        return fell_back
    finally:
        tx.TableStore._events_lub = orig
        srv.stop()
        common.stop_spark(spark)


def double_plan(root) -> bool:
    """An extended-protocol read rewrites (and Spark-analyzes) its
    statement twice: once in Describe for the row shape, once in
    Execute."""
    from perfbench import common
    from perfbench.loadgen import INT8, POINT_SQL, PgClient
    from xtdb_spark.sql import rewriter

    spark, xt, srv = _serve(root, _rows())
    calls = []
    wrapped = {}
    for name in ("rewrite", "rewrite_with_args"):
        orig = getattr(rewriter, name)
        wrapped[name] = orig

        def w(*a, _orig=orig, **k):
            calls.append(1)
            return _orig(*a, **k)

        setattr(rewriter, name, w)
    try:
        c = PgClient(srv.port)
        c.simple(POINT_SQL.replace("$1", "3"))
        n0 = len(calls)
        c.simple(POINT_SQL.replace("$1", "4"))
        simple = len(calls) - n0
        n0 = len(calls)
        c.extended(POINT_SQL, [5], [INT8])
        extended = len(calls) - n0
        c.close()
        print(f"rewrites per simple-protocol read: {simple}; "
              f"per extended-protocol read: {extended}")
        return extended > simple
    finally:
        for name, orig in wrapped.items():
            setattr(rewriter, name, orig)
        srv.stop()
        common.stop_spark(spark)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    root = os.getcwd()
    sys.path.insert(0, root)
    which = {"decimal-update": decimal_update, "double-plan": double_plan}
    if len(argv) != 1 or argv[0] not in which:
        print(__doc__, file=sys.stderr)
        return 2
    return 0 if which[argv[0]](root) else 1


if __name__ == "__main__":
    sys.exit(main())
