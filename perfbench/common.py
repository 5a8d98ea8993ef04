"""Shared plumbing for the perfbench workloads: the work directory,
the Spark session, timing, statistics and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time

# Fixed on both sides of any comparison (the engine defaults to every
# core and a quarter of RAM; the benchmark pins both so that two runs
# on one machine see the same engine). Two task slots leave cores to
# the JVM's compiler and GC threads and to the Python driver: with
# every core busy, a run's level follows the host's load more closely.
SPARK_CPUS = "2"
SPARK_DRIVER_MEM = "2g"
# numeric tolerance of the oracle checks (engine and DuckDB sum in
# different orders)
REL_TOL = ABS_TOL = 1e-6


def work_dir(root: str, *parts: str) -> str:
    """`<checkout>/.perfbench_work/...`: everything a run writes."""
    path = os.path.join(root, ".perfbench_work", *parts)
    os.makedirs(path, exist_ok=True)
    return path


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(root: str, app: str):
    """Start the engine's own tuned session (`session.build_spark`)
    with every scratch path inside the checkout. Returns (spark,
    seconds taken)."""
    tmp = work_dir(root, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = SPARK_CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = SPARK_DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too): temp files inside the checkout,
    # no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    t0 = time.perf_counter()
    from xtdb_spark.session import build_spark

    spark = build_spark(app, extra_conf={
        "spark.sql.warehouse.dir": work_dir(root, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()         # the first job pays executor start
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class OpLog:
    """Every timed operation of a run: (kind, name, seconds, ok)."""

    def __init__(self):
        self.ops: list[tuple[str, str, float, bool]] = []

    def add(self, kind: str, name: str, seconds: float, ok: bool) -> None:
        self.ops.append((kind, name, seconds, ok))

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o[3])

    def latencies(self, kinds=None) -> list[float]:
        return [s for k, _, s, ok in self.ops
                if ok and (kinds is None or k in kinds)]

    def per_name_medians(self, kinds=None) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for k, n, s, ok in self.ops:
            if ok and (kinds is None or k in kinds):
                by.setdefault(n, []).append(s)
        return {n: median(v) for n, v in by.items()}


def fixed_rounds(rounds: int, seconds: float, one_round) -> float:
    """Run `one_round(i)` for i in range(rounds). The count is fixed,
    so the store's state (versions, L0 files, compaction points) is the
    same at every step of every run; `seconds` is the budget the count
    is sized to. A loop that overruns it still runs every round and
    says so on standard error. Returns the loop's wall seconds."""
    t0 = time.perf_counter()
    for i in range(rounds):
        one_round(i)
    wall = time.perf_counter() - t0
    if wall > seconds:
        print(f"perfbench: {rounds} round(s) took {wall:.1f} s, over the "
              f"{seconds:g} s budget", file=sys.stderr)
    return wall


def rows_match(expected, actual) -> tuple[bool, str]:
    """Compare two row lists (tuples) as multisets, numbers within
    REL_TOL/ABS_TOL; other values by their text."""
    if len(expected) != len(actual):
        return False, f"{len(actual)} rows, expected {len(expected)}"

    def key(row):
        return tuple(_sort_key(v) for v in row)

    e, a = sorted(expected, key=key), sorted(actual, key=key)
    for i, (re_, ra) in enumerate(zip(e, a)):
        if len(re_) != len(ra):
            return False, f"row {i}: {len(ra)} columns, expected {len(re_)}"
        for x, y in zip(re_, ra):
            if not _value_eq(x, y):
                return False, f"row {i}: {ra!r} != {re_!r}"
    return True, ""


def _num(v):
    from decimal import Decimal

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    return None


def _sort_key(v):
    n = _num(v)
    if n is not None:
        # coarse rounding so float noise cannot reorder rows
        return (1, float(f"{n:.6g}") if math.isfinite(n) else n, "")
    if v is None:
        return (0, 0.0, "")
    return (2, 0.0, str(v))


def _value_eq(x, y) -> bool:
    nx, ny = _num(x), _num(y)
    if nx is not None and ny is not None:
        return math.isclose(nx, ny, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if x is None or y is None:
        return x is None and y is None
    return str(x) == str(y)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output. A metric
    that is not a finite number (no successful operation to take it
    from) is written as null and makes the run not correct."""
    values = {k: v[0] if math.isfinite(v[0]) else None
              for k, v in metrics.items()}
    print(json.dumps({
        "correct": bool(correct) and None not in values.values(),
        "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": v[1]}
                    for k, v in metrics.items()}}, allow_nan=False),
        flush=True)


def write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
