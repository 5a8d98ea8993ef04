"""Per-layer measurement for traced runs (`--trace 1`).

Turns on the program's own spans (`tracing.configure` with a
`CollectingExporter`: `xtdb.sql`, `xtdb.tx`) and wraps the public
calls into each layer with spans and counters of the benchmark's own:

    registry  cached_plan
    rewriter  rewrite, rewrite_with_args
    tx        TableStore.scan/lookup/events/_events_lub/put/submit_tx
    compactor TableStore.compact, compactor.run_job
    pgwire    the connection's per-message dispatch
    spark     one job group per statement, read back from the status
              tracker; QueryPlanningTracker phases; exchange counts
              from plans.explain.analyze

Spans stay in memory and are written as JSON lines at the end. Every
workload reports every metric; a layer the workload bypasses reads 0.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import threading
import time
from collections import Counter, defaultdict

PER_LAYER = [
    ("spark.plan_ms", "ms"), ("spark.exec_ms", "ms"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.exchanges", "count"),
    ("registry.plan_fetch_ms", "ms"),
    ("rewriter.rewrite_ms", "ms"), ("rewriter.prefilters", "count"),
    ("rewriter.calls_per_stmt", "count"),
    ("tx.scan_calls", "count"), ("tx.scan_build_ms", "ms"),
    ("tx.scan_files", "count"), ("tx.lub_reads", "count"),
    ("tx.put_ms", "ms"), ("tx.rows_put", "count"), ("tx.submit_ms", "ms"),
    ("tx.files_written", "count"), ("tx.bytes_written", "bytes"),
    ("tx.bytes_live", "bytes"),
    ("compactor.jobs", "count"), ("compactor.ms", "ms"),
    ("compactor.bytes_rewritten", "bytes"), ("compactor.l0_before", "count"),
    ("pgwire.server_ms", "ms"), ("pgwire.wire_ms", "ms"),
]


_DML = re.compile(r"^\s*(INSERT|UPDATE|DELETE|ERASE|PATCH|ASSERT)\b", re.I)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    def __init__(self, spans_path: str):
        self.spans_path = spans_path
        self.client_spans_path = spans_path.replace(".jsonl", "-client.jsonl")
        self.ms: dict[str, list[float]] = defaultdict(list)
        self.n: Counter = Counter()
        self.statements: list[tuple[str, str, object]] = []  # (group, key, df)
        self.dispatches: list[tuple[int, int, int]] = []  # (port, t0, t1) ns
        self.lock = threading.Lock()
        self.spark = None
        self.exporter = None

    # ---- installation ----------------------------------------------------

    def install(self) -> None:
        from xtdb_spark import compactor, pgwire, session, tracing, tx
        from xtdb_spark.queries import registry
        from xtdb_spark.sql import rewriter

        self.exporter = tracing.CollectingExporter()
        tracing.configure(self.exporter)
        T = tx.TableStore
        self._wrap(registry, "cached_plan", "registry.cached_plan",
                   after=self._statement_from_head)
        self._wrap(rewriter, "rewrite", "rewriter.rewrite")
        self._wrap(rewriter, "rewrite_with_args", "rewriter.rewrite")
        self._wrap(session.XtdbSession, "sql", "session.sql",
                   before=self._new_group, after=self._statement_from_sql)
        self._wrap(T, "scan", "tx.scan", before=self._count_prefilter)
        self._wrap(T, "lookup", "tx.lookup")
        self._wrap(T, "events", "tx.events", before=self._count_files)
        self._wrap(T, "_events_lub", "tx.events_lub")
        self._wrap(T, "put", "tx.put", before=self._count_rows,
                   after=self._files_written)
        self._wrap(T, "delete", "tx.delete", after=self._files_written)
        self._wrap(T, "submit_tx", "tx.submit_tx", after=self._files_written)
        self._wrap(T, "compact", "compactor.compact", before=self._l0_before,
                   after=self._compacted)
        self._wrap(compactor, "run_job", "compactor.run_job",
                   before=self._job_bytes)
        self._wrap(pgwire._Conn, "_dispatch", "pgwire.dispatch",
                   before=self._dispatch_start, after=self._dispatch_end)

    def attach_spark(self, spark) -> None:
        self.spark = spark

    def _wrap(self, owner, attr, name, before=None, after=None):
        from xtdb_spark import tracing

        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            ctx = before(a, k) if before else None
            t0 = time.perf_counter()
            with tracing.span("bench." + name):
                out = orig(*a, **k)
            ms = (time.perf_counter() - t0) * 1000
            with tracer.lock:
                tracer.ms[name].append(ms)
                tracer.n[name] += 1
            if after:
                after(a, k, out, ctx, ms)
            return out

        setattr(owner, attr, wrapper)

    # ---- hooks -------------------------------------------------------------

    def _add(self, key, v=1):
        with self.lock:
            self.n[key] += v

    def _new_group(self, a, k):
        """One Spark job group per statement (thread-local property)."""
        gid = self._next_group()
        a[0].spark.sparkContext.setJobGroup(gid, "perfbench statement")
        return gid

    def _next_group(self) -> str:
        with self.lock:
            self.n["groups"] += 1
            return f"bench-{self.n['groups']}"

    def _statement_from_sql(self, a, k, out, gid, _ms):
        from pyspark.sql import DataFrame

        query = a[1] if len(a) > 1 else k.get("query", "")
        key = re.sub(r"\d+(\.\d+)?", "#", " ".join(str(query).split()))[:300]
        with self.lock:
            if not _DML.match(query):
                self.n["reads"] += 1
            self.statements.append((gid, key, out if isinstance(out, DataFrame)
                                    else None))

    def _statement_from_head(self, a, k, out, _ctx, _ms):
        gid = self._next_group()
        with self.lock:
            self.statements.append((gid, "head:" + a[1], out))
        a[0].sparkContext.setJobGroup(gid, "perfbench statement")

    def _count_prefilter(self, a, k):
        if k.get("prefilter") is not None:
            self._add("rewriter.prefilters")

    def _count_files(self, a, k):
        files = k.get("files", a[2] if len(a) > 2 else None)
        if files is None:
            files = a[0].table_files(a[1])
        self._add("tx.scan_files", len(files))

    def _count_rows(self, a, k):
        rows = a[2] if len(a) > 2 else k.get("rows")
        if isinstance(rows, list):
            self._add("tx.rows_put", len(rows))

    def _files_written(self, a, k, st, _ctx, _ms):
        store = a[0]
        if st is None:
            return
        files = glob.glob(os.path.join(store.warehouse, "*",
                                       f"part-xt{store._txid(st)}-*.parquet"))
        self._add("tx.files_written", len(files))
        self._add("tx.bytes_written", sum(os.path.getsize(f) for f in files))

    def _l0_before(self, a, k):
        from xtdb_spark import compactor

        return len(compactor.live_files(a[0]._path(a[1]))[0])

    def _compacted(self, a, k, jobs, l0, ms):
        """Compaction calls that ran at least one job."""
        if jobs:
            with self.lock:
                self.ms["compactor.l0_before"].append(l0)
                self.ms["compactor.busy_ms"].append(ms)

    def _job_bytes(self, a, k):
        from xtdb_spark import compactor

        store, table, job = a[0], a[1], a[2]
        path = store._path(table)
        files = list(job["inputs_l0"]) + [compactor.entry_path(path, e)
                                          for e in job["inputs_lvl"]]
        self._add("compactor.bytes_rewritten",
                  sum(os.path.getsize(f) for f in files if os.path.exists(f)))

    def _dispatch_start(self, a, k):
        """The client's port (names its connection) and the wall clock
        the load generator's spans use."""
        return a[0].sock.getpeername()[1], time.time_ns()

    def _dispatch_end(self, a, k, _out, ctx, _ms):
        with self.lock:
            self.dispatches.append((*ctx, time.time_ns()))

    # ---- results -------------------------------------------------------------

    def _spark_numbers(self):
        """Per statement: jobs/stages/tasks from the status tracker,
        planning ms from the QueryPlanningTracker; exchanges from the
        plan of the first statement of each shape."""
        from xtdb_spark.plans import explain

        st = self.spark.sparkContext.statusTracker()
        jobs, stages, tasks, plan_ms, exch = [], [], [], [], {}
        for gid, key, df in self.statements:
            ids = list(st.getJobIdsForGroup(gid))
            n_st = n_t = 0
            for j in ids:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                n_st += len(info.stageIds)
                for s in info.stageIds:
                    si = st.getStageInfo(s)
                    n_t += si.numTasks if si is not None else 0
            jobs.append(len(ids))
            stages.append(n_st)
            tasks.append(n_t)
            if df is None:
                continue
            try:
                ph = df._jdf.queryExecution().tracker().phases()
                it, total = ph.iterator(), 0
                while it.hasNext():
                    e = it.next()
                    if e._1() in ("analysis", "optimization", "planning"):
                        total += e._2().endTimeMs() - e._2().startTimeMs()
                plan_ms.append(total)
                if key not in exch:
                    exch[key] = explain.analyze(df).n_shuffles
            except Exception:        # a plan that cannot be inspected
                continue
        return jobs, stages, tasks, plan_ms, exch

    def per_layer(self, log, out) -> dict:
        from perfbench import common
        from perfbench.run import READ_KINDS

        jobs, stages, tasks, plan_ms, exch = self._spark_numbers()

        def per_stmt(count):
            """Per read statement (XtdbSession.sql calls that are not DML)."""
            return count / self.n["reads"] if self.n["reads"] else 0.0

        reads = log.latencies(READ_KINDS)
        rewrite = _med(self.ms["rewriter.rewrite"])
        calls = per_stmt(self.n["rewriter.rewrite"])
        plan = _med(plan_ms)
        server, client = self._wire_means_ms()
        xt = out.get("xt")
        live = (sum(os.path.getsize(f) for t in xt.store.tables()
                    for f in xt.store.table_files(t)) if xt is not None else 0)
        m = {
            "spark.plan_ms": plan,
            "spark.exec_ms": max(0.0, common.median(reads) * 1000 - plan
                                 - rewrite * calls) if reads else 0.0,
            "spark.jobs": _med(jobs), "spark.stages": _med(stages),
            "spark.tasks": _med(tasks),
            "spark.exchanges": _med(list(exch.values())),
            "registry.plan_fetch_ms": _med(self.ms["registry.cached_plan"]),
            "rewriter.rewrite_ms": rewrite,
            "rewriter.prefilters": per_stmt(self.n["rewriter.prefilters"]),
            "rewriter.calls_per_stmt": calls,
            "tx.scan_calls": per_stmt(self.n["tx.scan"] + self.n["tx.lookup"]),
            "tx.scan_build_ms": _med(self.ms["tx.scan"]),
            "tx.scan_files": per_stmt(self.n["tx.scan_files"]),
            "tx.lub_reads": self.n["tx.events_lub"],
            "tx.put_ms": _med(self.ms["tx.put"]),
            "tx.rows_put": self.n["tx.rows_put"],
            "tx.submit_ms": _med(self.ms["tx.submit_tx"]),
            "tx.files_written": self.n["tx.files_written"],
            "tx.bytes_written": self.n["tx.bytes_written"],
            "tx.bytes_live": live,
            "compactor.jobs": self.n["compactor.run_job"],
            "compactor.ms": _med(self.ms["compactor.busy_ms"]),
            "compactor.bytes_rewritten": self.n["compactor.bytes_rewritten"],
            "compactor.l0_before": _med(self.ms["compactor.l0_before"]),
            "pgwire.server_ms": server,
            "pgwire.wire_ms": max(0.0, client - server) if client else 0.0,
        }
        units = dict(PER_LAYER)
        return {k: (float(m[k]), units[k]) for k, _ in PER_LAYER}

    def _wire_means_ms(self) -> tuple[float, float]:
        """Mean server and mean client ms over the same statements: the
        timed rounds' operations. An operation's server time is the
        dispatch time of the messages its connection sent while the
        client waited for it."""
        if not os.path.exists(self.client_spans_path):
            return 0.0, 0.0
        with open(self.client_spans_path) as f:
            spans = [s for s in map(json.loads, filter(str.strip, f))
                     if s["phase"] == "round"]
        if not spans:
            return 0.0, 0.0
        server = sum((t1 - t0) for s in spans for port, t0, t1 in self.dispatches
                     if port == s["port"] and s["start_ns"] <= t0 <= s["end_ns"])
        client = sum(s["end_ns"] - s["start_ns"] for s in spans)
        return server / len(spans) / 1e6, client / len(spans) / 1e6

    def write_spans(self) -> None:
        with open(self.spans_path, "w") as f:
            for s in self.exporter.spans:
                f.write(json.dumps(s, default=str) + "\n")
