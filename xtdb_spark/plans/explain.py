"""Plan inspection utilities: the engine's answer to the reference's
EXPLAIN / EXPLAIN ANALYZE (reference query.clj:210-277, which reports
per-cursor timing + pushdown stats).

Used by tests and the plan-audit tool to assert that:
- column pruning reached the parquet scan (ReadSchema),
- filters were pushed down (PushedFilters),
- small dimensions broadcast (BroadcastHashJoin / BroadcastExchange),
- the hot path stays inside WholeStageCodegen.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


# `is_big` inputs take the scale-safe arm of every size-gated catalog
# strategy; read at call time, so a test can patch it
BIG_BYTES = 64 << 20


def size_estimate(df: DataFrame) -> int:
    """The largest `sizeInBytes` among the leaves of `df`'s optimized
    plan: a parquet read's file bytes, a pinned view's in-memory
    bytes, a store scan's live files. A leaf Spark cannot size (an
    RDD-backed frame) reports Long.MaxValue, so it counts as big. The
    root's estimate multiplies a join's inputs (9.9e15 B for lineitem
    ⋈ orders ⋈ customer at sf0.01), so it is not used."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return max((int(leaves.apply(i).stats().sizeInBytes())
                for i in range(leaves.size())), default=0)


def is_big(df: DataFrame) -> bool:
    """The one catalog size rule: `df`'s largest input ≥ BIG_BYTES."""
    return size_estimate(df) >= BIG_BYTES


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")


def codegen_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen")


def explain_analyze(df: DataFrame) -> str:
    """EXPLAIN ANALYZE parity (reference query.clj:210-277 returns
    per-cursor timing + pushdown stats): execute the query, then
    return the FINAL adaptive plan annotated with runtime metrics
    (rows output, shuffle bytes, spill…). Under AQE this is the plan
    that actually ran — join strategies and partition counts chosen
    at runtime, not the static guess."""
    df.collect()  # execute THIS plan; AQE finalizes it + fills metrics
    plan = df._jdf.queryExecution().executedPlan()
    try:  # unwrap AdaptiveSparkPlanExec to the plan that actually ran
        plan = plan.finalPhysicalPlan()
    except Exception:
        pass
    out = plan.toString()
    # append per-node metric values (name -> value) — the reference's
    # per-cursor timing/pushdown stats analogue. Recursive walk that
    # descends into AQE query stages (their metrics live on the inner
    # materialized plan).
    rows: list[str] = []

    def walk(node, depth):
        try:
            vals = []
            m = node.metrics()
            keys = m.keys().iterator()
            while keys.hasNext():
                k = keys.next()
                vals.append(f"{k}={m.apply(k).value()}")
            if vals:
                rows.append("  " * depth + f"{node.nodeName()}: "
                            + ", ".join(sorted(vals)))
            try:  # query stages wrap the executed sub-plan
                walk(node.plan(), depth + 1)
            except Exception:
                pass
            ch = node.children().iterator()
            while ch.hasNext():
                walk(ch.next(), depth + 1)
        except Exception:
            pass  # metric reflection is best-effort across versions

    walk(plan, 0)
    if rows:
        out += "\n\n== Runtime metrics ==\n" + "\n".join(rows)
    return out


@dataclass
class PlanFacts:
    text: str
    n_scans: int
    pushed_filters: list[str]
    read_schemas: list[str]
    n_broadcast_joins: int
    n_sortmerge_joins: int
    n_shuffles: int
    codegen_spans: int

    def scan_reads_only(self, *cols: str) -> bool:
        """True if every parquet scan reads a subset of `cols`."""
        allowed = set(cols)
        for rs in self.read_schemas:
            got = set(re.findall(r"(\w+):", rs))
            if not got <= allowed:
                return False
        return True


def count_shuffles(text: str) -> int:
    """Shuffle exchanges in a formatted plan: formatted mode lists
    `(N) Exchange` nodes with the partitioning on an Arguments: line;
    BroadcastExchange is not a shuffle."""
    return len(re.findall(r"Arguments: (?:hash|range)partitioning", text))


def analyze(df: DataFrame) -> PlanFacts:
    text = formatted_plan(df)
    cg = codegen_plan(df)
    # Codegen span count comes from the dedicated codegen mode (AQE
    # hides `*(N)` markers in simple mode before execution).
    return PlanFacts(
        text=text,
        n_scans=len(re.findall(r"Scan parquet", text)),
        pushed_filters=re.findall(r"PushedFilters: \[([^\]]*)\]", text),
        read_schemas=re.findall(r"ReadSchema: struct<([^>]*)>", text),
        n_broadcast_joins=len(re.findall(r"BroadcastHashJoin", text)),
        n_sortmerge_joins=len(re.findall(r"SortMergeJoin", text)),
        n_shuffles=count_shuffles(text),
        codegen_spans=int((re.search(
            r"Found (\d+) WholeStageCodegen subtrees", cg) or [0, 0])[1]),
    )
