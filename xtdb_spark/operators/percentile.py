"""Exact grouped percentiles with a scale-safe big-data path.

Spark's exact `percentile` aggregate buffers a per-group value→count
OpenHashMap in execution memory — the guide §2.5 unbounded-state
shape: at 100 TB a group with billions of DISTINCT values OOMs
rather than spills. `exact_percentiles` keeps the exact contract at
every scale by switching the PHYSICAL strategy, never the math:

- small inputs: one `percentile(col, array(...))` aggregate — the
  fastest spelling at bench scale (r12: sharing one state across cut
  points measured 2× on op_agg_percentile at sf1).
- big inputs (`explain.is_big` of the input frame): pre-aggregate
  duplicate values (`groupBy(grp, value)` counting non-null values —
  partial map-side aggregation, so the shuffle carries one row per
  DISTINCT (grp, value)), then ONE
  running-count window over the sorted distinct values. The same
  value→count information flows through a sort + WindowExec buffer
  (`ExternalAppendOnlyUnsafeRowArray` — SPILLS gracefully) instead of
  an in-memory hash map that cannot.

Both paths interpolate with Spark's own formula
(Percentile.scala `getPercentile`):

    pos    = q · (n − 1)              -- double
    lo, hi = floor(pos), ceil(pos)    -- long
    result = v_lo                       if hi == lo
           = (hi − pos)·v_lo + (pos − lo)·v_hi   otherwise

reproduced operation-for-operation in double arithmetic, so the two
paths return BIT-IDENTICAL doubles (pinned by
tests/test_r13_opt.py::test_exact_percentiles_paths_identical).
NULL values are ignored, like the builtin; a group whose values are
all null keeps its row, with a null `__p`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xtdb_spark.plans import explain


def exact_percentiles(df: DataFrame, grp: str, col: str,
                      qs: list[float]) -> DataFrame:
    """Returns one row per `grp` with `__p` = array<double> of the
    exact interpolated percentiles of `col` at each q in `qs`."""
    if not explain.is_big(df):
        arr = ", ".join(f"{q!r}D" for q in qs)
        return df.groupBy(grp).agg(
            F.expr(f"percentile({col}, array({arr}))").alias("__p"))

    # a null value counts 0, so an all-null group keeps __n = 0
    vals = df.select(grp, F.col(col).cast("double").alias("__v"))
    cnts = vals.groupBy(grp, "__v").agg(F.count("__v").alias("__c"))
    w = Window.partitionBy(grp).orderBy("__v")
    cum = (cnts
           .withColumn("__cum", F.sum("__c").over(
               w.rowsBetween(Window.unboundedPreceding,
                             Window.currentRow)))
           .withColumn("__n", F.sum("__c").over(
               w.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing))))

    def pos(q):
        return F.lit(float(q)) * (F.col("__n") - 1).cast("double")

    aggs, outs = [], []
    for i, q in enumerate(qs):
        lo = F.floor(pos(q)).cast("long")
        hi = F.ceil(pos(q)).cast("long")
        # v at 0-indexed rank r of the sorted multiset = the smallest
        # distinct value whose inclusive cumulative count exceeds r
        aggs.append(F.min(F.when(F.col("__cum") > lo, F.col("__v")))
                    .alias(f"__klo{i}"))
        aggs.append(F.min(F.when(F.col("__cum") > hi, F.col("__v")))
                    .alias(f"__khi{i}"))
    out = cum.groupBy(grp).agg(F.max("__n").alias("__n"), *aggs)
    for i, q in enumerate(qs):
        p, klo, khi = pos(q), F.col(f"__klo{i}"), F.col(f"__khi{i}")
        lo = F.floor(p).cast("long")
        hi = F.ceil(p).cast("long")
        outs.append(
            F.when(hi == lo, klo)
            .otherwise((hi.cast("double") - p) * klo
                       + (p - lo.cast("double")) * khi))
    return out.select(
        grp, F.when(F.col("__n") > 0, F.array(*outs)).alias("__p"))
