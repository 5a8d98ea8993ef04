"""Z-order (Morton) clustering for multi-column scan pruning.

The reference's trie layout clusters one axis — iid prefix buckets
(trie/Bucketer.kt; our compactor.py mirrors it) — which serves point
lookups. Analytic tables at 100 TB are filtered on SEVERAL columns
at once (events by time AND entity, documents by source AND length),
and parquet footer min/max stats only prune files when the layout
keeps each file narrow on EVERY filtered column. Z-ordering is the
standard answer (Delta/Iceberg `OPTIMIZE ... ZORDER BY`): interleave
per-column locality codes so range-partitioning on one key yields
files that are small hyper-rectangles in all dimensions.

Spark-first shape — everything is whole-stage-codegen Column math:

1. per column, an 8-bit locality code:
   - numeric/timestamp/date → `width_bucket` against 255 approximate
     quantile boundaries (one `approxQuantile` pass per column,
     driver-bounded: 255 doubles) — equal-POPULATION buckets, so
     skew can't crowd the code space;
   - string/binary/bool → `xxhash64 & 255` (hash codes lose range
     locality but keep equality/IN pruning, the useful predicate
     class for those types);
2. Morton-interleave the codes' bits into one long
   (bit j of column i → bit `j*ncols + i`) — a sum of shift/AND
   expressions, no UDF;
3. `repartitionByRange(zkey)` + `sortWithinPartitions(zkey)`: each
   output file owns a contiguous z-range = a bounded box in every
   clustered dimension.

Used by `TableStore.optimize(table, cluster_by=[...])`, whose full
compaction job (compactor.run_job) clusters its frame here instead
of bucketing it by iid; `zorder_key` also works on any DataFrame for
write-path layout of plain analytic tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CODE_BITS = 8  # 256 buckets per dimension


def _col_code(df: DataFrame, name: str) -> Column:
    """8-bit locality code for one column (see module docstring)."""
    dtype = dict(df.dtypes)[name]
    c = F.col(name)
    if dtype in ("bigint", "int", "smallint", "tinyint", "double",
                 "float") or dtype.startswith("decimal"):
        num = c.cast("double")
    elif dtype in ("timestamp", "timestamp_ntz", "date"):
        num = F.unix_micros(c.cast("timestamp")).cast("double")
    else:
        return (F.abs(F.xxhash64(c)) % (1 << CODE_BITS)).cast("long")
    # equal-population boundaries; 0.01 relative error is plenty for
    # an 8-bit code (boundaries only decide bucket edges)
    qs = [i / (1 << CODE_BITS) for i in range(1, 1 << CODE_BITS)]
    bounds = df.select(num.alias("_q")).na.drop().approxQuantile(
        "_q", qs, 0.01)
    # strictly increasing boundary list (duplicates collapse buckets)
    uniq: list[float] = []
    for b in bounds:
        if not uniq or b > uniq[-1]:
            uniq.append(b)
    if not uniq:
        return F.lit(0).cast("long")
    # equal-population bucket id = how many boundaries lie at or below
    # the value — one literal-array aggregate per row (codegen'd; a
    # 255-arm CASE chain would blow the codegen budget instead)
    arr = F.array(*[F.lit(float(b)) for b in uniq])
    code = F.aggregate(arr, F.lit(0),
                       lambda acc, b: acc + F.when(num >= b, 1)
                       .otherwise(0))
    return F.coalesce(code.cast("long"), F.lit(0).cast("long"))


def zorder_key(df: DataFrame, cols: list[str]) -> Column:
    """Morton-interleaved long key over `cols` (≤ 8 columns)."""
    if not cols:
        raise ValueError("cluster_by needs at least one column")
    if len(cols) > 8:
        raise ValueError("z-order supports at most 8 columns")
    if len(cols) == 1:
        return _col_code(df, cols[0])
    codes = [_col_code(df, c) for c in cols]
    n = len(codes)
    z = F.lit(0).cast("long")
    for i, code in enumerate(codes):
        for j in range(CODE_BITS):
            bit = F.shiftright(code, j).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, j * n + i)
    return z


def cluster(df: DataFrame, cols: list[str], n_files: int,
            extra_sort: list[str] | None = None) -> DataFrame:
    """Rewrite-ready frame: range-partitioned and sorted on the
    z-key so each output file is a bounded box in every clustered
    dimension. `extra_sort` orders within equal z-values (the event
    store passes (_iid, _system_from) to keep its per-iid resolution
    scans sequential)."""
    z = zorder_key(df, cols).alias("__zkey")
    out = (df.withColumn("__zkey", z)
           .repartitionByRange(int(n_files), "__zkey")
           .sortWithinPartitions("__zkey", *(extra_sort or []))
           .drop("__zkey"))
    return out
