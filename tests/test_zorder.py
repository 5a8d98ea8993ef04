"""Z-order clustering: per-file footer stats must be narrow on EVERY
clustered column (that's what makes multi-column pruning work), and
the rewrite must not change query results."""

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from xtdb_spark.operators import zorder


def _file_spans(store, table, cols):
    """Per live parquet file: {col: (min, max)} from footer row-group
    stats."""
    spans = []
    for fp in store.table_files(table):
        md = pq.ParquetFile(fp).metadata
        names = {md.schema.column(i).name: i
                 for i in range(len(md.schema))}
        s = {}
        for c in cols:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[c]).statistics
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            s[c] = (lo, hi)
        spans.append(s)
    return spans


def _mean_span(spans, col, domain):
    return sum(s[col][1] - s[col][0] for s in spans) / len(spans) / domain


def test_zorder_narrows_both_dims(store):
    n = 40_000
    df = store.spark.range(n).select(
        F.col("id").alias("_id"),
        (F.col("id") % 200).alias("x"),
        F.floor(F.col("id") / 200).alias("y"))
    store.put("zpoints", df)
    nf = store.optimize("zpoints", cluster_by=["x", "y"], n_files=16)
    assert nf >= 8
    spans = _file_spans(store, "zpoints", ["x", "y"])
    mx = _mean_span(spans, "x", 200)
    my = _mean_span(spans, "y", n / 200)
    # single-key layouts leave one dimension at ~full domain width;
    # a real z-layout bounds both (16 files ≈ 4×4 grid → ~25-35%)
    assert mx < 0.6 and my < 0.6, (mx, my)
    assert mx + my < 1.0, (mx, my)


def test_single_dim_sort_does_not(store):
    # control: the same data clustered only by _iid (default full
    # optimize) leaves x/y spans near the full domain
    n = 40_000
    df = store.spark.range(n).select(
        F.col("id").alias("_id"),
        (F.col("id") % 200).alias("x"),
        F.floor(F.col("id") / 200).alias("y"))
    store.put("iidpoints", df)
    store.optimize("iidpoints", full=True)
    spans = _file_spans(store, "iidpoints", ["x", "y"])
    assert _mean_span(spans, "x", 200) > 0.9
    assert _mean_span(spans, "y", n / 200) > 0.9


def test_zorder_preserves_results(store):
    rows = [{"_id": i, "x": i % 7, "y": i % 11, "s": f"v{i % 3}"}
            for i in range(500)]
    store.put("zmix", rows)
    store.delete("zmix", [3, 4])
    before = sorted((r["_id"], r["x"], r["y"], r["s"])
                    for r in store.scan("zmix").collect())
    # string column takes the hash-code path; timestamp the quantile path
    store.optimize("zmix", cluster_by=["x", "s"], n_files=4)
    after = sorted((r["_id"], r["x"], r["y"], r["s"])
                   for r in store.scan("zmix").collect())
    assert before == after and len(after) == 498


def test_zorder_key_handles_nulls(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, None), (3, 2.0, "b")],
        "id int, v double, s string")
    out = df.withColumn("z", zorder.zorder_key(df, ["v", "s"]))
    assert out.filter(F.col("z").isNull()).count() == 0
