"""Registry backing __spark_entry__.queries() / oracle_sql().

Cross-engine hash-stability rules used throughout the catalog:

- Floating-point SUM/AVG are order-dependent, and Spark's partial
  aggregation order is nondeterministic — so every money aggregate is
  computed as an exact `DECIMAL(18,2)` (or wider) sum and only then
  cast back to DOUBLE. Decimal addition is associative, so the result
  is bit-identical at any parallelism AND matches DuckDB running the
  same cast. Per-row double arithmetic (e.g. price * (1-discount)) is
  IEEE-deterministic and identical across engines; only reductions
  need the decimal detour.
- DuckDB SUM(BIGINT) returns HUGEINT → always CAST(... AS BIGINT)
  in oracles.
- Transcendental functions (exp/ln/pow/trig) may differ in the last
  ulp between JVM and libm → results rounded via `round(x, 6)`.
- Column names are aliased identically on both sides (driver sorts
  columns by name before hashing).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xtdb_spark.plans import explain


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # ANSI SQL for DuckDB, or None → rows-only check


QUERIES: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = QueryDef(fn, oracle)
        return fn

    return deco


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.fn for name, qd in QUERIES.items()}


def oracle_map() -> dict[str, str]:
    return {name: qd.oracle for name, qd in QUERIES.items() if qd.oracle is not None}


NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


# --- plan cache --------------------------------------------------------------
# The reference caches compiled query plans (query.clj:304-328,
# Caffeine max 4096; emission memoized per type-signature,
# query.clj:185-208). Spark analogue: build the DataFrame (the
# expensive part is Python-side Py4J plan construction, measured
# 80-160 ms/query) ONCE per (entry, sf_dir) and park its ANALYZED
# logical plan in a temp view. Each `cached_plan` call returns a
# fresh Dataset over that plan, so every execution still runs the
# optimizer, physical planner, and ALL stages with fresh shuffle IDs
# — only plan construction is reused, never results or shuffle
# output (measured same-JVM: fresh 1.67 s → cached-plan 1.13 s over
# 6 heads at sf0.1, while same-DataFrame re-collect — which DOES
# reuse shuffle output — is 0.18 s; we deliberately don't do that).

_PLAN_CACHE_MAX = 4096  # parity with the reference's Caffeine bound
_PLAN_VIEWS: dict[tuple[str, str], str] = {}


def cached_plan(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Return `QUERIES[name].fn(spark, sf_dir)` through the plan
    cache: first call builds and registers the plan, later calls skip
    straight to a fresh Dataset over the cached analyzed plan."""
    key = (name, sf_dir)
    view = _PLAN_VIEWS.get(key)
    if view is None:
        if len(_PLAN_VIEWS) >= _PLAN_CACHE_MAX:  # simple full-flush
            for v in _PLAN_VIEWS.values():       # (hit only by runaway
                spark.catalog.dropTempView(v)    # catalogs)
            _PLAN_VIEWS.clear()
        import re as _re

        view = "xt_plan_" + _re.sub(r"\W", "_", f"{name}_{sf_dir}")
        QUERIES[name].fn(spark, sf_dir).createOrReplaceTempView(view)
        _PLAN_VIEWS[key] = view
    return spark.table(view)


def clear_plan_cache(spark: SparkSession) -> None:
    for v in _PLAN_VIEWS.values():
        spark.catalog.dropTempView(v)
    _PLAN_VIEWS.clear()


def cache_tables(spark: SparkSession, sf_dir: str, tables: list[str]) -> None:
    """Opt-in buffer pool: pin tables in executor memory as cached
    temp views; subsequent `ld()` calls hit the cache. The Spark
    analogue of the reference's buffer pool of hot Arrow blocks
    (reference core buffer_pool.clj) — used by bench.py's hot stage."""
    import os

    cpus = int(spark.sparkContext.defaultParallelism)
    # Size the shuffle to the DATA, not the machine: at bench scale
    # (tens of MB) 32 reducers means 32 task launches per stage doing
    # ~1 ms of work each — scheduling dominates. ~2 MB of compressed
    # parquet per reducer keeps partitions in the healthy range
    # locally (measured: sp=8 cuts the 9 most expensive sf0.1 heads
    # ~40% vs sp=32); on a real cluster build_spark's AQE coalescing
    # does this same sizing at runtime from a high initial count.
    total = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
                for t in tables)
    sp = max(2, min(cpus, int(total // (2 << 20)) or 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(sp))
    # AQE's runtime re-planning adds a stage-submission round per
    # query stage — pure overhead when stages move MBs. Keep it for
    # GB+ working sets (where its coalescing/skew handling pays).
    # Same logic for constraint propagation: it burns optimizer time
    # quadratic in plan width to infer filters that save data-volume —
    # worth it at TB scale, measurable pure overhead at MB scale
    # (~40 ms/query on the sf0.1 heads).
    big = total >= (1 << 30)
    spark.conf.set("spark.sql.adaptive.enabled", "true" if big else "false")
    spark.conf.set("spark.sql.constraintPropagation.enabled",
                   "true" if big else "false")
    # Broadcast only true DIMENSIONS at MB scale: with the session's
    # 64 MB threshold, Catalyst broadcasts the 10 MB sf0.1 lineitem —
    # rebuilding a 600k-row hashed relation on every run — when the
    # cache's hash-partitioning already gives a ZERO-exchange
    # shuffled-hash join on orderkey (measured: q5 0.39 s → 0.21 s).
    # The dim/fact line must SCALE with the data (a fixed 1 MB cut
    # would stop broadcasting sf1's 2.5 MB customer and force a
    # custkey shuffle): just under the smaller FACT table — orders —
    # keeps every dimension broadcast and both facts on their
    # co-partitioned zero-exchange joins at any sub-GB size.
    # preferSortMergeJoin=false picks the hash join over sorting for
    # the co-partitioned fact-fact joins. Both are the session
    # defaults again at GB+ working sets, where broadcast thresholds
    # and SMJ spill-safety are the right call.
    if not big:
        try:
            orders_sz = os.path.getsize(
                os.path.join(sf_dir, "orders.parquet"))
        except OSError:
            orders_sz = 2 << 20
        thr = max(1 << 20, orders_sz // 2)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(thr))
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    for t in tables:
        _CACHED_VIEWS.add(_cache_view_name(sf_dir, t))
    for t in tables:
        df = _read(spark, sf_dir, t)
        # Parquet row groups give these files only ~1-3 input splits,
        # so a scan of the cache would run on 3 of 32 cores with one
        # straggler partition (measured 1.1s vs 0.3s on sf0.1
        # lineitem). Re-partition before pinning — but size the
        # partition COUNT to the data, like the shuffle above:
        # ~1.5 MB of compressed parquet per cached partition. Pinning
        # every big table at `cpus` partitions made EVERY downstream
        # stage schedule 32 near-empty tasks (the same
        # scheduling-dominates failure mode as sp=32; measured ~30%
        # off the full best-of-3 headline at sf0.1 — 9.9s → 6.7s —
        # same-JVM A/B). Floor of 4 keeps CPU-bound per-row work
        # (regex over documents) parallel even when the file is
        # small; the `cpus` cap restores full-machine scans once the
        # table is big enough to deserve them (sf1 lineitem hits the
        # cap, so large-SF behavior is unchanged — on a cluster this
        # is Delta's target file size doing the same job).
        size = os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        npart = 1 if size < 65536 else \
            max(4, min(cpus, -(-size // 1572864)))
        # co-partitioned tables must agree on COUNT, not just key:
        # HashPartitioning(orderkey, 4) vs (orderkey, 7) still forces
        # an exchange — align the orderkey pair to the larger count
        # (the local analogue of giving both bucketed tables the same
        # bucket count)
        if t in ("orders", "lineitem"):
            lsz = max(os.path.getsize(os.path.join(sf_dir, f"{x}.parquet"))
                      for x in ("orders", "lineitem")
                      if os.path.exists(os.path.join(sf_dir, f"{x}.parquet")))
            npart = 1 if lsz < 65536 else \
                max(4, min(cpus, -(-lsz // 1572864)))
        # Hash-partition fact tables by their PRIMARY join key while
        # pinning — the local analogue of bucketing: the cached
        # InMemoryRelation reports HashPartitioning(key, n), so joins
        # on that key skip the big side's exchange entirely (orders ⋈
        # lineitem on orderkey is the hottest join in the battery).
        # On a cluster the same effect comes from bucketed tables /
        # storage-partitioned joins.
        key = _CACHE_CLUSTER_KEY.get(t)
        df = (df.repartition(npart, F.col(key))
              if key is not None and npart > 1 else df.repartition(npart))
        view = _cache_view_name(sf_dir, t)
        df.createOrReplaceTempView(view)
        spark.catalog.cacheTable(view)
        df.count()  # materialize


# primary join key per table (TPC-H-ish schema): orderkey co-locates
# the orders ⋈ lineitem joins; keys for the smaller tables at least
# halve their own exchange
_CACHE_CLUSTER_KEY = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _cache_view_name(sf_dir: str, table: str) -> str:
    import re as _re

    return "xt_cache_" + _re.sub(r"\W", "_", f"{sf_dir}_{table}")


# process-local record of pinned views: ld() consults this instead of
# paying a catalog RPC per table load (measurable at bench's
# tables-per-query × best-of-3 volume)
_CACHED_VIEWS: set[str] = set()


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "events":
        spark.conf.set(NANOS_CONF, "true")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def ld(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one testdata table. Plain parquet scan → Catalyst gets
    predicate pushdown + column pruning for free.

    events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects — read nanos as long (runtime conf, so it
    works in the driver's own session too) and truncate to micros
    JVM-side (`ts div 1000`, integer division: double division would
    lose precision at ns magnitude). DuckDB truncates ns→µs the same
    way, so oracle comparisons line up exactly.

    If `cache_tables` pinned this table, return the cached view."""
    view = _cache_view_name(sf_dir, table)
    if view in _CACHED_VIEWS:
        return spark.table(view)
    return _read(spark, sf_dir, table)


_LDW_KEY = {"documents": "doc_id", "embeddings": "vec_id"}


def ldw(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """`ld()` repartitioned for COMPUTE-bound narrow passes (r13,
    guide §2's partition-for-work-not-bytes): compressed text parquet
    scans 1-2 input partitions at every SF (6 MB file for ~1 GB of
    text at the sf10 replica), so entries whose dominant cost is a
    per-row regex/tokenize/hash pass over the raw column ran
    near-serially on the plain-scan path. Shuffling the raw rows
    first is tiny (the compressed bytes) and lets the heavy compute
    run at the session's configured parallelism — measured 1.3-9.2×
    on 17 text-family entries at the sf10 replica, result signatures
    identical (the only consumers downstream are joins/aggregates).

    Used ONLY by entries where the sweep measured a win; cheap
    single-pass entries (pipe_text_normalize, pipe_data_profile)
    measured 0.3-0.6× WITH it — the exchange costs more than the
    work it parallelizes — and stay on ld().

    A pinned cache_tables view is returned untouched: the cache
    already repartitions for work (its npart rule), so the bench's
    hot path gains no extra exchange."""
    view = _cache_view_name(sf_dir, table)
    if view in _CACHED_VIEWS:
        return spark.table(view)
    df = _read(spark, sf_dir, table)
    key = _LDW_KEY.get(table)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.col(key)) if key else df.repartition(n)


# --- hash-stable aggregate helpers -------------------------------------------

def dsum(col: Column, alias: str, scale: str = "decimal(38,6)") -> Column:
    """Order-insensitive double sum: exact decimal accumulate → double."""
    return F.sum(col.cast(scale)).cast("double").alias(alias)


def fx(col: Column) -> Column:
    """Exact 6dp fixed-point units: per-row COMPACT decimal(18,6)
    cast (long-backed — same HALF_UP rounding as the decimal(38,6)
    route, valid for |x| < 1e12) → long micro-units. Summing these
    longs stays in Spark's fast primitive aggregation path, unlike a
    wide-decimal sum which drops to per-row BigDecimal (measured 5×
    slower on TPC-H Q1 at the 60M-row scale)."""
    return (col.cast("decimal(18,6)") * 1_000_000).cast("long")


def fx_total(col: Column) -> Column:
    """Exact total of fixed-point partials: decimal-sum the (few)
    longs so the merge can't overflow, then scale back."""
    return F.sum(col.cast("decimal(38,0)")) / 1_000_000


def fxsum(col: Column, alias: str) -> Column:
    """Single-level exact fixed-point sum — bit-identical to
    `dsum` but long-accumulated. ONLY for bounded group sizes: the
    long buffer holds |value|·1e6 per row, so a group must stay under
    ~9.2e18 / (max|value|·1e6) rows (e.g. ≤ 4.6e7 rows at values up
    to 2e5 — fine for per-order/per-customer groups whose size is
    data-model-bounded, wrong for global or per-nation sums at 100 TB
    — use `exact_agg` there)."""
    return (F.sum(fx(col)).cast("decimal(38,0)") / 1_000_000) \
        .cast("double").alias(alias)


def exact_agg(df: DataFrame, keys: list, sums: dict | None = None,
              avgs: dict | None = None,
              counts: dict | None = None,
              round2: set | None = None) -> DataFrame:
    """Two-level exact float aggregation for LOW-cardinality groups:
    stage 1 sums 6dp fixed-point LONGS per (keys, partition) — the
    whole data pass stays in the primitive fast path — stage 2
    decimal-sums the per-partition partials (n_partitions × n_groups
    rows, so the slow wide-decimal arithmetic touches almost
    nothing). Bit-identical to the direct decimal(38,6) route at any
    parallelism (same per-row rounding, exact integer summation both
    levels); no overflow at any scale because a stage-1 group is
    bounded by partition size and stage 2 is decimal.

    sums/avgs/counts map output alias → input Column (counts: None =
    COUNT(*)); avgs divide exact sums by counts in DOUBLE, matching
    `davg`. Below `explain.BIG_BYTES` of largest input
    (`explain.is_big`) the extra stage does not pay for itself, so the
    plain wide-decimal single-level aggregate runs instead; both paths
    are bit-identical (test_operators asserts it).

    `round2` names sum aliases whose EXACT DECIMAL rounds to 2dp
    (money) before the double cast. Needed when a sum's magnitude
    pushes 16 significant digits (TPC-H Q1 at sf ≥ 10): engines then
    disagree by one ulp in the decimal→double cast itself (DuckDB's
    cast double-rounds via the scaled integer), so the comparable
    presentation is the 2dp money value — rounded while still exact,
    never after the lossy cast (found by the sf10 oracle
    spot-check)."""
    sums, avgs, counts = sums or {}, avgs or {}, counts or {}
    round2 = round2 or set()

    def _final(dec: Column, a: str) -> Column:
        if a in round2:
            dec = F.round(dec, 2)
        return dec.cast("double").alias(a)

    if not explain.is_big(df):
        aggs = [_final(F.sum(c.cast("decimal(38,6)")), a)
                for a, c in sums.items()]
        aggs += [davg(c, a) for a, c in avgs.items()]
        aggs += [(F.count("*") if c is None else F.count(c)).alias(a)
                 for a, c in counts.items()]
        return df.groupBy(*keys).agg(*aggs)
    s1 = []
    for a, c in {**sums, **avgs}.items():
        s1.append(F.sum(fx(c)).alias(f"__s_{a}"))
    for a, c in avgs.items():
        s1.append(F.count(c).alias(f"__n_{a}"))
    for a, c in counts.items():
        s1.append((F.count("*") if c is None else F.count(c))
                  .alias(f"__c_{a}"))
    g1 = df.groupBy(*keys, F.spark_partition_id().alias("__pid")).agg(*s1)
    s2 = []
    for a in sums:
        s2.append(_final(fx_total(F.col(f"__s_{a}")), a))
    for a in avgs:
        s2.append((fx_total(F.col(f"__s_{a}")).cast("double")
                   / F.sum(f"__n_{a}").cast("double")).alias(a))
    for a in counts:
        s2.append(F.sum(f"__c_{a}").alias(a))
    # stage 2 regroups BY NAME (keys may be computed expressions that
    # only exist as columns after stage 1)
    key_names = [c for c in g1.columns if not c.startswith("__")]
    return g1.groupBy(*key_names).agg(*s2)


def davg(col: Column, alias: str, scale: str = "decimal(38,6)") -> Column:
    """Order-insensitive double average (exact sum / count)."""
    return (F.sum(col.cast(scale)).cast("double") /
            F.count(col).cast("double")).alias(alias)


def sql_dsum(expr: str, alias: str, scale: str = "DECIMAL(38,6)") -> str:
    return f"CAST(SUM(CAST({expr} AS {scale})) AS DOUBLE) AS {alias}"


def sql_dsum2(expr: str, alias: str) -> str:
    """`sql_dsum` with the exact decimal rounded to 2dp (money)
    BEFORE the double cast — pairs with exact_agg(round2=...); see
    its docstring for the 16-significant-digit rationale."""
    return (f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(38,6))), 2) "
            f"AS DOUBLE) AS {alias}")


def sql_davg(expr: str, alias: str, scale: str = "DECIMAL(38,6)") -> str:
    return (f"CAST(SUM(CAST({expr} AS {scale})) AS DOUBLE)"
            f" / CAST(COUNT({expr}) AS DOUBLE) AS {alias}")
