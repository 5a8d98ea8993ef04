"""Bitemporal visibility resolution — the Spark re-expression of the
reference's Polygon/Ceiling scan kernels.

Reference semantics (studied, not ported line-by-line):
- storage holds *events* `(_iid, doc…, _valid_from, _valid_to,
  _system_from, op ∈ {put, delete, erase})`
  (reference api/src/main/clojure/xtdb/tx_ops.clj:65-133)
- newer events (higher `_system_from`) supersede older ones over the
  valid-time range they cover; `erase` wipes an `_iid` entirely
  (reference core/src/main/kotlin/xtdb/bitemporal/PolygonCalculator.kt:22-50)
- a query carries TemporalBounds in both dimensions
  (reference core/src/main/clojure/xtdb/operator/scan.clj:62-114);
  the default is VALID_TIME AS OF now / SYSTEM_TIME AS OF now
  (scan.clj:307-310).

Spark design (SURVEY.md §1.4):
- **Point-in-time queries (the 95% path) are exact with pure window
  expressions** — no UDF: the visible version of an `_iid` at
  (valid V, system S) is the event with the greatest `_system_from`
  among events whose valid range covers V and `_system_from <= S`;
  it is visible iff it is a `put` and the iid has no erase.
  This stays in whole-stage codegen and the partition-by-_iid window
  shuffles once on `_iid` — at 100 TB the event files are clustered
  by `_iid` (TableStore bucketing) so the shuffle is cheap/elided.
- **Range/history queries (`FOR ALL VALID_TIME` etc.) enumerate
  polygon rectangles** via a grouped Arrow-batched pandas UDF
  (`applyInPandas` per `_iid`) implementing the ceiling sweep —
  the general case genuinely needs per-iid sequential state.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

MAX_TS = "9999-12-31 23:59:59"
META_COLS = ("_iid", "_valid_from", "_valid_to", "_system_from", "op")


def _ts(x) -> Column:
    c = x if isinstance(x, Column) else F.lit(x)
    return c.cast("timestamp")


def _end_or_inf(col: Column) -> Column:
    return F.coalesce(col, F.lit(MAX_TS).cast("timestamp"))


def drop_erased(events: DataFrame) -> DataFrame:
    """Remove the events wiped by `erase`: everything of the same iid
    written at-or-before the (latest) erase, erase markers included.
    Events written AFTER an erase are untouched — re-putting an
    entity after erasing it makes it visible again (reference
    PolygonCalculator.kt iterates newest-system-first and an erase
    only wipes the *remaining*, i.e. older, events:
    PolygonCalculator.kt:23-24,44-46)."""
    erases = (events.filter(F.col("op") == "erase")
              .groupBy("_iid")
              .agg(F.max("_system_from").alias("__erase_ts")))
    return (events.join(erases, "_iid", "left")
            .filter(F.col("__erase_ts").isNull()
                    | (F.col("_system_from") > F.col("__erase_ts")))
            .drop("__erase_ts"))


def resolve_asof(
    events: DataFrame,
    valid_time=None,
    system_time=None,
    keep_meta: bool = False,
    erases: bool = True,
) -> DataFrame:
    """Point-in-time snapshot: rows visible at (valid_time, system_time),
    both defaulting to "now" (reference scan.clj:307-310 default bounds).

    Pure window computation — exact XTDB semantics for point queries:
    later events supersede earlier ones wherever their valid ranges
    overlap, so at a single valid point V only the system-latest
    covering event matters.

    `erases=False` (here and in the polygon paths) states that no
    event is an erase — the store knows it from the file footers —
    and skips `drop_erased`.
    """
    ev = drop_erased(events) if erases else events
    if system_time is not None:
        ev = ev.filter(F.col("_system_from") <= _ts(system_time))
    v = _ts(valid_time) if valid_time is not None else F.current_timestamp()
    ev = ev.filter((F.col("_valid_from") <= v)
                   & (v < _end_or_inf(F.col("_valid_to"))))
    w = Window.partitionBy("_iid").orderBy(F.desc("_system_from"),
                                           F.desc("_valid_from"))
    out = (ev.withColumn("_rn", F.row_number().over(w))
           .filter((F.col("_rn") == 1) & (F.col("op") == "put"))
           .drop("_rn"))
    return out if keep_meta else out.drop(*[c for c in META_COLS if c != "_iid"])


def with_system_to(events: DataFrame) -> DataFrame:
    """FOR ALL SYSTEM_TIME version chain: derive `_system_to` as the
    `_system_from` of the next event of the same iid covering the same
    valid-from (the state-table pattern). Exact when valid ranges per
    iid are keyed by `_valid_from` (the overwhelmingly common shape);
    the general overlapping case goes through `polygon_history`."""
    w = Window.partitionBy("_iid", "_valid_from").orderBy("_system_from")
    return events.withColumn("_system_to", F.lead("_system_from").over(w))


def valid_history(events: DataFrame) -> DataFrame:
    """Current-system-time validity timeline per entity (what
    `FOR VALID_TIME FROM a TO b` filters): each event's effective
    valid interval is its own range clipped by the next event's
    `_valid_from` (a later event — put OR delete — supersedes the
    overlap, reference PolygonCalculator.kt:22-50 for the system-
    latest slice; `_valid_to_eff` keeps the original end when the
    next event starts later, leaving a gap). Exact when events per
    iid arrive in increasing (`_valid_from`, `_system_from`) order —
    the append-flow shape; arbitrary retroactive writes go through
    `polygon_history`. Deletes clip their predecessors, then drop
    out. One window shuffle on `_iid`; no UDF."""
    w = Window.partitionBy("_iid").orderBy("_valid_from", "_system_from")
    nxt = F.lead("_valid_from").over(w)
    return (events
            .withColumn("_valid_to_eff",
                        F.when(nxt.isNull(), F.col("_valid_to"))
                        .otherwise(F.least(_end_or_inf(F.col("_valid_to")),
                                           nxt)))
            .filter(F.col("op") == "put"))


_POLY_FIELDS = [
    StructField("_valid_from", TimestampType()),
    StructField("_valid_to", TimestampType()),
    StructField("_system_from", TimestampType()),
    StructField("_system_to", TimestampType()),
]


def polygon_history(events: DataFrame, doc_cols: list[str],
                    erases: bool = True) -> DataFrame:
    """Full bitemporal rectangle enumeration (`FOR ALL VALID_TIME FOR
    ALL SYSTEM_TIME`): for every put event, the staircase of
    (valid_from, valid_to, system_from, system_to) rectangles during
    which it was the visible version.

    Algorithm (re-derived from the reference's behavior, implemented
    independently): per iid, sweep events newest-system-first keeping a
    *ceiling* step function over the valid axis = the earliest later
    system time that overwrote each valid segment
    (reference core/src/main/kotlin/xtdb/bitemporal/Ceiling.kt,
    Polygon.kt:8-77 — behavioral parity, fresh implementation).

    Runs as applyInPandas grouped by `_iid`: one shuffle on _iid, then
    embarrassingly parallel; per-group state is tiny (#versions of one
    entity), so this scales to any number of iids.

    Skew bound (the only per-key serial state in the engine; measured
    by tests/test_bitemporal.py::test_polygon_hot_iid_skew_bound): a
    hot `_iid` with V versions holds one arrow-batched pandas group
    of V rows — memory O(V × row width) (10⁵ versions ≈ tens of MB,
    fine; beyond that, `polygon_history_streamed` sweeps the same
    events through bounded arrow batches with ceiling carry-over —
    O(batch) memory at any V, round 7)
    — and sweep time O(V × S) where S = ceiling segments: S stays
    O(1) for the common full-cover update chain (same valid range), and
    grows only with DISTINCT staggered valid boundaries, worst case
    O(V²) for V mutually-staggered versions. The reference's
    Ceiling.kt carries the same per-entity serial dependency — system
    order must be applied in sequence per iid.

    SINGLE-VERSION FAST PATH (the dominant analytic shape — an
    append-once table where every iid has exactly one put): the
    polygon is trivially (valid_from, valid_to, system_from, ∞), so
    those iids take a pure-JVM projection (a window count routes
    them; no pandas group, no Python) and only multi-version iids
    pay the sweep. Measured on a 300k-row single-version table:
    FOR ALL VALID_TIME COUNT(*) 214 s → sub-second. At 100 TB this
    is the difference between "history costs what history you have"
    and "every scan pays the worst case"."""
    ev = drop_erased(events) if erases else events
    max_ts = pd.Timestamp("2262-04-10")  # pandas-representable "infinity"

    schema = StructType(
        [StructField("_iid", ev.schema["_iid"].dataType)]
        + [StructField(c, ev.schema[c].dataType) for c in doc_cols]
        + _POLY_FIELDS
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_system_from", ascending=False, kind="mergesort")
        # ceiling: sorted valid-axis boundaries `pts` with `vals[i]` the
        # system ceiling over [pts[i], pts[i+1])
        pts: list = [pd.Timestamp.min, max_ts]
        vals: list = [max_ts]
        out_rows: list[dict] = []
        # (itertuples mangles _-prefixed names; dict records keep them)
        for r in pdf.to_dict(orient="records"):
            pts, vals = _sweep_event(r, pts, vals, out_rows, max_ts)
        cols = ["_iid", *doc_cols, "_valid_from", "_valid_to",
                "_system_from", "_system_to"]
        if not out_rows:
            return pd.DataFrame(columns=cols)
        return pd.DataFrame(out_rows)[cols]

    w = Window.partitionBy("_iid")
    ev2 = ev.withColumn("__vc", F.count("*").over(w))
    # one surviving put, non-empty valid range → the rectangle is the
    # event itself with an open system end; lone non-puts / empty
    # ranges produce no rectangle (exactly what the sweep would emit)
    singles = (ev2.filter(
        (F.col("__vc") == 1) & (F.col("op") == "put")
        & (F.col("_valid_to").isNull()
           | (F.col("_valid_from") < F.col("_valid_to"))))
        .select("_iid", *doc_cols, "_valid_from", "_valid_to",
                "_system_from",
                F.lit(None).cast("timestamp").alias("_system_to")))
    multi = ev2.filter(F.col("__vc") > 1).drop("__vc")

    # STATE-TABLE FAST PATH (the second dominant multi-version shape
    # — SCD-style tables where every version carries an explicit
    # CLOSED valid range keyed by `_valid_from`, e.g. daily rates):
    # when an iid's put events group into (_valid_from, _valid_to)
    # ranges that (a) are identical within each _valid_from group,
    # (b) never overlap across groups (prev._valid_to ≤ next
    # ._valid_from; only the LAST group may be open-ended), and (c)
    # the iid has no deletes, the ceiling never crosses group
    # boundaries — each group is an independent version chain whose
    # rectangles are exactly `_system_to = lead(_system_from)` over
    # the group (the with_system_to pattern). Those iids take a pure
    # window projection; only genuinely staggered-overlap iids (the
    # O(V²)-rectangle staircase case, e.g. open-ended update chains)
    # pay the pandas sweep. All-JVM eligibility: one (iid, vf)
    # aggregate + one lead window + one per-iid min — shuffles on
    # _iid only, same key as the sweep's own shuffle.
    g = (multi.groupBy("_iid", "_valid_from")
         .agg(F.sum(F.when(F.col("op") != "put", 1).otherwise(0))
              .alias("__nonput"),
              F.countDistinct("_valid_to").alias("__dv"),
              F.count("_valid_to").alias("__nv"),
              F.count("*").alias("__n"),
              F.max("_valid_to").alias("__vt")))
    wv = Window.partitionBy("_iid").orderBy("_valid_from")
    same_vt = (((F.col("__dv") == 1) & (F.col("__nv") == F.col("__n")))
               | (F.col("__nv") == 0))
    next_vf = F.lead("_valid_from").over(wv)
    nonempty = F.col("__vt").isNull() | (F.col("__vt")
                                         > F.col("_valid_from"))
    no_overlap = next_vf.isNull() | (F.col("__vt").isNotNull()
                                     & (F.col("__vt") <= next_vf))
    ok_row = ((F.col("__nonput") == 0) & same_vt & nonempty
              & no_overlap)
    elig = (g.withColumn("__ok", ok_row.cast("int"))
            .groupBy("_iid").agg(F.min("__ok").alias("__ok"))
            .filter(F.col("__ok") == 1).select("_iid"))
    wseq = Window.partitionBy("_iid", "_valid_from") \
        .orderBy("_system_from")
    fast = (multi.join(elig, "_iid", "left_semi")
            .withColumn("_system_to",
                        F.lead("_system_from").over(wseq))
            .select("_iid", *doc_cols, "_valid_from", "_valid_to",
                    "_system_from", "_system_to"))
    rest = multi.join(elig, "_iid", "left_anti")

    # OPEN UPDATE-CHAIN FAST PATH (the DEFAULT multi-version shape —
    # events whose valid_from tracks system_from, valid_to open):
    # with `_valid_from` non-decreasing in system order, the very
    # first newer event covers [its vf, ∞), so the ceiling over
    # everything at/after lead(vf) is exactly lead(sf) — each PUT's
    # polygon collapses to at most TWO rectangles, pure lead():
    #   [vf, lead_vf) × [sf, ∞)        (skipped when vf == lead_vf)
    #   [lead_vf, ∞)  × [sf, lead_sf)  (the overwritten tail;
    #                                   skipped when sf == lead_sf)
    # DELETES are chain-compatible (r12): a delete lowers the ceiling
    # over its [vf, ∞) exactly like a put (the sweep's step 2 runs
    # for every op) and emits nothing (step 1 is put-gated) — so
    # eligibility ignores op, leads run over ALL events, and only
    # put rows emit rectangles. Before this, ONE delete anywhere sent
    # the whole iid to the pandas sweep (measured at the sf1 replica:
    # every multi-version iid had a delete, so 100% of 1M rows paid
    # Python).
    # (the O(V²) staircase only arises from RETROACTIVE writes —
    # newer events with EARLIER valid starts — which the
    # monotonicity condition excludes; those keep the arrow sweep).
    # Measured at 150k 2-version iids: 253.8 s (grouped pandas
    # sweep) → ~4 s, identical rectangles."""
    ws = Window.partitionBy("_iid").orderBy("_system_from")
    chain_ok = (F.col("_valid_to").isNull()
                & (F.lag("_valid_from").over(ws).isNull()
                   | (F.lag("_valid_from").over(ws)
                      <= F.col("_valid_from"))))
    celig = (rest.withColumn("__ok", chain_ok.cast("int"))
             .groupBy("_iid").agg(F.min("__ok").alias("__ok"))
             .filter(F.col("__ok") == 1).select("_iid"))
    cev = (rest.join(celig, "_iid", "left_semi")
           .withColumn("__nvf", F.lead("_valid_from").over(ws))
           .withColumn("__nsf", F.lead("_system_from").over(ws))
           .filter(F.col("op") == "put"))
    ts_null = F.lit(None).cast("timestamp")
    head = F.struct(F.col("_valid_from").alias("vf"),
                    F.col("__nvf").alias("vt"),
                    F.col("_system_from").alias("sf"),
                    ts_null.alias("st"))
    tail = F.struct(F.col("__nvf").alias("vf"), ts_null.alias("vt"),
                    F.col("_system_from").alias("sf"),
                    F.col("__nsf").alias("st"))
    rects = F.filter(
        F.when(F.col("__nvf").isNull(), F.array(head))
        .otherwise(F.array(head, tail)),
        lambda r: (r["vt"].isNull() | (r["vf"] < r["vt"]))
        & (r["st"].isNull() | (r["sf"] < r["st"])))
    chain = (cev.withColumn("__r", F.explode(rects))
             .select("_iid", *doc_cols,
                     F.col("__r.vf").alias("_valid_from"),
                     F.col("__r.vt").alias("_valid_to"),
                     F.col("__r.sf").alias("_system_from"),
                     F.col("__r.st").alias("_system_to")))
    slow = rest.join(celig, "_iid", "left_anti")
    return slow.groupBy("_iid").applyInPandas(sweep, schema) \
        .unionByName(chain).unionByName(fast).unionByName(singles)


def _sweep_event(r: dict, pts: list, vals: list, out_rows: list,
                 max_ts) -> tuple[list, list]:
    """One ceiling-sweep step (events arrive newest-system-first):
    emit this event's visible rectangles against the current ceiling,
    then lower the ceiling over its valid range. Shared by the
    grouped sweep and the streaming scale path."""
    vf = r["_valid_from"]
    vt = r["_valid_to"] if pd.notna(r["_valid_to"]) else max_ts
    sf = r["_system_from"]
    if vt <= vf:
        return pts, vals
    # 1. emit rectangles: intersect [vf, vt) with ceiling segments
    if r["op"] == "put":
        for i in range(len(vals)):
            a, b, c = pts[i], pts[i + 1], vals[i]
            lo, hi = max(a, vf), min(b, vt)
            if lo < hi and c > sf:
                out_rows.append({
                    **{k: r[k] for k in r
                       if k not in ("_valid_from", "_valid_to",
                                    "_system_from", "op")},
                    "_valid_from": lo,
                    "_valid_to": None if hi == max_ts else hi,
                    "_system_from": sf,
                    "_system_to": None if c == max_ts else c,
                })
    # 2. lower the ceiling to sf over [vf, vt): split each segment
    #    at vf/vt and override covered sub-segments. Merge ONLY
    #    adjacent COVERED segments (the reference's applyLog removes
    #    boundaries interior to the applied range, Ceiling.kt:118 —
    #    but it never coalesces with equal-valued UNCOVERED
    #    neighbors, so those boundaries persist and later events'
    #    polygons split at them; reference direct-sql/sl-demo's
    #    rectangle decomposition depends on this)
    new_pts, new_vals = [pts[0]], []
    last_covered = False
    for i in range(len(vals)):
        a, b, c = pts[i], pts[i + 1], vals[i]
        cut = [a] + [x for x in (vf, vt) if a < x < b] + [b]
        for j in range(len(cut) - 1):
            lo, hi = cut[j], cut[j + 1]
            covered = vf <= lo and hi <= vt
            val = sf if covered else c
            if covered and last_covered:
                new_pts[-1] = hi
            else:
                new_vals.append(val)
                new_pts.append(hi)
            last_covered = covered
    return new_pts, new_vals


def polygon_history_streamed(events: DataFrame, doc_cols: list[str],
                             batch_rows: int | None = 16384) -> DataFrame:
    """Same rectangles as `polygon_history`, with BOUNDED working
    set — the hot-iid scale path (bitemporal.py docstring's
    "10⁸-versions-of-one-entity would need chunking" case).

    Instead of materializing each iid's whole version history as one
    pandas group (O(V) memory, applyInPandas), events are
    repartitioned by `_iid` and SORTED within partitions
    (`_iid, _system_from DESC` — Spark's external sort, spill-safe),
    then swept by `mapInPandas`, which receives an ITERATOR of
    arrow batches: per-event work streams through, carrying only the
    ceiling step function across batch boundaries (and resetting it
    at each iid change). Peak memory = O(arrow batch + ceiling
    segments), independent of V — a 10⁶-version entity streams
    through ~16k-row batches (test_bitemporal asserts both the
    batch bound and result equality with the grouped sweep).

    The ceiling carry-over is exactly the chunked-sweep idea
    (reference Ceiling.kt processes system-ordered chunks the same
    way); chunking falls on system-time boundaries (arrow batches)
    rather than the valid axis, so emitted rectangles are IDENTICAL
    to the grouped sweep — no boundary splits to re-merge."""
    from typing import Iterator

    ev = drop_erased(events)
    if batch_rows is not None:
        ev.sparkSession.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(batch_rows))
    max_ts = pd.Timestamp("2262-04-10")
    schema = StructType(
        [StructField("_iid", ev.schema["_iid"].dataType)]
        + [StructField(c, ev.schema[c].dataType) for c in doc_cols]
        + _POLY_FIELDS
    )
    cols = ["_iid", *doc_cols, "_valid_from", "_valid_to",
            "_system_from", "_system_to"]

    def sweep_stream(batches: "Iterator[pd.DataFrame]"
                     ) -> "Iterator[pd.DataFrame]":
        iid = object()          # sentinel ≠ any real iid
        pts: list = []
        vals: list = []
        for pdf in batches:
            out_rows: list[dict] = []
            for r in pdf.to_dict(orient="records"):
                if r["_iid"] != iid:
                    iid = r["_iid"]
                    pts, vals = [pd.Timestamp.min, max_ts], [max_ts]
                pts, vals = _sweep_event(r, pts, vals, out_rows, max_ts)
            if out_rows:
                yield pd.DataFrame(out_rows)[cols]

    return (ev.repartition("_iid")
              .sortWithinPartitions("_iid", F.col("_system_from").desc())
              .mapInPandas(sweep_stream, schema))


def resolve_valid_range(
    events: DataFrame,
    valid_from,
    valid_to,
    system_time=None,
    doc_cols: list[str] | None = None,
    erases: bool = True,
) -> DataFrame:
    """FOR VALID_TIME BETWEEN/FROM…TO: all versions whose resolved
    valid rectangle intersects [valid_from, valid_to), as of the given
    system time. Built on the polygon enumeration."""
    ev = events
    if system_time is not None:
        ev = ev.filter(F.col("_system_from") <= _ts(system_time))
    doc_cols = doc_cols or [c for c in events.columns if c not in META_COLS]
    hist = polygon_history(ev, doc_cols, erases=erases)
    # current system slice + valid-range intersection
    sys_live = hist.filter(F.col("_system_to").isNull()) if system_time is None \
        else hist.filter((F.col("_system_from") <= _ts(system_time))
                         & (_end_or_inf(F.col("_system_to")) > _ts(system_time)))
    return sys_live.filter(
        (F.col("_valid_from") < _ts(valid_to))
        & (_ts(valid_from) < _end_or_inf(F.col("_valid_to"))))


def resolve_system_range(
    events: DataFrame,
    system_from,
    system_to,
    valid_time=None,
    doc_cols: list[str] | None = None,
    erases: bool = True,
) -> DataFrame:
    """FOR SYSTEM_TIME BETWEEN/FROM…TO: every version visible at the
    (given or current) valid point at *some* system time in
    [system_from, system_to) — the audit query "what did we believe
    about V during that span". Built on the polygon enumeration: for
    a fixed valid point each event's visibility is one system
    interval, so the overlap filter yields each version at most once."""
    doc_cols = doc_cols or [c for c in events.columns if c not in META_COLS]
    hist = polygon_history(events, doc_cols, erases=erases)
    v = F.current_timestamp() if valid_time is None else _ts(valid_time)
    return hist.filter(
        (F.col("_valid_from") <= v) & (v < _end_or_inf(F.col("_valid_to")))
        & (F.col("_system_from") < _ts(system_to))
        & (_ts(system_from) < _end_or_inf(F.col("_system_to"))))
