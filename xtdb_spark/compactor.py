"""Leveled, iid-bucketed background compaction for the event store.

Reference parity: the reference background-compacts trie files
L0→Ln, where each level-k file owns an iid-prefix bucket ("part") of
`levelBits` bits per level (compactor.clj:11-21 + job-calculator
compactor/job_calculator.clj + trie/Bucketer.kt; see the reference's
dev/doc/compaction.md strategy). Level-1 outputs are additionally
split by RECENCY so current-state scans skip files holding only
superseded/expired versions (compactor.clj `*recency-partition*`,
Compactor$Driver).

Spark-first re-expression (NOT a translation):

- levelBits = 4 → branch factor 16: a level-k bucket is the first k
  HEX NIBBLES of `_iid` (Bucketer.kt admits levelBits ∈ {2,4,8}; we
  pick 4 so the part is literally a hex prefix and the bucket
  expression is `substring(hex(_iid), 1, k)` — one JVM-side
  expression, no UDF).
- a compaction job reads ONLY its input files (cost ∝ job size, not
  table size), re-clusters them by bucket with one repartition +
  partitionBy write, and commits by atomically replacing a per-table
  JSON manifest (the trie-catalog role). Crash at any point leaves a
  readable table: outputs are invisible until the manifest swap, and
  inputs are deleted only after it.
- recency: instead of the reference's per-file recency metadata we
  split each job's output into `cur` / `hist` files — an event goes
  `hist` when, WITHIN the job's inputs, a later event fully covers
  its valid range, or its `_valid_to` has passed. At any valid-time
  point such an event is shadowed by the covering later event (or
  out of range), so pure current-state scans (no temporal args) can
  skip `hist` files entirely; any temporal argument keeps them.
  Erase markers are always `cur` (they must keep suppressing older
  events in files outside the job).
- erase-at-compaction, partial-job rule: a job may drop events
  superseded by an erase marker IN ITS INPUTS (and older duplicate
  markers), but must RETAIN the latest marker — older events for the
  iid may live in files the job didn't read. Only a FULL job
  (`"full": True`, built by `TableStore.optimize(..., full=True)`
  with every live file as input) drops markers, matching the
  reference where a marker dies only when it merges with everything
  it suppresses (PolygonCalculator.kt:23-24 + compactor.clj).

Job calculator (mirrors job_calculator.clj shapes):

- L0→L1: when ≥ `l0_threshold` raw append files exist, merge them —
  absorbing any still-under-target L1 bucket files (the reference's
  l0->l1 job likewise appends into the under-sized head L1 file) —
  into per-bucket L1 files.
- tiering k→k+1: when a level-k part holds ≥ 16 live files (each at
  target size for k=1, any size deeper — job_calculator.clj's
  `tiering-compaction-jobs` filter), merge the oldest 16 into
  level-k+1 files bucketed by the next nibble.
- full (`TableStore.optimize(full=True)`): the L0→L1 job with EVERY
  live file as input and `"full": True`, run and committed like any
  other job. With `"cluster_by"` (and `"n_files"` boxes) its frame is
  z-order clustered (operators/zorder.py) instead of iid-bucketed,
  into `cur` files of level 1, part "" (a box may hold any iid, so
  every point lookup keeps them); the next L0→L1 job absorbs those
  below the size target like any small L1 file.

At 100 TB this is the structure that keeps `optimize` sublinear:
every job rewrites O(16 × file-size-target) bytes regardless of
table size, point lookups open one bucket chain, and system-time
as-of scans skip whole post-horizon files via the footer-stats
manifest walk (tx.prune_manifest).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, functions as F

BRANCH_BITS = 4            # hex-nibble buckets (Bucketer.kt levelBits=4)
BRANCH_FACTOR = 1 << BRANCH_BITS
L0_THRESHOLD = 4           # compact L0 once this many raw appends exist
FILE_SIZE_TARGET = 128 << 20

MANIFEST = "_manifest.json"
LEVELS_DIR = "levels"
TMP_PREFIX = ".compact-"   # a running job's output dir, under the table

_MAX_TS = "9999-12-31 23:59:59"


# --- manifest ----------------------------------------------------------------
# {"version": 1,
#  "files": [{"name": "l1-p0a-cur-<uuid>.parquet", "level": 1,
#             "part": "0a", "hist": false, "size": 12345}, ...],
#  "compacted_l0": ["part-...parquet", ...],   # L0 basenames consumed
#  "obsolete": ["levels/...", ...]}            # awaiting unpin+delete


def manifest_path(table_path: str) -> str:
    return os.path.join(table_path, MANIFEST)


def load_manifest(table_path: str) -> dict | None:
    p = manifest_path(table_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def save_manifest(table_path: str, m: dict) -> None:
    """Atomic swap — the commit point of every compaction job."""
    p = manifest_path(table_path)
    tmp = p + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(m, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


def empty_manifest() -> dict:
    return {"version": 1, "files": [], "compacted_l0": [], "obsolete": []}


def live_files(table_path: str) -> tuple[list[str], list[dict]]:
    """(live L0 paths, live level entries). L0 = top-level parquet
    files not yet consumed by a job; level files are live iff listed
    in the manifest (a crashed job's outputs are invisible)."""
    m = load_manifest(table_path)
    l0 = sorted(glob.glob(os.path.join(table_path, "*.parquet")))
    if m is None:
        return l0, []
    consumed = set(m["compacted_l0"])
    l0 = [f for f in l0 if os.path.basename(f) not in consumed]
    entries = [e for e in m["files"]
               if os.path.exists(os.path.join(table_path, LEVELS_DIR,
                                              e["name"]))]
    return l0, entries


def entry_path(table_path: str, e: dict) -> str:
    return os.path.join(table_path, LEVELS_DIR, e["name"])


# --- job calculator (pure — unit-testable without Spark) ---------------------


def compaction_jobs(l0: list[str], entries: list[dict],
                    file_size_target: int = FILE_SIZE_TARGET,
                    l0_threshold: int = L0_THRESHOLD) -> list[dict]:
    """Available jobs for one round, as
    {"out_level", "part", "inputs_l0", "inputs_lvl"} dicts.
    `part` is the OUT-level part PREFIX being (re)built ("" for
    L0→L1, which splits into all first-nibble buckets)."""
    jobs: list[dict] = []
    if len(l0) >= l0_threshold:
        absorb = [e for e in entries
                  if e["level"] == 1 and e["size"] < file_size_target]
        jobs.append({"out_level": 1, "part": "",
                     "inputs_l0": list(l0), "inputs_lvl": absorb})
        absorbed = {e["name"] for e in absorb}
    else:
        absorbed = set()
    by_part: dict[tuple[int, str], list[dict]] = {}
    for e in entries:
        if e["name"] in absorbed:
            continue
        by_part.setdefault((e["level"], e["part"]), []).append(e)
    for (level, part), files in sorted(by_part.items()):
        eligible = [e for e in files
                    if level > 1 or e["size"] >= file_size_target]
        if len(eligible) >= BRANCH_FACTOR:
            jobs.append({"out_level": level + 1, "part": part,
                         "inputs_l0": [],
                         "inputs_lvl": eligible[:BRANCH_FACTOR]})
    return jobs


# --- job execution -----------------------------------------------------------


def _within_input_supersede(ev: DataFrame, full: bool = False) -> DataFrame:
    """Apply erase + recency classification using only the job's own
    inputs (sound in any superset of files — supersession is
    monotone in the file set). Returns the events to rewrite with a
    boolean `__hist` column; erased events and stale duplicate erase
    markers are dropped. `full`: the inputs hold every event of the
    table, so the latest erase marker is dropped too."""
    latest_erase = (ev.filter(F.col("op") == "erase").groupBy("_iid")
                    .agg(F.max("_system_from").alias("__e")))
    keep = F.col("__e").isNull() | (F.col("_system_from") > F.col("__e"))
    if not full:
        keep = keep | ((F.col("op") == "erase")
                       & (F.col("_system_from") == F.col("__e")))
    ev = ev.join(latest_erase, "_iid", "left").filter(keep).drop("__e")
    # per-event supersession keyed by the CONTENT temporal key, not a
    # positional id: this frame fans out into three branches (a, b,
    # and the back-join), and `monotonically_increasing_id` is not
    # stable across recomputation of a post-shuffle subplan (fetch-
    # order races, task retries, AQE) — a positional key could
    # attribute __sup to the wrong event on a cluster. Events sharing
    # the full temporal key have identical covers-sets, so grouping
    # by it is lossless (the back-join fans each __sup to every twin).
    max_ts = F.lit(_MAX_TS).cast("timestamp")
    ev = ev.withColumn("__vt", F.coalesce(F.col("_valid_to"), max_ts))
    a = ev.alias("a")
    b = (ev.filter(F.col("op") != "erase")
         .select("_iid", "_system_from", "_valid_from", "__vt")
         .alias("b"))
    covers = ((F.col("b._iid") == F.col("a._iid"))
              & (F.col("b._system_from") > F.col("a._system_from"))
              & (F.col("b._valid_from") <= F.col("a._valid_from"))
              & (F.col("b.__vt") >= F.col("a.__vt")))
    sup = (a.join(b, covers, "left")
           .groupBy(F.col("a._iid").alias("_iid"),
                    F.col("a._system_from").alias("_system_from"),
                    F.col("a._valid_from").alias("_valid_from"),
                    F.col("a.__vt").alias("__vt"))
           .agg(F.min(F.col("b._system_from")).alias("__sup")))
    out = ev.join(sup, ["_iid", "_system_from", "_valid_from", "__vt"],
                  "left")
    job_time = out.agg(F.max("_system_from")).collect()[0][0]
    rec = F.least(F.col("__vt"), F.coalesce(F.col("__sup"), max_ts))
    hist = ((F.col("op") != "erase")
            & (rec <= F.lit(job_time).cast("timestamp")))
    return (out.withColumn("__hist", F.coalesce(hist, F.lit(False)))
            .drop("__vt", "__sup"))


def run_job(store, table: str, job: dict) -> list[dict]:
    """Execute one compaction job: read inputs, re-bucket (or z-order
    cluster, for a job with `cluster_by`), commit via the manifest,
    delete unpinned inputs. Returns the new manifest entries."""
    path = store._path(table)
    levels = os.path.join(path, LEVELS_DIR)
    os.makedirs(levels, exist_ok=True)
    in_l0 = job["inputs_l0"]
    in_lvl = [entry_path(path, e) for e in job["inputs_lvl"]]
    inputs = in_l0 + in_lvl
    out_level = job["out_level"]

    # slot-retained WAL (replication.py): consuming an L0 file erases
    # its tx attribution, so any tx a replication slot hasn't acked
    # is archived FIRST (postgres keeps WAL segments for lagging
    # slots the same way); no slots → no-op
    from xtdb_spark.replication import archive_unacked, txid_of_l0

    archive_unacked(store.warehouse,
                    [t for t in map(txid_of_l0, in_l0) if t is not None])

    ev = store.events(table, files=inputs)
    ev = _within_input_supersede(ev, full=job.get("full", False))
    tmp = os.path.join(path, f"{TMP_PREFIX}{uuid.uuid4().hex}")
    if job.get("cluster_by"):
        from xtdb_spark.operators import zorder

        # unpartitioned: each box is one `cur` file of part "" (a
        # partitionBy would re-sort the boxes by partition columns)
        (zorder.cluster(ev.drop("__hist"), job["cluster_by"],
                        job["n_files"], extra_sort=["_iid", "_system_from"])
         .write.mode("overwrite").parquet(tmp))
    else:
        bucket = F.substring(F.lower(F.hex(F.col("_iid"))), 1, out_level)
        ev = ev.withColumn("__bucket", bucket)
        (ev.repartition(BRANCH_FACTOR, "__bucket")
         .sortWithinPartitions("__bucket", "_iid", "_system_from")
         .write.partitionBy("__bucket", "__hist")
         .mode("overwrite").parquet(tmp))

    outs = glob.glob(os.path.join(tmp, "**", "*.parquet"), recursive=True)
    if not outs:
        # a full job dropped every event (all erased): one empty file
        # keeps the table's columns
        (ev.drop("__bucket", "__hist").limit(0)
         .write.mode("overwrite").parquet(tmp))
        outs = glob.glob(os.path.join(tmp, "*.parquet"))
    new_entries: list[dict] = []
    for f in outs:
        keys = dict(d.split("=", 1) for d in
                    os.path.relpath(os.path.dirname(f), tmp).split(os.sep)
                    if "=" in d)
        part = keys.get("__bucket", "")
        hist = keys.get("__hist") == "true"
        name = (f"l{out_level}-p{part}-{'hist' if hist else 'cur'}"
                f"-{uuid.uuid4().hex}.parquet")
        os.replace(f, os.path.join(levels, name))
        new_entries.append({"name": name, "level": out_level, "part": part,
                            "hist": hist,
                            "size": os.path.getsize(
                                os.path.join(levels, name))})
    shutil.rmtree(tmp, ignore_errors=True)

    # commit: one atomic manifest swap makes outputs live and inputs
    # dead; until it, readers see exactly the old state
    m = load_manifest(path) or empty_manifest()
    dead_names = {e["name"] for e in job["inputs_lvl"]}
    m["files"] = [e for e in m["files"]
                  if e["name"] not in dead_names] + new_entries
    m["compacted_l0"] = sorted(set(m["compacted_l0"])
                               | {os.path.basename(f) for f in in_l0})
    save_manifest(path, m)

    pinned = {f for _, fs in store._pins.values() for f in fs}
    for f in inputs:
        if f in pinned:
            m["obsolete"].append(os.path.relpath(f, path))
        else:
            try:
                os.remove(f)
            except OSError:
                pass
    cleanup(store, table, m)
    return new_entries


def cleanup(store, table: str, m: dict | None = None) -> None:
    """Delete no-longer-referenced files once unpinned: obsolete
    inputs, orphaned outputs of crashed jobs (uncommitted level files
    and `.compact-*` temp dirs — jobs serialize under the commit
    lock, so no running job owns one), and consumed-L0 names whose
    files are gone (manifest hygiene)."""
    path = store._path(table)
    for d in glob.glob(os.path.join(path, f"{TMP_PREFIX}*")):
        shutil.rmtree(d, ignore_errors=True)
    mm = m if m is not None else load_manifest(path)
    if mm is None:
        return
    pinned = {f for _, fs in store._pins.values() for f in fs}
    still: list[str] = []
    for rel in mm["obsolete"]:
        f = os.path.join(path, rel)
        if f in pinned:
            still.append(rel)
        elif os.path.exists(f):
            try:
                os.remove(f)
            except OSError:
                still.append(rel)
    mm["obsolete"] = still
    live = {e["name"] for e in mm["files"]}
    for f in glob.glob(os.path.join(path, LEVELS_DIR, "*.parquet")):
        if os.path.basename(f) not in live and f not in pinned \
                and os.path.relpath(f, path) not in still:
            try:
                os.remove(f)
            except OSError:
                pass
    mm["compacted_l0"] = [
        n for n in mm["compacted_l0"]
        if os.path.exists(os.path.join(path, n))]
    save_manifest(path, mm)


def compact(store, table: str, file_size_target: int = FILE_SIZE_TARGET,
            l0_threshold: int = L0_THRESHOLD,
            max_rounds: int = 64) -> int:
    """Run available jobs to a fixpoint (reference `compact-all!`,
    compactor.clj:22-27). Returns the number of jobs executed."""
    path = store._path(table)
    n = 0
    for _ in range(max_rounds):
        l0, entries = live_files(path)
        jobs = compaction_jobs(l0, entries, file_size_target,
                               l0_threshold)
        if not jobs:
            break
        for job in jobs:
            run_job(store, table, job)
            n += 1
    return n
