"""Leveled iid-bucketed compaction (xtdb_spark/compactor.py; reference
compactor.clj + compactor/job_calculator.clj + trie/Bucketer.kt).

Covers: the pure job calculator, end-to-end result preservation
across levels, point-lookup bucket pruning, sublinear rewrites (only
level-eligible inputs touched), the cur/hist recency split, erase
semantics across partial jobs vs full compaction, as-of manifest
pruning over a multi-level store, and crash-orphan cleanup."""

import glob
import os

import pytest

from xtdb_spark import compactor
from xtdb_spark.compactor import (BRANCH_FACTOR, compaction_jobs,
                                  live_files, load_manifest)


def put_n(store, table, ids, v, system_from=None):
    store.put(table, [{"_id": i, "v": f"{v}-{i}"} for i in ids],
              system_from=system_from)


def current(store, table):
    return {(r["_id"], r["v"])
            for r in store.scan(table).select("_id", "v").collect()}


# --- job calculator (pure) ---------------------------------------------------

def test_job_calculator_l0_threshold_and_absorb():
    l0 = [f"/w/t/part-{i}.parquet" for i in range(4)]
    entries = [{"name": "l1-p0a-cur-x.parquet", "level": 1, "part": "0a",
                "hist": False, "size": 10},
               {"name": "l1-p0b-cur-y.parquet", "level": 1, "part": "0b",
                "hist": False, "size": 10**9}]
    jobs = compaction_jobs(l0, entries, file_size_target=1000)
    assert len(jobs) == 1
    job = jobs[0]
    assert job["out_level"] == 1 and job["inputs_l0"] == l0
    # under-target L1 file absorbed, at-target one left alone
    assert [e["name"] for e in job["inputs_lvl"]] == ["l1-p0a-cur-x.parquet"]

    # below threshold: no job
    assert compaction_jobs(l0[:3], entries, file_size_target=1000) == []


def test_job_calculator_tiering():
    entries = [{"name": f"l1-p07-cur-{i}.parquet", "level": 1, "part": "07",
                "hist": False, "size": 1000}
               for i in range(BRANCH_FACTOR + 2)]
    jobs = compaction_jobs([], entries, file_size_target=1000)
    assert len(jobs) == 1
    job = jobs[0]
    assert job["out_level"] == 2 and job["part"] == "07"
    assert len(job["inputs_lvl"]) == BRANCH_FACTOR
    # L1 files under target are NOT tiering-eligible (they keep
    # absorbing L0 merges instead — job_calculator.clj's size filter)
    small = [dict(e, size=10) for e in entries]
    assert compaction_jobs([], small, file_size_target=1000) == []


# --- end-to-end --------------------------------------------------------------

def test_leveled_compaction_preserves_results(store):
    for batch in range(5):
        put_n(store, "lc", range(20), f"b{batch}")
    before = current(store, "lc")
    n_jobs = store.compact("lc", file_size_target=1, l0_threshold=4)
    assert n_jobs >= 1
    l0, entries = live_files(store._path("lc"))
    assert entries, "expected leveled outputs"
    assert len(l0) < 5, "L0 should have been consumed"
    assert current(store, "lc") == before
    # every version survives the rewrite (5 events per id)
    from pyspark.sql import functions as F
    ev = store.events("lc")
    assert ev.filter(F.col("_iid") == F.lit(store.iid_py(3))).count() == 5
    # and the full bitemporal history resolves identically (9 polygon
    # rectangles for a 5-version staggered-valid chain)
    hist = store.scan("lc", all_system_time=True, all_valid_time=True)
    assert hist.filter("_id = 3").count() == 9


def test_point_lookup_touches_one_bucket(store):
    for batch in range(4):
        put_n(store, "pt", range(200), f"b{batch}")
    store.compact("pt", file_size_target=1)
    all_files = store.table_files("pt")
    pf = store.point_files("pt", 17)
    h = store.iid_py(17).hex()
    # only the matching bucket chain is kept (plus any live L0)
    _, entries = live_files(store._path("pt"))
    matching = [e for e in entries if h.startswith(e["part"])]
    assert len(pf) == len(matching)
    assert len(pf) < len(all_files) / 4
    row = store.lookup("pt", 17).select("_id", "v").collect()
    assert [(r["_id"], r["v"]) for r in row] == [(17, "b3-17")]
    # temporal lookup still works (hist files included again)
    hist = store.lookup("pt", 17, all_system_time=True)
    assert hist.count() == 4


def test_only_eligible_files_rewritten(store):
    """Sublinear optimize: a later L0 round must not rewrite the
    existing level files (their names survive untouched)."""
    for batch in range(4):
        put_n(store, "su", range(30), f"b{batch}")
    # target high enough that L1 outputs stay under it → they'd be
    # absorb-eligible; use a tiny target so they are NOT absorbed
    store.compact("su", file_size_target=1)
    _, entries1 = live_files(store._path("su"))
    names1 = {e["name"] for e in entries1}
    for batch in range(4, 8):
        put_n(store, "su", range(30), f"b{batch}")
    store.compact("su", file_size_target=1)
    _, entries2 = live_files(store._path("su"))
    names2 = {e["name"] for e in entries2}
    assert names1 <= names2, "existing at-target level files rewritten"
    assert current(store, "su") == {(i, f"b7-{i}") for i in range(30)}


def test_recency_split_hist_vs_cur(store):
    # same explicit valid_from, so batch 2 FULLY covers batch 1 —
    # batch 1 is then shadowed at every valid point and goes hist
    store.put("rc", [{"_id": i, "v": f"old-{i}"} for i in range(50)],
              valid_from="2020-01-01")
    store.put("rc", [{"_id": i, "v": f"new-{i}"} for i in range(50)],
              valid_from="2020-01-01")
    put_n(store, "rc", range(50, 60), "only")
    put_n(store, "rc", [99], "pad")
    store.compact("rc", file_size_target=1)
    _, entries = live_files(store._path("rc"))
    hist = [e for e in entries if e["hist"]]
    cur = [e for e in entries if not e["hist"]]
    assert hist and cur
    cur_files = store.table_files("rc", current_only=True)
    assert len(cur_files) < len(store.table_files("rc"))
    # current-state scan is correct while skipping hist files
    got = current(store, "rc")
    assert got == ({(i, f"new-{i}") for i in range(50)}
                   | {(i, f"only-{i}") for i in range(50, 60)}
                   | {(99, "pad-99")})
    # history queries still see the superseded versions
    assert store.scan("rc", all_system_time=True, all_valid_time=True) \
        .filter("_id = 1").count() == 2


def test_erase_across_levels(store):
    """A partial job must RETAIN the erase marker (older events may
    live outside its inputs); a full optimize may drop it."""
    put_n(store, "er", range(10), "v1")
    put_n(store, "er", range(10), "v2")
    put_n(store, "er", range(10), "v3")
    put_n(store, "er", [100], "pad")
    store.compact("er", file_size_target=1)        # v1-v3 now leveled
    store.erase("er", [3])
    put_n(store, "er", [101], "pad2")
    put_n(store, "er", [102], "pad3")
    put_n(store, "er", [103], "pad4")
    store.compact("er", file_size_target=1)        # marker merges into L1
    assert current(store, "er") == (
        {(i, f"v3-{i}") for i in range(10) if i != 3}
        | {(100, "pad-100"), (101, "pad2-101"), (102, "pad3-102"),
           (103, "pad4-103")})
    # marker retained: older leveled v-rows outside the marker's job
    # stay suppressed, and the marker is still on disk
    ev = store.events("er")
    assert ev.filter("op = 'erase'").count() == 1
    # full compaction drops marker AND all erased bytes
    store.optimize("er", full=True)
    ev = store.events("er")
    assert ev.filter("op = 'erase'").count() == 0
    assert ev.filter("_id = 3").count() == 0
    assert (3, "v3-3") not in current(store, "er")


def test_asof_scan_skips_posthorizon_files(store):
    """System-time as-of over a multi-level store: files written
    after the bound are pruned from the manifest walk."""
    put_n(store, "ao", range(20), "a")
    put_n(store, "ao", range(20), "b")
    put_n(store, "ao", range(20), "c")
    bound = store.put("ao", [{"_id": 999, "v": "bound"}])
    store.compact("ao", file_size_target=1, l0_threshold=1)
    # post-bound appends land in fresh L0 files
    for batch in range(3):
        put_n(store, "ao", range(20), f"late{batch}")
    all_files = store.table_files("ao")
    pruned = store.prune_manifest("ao", bound)
    assert len(pruned) < len(all_files)
    got = {(r["_id"], r["v"]) for r in
           store.scan("ao", system_time=bound).select("_id", "v").collect()}
    assert got == ({(i, f"c-{i}") for i in range(20)} | {(999, "bound")})


def test_crash_orphan_cleanup(store):
    put_n(store, "cr", range(10), "a")
    put_n(store, "cr", range(10), "b")
    put_n(store, "cr", range(10), "c")
    put_n(store, "cr", range(10), "d")
    store.compact("cr", file_size_target=1)
    path = store._path("cr")
    levels = os.path.join(path, compactor.LEVELS_DIR)
    # simulate a crashed job: an output written but never committed
    orphan = os.path.join(levels, "l1-p00-cur-deadbeef.parquet")
    real = glob.glob(os.path.join(levels, "*.parquet"))[0]
    import shutil
    shutil.copy(real, orphan)
    before = current(store, "cr")
    assert current(store, "cr") == before  # orphan invisible to reads
    compactor.cleanup(store, "cr")
    assert not os.path.exists(orphan)
    m = load_manifest(path)
    assert all(os.path.exists(os.path.join(levels, e["name"]))
               for e in m["files"])


def test_lookup_unsupported_id_type(store):
    put_n(store, "lu", range(3), "x")
    with pytest.raises(ValueError, match="point lookup"):
        store.lookup("lu", 1.5)


def test_supersede_deterministic_under_perturbation(spark):
    """_within_input_supersede keys per-event supersession by the
    content temporal key (never a positional id): the same events
    partitioned differently must classify identically — the
    monotonically_increasing_id it used to carry is not stable
    across subplan recomputation on a cluster."""
    from datetime import datetime

    from pyspark.sql import functions as F

    rows = []
    for i in range(200):
        rows.append((bytes([i % 256, i // 256]),
                     datetime(2024, 1, 1 + i % 20), datetime(2024, 1, 1),
                     None if i % 3 else datetime(2025, 1, 1), "put", i))
        if i % 4 == 0:            # superseding later version
            rows.append((bytes([i % 256, i // 256]),
                         datetime(2024, 2, 1 + i % 20),
                         datetime(2024, 1, 1),
                         None if i % 3 else datetime(2025, 1, 1),
                         "put", i + 1000))
        if i % 10 == 0:           # an erase marker
            rows.append((bytes([i % 256, i // 256]),
                         datetime(2024, 3, 1), datetime(2024, 1, 1),
                         None, "erase", -1))
    ev = spark.createDataFrame(
        rows, "_iid binary, _system_from timestamp, "
              "_valid_from timestamp, _valid_to timestamp, "
              "op string, v long")
    outs = []
    for df in (ev, ev.repartition(7, "_system_from"),
               ev.repartition(3, "v")):
        got = sorted(
            (bytes(r["_iid"]).hex(), str(r["_system_from"]), r["v"],
             r["__hist"])
            for r in compactor._within_input_supersede(df).collect())
        outs.append(got)
    assert outs[0] == outs[1] == outs[2]
    assert any(h for *_, h in outs[0]) and any(not h for *_, h in outs[0])


# --- full jobs: optimize(full=True) / optimize(cluster_by=...) ---------------

def test_full_optimize_keeps_pinned_reads(store):
    """A full rewrite is a compaction job: a pinned frame keeps
    reading its files, which go only after unpin plus cleanup."""
    for batch in range(3):
        put_n(store, "pf", range(40), f"b{batch}")
    store.compact("pf", file_size_target=1, l0_threshold=2)
    put_n(store, "pf", range(5), "late")          # plus one live L0 file
    tok = store.pin("pf")
    files = store.pinned_files(tok)
    pinned = store.events("pf", files=files)
    n = pinned.count()
    store.optimize("pf", full=True)
    assert not set(files) & set(store.table_files("pf"))
    assert pinned.count() == n
    compactor.cleanup(store, "pf")
    assert all(os.path.exists(f) for f in files)
    store.unpin(tok)
    compactor.cleanup(store, "pf")
    assert not any(os.path.exists(f) for f in files)


def test_full_optimize_commits_through_manifest(store):
    """The outputs are level-1 bucket files listed in the manifest:
    compaction has nothing left to do, a point read opens one bucket,
    and superseded versions land in hist files."""
    store.put("fm", [{"_id": i, "v": f"old-{i}"} for i in range(100)],
              valid_from="2020-01-01")
    store.put("fm", [{"_id": i, "v": f"new-{i}"} for i in range(100)],
              valid_from="2020-01-01")
    put_n(store, "fm", range(100, 120), "x")
    before = current(store, "fm")
    n = store.optimize("fm", full=True)
    path = store._path("fm")
    m = load_manifest(path)
    assert n == len(m["files"]) > 1
    assert store.table_files("fm") == sorted(
        compactor.entry_path(path, e) for e in m["files"])
    assert store.compact("fm") == 0
    assert len(store.point_files("fm", 7)) < len(store.table_files("fm"))
    assert len(store.table_files("fm", current_only=True)) \
        < len(store.table_files("fm"))
    assert current(store, "fm") == before


def test_full_optimize_fault_at_commit_keeps_old_state(spark, store,
                                                      monkeypatch):
    """A full job that dies at its manifest swap leaves the table as
    it was: a reopened store reads the pre-optimize state."""
    from xtdb_spark.tx import TableStore

    for batch in range(3):
        put_n(store, "fc", range(20), f"b{batch}")
    store.compact("fc", file_size_target=1, l0_threshold=2)
    store.erase("fc", [3])
    put_n(store, "fc", [50], "late")
    tables = store.tables()
    before = current(store, "fc")
    hist = store.scan("fc", all_system_time=True,
                      all_valid_time=True).count()

    def boom(*a, **k):
        raise OSError("injected manifest fault")

    monkeypatch.setattr(compactor, "save_manifest", boom)
    with pytest.raises(OSError, match="injected"):
        store.optimize("fc", full=True)
    monkeypatch.undo()
    reopened = TableStore(spark, store.warehouse)
    assert reopened.tables() == tables
    assert current(reopened, "fc") == before
    assert reopened.scan("fc", all_system_time=True,
                         all_valid_time=True).count() == hist
    assert reopened.events("fc").filter("op = 'erase'").count() == 1


def test_full_optimize_of_wholly_erased_table_keeps_columns(store):
    store.put("we", [{"_id": 1, "v": "a"}, {"_id": 2, "v": "b"}])
    store.erase("we", [1, 2])
    assert store.optimize("we", full=True) == 1
    df = store.scan("we")
    assert "v" in df.columns and df.count() == 0
    assert store.events("we").count() == 0


def test_optimize_n_files_needs_cluster_by(store):
    put_n(store, "nf", range(3), "a")
    with pytest.raises(ValueError, match="cluster_by"):
        store.optimize("nf", n_files=2)


def test_zorder_outputs_are_partless_level1_files(store):
    """z-order boxes may hold any iid: level 1, part "", kept by every
    point read."""
    for batch in range(2):
        store.put("zo", [{"_id": i, "x": i % 50, "v": f"{batch}-{i}"}
                         for i in range(200)])
    before = current(store, "zo")
    assert store.optimize("zo", cluster_by=["x"], n_files=3) == 3
    _, entries = live_files(store._path("zo"))
    assert {(e["level"], e["part"]) for e in entries} == {(1, "")}
    assert sorted(store.point_files("zo", 7)) == store.table_files("zo")
    assert [(r["_id"], r["v"]) for r in
            store.lookup("zo", 7).select("_id", "v").collect()] \
        == [(7, "1-7")]
    assert current(store, "zo") == before


def test_crashed_job_temp_dir_is_cleaned_and_not_exported(store, tmp_path):
    """A job's `.compact-*` output dir outlives a crash; cleanup
    removes it and a full export never copies it."""
    import shutil

    put_n(store, "tc", range(10), "a")
    path = store._path("tc")
    planted = os.path.join(path, ".compact-x", "__bucket=0",
                           "__hist=false", "a.parquet")
    os.makedirs(os.path.dirname(planted))
    shutil.copy(store.table_files("tc")[0], planted)
    snap = store.export_warehouse(str(tmp_path / "snap"))
    assert not os.path.exists(os.path.join(snap, "tc", ".compact-x"))
    compactor.cleanup(store, "tc")
    assert not os.path.exists(os.path.join(path, ".compact-x"))
    assert current(store, "tc") == {(i, f"a-{i}") for i in range(10)}
