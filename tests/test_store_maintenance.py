"""Compaction + skew-join tests."""

import os

import pyarrow.parquet as pq

from xtdb_spark.operators.skew import salted_join


def test_optimize_preserves_results(store):
    for day in range(1, 6):
        store.put("m", [{"_id": i, "v": day * 100 + i} for i in range(20)],
                  system_from=f"2024-01-0{day}")
    before = sorted((r["_id"], r["v"]) for r in store.scan("m").collect())
    n_files = store.optimize("m", full=True)
    assert n_files == len(store.table_files("m"))
    after = sorted((r["_id"], r["v"]) for r in store.scan("m").collect())
    assert before == after
    # history preserved too
    old = sorted((r["_id"], r["v"]) for r in
                 store.scan("m", system_time="2024-01-02 12:00:00").collect())
    assert all(v < 300 for _, v in old) and len(old) == 20


def test_salted_join_matches_plain_join(spark):
    facts = spark.createDataFrame(
        [(i % 3, f"row{i}") for i in range(100)], "k long, payload string")
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")],
                                "k long, name string")
    plain = sorted((r["k"], r["payload"], r["name"]) for r in
                   facts.join(dim, "k").collect())
    salted = sorted((r["k"], r["payload"], r["name"]) for r in
                    salted_join(facts, dim, "k", salt=4).collect())
    assert plain == salted
    assert len(salted) == 100
    # left outer: unmatched FACT rows are fine (fact side carries one
    # salt value each)
    facts2 = facts.union(spark.createDataFrame([(9, "orphan")],
                                               "k long, payload string"))
    plain2 = sorted((r["k"], r["payload"], r["name"]) for r in
                    facts2.join(dim, "k", "left").collect())
    salted2 = sorted((r["k"], r["payload"], r["name"]) for r in
                     salted_join(facts2, dim, "k", salt=4,
                                 how="left").collect())
    assert plain2 == salted2


def test_salted_join_rejects_dim_preserving_types(spark):
    """Round-9 verdict item: under right/full an unmatched dim row
    would appear once per salt value — the API must refuse rather
    than silently duplicate."""
    import pytest

    facts = spark.createDataFrame([(0, "x")], "k long, payload string")
    dim = spark.createDataFrame([(0, "a"), (5, "unmatched")],
                                "k long, name string")
    for how in ("right", "rightouter", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="dim-preserving"):
            salted_join(facts, dim, "k", salt=4, how=how)


def test_reput_after_erase_is_visible(store):
    """Erase wipes only events written at-or-before it; a later put
    resurrects the entity (reference PolygonCalculator.kt iterates
    newest-system-first — an erase only skips the REMAINING, older,
    events)."""
    store.put("r", [{"_id": 1, "v": 10}], system_from="2024-01-01")
    store.erase("r", [1], system_from="2024-01-02")
    assert store.scan("r").count() == 0
    store.put("r", [{"_id": 1, "v": 20}], system_from="2024-01-03")
    rows = store.scan("r").collect()
    assert [(r["_id"], r["v"]) for r in rows] == [(1, 20)]
    # the pre-erase version stays gone, even FOR ALL SYSTEM_TIME
    hist = store.scan("r", all_valid_time=True, all_system_time=True).collect()
    assert {r["v"] for r in hist} == {20}


def test_optimize_physically_erases(store, tmp_path):
    """After erase + optimize, the erased bytes are GONE from the
    parquet files (read raw, not via scan) — reference
    erase-at-compaction (PolygonCalculator.kt:23-24 + compactor.clj)."""
    store.put("g", [{"_id": 1, "secret": "CLASSIFIED"},
                    {"_id": 2, "secret": "public"}],
              system_from="2024-01-01")
    store.erase("g", [1], system_from="2024-01-02")

    def raw():
        # every parquet file under the table directory, `levels/` and
        # hidden directories included (the erase-marker file has no
        # `secret` column)
        return [r for d, _, fs in os.walk(store._path("g"))
                for f in fs if f.endswith(".parquet")
                for r in pq.read_table(os.path.join(d, f)).to_pylist()]

    # before optimize: hidden at read time but still on disk
    assert sum(r.get("secret") == "CLASSIFIED" for r in raw()) == 1
    store.optimize("g", full=True)
    assert sum(r.get("secret") == "CLASSIFIED" for r in raw()) == 0
    # the erase markers are applied and dropped too
    assert sum(r["op"] == "erase" for r in raw()) == 0
    # surviving data intact, history preserved
    assert [r["secret"] for r in store.scan("g").collect()] == ["public"]


def test_iid_is_type_tagged(store):
    """{_id: 1} and {_id: "1"} must hash to DIFFERENT iids — the
    reference hashes the typed value (scan.clj:127-140)."""
    ev_int = store._events_df([{"_id": 1}], "put", None, None, "2024-01-01")
    ev_str = store._events_df([{"_id": "1"}], "put", None, None, "2024-01-01")
    iid_int = ev_int.select("_iid").collect()[0][0]
    iid_str = ev_str.select("_iid").collect()[0][0]
    assert iid_int != iid_str
    assert len(iid_int) == 16


def test_snapshot_isolation_mid_query_put(store):
    """A scan DataFrame is pinned to the files present when it was
    built: a put issued between two actions over the same scan does
    not change its results (reference basis.clj snapshot tokens)."""
    store.put("si", [{"_id": i, "v": 1} for i in range(5)],
              system_from="2024-01-01")
    df = store.scan("si")
    assert df.count() == 5
    store.put("si", [{"_id": 99, "v": 2}], system_from="2024-02-01")
    # same DataFrame, second action: still the old snapshot
    assert df.count() == 5
    assert sorted(r["_id"] for r in df.collect()) == [0, 1, 2, 3, 4]
    # a NEW scan sees the put
    assert store.scan("si").count() == 6


def test_copy_to_roundtrip(store, tmp_path):
    """copy_to exports the resolved current state (not raw events);
    copy_from reloads it as documents."""
    store.put("ex", [{"_id": i, "v": i * 2} for i in range(10)],
              system_from="2024-01-01")
    store.delete("ex", [9], system_from="2024-01-02")
    out = str(tmp_path / "export")
    store.copy_to("ex", out)
    store.copy_from("ex2", out)
    a = sorted((r["_id"], r["v"]) for r in store.scan("ex").collect())
    b = sorted((r["_id"], r["v"]) for r in store.scan("ex2").collect())
    assert a == b and len(a) == 9


# ---- vacuum / retention GC (reference garbage_collector.clj) ---------------

def test_vacuum_deletes_superseded_files(store):
    # both puts cover the SAME valid range, so v2 fully supersedes v1
    # in system time — only then is v1 unreachable at system >= now
    # (a later valid_from would leave v1 visible at old valid times)
    store.put("g", [{"_id": i, "v": 1} for i in range(5)],
              valid_from="2024-01-01", system_from="2024-01-01")
    store.put("g", [{"_id": i, "v": 2} for i in range(5)],
              valid_from="2024-01-01", system_from="2024-02-01")
    assert len(store.table_files("g")) == 2
    deleted = store.vacuum("g")   # horizon = now: keep current only
    assert len(deleted) == 1
    assert len(store.table_files("g")) == 1
    # current state unaffected
    assert sorted(r["v"] for r in store.scan("g").collect()) == [2] * 5
    # FOR ALL SYSTEM_TIME truncates at the horizon: only v2 remains
    hist = store.scan("g", all_system_time=True).collect()
    assert sorted(set(r["v"] for r in hist)) == [2]


def test_vacuum_respects_retention_window(store):
    from datetime import datetime

    store.put("g2", [{"_id": 1, "v": 1}], valid_from="2024-01-01",
              system_from="2024-01-01")
    store.put("g2", [{"_id": 1, "v": 2}], valid_from="2024-01-01",
              system_from="2024-02-01")
    # horizon BEFORE the superseding tx: v1 still reachable, keep it
    assert store.vacuum("g2", datetime(2024, 1, 15)) == []
    assert len(store.table_files("g2")) == 2
    # horizon after: v1's file goes
    assert len(store.vacuum("g2", datetime(2024, 3, 1))) == 1
    assert store.scan("g2").collect()[0]["v"] == 2


def test_vacuum_respects_pins(store):
    store.put("g3", [{"_id": 1, "v": 1}], valid_from="2024-01-01",
              system_from="2024-01-01")
    token = store.pin("g3")
    pinned_files = store.pinned_files(token)
    store.put("g3", [{"_id": 1, "v": 2}], valid_from="2024-01-01",
              system_from="2024-02-01")
    # pinned manifest blocks the reclaim
    assert store.vacuum("g3") == []
    # the pinned scan still answers from its snapshot
    ev = store.events("g3", files=pinned_files)
    from xtdb_spark import bitemporal
    assert bitemporal.resolve_asof(ev).collect()[0]["v"] == 1
    store.unpin(token)
    assert len(store.vacuum("g3")) == 1
    assert store.scan("g3").collect()[0]["v"] == 2


def test_vacuum_keeps_partially_live_files(store):
    # one file carries ids 1+2; only id 1 is later superseded — the
    # file stays (file-granularity GC, mixed files wait for optimize)
    store.put("g4", [{"_id": 1, "v": 1}, {"_id": 2, "v": 1}],
              valid_from="2024-01-01", system_from="2024-01-01")
    store.put("g4", [{"_id": 1, "v": 2}], valid_from="2024-01-01",
              system_from="2024-02-01")
    assert store.vacuum("g4") == []
    assert len(store.table_files("g4")) == 2
    got = {r["_id"]: r["v"] for r in store.scan("g4").collect()}
    assert got == {1: 2, 2: 1}


def test_vacuum_partial_valid_range_not_covering(store):
    # the later event covers only part of the valid range → not dead
    store.put("g5", [{"_id": 1, "v": 1}], valid_from="2024-01-01",
              system_from="2024-01-01")
    store.put("g5", [{"_id": 1, "v": 2}], valid_from="2024-06-01",
              system_from="2024-02-01")   # open-ended but starts later
    assert store.vacuum("g5") == []


def test_system_time_file_pruning(store):
    """Historical AS-OF scans must read only the manifest prefix whose
    footer min(_system_from) is within the bound (trie-catalog walk),
    and pruning must not change results."""
    for day in (1, 2, 3):
        store.put("pr", [{"_id": i, "v": day} for i in range(5)],
                  system_from=f"2024-02-0{day}")
    all_files = store.table_files("pr")
    pruned = store.prune_manifest("pr", "2024-02-01 12:00:00")
    assert 0 < len(pruned) < len(all_files)
    # every kept file's footer min is within the bound
    from datetime import datetime
    bound = datetime.fromisoformat("2024-02-01 12:00:00")
    assert all(store._file_footer(f).min_system_from <= bound
               for f in pruned)

    hist = store.scan("pr", system_time="2024-02-01 12:00:00")
    # the built plan reads only the pruned files
    read = {f.removeprefix("file://") for f in hist.inputFiles()}
    assert read <= set(pruned)
    rows = {(r["_id"], r["v"]) for r in hist.collect()}
    assert rows == {(i, 1) for i in range(5)}
    # unpruned current scan still sees the latest version
    assert {r["v"] for r in store.scan("pr").collect()} == {3}


def test_system_time_prune_to_empty(store):
    store.put("pr2", [{"_id": 1, "v": 10}], system_from="2024-02-05")
    out = store.scan("pr2", system_time="2020-01-01")
    assert out.count() == 0
    assert set(out.columns) == set(store.scan("pr2").columns)


def test_prune_keeps_retroactive_erase_files(store):
    """ERASE is retroactive across ALL system time, so a later erase
    file must survive system-time pruning (op-column footer range
    carve-out) while ordinary later put files are pruned."""
    store.put("pe", [{"_id": 1, "v": 1}, {"_id": 2, "v": 2}],
              system_from="2024-03-01")
    store.put("pe", [{"_id": 1, "v": 10}], system_from="2024-03-02")
    store.erase("pe", [1], system_from="2024-03-03")
    pruned = store.prune_manifest("pe", "2024-03-01 12:00:00")
    infos = [(ft.min_system_from, ft.may_erase)
             for ft in map(store._file_footer, pruned)]
    # the erase file (min_sf Mar 3) is kept; the Mar 2 put file is not
    assert any(me for _, me in infos)
    assert all(me or mn.day == 1 for mn, me in infos)
    got = [r["_id"] for r in
           store.scan("pe", system_time="2024-03-01 12:00:00").collect()]
    assert got == [2]
