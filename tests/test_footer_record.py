"""The per-file footer record (`TableStore._file_footer`): the one
footer-statistics selectivity estimate, its cache, the eviction of
files that leave the live manifest, and the system views that read
the record."""

import os

import pyarrow.parquet as pq

from xtdb_spark.sources import info_schema
from xtdb_spark.sql.rewriter import (_numeric_bounds, _simple_conjunct,
                                     _tokenize, _where_conjuncts)


def _est_table(store):
    # three files: `x` spans a different range in each, `k` is
    # constant (3) in the last, `c` is constant (7) everywhere
    store.put("est", [{"_id": i, "x": i, "k": i % 50, "c": 7}
                      for i in range(200)], system_from="2024-01-01")
    store.put("est", [{"_id": i, "x": 2 * i, "k": i % 50 + 10, "c": 7}
                      for i in range(100)], system_from="2024-02-01")
    store.put("est", [{"_id": i, "x": i + 500, "k": 3, "c": 7}
                      for i in range(200, 260)], system_from="2024-03-01")
    return store.table_files("est")


def _bounds(where):
    """The SQL rewriter's interval fold of a WHERE conjunction."""
    parts = _where_conjuncts(_tokenize(f"SELECT * FROM est WHERE {where}"))
    return _numeric_bounds([_simple_conjunct(p) for p in parts])


# the figures the two estimators this one replaced gave on the
# fixture above (the conjunction estimator, then the IN estimator)
_CONJUNCTIONS = [("x < 50", 0.20973272648314523),
                 ("x = 7", 0.004173646007816862),
                 ("x >= 10 AND x <= 30", 0.0838930905932581),
                 ("x >= 20 AND k < 10", 0.2686505087797263)]
_IN_LISTS = [("k", [3], 0.17777777777777778),
             ("k", [3, 17, 40], 0.2111111111111111),
             ("c", [7], 1.0), ("c", [8], 0.0), ("c", [7, 8], 1.0)]


def test_one_estimator_keeps_both_figures(store, monkeypatch):
    files = _est_table(store)
    assert len(files) == 3

    def estimates():
        conj = [store._stats_selectivity(files, _bounds(p))
                for p, _ in _CONJUNCTIONS]
        ins = [store._stats_selectivity(files, {c: [(k, k) for k in keys]})
               for c, keys, _ in _IN_LISTS]
        return conj, ins

    want = ([e for _, e in _CONJUNCTIONS],
            [e for _, _, e in _IN_LISTS])
    assert estimates() == want
    # a second estimate over unchanged files opens no footer
    opened = []

    def no_open(*a, **k):
        opened.append(a)
        raise AssertionError("footer opened")

    monkeypatch.setattr(pq, "ParquetFile", no_open)
    assert estimates() == want
    assert opened == []


def test_estimator_refuses_what_footers_cannot_bound(store):
    files = _est_table(store)
    assert _bounds("x = 'a'") is None
    assert store._stats_selectivity(files, None) is None
    assert store._stats_selectivity([], {"x": [(1, 1)]}) is None
    # a column no footer has numeric stats for counts as broad
    assert store._stats_selectivity(files, {"nope": [(1, 1)]}) == 1.0


def test_footer_cache_holds_only_live_files(store):
    def read():
        store.scan("fc").collect()
        store._stats_selectivity(store.table_files("fc"),
                                 {"v": [(0, 10)]})
        cached = set(store._footer_cache)
        assert cached and cached <= set(store.table_files("fc"))
        return cached

    for n in range(3):
        store.put("fc", [{"_id": i, "v": n} for i in range(20)],
                  valid_from="2024-01-01", system_from=f"2024-01-0{n + 1}")
    before = read()
    assert store.compact("fc", l0_threshold=2) > 0
    assert not before & read()           # every L0 input was dropped
    before = read()
    store.optimize("fc", full=True)
    assert not before & read()
    # covers every event of the rewritten file, so vacuum deletes it
    store.put("fc", [{"_id": i, "v": 9} for i in range(20)],
              valid_from="2024-01-01", system_from="2024-02-01")
    read()
    assert store.vacuum("fc")
    assert set(store._footer_cache) <= set(store.table_files("fc"))


def _direct(store, table):
    """(file, n_rows, n_bytes, system_from min, max) per live file,
    read straight from pyarrow and the file system."""
    out = []
    for f in store.table_files(table):
        md = pq.ParquetFile(f).metadata
        i = [md.schema.column(j).name
             for j in range(md.num_columns)].index("_system_from")
        sts = [md.row_group(g).column(i).statistics
               for g in range(md.num_row_groups)]
        out.append((os.path.basename(f), md.num_rows, os.path.getsize(f),
                    str(min(s.min for s in sts)),
                    str(max(s.max for s in sts))))
    return out


def _check_views(spark, store):
    direct = {t: _direct(store, t) for t in ("sv", "sw")}
    trie = {(r["table_name"], r["file"]): (r["n_rows"], r["n_bytes"],
                                           r["system_from_min"],
                                           r["system_from_max"])
            for r in info_schema.xt_trie_stats(spark, store).collect()}
    assert trie == {(t, f): tuple(rest) for t, rows in direct.items()
                    for f, *rest in rows}
    stats = {r["table_name"]: (r["n_files"], r["n_bytes"], r["n_events"])
             for r in info_schema.xt_table_stats(spark, store).collect()}
    assert stats == {t: (len(rows), sum(r[2] for r in rows),
                         sum(r[1] for r in rows))
                     for t, rows in direct.items()}
    n_rows = {t: sum(r[1] for r in rows) for t, rows in direct.items()}
    live = {r["table_name"]: r["row_count"]
            for r in info_schema.xt_live_tables(spark, store).collect()}
    pg = {r["relname"]: r["n_live_tup"]
          for r in info_schema.pg_stat_user_tables(spark, store).collect()}
    assert live == pg == n_rows


def test_system_views_equal_direct_footer_reads(spark, store):
    store.put("sv", [{"_id": i, "v": i} for i in range(30)],
              system_from="2024-01-01")
    store.put("sv", [{"_id": i, "v": -i} for i in range(10)],
              system_from="2024-01-02")
    store.put("sw", [{"_id": "a", "s": "x"}], system_from="2024-01-03")
    _check_views(spark, store)
    assert store.compact("sv", l0_threshold=2) > 0
    assert any("/levels/" in f for f in store.table_files("sv"))
    _check_views(spark, store)
    store.put("sv", [{"_id": 99, "v": 1}], system_from="2024-02-01")
    _check_views(spark, store)

