"""information_schema / pg_catalog views.

Reference: core/src/main/clojure/xtdb/information_schema.clj:59-146
(schemas), :231-508 (generators) — information_schema.{tables,columns,
schemata}, pg_catalog.{pg_tables,pg_type,pg_class,pg_attribute}, plus
xt.* introspection tables, all routed through :scan
(operator/scan.clj:277-285).

Spark design: tiny DataFrames built from the TableStore manifest +
each table's merged parquet schema; registered as temp views so
`spark.sql("SELECT * FROM information_schema_tables")` works. (Dots
aren't legal in Spark temp-view names, so views use `_` separators —
the SQL rewriter maps the dotted spellings.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from xtdb_spark.bitemporal import META_COLS

_PG_TYPE_MAP = {
    "bigint": ("int8", 20), "int": ("int4", 23), "smallint": ("int2", 21),
    "double": ("float8", 701), "float": ("float4", 700),
    "string": ("text", 25), "boolean": ("bool", 16),
    # Spark `timestamp` is an instant → pg timestamptz (matches the
    # pgwire RowDescription oid); only ntz is plain timestamp
    "timestamp": ("timestamptz", 1184), "timestamp_ntz": ("timestamp", 1114),
    "date": ("date", 1082), "binary": ("bytea", 17),
}


def _tables(store) -> list[tuple[str, str]]:
    out = []
    if os.path.isdir(store.warehouse):
        for d in sorted(os.listdir(store.warehouse)):
            if os.path.isdir(os.path.join(store.warehouse, d)) \
                    and not d.startswith(("_", ".")):
                name = d.replace("__", ".")
                schema, _, tbl = name.rpartition(".")
                out.append((schema or "public", tbl))
    return out


def _footer_rows(store, s: str, t: str) -> int:
    """Table `s`.`t`'s event count from its live files' cached footer
    records (`TableStore._file_footer`), never a scan. 0 for a table
    whose files cannot be listed."""
    try:
        files = store.table_files(f"{s}.{t}" if s != "public" else t)
        return sum(store._file_footer(f).n_rows or 0 for f in files)
    except Exception:
        return 0


def information_schema_tables(spark: SparkSession, store) -> DataFrame:
    rows = [(("xtdb"), s, t, "BASE TABLE") for s, t in _tables(store)]
    return spark.createDataFrame(
        rows or [("xtdb", "", "", "")],
        "table_catalog string, table_schema string, table_name string, "
        "table_type string").filter("table_name != ''")


def information_schema_columns(spark: SparkSession, store) -> DataFrame:
    rows = []
    for s, t in _tables(store):
        full = f"{s}.{t}" if s != "public" else t
        df = store.events(full)
        for i, f in enumerate(df.schema.fields):
            if f.name in META_COLS and f.name != "_iid":
                continue
            rows.append(("xtdb", s, t, f.name, i + 1,
                         f.dataType.simpleString(), f.nullable))
    return spark.createDataFrame(
        rows or [("", "", "", "", 0, "", True)],
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position int, data_type string, "
        "is_nullable boolean").filter("table_name != ''")


def information_schema_schemata(spark: SparkSession, store) -> DataFrame:
    schemas = sorted({s for s, _ in _tables(store)} | {"public", "information_schema",
                                                       "pg_catalog"})
    return spark.createDataFrame([("xtdb", s) for s in schemas],
                                 "catalog_name string, schema_name string")


def pg_tables(spark: SparkSession, store) -> DataFrame:
    return spark.createDataFrame(
        [(s, t, "xtdb") for s, t in _tables(store)] or [("", "", "")],
        "schemaname string, tablename string, tableowner string"
    ).filter("tablename != ''")


def pg_type(spark: SparkSession, store=None) -> DataFrame:
    rows = [(oid, name) for _, (name, oid) in sorted(_PG_TYPE_MAP.items())]
    return spark.createDataFrame(rows, "oid int, typname string").distinct()


def xt_table_stats(spark: SparkSession, store) -> DataFrame:
    """Storage introspection: per-table file/byte/event counts — the
    analogue of the reference's `xt.trie_stats` / `xt.live_tables`
    views (information_schema.clj:231-508). Event counts come from the
    parquet FOOTERS (row-group metadata), never a data scan —
    registering introspection views must stay O(files), not O(rows)."""
    rows = []
    for s, t in _tables(store):
        full = f"{s}.{t}" if s != "public" else t
        # live manifest: L0 + levels, one cached footer record each
        feet = [store._file_footer(f) for f in store.table_files(full)]
        rows.append((s, t, len(feet), sum(ft.n_bytes for ft in feet),
                     sum(ft.n_rows or 0 for ft in feet)))
    return spark.createDataFrame(
        rows or [("", "", 0, 0, 0)],
        "schema string, table_name string, n_files int, n_bytes long, "
        "n_events long").filter("table_name != ''")


# ---- pg_catalog depth (reference information_schema.clj:59-146):
# pg_namespace/pg_class/pg_attribute are what makes `\d` and ORM
# introspection work over the wire. OIDs are deterministic: schemas
# get 2200 (public, the postgres convention) or 16000+i; tables get
# 16384+i in sorted manifest order.


def _schema_oids(store) -> dict[str, int]:
    schemas = sorted({s for s, _ in _tables(store)}
                     | {"public", "information_schema", "pg_catalog"})
    oids = {}
    nxt = 16000
    for s in schemas:
        if s == "public":
            oids[s] = 2200
        elif s == "pg_catalog":
            oids[s] = 11
        elif s == "information_schema":
            oids[s] = 13000
        else:
            oids[s] = nxt
            nxt += 1
    return oids


def _table_oids(store) -> dict[tuple[str, str], int]:
    return {(s, t): 16384 + i for i, (s, t) in enumerate(_tables(store))}


def pg_namespace(spark: SparkSession, store) -> DataFrame:
    rows = [(oid, s, 10) for s, oid in sorted(_schema_oids(store).items())]
    return spark.createDataFrame(
        rows, "oid int, nspname string, nspowner int")


def pg_class(spark: SparkSession, store) -> DataFrame:
    soids = _schema_oids(store)
    rows = [(oid, t, soids[s], "r", 0)
            for (s, t), oid in sorted(_table_oids(store).items(),
                                      key=lambda kv: kv[1])]
    return spark.createDataFrame(
        rows or [(0, "", 0, "", 0)],
        "oid int, relname string, relnamespace int, relkind string, "
        "relam int").filter("relname != ''")


def pg_attribute(spark: SparkSession, store) -> DataFrame:
    toids = _table_oids(store)
    rows = []
    for (s, t), oid in sorted(toids.items(), key=lambda kv: kv[1]):
        full = f"{s}.{t}" if s != "public" else t
        df = store.events(full)
        attnum = 0
        for f in df.schema.fields:
            if f.name in META_COLS and f.name != "_iid":
                continue
            attnum += 1
            simple = f.dataType.simpleString()
            typoid = _PG_TYPE_MAP.get(simple, ("text", 25))[1]
            rows.append((oid, f.name, typoid, attnum, not f.nullable, False))
    return spark.createDataFrame(
        rows or [(0, "", 0, 0, False, False)],
        "attrelid int, attname string, atttypid int, attnum int, "
        "attnotnull boolean, attisdropped boolean").filter("attname != ''")


# ---- BI-probe depth (reference information_schema.clj:59-146 defines
# the full pg_catalog complement; tools like DBeaver/Tableau issue
# exploratory SELECTs against these even when empty — an error aborts
# their introspection, an empty relation doesn't).

# engine-level SQL functions surfaced through the dialect layer; the
# reference's pg_proc rows serve exactly this "does function X exist"
# probe (information_schema.clj pg-proc)
_PG_PROCS = ("version", "current_schema", "current_schemas",
             "current_database", "current_user", "generate_series",
             "uri_scheme", "uri_host", "uri_path", "uri_query")


def pg_proc(spark: SparkSession, store=None) -> DataFrame:
    rows = [(20000 + i, n, 11) for i, n in enumerate(sorted(_PG_PROCS))]
    return spark.createDataFrame(
        rows, "oid int, proname string, pronamespace int")


def pg_index(spark: SparkSession, store=None) -> DataFrame:
    """Always empty: the engine has no secondary indexes — scans are
    pruned by parquet stats/partitioning instead (same answer the
    reference gives, its trie is not a pg index)."""
    return spark.createDataFrame(
        [], "indexrelid int, indrelid int, indnatts int, "
            "indisunique boolean, indisprimary boolean")


def pg_description(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [], "objoid int, classoid int, objsubid int, description string")


def pg_views(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [], "schemaname string, viewname string, viewowner string, "
            "definition string")


def pg_roles(spark: SparkSession, store=None) -> DataFrame:
    """Built-in superuser plus every user/role seen by GRANT/REVOKE
    (reference GrantRoleStatement Sql.g4:58-59; membership in
    pg_auth_members below). Deterministic oids from name hashes."""
    rows = [(10, "xtdb", True, True)]
    if store is not None:
        roles = store.user_roles()
        names = sorted(set(roles) | {r for rs in roles.values()
                                     for r in rs})
        rows += [(_name_oid(n), n, False, n in roles) for n in names]
    return spark.createDataFrame(
        rows,
        "oid int, rolname string, rolsuper boolean, rolcanlogin boolean")


def _name_oid(name: str) -> int:
    import hashlib

    return 16384 + int.from_bytes(
        hashlib.md5(name.encode()).digest()[:3], "big")


def pg_auth_members(spark: SparkSession, store=None) -> DataFrame:
    """Role membership from GRANT role TO user."""
    rows = []
    if store is not None:
        for user, rs in sorted(store.user_roles().items()):
            for r in sorted(rs):
                rows.append((_name_oid(r), _name_oid(user), 10, False))
    return spark.createDataFrame(
        rows or [(0, 0, 0, False)],
        "roleid int, member int, grantor int, admin_option boolean"
    ).filter("roleid != 0")


def pg_settings(spark: SparkSession, store=None) -> DataFrame:
    """`pg_settings` (BI tools probe it; reference pg_catalog via
    information_schema.clj): the session-reportable parameters with
    their pinned values — the same set pgwire's SHOW reports."""
    rows = [
        ("server_version", "16.0", "Version and Platform Compatibility"),
        ("server_encoding", "UTF8", "Client Connection Defaults"),
        ("client_encoding", "UTF8", "Client Connection Defaults"),
        ("DateStyle", "ISO", "Client Connection Defaults"),
        ("TimeZone", "UTC", "Client Connection Defaults"),
        ("integer_datetimes", "on", "Preset Options"),
        ("standard_conforming_strings", "on",
         "Version and Platform Compatibility"),
        ("search_path", "public", "Client Connection Defaults"),
        ("max_connections", "100", "Connections and Authentication"),
    ]
    return spark.createDataFrame(
        [(n, v, c, "user") for n, v, c in rows],
        "name string, setting string, category string, context string")


def xt_trie_stats(spark: SparkSession, store) -> DataFrame:
    """`xt.trie_stats` analogue (reference trie_catalog.clj +
    information_schema.clj trie-stats): one row per storage file with
    its level-0 metadata — here parquet files play the role of trie
    leaves, so the row exposes file size + row count + the
    `_system_from` range from the FOOTER statistics when the writer
    recorded them (the store writes TIMESTAMP_MICROS precisely so
    these stats exist — they also drive `TableStore.prune_manifest`'s
    file-level temporal pruning; files written by other tools with
    INT96 timestamps show NULL here and are never pruned). O(files),
    never a data scan: each row is the file's cached footer record."""
    import re as _re

    rows = []
    for s, t in _tables(store):
        full = f"{s}.{t}" if s != "public" else t
        for p in store.table_files(full):
            fname = os.path.basename(p)
            # leveled compaction outputs encode their trie position in
            # the name (compactor.py): l<level>-p<part>-<cur|hist>-…
            lm = _re.match(r"l(\d+)-p", fname)
            level = int(lm.group(1)) if lm else 0
            ft = store._file_footer(p)
            rows.append((s, t, fname, level, ft.n_rows, ft.n_bytes,
                         *(ft.system_from_range or (None, None))))
    return spark.createDataFrame(
        rows or [("", "", "", 0, 0, 0, None, None)],
        "schema string, table_name string, file string, level int, "
        "n_rows long, n_bytes long, system_from_min string, "
        "system_from_max string").filter("table_name != ''")


def xt_metrics(spark: SparkSession, store) -> DataFrame:
    """`xt.metrics` analogue (reference metrics.clj:1-80 exposes
    node counters over a registry; here: store-level counters derived
    from the manifest + tx log — the queryable subset that needs no
    metrics daemon)."""
    import json as _json

    n_txs = n_committed = 0
    path = os.path.join(store.warehouse, "_txs.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            for ln in f:
                if not ln.strip():
                    continue
                n_txs += 1
                if _json.loads(ln).get("committed"):
                    n_committed += 1
    tables = _tables(store)
    n_files = n_bytes = 0
    for s, t in tables:
        for f in store.table_files(f"{s}.{t}" if s != "public" else t):
            n_files += 1
            n_bytes += store._file_footer(f).n_bytes
    rows = [("txs_total", float(n_txs)),
            ("txs_committed", float(n_committed)),
            ("txs_aborted", float(n_txs - n_committed)),
            ("tables_total", float(len(tables))),
            ("storage_files_total", float(n_files)),
            ("storage_bytes_total", float(n_bytes))]
    try:
        # process-level wire counters (reference pgwire.clj:200
        # cancelled-connections-counter feeds the same registry)
        from xtdb_spark import pgwire as _pg

        rows.append(("pgwire_cancelled_total",
                     float(_pg._CANCELLED_TOTAL)))
    except Exception:
        pass
    return spark.createDataFrame(rows, "metric string, value double")


def pg_database(spark: SparkSession, store=None) -> DataFrame:
    """One row per attached database (reference
    information_schema.clj pg_database; multi-db via ATTACH)."""
    rows = [(1, "xtdb", True, False)]
    dbs = getattr(store, "databases", None)
    if callable(dbs):
        names = dbs()
    elif isinstance(dbs, dict):
        names = dbs.keys()
    else:
        names = ()
    rows += [(_name_oid(n), n, True, False)
             for n in sorted(names) if n != "xtdb"]
    return spark.createDataFrame(
        rows, "oid int, datname string, datallowconn boolean, "
              "datistemplate boolean")


def pg_user(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [("xtdb", True, None)],
        "usename string, usesuper boolean, passwd string")


def pg_am(spark: SparkSession, store=None) -> DataFrame:
    """Access methods postgres ships with (reference populates the
    same static trio so ORMs resolve index/table AMs)."""
    return spark.createDataFrame(
        [(2, "heap", "heap_tableam_handler", "t"),
         (403, "btree", "bthandler", "i"),
         (405, "hash", "hashhandler", "i")],
        "oid int, amname string, amhandler string, amtype string")


def pg_replication_slots(spark: SparkSession, store=None) -> DataFrame:
    """`pg_replication_slots`: one row per logical slot served by the
    walsender (replication.py SlotStore `_slots.json`) — monitoring
    tools watch confirmed_flush_lsn lag here, exactly as on postgres."""
    from xtdb_spark.replication import SlotStore, committed_txids, lsn_str

    rows = []
    if store is not None and getattr(store, "warehouse", None):
        slots = SlotStore(store.warehouse).load()
        head = committed_txids(store.warehouse, 0)
        rows = [(name, s.get("plugin", "wal2json"), "logical", "xtdb",
                 False, lsn_str(s.get("confirmed_flush", 0)),
                 sum(1 for t in head if t > s.get("confirmed_flush", 0)))
                for name, s in sorted(slots.items())]
    return spark.createDataFrame(
        rows,
        "slot_name string, plugin string, slot_type string, "
        "database string, active boolean, confirmed_flush_lsn string, "
        "lag_txs long")


def pg_stat_user_tables(spark: SparkSession, store=None) -> DataFrame:
    """Row counts per user table from parquet FOOTERS (no scan) —
    the reference serves n_live_tup the same zero-cost way."""
    rows = []
    if store is not None:
        for s, t in _tables(store):
            rows.append((_name_oid(f"{s}.{t}"), s, t,
                         _footer_rows(store, s, t)))
    return spark.createDataFrame(
        rows, "relid int, schemaname string, relname string, "
              "n_live_tup long")


def pg_matviews(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [], "schemaname string, matviewname string, matviewowner string")


def pg_enum(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [], "oid int, enumtypid int, enumsortorder double, "
            "enumlabel string")


def pg_constraint(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [], "oid int, conname string, connamespace int, contype string, "
            "conrelid int, conindid int, confrelid int")


def pg_extension(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [], "oid int, extname string, extowner int, extnamespace int, "
            "extrelocatable boolean, extversion string")


def pg_attrdef(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [], "oid int, adrelid int, adnum int, adbin string")


def pg_range(spark: SparkSession, store=None) -> DataFrame:
    return spark.createDataFrame(
        [(3910, 1184, 4534, 0, 0, "", "tstzrange_subdiff")],
        "rngtypid int, rngsubtype int, rngmultitypid int, "
        "rngcollation int, rngsubopc int, rngcanonical string, "
        "rngsubdiff string")


def xt_live_tables(spark: SparkSession, store) -> DataFrame:
    """`xt.live_tables` (information_schema.clj xt-derived-tables):
    the reference reports the in-memory live index; our appends are
    durable immediately (no unflushed state), so live == committed —
    the row counts come from parquet footers, zero scan."""
    rows = [(s, t, _footer_rows(store, s, t)) for s, t in _tables(store)]
    return spark.createDataFrame(
        rows or [("", "", 0)],
        "schema_name string, table_name string, row_count long"
    ).filter("table_name <> ''")


def xt_live_columns(spark: SparkSession, store) -> DataFrame:
    """`xt.live_columns` — (schema, table, col, type)."""
    rows = []
    for s, t in _tables(store):
        full = f"{s}.{t}" if s != "public" else t
        for f in store.events(full).schema.fields:
            rows.append((s, t, f.name, f.dataType.simpleString()))
    return spark.createDataFrame(
        rows or [("", "", "", "")],
        "schema_name string, table_name string, col_name string, "
        "col_type string").filter("table_name <> ''")


def xt_metrics_counters(spark: SparkSession, store) -> DataFrame:
    """`xt.metrics_counters` — the flat xt.metrics counters in the
    reference's (name, tags, count) shape."""
    return (xt_metrics(spark, store)
            .selectExpr("metric AS name",
                        "named_struct('source', 'store') AS tags",
                        "value AS count"))


def xt_metrics_gauges(spark: SparkSession, store) -> DataFrame:
    return spark.createDataFrame(
        [], "name string, tags struct<source: string>, value double")


def xt_metrics_timers(spark: SparkSession, store) -> DataFrame:
    """Empty by design: per-query timer histograms live in the Spark
    UI/event log, not a store-side registry."""
    return spark.createDataFrame(
        [], "name string, tags struct<source: string>, count long, "
            "mean_time long, p99_time long, max_time long")


def register_all(spark: SparkSession, store) -> None:
    """Register every introspection view (underscore spellings)."""
    information_schema_tables(spark, store) \
        .createOrReplaceTempView("information_schema_tables")
    information_schema_columns(spark, store) \
        .createOrReplaceTempView("information_schema_columns")
    information_schema_schemata(spark, store) \
        .createOrReplaceTempView("information_schema_schemata")
    pg_tables(spark, store).createOrReplaceTempView("pg_catalog_pg_tables")
    pg_type(spark).createOrReplaceTempView("pg_catalog_pg_type")
    pg_namespace(spark, store).createOrReplaceTempView("pg_catalog_pg_namespace")
    pg_class(spark, store).createOrReplaceTempView("pg_catalog_pg_class")
    pg_attribute(spark, store).createOrReplaceTempView("pg_catalog_pg_attribute")
    pg_proc(spark).createOrReplaceTempView("pg_catalog_pg_proc")
    pg_index(spark).createOrReplaceTempView("pg_catalog_pg_index")
    pg_description(spark).createOrReplaceTempView("pg_catalog_pg_description")
    pg_views(spark).createOrReplaceTempView("pg_catalog_pg_views")
    pg_roles(spark, store).createOrReplaceTempView("pg_catalog_pg_roles")
    pg_auth_members(spark, store) \
        .createOrReplaceTempView("pg_catalog_pg_auth_members")
    pg_settings(spark).createOrReplaceTempView("pg_catalog_pg_settings")
    pg_database(spark, store).createOrReplaceTempView(
        "pg_catalog_pg_database")
    pg_user(spark).createOrReplaceTempView("pg_catalog_pg_user")
    pg_am(spark).createOrReplaceTempView("pg_catalog_pg_am")
    pg_stat_user_tables(spark, store).createOrReplaceTempView(
        "pg_catalog_pg_stat_user_tables")
    pg_replication_slots(spark, store).createOrReplaceTempView(
        "pg_catalog_pg_replication_slots")
    for fn in (pg_matviews, pg_enum, pg_constraint, pg_extension,
               pg_attrdef, pg_range):
        fn(spark).createOrReplaceTempView(
            f"pg_catalog_{fn.__name__}")
    xt_table_stats(spark, store).createOrReplaceTempView("xt_table_stats")
    xt_trie_stats(spark, store).createOrReplaceTempView("xt_trie_stats")
    xt_metrics(spark, store).createOrReplaceTempView("xt_metrics")
    xt_live_tables(spark, store).createOrReplaceTempView("xt_live_tables")
    xt_live_columns(spark, store) \
        .createOrReplaceTempView("xt_live_columns")
    xt_metrics_counters(spark, store) \
        .createOrReplaceTempView("xt_metrics_counters")
    xt_metrics_gauges(spark, store) \
        .createOrReplaceTempView("xt_metrics_gauges")
    xt_metrics_timers(spark, store) \
        .createOrReplaceTempView("xt_metrics_timers")
    store.txs().createOrReplaceTempView("xt_txs")
