"""Transaction ops + table store: the event-append write path.

Reference parity: tx ops put/delete/erase/patch
(reference api/src/main/clojure/xtdb/tx_ops.clj:65-133), single
ordered log → indexer → immutable columnar files
(reference core/src/main/clojure/xtdb/log.clj,
core/src/main/kotlin/xtdb/indexer/LiveIndex.kt). Forbidden write
schemas `xt`, `information_schema`, `pg_catalog`
(reference core/src/main/clojure/xtdb/log.clj:21-25).

Spark design:
- a table = a parquet directory of *event* files with columns
  `_iid binary, _valid_from ts, _valid_to ts?, _system_from ts, op`
  plus the (merged) document columns. Appends are atomic at file
  granularity; each `put` batch = one tx with a single `_system_from`.
- `_iid` = md5(canonical string of `_id`) — 16 bytes, same idea as
  the reference (core/src/main/clojure/xtdb/operator/scan.clj:127-140).
- At 100 TB: files would be written bucketed by iid-prefix +
  partitioned by a `_system_from`-derived recency column, mirroring
  the reference's hash-trie levels + recency pruning
  (core/src/main/kotlin/xtdb/trie/Bucketer.kt, Polygon.kt:22-45) so
  point lookups touch one bucket and as-of scans skip old files.
  Locally we write `repartition(_iid)`-sorted files to keep the same
  read pattern.
- schema evolution: the per-file schemas merge on read (folded from
  cached footers, Spark's mergeSchema read as the fallback); new
  columns null-fill (the reference's dynamic-document model, SURVEY
  §1.2 — we take the widest-type merge strategy, option (c) of
  SURVEY §1.3).
"""

from __future__ import annotations

import contextlib
import glob as _glob
import re
import json as _json
import os
import threading
import time
import uuid as _uuid
from datetime import datetime, timezone
from typing import NamedTuple

try:
    import fcntl as _fcntl
except ImportError:          # non-POSIX: single-process only
    _fcntl = None

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xtdb_spark import bitemporal, compactor

FORBIDDEN_SCHEMAS = ("xt", "information_schema", "pg_catalog")

# the key Spark stores its own schema under in every parquet footer it
# writes, and prefers over the parquet schema when reading
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


class _Footer(NamedTuple):
    """What one store file's size and parquet footer tell a read, an
    estimate or a system view (TableStore._file_footer)."""

    n_bytes: int
    n_rows: int | None        # None: the footer could not be read
    rg_rows: tuple            # rows per row group
    # column → per row group (min, max) as floats, None where the
    # row group has no numeric min/max (columns with none are absent)
    rg_numeric: dict
    min_system_from: datetime | None
    # (min, max) `_system_from` over the row groups with stats, as
    # `xt.trie_stats` prints them; None without such stats
    system_from_range: tuple | None
    may_erase: bool
    spark_schema: object      # pyspark StructType | None = unknown


def _spark_file_schema(kv: dict, arrow_schema):
    """The schema Spark reads one parquet file as: the Spark schema
    stored in its footer, or, for a file without one (the pyarrow
    fast path, `_append_local_fast`), its columns mapped from the
    closed type set that path writes. None for any other type."""
    import pyarrow as pa
    from pyspark.sql import types as T

    raw = kv.get(_SPARK_ROW_METADATA)
    if raw is not None:
        return T.StructType.fromJson(_json.loads(raw))
    plain = {pa.bool_(): T.BooleanType(), pa.int64(): T.LongType(),
             pa.float64(): T.DoubleType(), pa.string(): T.StringType(),
             pa.binary(): T.BinaryType(), pa.date32(): T.DateType()}
    fields = []
    for fld in arrow_schema:
        t = fld.type
        if pa.types.is_timestamp(t) and t.unit == "us" and t.tz == "UTC":
            st = T.TimestampType()
        elif t in plain:
            st = plain[t]
        else:
            return None
        fields.append(T.StructField(fld.name, st, fld.nullable))
    return T.StructType(fields)


def _as_nullable(dt):
    """`dt` with every nested field, array element and map value
    nullable, as Spark reads parquet files."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _as_nullable(f.dataType),
                                           True, f.metadata)
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType),
                         _as_nullable(dt.valueType), True)
    return dt


class TableStore:
    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse or os.environ.get(
            "XTDB_SPARK_WAREHOUSE", "/tmp/xtdb_spark_warehouse")
        os.makedirs(self.warehouse, exist_ok=True)
        self._tx_counter = 0
        self._pins: dict[int, tuple[str, tuple[str, ...]]] = {}
        self._pin_counter = 0
        # tx-id uniqueness state (see _commit_journal): ids already
        # present in the ledger, folded in incrementally under the
        # commit lock
        self._active_txid: int | None = None
        self._used_txids: set[int] = set()
        self._used_off = 0
        # commit protocol state (see "multi-process commit protocol")
        self._tx_mutex = threading.RLock()
        self._lock_depth = 0
        self._lock_fd: int | None = None
        # attached databases: name → warehouse root (reference
        # db_catalog.clj DatabaseCatalog; ATTACH DATABASE Sql.g4:55).
        # Persisted next to the primary warehouse so a reconnect sees
        # the same catalog.
        self.databases: dict[str, str] = {}
        dbs_path = os.path.join(self.warehouse, "_databases.json")
        if os.path.exists(dbs_path):
            import json as _json

            with open(dbs_path) as f:
                self.databases = _json.load(f)
        # INT96 (Spark's legacy default) writes NO min/max stats, which
        # would blind both the file-level pruning below and parquet
        # row-group pruning on temporal predicates. MICROS matches the
        # event model's precision (µs-truncated system times).
        spark.conf.set("spark.sql.parquet.outputTimestampType",
                       "TIMESTAMP_MICROS")
        # parquet-footer stats cache for file-level temporal pruning,
        # keyed by path and invalidated by (size, mtime) — the
        # trie-catalog role (reference trie_catalog.clj: per-trie
        # temporal bounds consulted before opening leaves)
        self._footer_cache: dict[str, tuple[tuple[int, float], object]] = {}
        # serving-mode current-state scan cache (reference LiveIndex /
        # live trie: a node SERVING many point queries keeps the
        # resolved current state hot rather than re-planning the
        # events scan per query). Opt-in (`serve_cache = True`):
        # plain current-state scans return one `.cache()`d DataFrame
        # per table, keyed by the table's live file set, so repeated
        # queries skip manifest reads + visibility resolution
        # (~250 ms/query at the SLT scale). Any tx to the table
        # changes the file set, so the next scan rebuilds; the stale
        # entry is unpersisted. DataFrames stay distributed — this
        # caches the PLAN + Spark block-manager state, nothing is
        # collected to the driver.
        self.serve_cache = False
        self._scan_cache: dict[str, tuple[object, object]] = {}
        # crash recovery: quarantine files of unfinished transactions
        # (journal entries with no committed ledger record)
        self._recover_journal()

    # ---- multi-process commit protocol (reference log.clj:70-87 —
    #      ALL txs serialize through one log; here the serializer is
    #      an inter-process file lock, and atomicity comes from a
    #      commit journal + controlled tx-id-stamped file names +
    #      recovery-on-open) ----

    @contextlib.contextmanager
    def _ipc_lock(self):
        """Inter-process (flock) + inter-thread (RLock) commit lock,
        reentrant within a store. Held across system-time allocation,
        op evaluation, appends, and the ledger record, so concurrent
        writer PROCESSES against one warehouse serialize exactly like
        the reference's single log (log.clj:70-87). Readers are never
        blocked (scans don't take it)."""
        with self._tx_mutex:
            if self._lock_depth == 0 and _fcntl is not None:
                fd = os.open(os.path.join(self.warehouse, "_commit.lock"),
                             os.O_CREAT | os.O_RDWR, 0o644)
                _fcntl.flock(fd, _fcntl.LOCK_EX)
                self._lock_fd = fd
            self._lock_depth += 1
            try:
                yield
            finally:
                self._lock_depth -= 1
                if self._lock_depth == 0 and self._lock_fd is not None:
                    _fcntl.flock(self._lock_fd, _fcntl.LOCK_UN)
                    os.close(self._lock_fd)
                    self._lock_fd = None

    @staticmethod
    def _txid(st: datetime) -> int:
        """tx id = the system time in micros (the log-offset
        analogue, also stamped into every file the tx writes)."""
        if isinstance(st, str):
            st = datetime.fromisoformat(st)
        return int(st.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)

    def _ledger_path(self) -> str:
        return os.path.join(self.warehouse, "_txs.jsonl")

    def _last_ledger_txid(self) -> int | None:
        """tx id of the last ledger line — O(1) tail read, consulted
        under the commit lock so system times stay strictly monotonic
        ACROSS processes, not just within one."""
        path = self._ledger_path()
        try:
            with open(path, "rb") as f:
                f.seek(0, os.SEEK_END)
                size = f.tell()
                f.seek(max(0, size - 4096))
                tail = f.read().splitlines()
        except OSError:
            return None
        for ln in reversed(tail):
            ln = ln.strip()
            if ln:
                try:
                    return _json.loads(ln)["tx_id"]
                except (ValueError, KeyError):
                    return None
        return None

    def _refresh_used_txids(self) -> None:
        """Fold ledger lines appended since the last read (by ANY
        process) into the in-memory used-id set. Called under the
        commit lock — ledger appends also happen under it, so the
        file always ends on a complete line and the set is complete
        at allocation time. Incremental (byte-offset cursor), so the
        tiny-tx fast path stays O(new lines), not O(ledger)."""
        try:
            with open(self._ledger_path(), "rb") as f:
                f.seek(self._used_off)
                for ln in f:
                    ln = ln.strip()
                    if ln:
                        with contextlib.suppress(ValueError, KeyError):
                            self._used_txids.add(_json.loads(ln)["tx_id"])
                self._used_off = f.tell()
        except OSError:
            return

    def _txid_for(self, st) -> int:
        """tx id for the ACTIVE commit (allocated by _commit_journal
        — unique even when an explicit system_from reuses a prior
        tx's timestamp, so file names / journal / quarantine globs
        can never cross transactions); falls back to the time-derived
        id outside a commit scope."""
        return (self._active_txid if self._active_txid is not None
                else self._txid(st))

    def _journal_dir(self) -> str:
        return os.path.join(self.warehouse, "_journal")

    def _journal_path(self, txid: int) -> str:
        return os.path.join(self._journal_dir(), f"{txid}.json")

    @contextlib.contextmanager
    def _commit_journal(self, st: datetime, tables):
        """Write-ahead intent for one tx: journal the (tx id, table)
        set BEFORE any append; after the appends, record the tx as
        committed and retire the journal. On failure (or a crash —
        handled by `_recover_journal` at next open), every file the
        tx wrote is identifiable by its `part-xt{txid}-` name and is
        quarantined, so a partial multi-table commit can never become
        visible. The reference gets this atomicity from its single
        serialized log (log.clj:70-87); Delta gets it from the
        commit-log protocol — this is the same idea at warehouse
        granularity."""
        tables = sorted(set(tables))
        # allocate a UNIQUE tx id: time-derived, but bumped past any
        # id already in the ledger — an explicit system_from that
        # reuses a prior tx's timestamp must not produce colliding
        # `part-xt{txid}-` names, or a failure/crash in the second tx
        # would quarantine the FIRST tx's committed files (and
        # recovery would mistake the crashed tx for committed)
        self._refresh_used_txids()
        txid = self._txid(st)
        while txid in self._used_txids:
            txid += 1
        self._used_txids.add(txid)
        prev_active = self._active_txid
        self._active_txid = txid
        os.makedirs(self._journal_dir(), exist_ok=True)
        jp = self._journal_path(txid)
        tmp = jp + f".tmp-{_uuid.uuid4().hex}"
        st_iso = (st if isinstance(st, str)
                  else st.isoformat(sep=" "))
        with open(tmp, "w") as f:
            _json.dump({"tx_id": txid, "system_time": st_iso,
                        "tables": tables}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, jp)
        try:
            yield
        except Exception as e:
            self._quarantine_tx(txid, tables)
            self._record_tx(st, committed=False,
                            error=f"{type(e).__name__}: {e}"[:500],
                            txid=txid)
            with contextlib.suppress(OSError):
                os.remove(jp)
            raise
        finally:
            self._active_txid = prev_active
        self._record_tx(st, txid=txid)
        with contextlib.suppress(OSError):
            os.remove(jp)

    def _quarantine_tx(self, txid: int, tables) -> None:
        """Move every file stamped with this tx id out of the listed
        tables (and drop its staging leftovers) → `_quarantine/` —
        the tx becomes invisible to scans."""
        qdir = os.path.join(self.warehouse, "_quarantine", str(txid))
        for table in tables:
            path = self._path(table)
            if not os.path.isdir(path):
                continue
            import shutil
            for sd in _glob.glob(os.path.join(path, f".stage-{txid}-*")):
                shutil.rmtree(sd, ignore_errors=True)
            for f in _glob.glob(os.path.join(path,
                                             f"part-xt{txid}-*.parquet")):
                os.makedirs(qdir, exist_ok=True)
                os.replace(f, os.path.join(
                    qdir, os.path.basename(path) + "__" +
                    os.path.basename(f)))

    def _recover_journal(self) -> None:
        """Recovery-on-open: a journal entry with no committed ledger
        record is an unfinished tx from a crashed process — its files
        are quarantined and the tx recorded as aborted. A journal
        whose tx IS committed crashed between the ledger append and
        journal retirement — just retire it. Runs under the commit
        lock so only one recovering process acts."""
        jdir = self._journal_dir()
        if not os.path.isdir(jdir) or not os.listdir(jdir):
            return
        with self._ipc_lock():
            committed = set()
            try:
                with open(self._ledger_path()) as f:
                    for ln in f:
                        if ln.strip():
                            r = _json.loads(ln)
                            if r.get("committed"):
                                committed.add(r["tx_id"])
            except OSError:
                pass
            for jp in _glob.glob(os.path.join(jdir, "*.json")):
                try:
                    with open(jp) as f:
                        j = _json.load(f)
                except (OSError, ValueError):
                    with contextlib.suppress(OSError):
                        os.remove(jp)
                    continue
                if j["tx_id"] not in committed:
                    self._quarantine_tx(j["tx_id"], j.get("tables", []))
                    self._record_tx(
                        j["system_time"], committed=False,
                        error="recovered: partial commit from crashed "
                              "process quarantined",
                        txid=j["tx_id"])
                with contextlib.suppress(OSError):
                    os.remove(jp)

    def _path(self, table: str) -> str:
        parts = table.split(".")
        root = self.warehouse
        if len(parts) >= 2 and parts[0] in self.databases:
            # db.schema.table / db.table → the attached database's
            # warehouse (reference db_catalog.clj multi-db catalog)
            root = self.databases[parts[0]]
            parts = parts[1:]
        schema = parts[0] if len(parts) > 1 else None
        if schema in FORBIDDEN_SCHEMAS:
            raise ValueError(f"cannot write to reserved schema {schema!r} "
                             "(reference log.clj:21-25)")
        return os.path.join(root, ".".join(parts).replace(".", "__"))

    # ---- attached databases (reference ATTACH DATABASE Sql.g4:55-56,
    #      db_catalog.clj) ----

    def _save_databases(self) -> None:
        import json as _json
        import uuid as _uuid

        p = os.path.join(self.warehouse, "_databases.json")
        tmp = p + f".tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            _json.dump(self.databases, f)
        os.replace(tmp, p)

    def attach_database(self, name: str, config: str | None = None) -> str:
        """ATTACH DATABASE <name> [WITH '<yaml>']: register a second
        warehouse under `name`; its tables address as
        `name.schema.table`. The yaml subset honored is
        `storage.path` (reference DatabaseConfig localStorage path);
        a bare path string also works. Default: a managed directory
        under the primary warehouse. Note: attached-db writes share
        the primary tx log (the reference keeps a log per database —
        single-writer simplification, documented)."""
        import re as _re

        if not _re.fullmatch(r"[A-Za-z_]\w*", name):
            raise ValueError(f"invalid database name {name!r}")
        if name in FORBIDDEN_SCHEMAS or name == "xt":
            raise ValueError(f"reserved database name {name!r}")
        path = None
        if config:
            m = _re.search(r"path:\s*([^\s#]+)", config)
            path = m.group(1).strip("'\"") if m else config.strip("'\" ")
        if not path:
            path = os.path.join(self.warehouse, "_dbs", name)
        os.makedirs(path, exist_ok=True)
        self.databases[name] = path
        self._save_databases()
        return path

    def detach_database(self, name: str) -> None:
        """DETACH DATABASE <name>: drop the catalog entry (files stay
        on disk — detach is a catalog operation, like the
        reference)."""
        if name not in self.databases:
            raise ValueError(f"database {name!r} is not attached")
        del self.databases[name]
        self._save_databases()

    # ---- declarative DDL + roles (reference Sql.g4:58-61 — tables
    #      spring into existence on INSERT, so CREATE TABLE is
    #      catalog metadata; GRANT/REVOKE are role-membership ops the
    #      reference's indexer interprets, sql.clj:3583-3585) ----

    def create_table(self, table: str, cols: list[str] | None = None) -> None:
        """CREATE [OR ALTER] TABLE: register the table (it then lists
        in information_schema/pg_catalog and scans as empty) and
        record the declared column names. Types stay dynamic — they
        come from the first INSERT, per the document model."""
        import json as _json

        path = self._path(table)
        os.makedirs(path, exist_ok=True)
        if cols is not None:
            with open(os.path.join(path, "_schema.json"), "w") as f:
                _json.dump({"columns": cols}, f)

    def declared_columns(self, table: str) -> list[str] | None:
        import json as _json

        p = os.path.join(self._path(table), "_schema.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return _json.load(f).get("columns")

    def _roles_path(self) -> str:
        return os.path.join(self.warehouse, "_roles.json")

    def user_roles(self) -> dict[str, list[str]]:
        import json as _json

        p = self._roles_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return _json.load(f)

    def _save_roles(self, roles: dict) -> None:
        import json as _json
        import uuid as _uuid

        p = self._roles_path()
        tmp = p + f".tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            _json.dump(roles, f)
        os.replace(tmp, p)       # crash-safe, like _save_databases

    def grant_role(self, role: str, user: str) -> None:
        roles = self.user_roles()
        have = roles.setdefault(user, [])
        if role not in have:
            have.append(role)
        self._save_roles(roles)

    def revoke_role(self, role: str, user: str) -> None:
        roles = self.user_roles()
        if role in roles.get(user, []):
            roles[user].remove(role)
            self._save_roles(roles)

    def _record_tx(self, st: datetime, committed: bool = True,
                   error: str | None = None,
                   txid: int | None = None) -> None:
        """Append one line to the tx log manifest (reference `xt.txs`
        system table: _id/system_time/committed/error —
        information_schema.clj xt-derived tables). Driver-side JSONL
        append, not a Spark job: tx metadata is a few bytes per tx,
        and the single-writer model serializes appends. tx id = the
        system time in micros (the log-offset analogue), or the
        uniquified id `_commit_journal` allocated for this tx."""
        import json as _json

        if isinstance(st, str):
            st = datetime.fromisoformat(st)
        line = _json.dumps({
            "tx_id": txid if txid is not None else
                     int(st.replace(tzinfo=timezone.utc).timestamp()
                         * 1_000_000),
            "system_time": st.isoformat(sep=" "),
            "committed": committed,
            "error": error,
        })
        with open(os.path.join(self.warehouse, "_txs.jsonl"), "a") as f:
            f.write(line + "\n")

    def txs(self) -> DataFrame:
        """The `xt.txs` system table (reference: queryable tx log —
        committed flag + error per transaction)."""
        import json as _json

        path = os.path.join(self.warehouse, "_txs.jsonl")
        rows = []
        if os.path.exists(path):
            with open(path) as f:
                rows = [_json.loads(ln) for ln in f if ln.strip()]
        return self.spark.createDataFrame(
            [(r["tx_id"], r["system_time"], r["committed"], r["error"])
             for r in rows] or [(0, None, True, None)],
            "_id long, system_time string, committed boolean, error string"
        ).withColumn("system_time", F.col("system_time").cast("timestamp")) \
            .filter(F.col("_id") > 0)

    def _next_system_time(self) -> datetime:
        # strictly monotonic ACROSS processes: called under the
        # commit lock, and bumped past the ledger's last tx id so two
        # writer processes sharing a warehouse can never allocate the
        # same system time (reference: log offsets are unique by
        # construction, log.clj:70-87)
        src = getattr(self, "instant_source", None)
        if src is not None:
            # injected InstantSource (reference test_util.clj:107
            # ->mock-clock, wired by the SLT direct-sql runner):
            # deterministic tx times, monotonicity is the source's
            # contract
            self._tx_counter += 1
            return src()
        self._tx_counter += 1
        t_us = time.time_ns() // 1000
        if t_us <= getattr(self, "_last_alloc_us", 0):
            t_us = self._last_alloc_us + 1
        last = self._last_ledger_txid()
        if last is not None and t_us <= last:
            t_us = last + 1
        self._last_alloc_us = t_us
        return datetime.fromtimestamp(t_us / 1e6,
                                      tz=timezone.utc).replace(tzinfo=None)

    @staticmethod
    def _iid_expr(df: DataFrame) -> F.Column:
        """16-byte `_iid` = md5 of a TYPE-TAGGED canonical string of
        `_id` (reference hashes the typed value, scan.clj:127-140):
        without the tag, `{_id: 1}` and `{_id: "1"}` would collide and
        silently merge into one entity's version chain."""
        dtype = dict(df.dtypes)["_id"]
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            tag = "i"
        elif dtype == "string":
            tag = "s"
        elif dtype == "binary":
            tag = "b"            # UUID bytes (Iid.kt UUID branch)
        elif dtype == "boolean":
            tag = "z"
        else:
            # the reference admits ONLY UUID/string/keyword/integer
            # ids (Iid.kt asIid: 'Invalid ID type', xtdb/invalid-id;
            # sql_test.clj test-date-id-caught-3446) — a date or
            # float id aborts the tx, it never reaches storage
            raise ValueError(
                f"Invalid ID type: {dtype} (_id must be a string, "
                "integer, UUID, or keyword — xtdb/invalid-id)")
        return F.unhex(F.md5(F.concat(F.lit(tag + ":"),
                                      F.col("_id").cast("string"))))

    def _local_df(self, rows) -> DataFrame:
        """Local row list → single-slice DataFrame. One slice means
        one output file per append (no small-file problem) AND one
        Python-worker launch per job over the frame — `.coalesce(1)`
        over the default 32 inference slices computes all 32 parent
        partitions inside a single task, launching a fresh Python
        worker per empty slice (measured 3.9 s/job vs 0.2 s; it was
        the dominant cost of every small OLTP tx). Schema still comes
        from the same driver-side inference over the full row list."""
        probe = self.spark.createDataFrame(rows)
        return self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, 1),
            schema=probe.schema)

    def _events_df(self, rows, op: str, valid_from, valid_to,
                   system_from) -> DataFrame:
        df = rows if isinstance(rows, DataFrame) else self._local_df(rows)
        # widest-type canonicalization (SURVEY §1.3 strategy (c)):
        # integral → bigint, fractional → double, so later appends
        # from differently-inferred sources always schema-merge
        for name, dtype in df.dtypes:
            if dtype in ("tinyint", "smallint", "int"):
                df = df.withColumn(name, F.col(name).cast("long"))
            elif dtype == "float":
                df = df.withColumn(name, F.col(name).cast("double"))
        if "_id" not in df.columns:
            raise ValueError("every document needs an `_id`")
        vf = (F.lit(valid_from).cast("timestamp") if valid_from is not None
              else F.lit(system_from).cast("timestamp"))
        vt = F.lit(valid_to).cast("timestamp") if valid_to is not None \
            else F.lit(None).cast("timestamp")
        # a `_valid_from`/`_valid_to` DOCUMENT column sets that row's
        # application time (reference: INSERT INTO t (_id, …,
        # _valid_from) is the standard app-time write, tx.clj put-docs
        # valid-time-from); rows without it keep the op default
        if "_valid_from" in df.columns:
            vf = F.coalesce(F.col("_valid_from").cast("timestamp"), vf)
        if "_valid_to" in df.columns:
            vt = F.coalesce(F.col("_valid_to").cast("timestamp"), vt)
        return (df
                .withColumn("_iid", self._iid_expr(df))
                .withColumn("_valid_from", vf)
                .withColumn("_valid_to", vt)
                .withColumn("_system_from", F.lit(system_from).cast("timestamp"))
                .withColumn("op", F.lit(op)))

    def _append(self, table: str, events: DataFrame, st) -> DataFrame:
        """Append one tx's events: written to a hidden staging dir,
        then renamed into the table with `part-xt{txid}-` names —
        per-file-atomic, and every file is attributable to its tx so
        `_quarantine_tx` / `_recover_journal` can undo a partial
        commit (Delta-style controlled file naming)."""
        import shutil

        txid = self._txid_for(st)
        path = self._path(table)
        staging = os.path.join(path,
                               f".stage-{txid}-{_uuid.uuid4().hex}")
        events.write.mode("overwrite").parquet(staging)
        for i, f in enumerate(sorted(
                _glob.glob(os.path.join(staging, "*.parquet")))):
            os.replace(f, os.path.join(
                path, f"part-xt{txid}-{i:05d}-{_uuid.uuid4().hex}"
                      ".parquet"))
        shutil.rmtree(staging, ignore_errors=True)
        return events

    @staticmethod
    def _parse_ts(v, default):
        if v is None:
            return default
        if isinstance(v, str):
            return datetime.fromisoformat(v)
        if getattr(v, "tzinfo", None) is not None:
            return v.astimezone(timezone.utc).replace(tzinfo=None)
        return v

    def _append_local_fast(self, table: str, rows, op: str,
                           valid_from, valid_to, st) -> bool:
        """OLTP fast path: literal-row appends write their event
        parquet DIRECTLY from the driver with pyarrow — no Spark job
        (the reference's appends are likewise in-process,
        LiveIndex.kt; Spark's per-job floor is ~300 ms, this is ~5).
        Byte-compatible with the Spark write path: same widest-type
        canonicalization (int64/float64), same typed-id `_iid`
        hashing (iid_py == _iid_expr), timestamps as
        TIMESTAMP(MICROS, adjusted-to-UTC) so mixed fast/Spark files
        schema-merge (test_tx_fastpath asserts the mixed read).
        Returns False — caller falls back to the Spark path — on
        anything outside the simple-scalar envelope (nested values,
        exotic id types, all-None columns, >int64)."""
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from datetime import date as _date

        if not isinstance(rows, list) or not rows \
                or not all(isinstance(r, dict) for r in rows):
            return False
        if any("_valid_from" in r or "_valid_to" in r for r in rows):
            # per-row valid-time bounds (reference: inserting
            # `_valid_from` sets the event's application time) —
            # Spark path handles the per-row coalesce
            return False
        order: list[str] = []
        for r in rows:
            for k in r:
                if k not in order:
                    order.append(k)
        if "_id" not in order:
            raise ValueError("every document needs an `_id`")
        if any("_id" not in r for r in rows):
            # SOME rows missing _id: the Spark path gives those rows
            # a NULL _iid — fall back rather than KeyError mid-commit
            return False
        arrays: dict[str, object] = {}
        for k in order:
            vals = [r.get(k) for r in rows]
            nn = [v for v in vals if v is not None]
            if not nn:
                return False     # Spark path keeps its inference error
            if all(isinstance(v, bool) for v in nn):
                typ = pa.bool_()
            elif all(isinstance(v, int) and not isinstance(v, bool)
                     for v in nn):
                if any(not (-(1 << 63) <= v < (1 << 63)) for v in nn):
                    return False
                typ = pa.int64()
            elif all(isinstance(v, (int, float))
                     and not isinstance(v, bool) for v in nn):
                vals = [float(v) if v is not None else None for v in vals]
                typ = pa.float64()
            elif all(isinstance(v, str) for v in nn):
                typ = pa.string()
            elif all(isinstance(v, (bytes, bytearray)) for v in nn):
                vals = [bytes(v) if v is not None else None for v in vals]
                typ = pa.binary()
            elif all(isinstance(v, datetime) for v in nn):
                vals = [self._parse_ts(v, None) for v in vals]
                typ = pa.timestamp("us", tz="UTC")
            elif all(isinstance(v, _date) and not isinstance(v, datetime)
                     for v in nn):
                typ = pa.date32()
            else:
                return False
            arrays[k] = pa.array(vals, type=typ)
        try:
            iids = [self.iid_py(r["_id"]) for r in rows]
        except ValueError:
            return False         # exotic id type → Spark hashing
        n = len(rows)
        st = self._parse_ts(st, None)
        vf = self._parse_ts(valid_from, st)
        vt = self._parse_ts(valid_to, None)
        ts_t = pa.timestamp("us", tz="UTC")
        cols = {k: arrays[k] for k in order}
        cols["_iid"] = pa.array(iids, type=pa.binary())
        cols["_valid_from"] = pa.array([vf] * n, type=ts_t)
        cols["_valid_to"] = pa.array([vt] * n, type=ts_t)
        cols["_system_from"] = pa.array([st] * n, type=ts_t)
        cols["op"] = pa.array([op] * n, type=pa.string())
        path = self._path(table)
        os.makedirs(path, exist_ok=True)
        # tx-id-stamped name (quarantinable), written via a hidden
        # temp name so a crash mid-write can't leave a truncated
        # .parquet where scans would trip over it
        txid = self._txid_for(st)
        final = os.path.join(
            path, f"part-xt{txid}-{_uuid.uuid4().hex}.parquet")
        tmp = os.path.join(path, f".stage-{txid}-{_uuid.uuid4().hex}")
        pq.write_table(pa.table(cols), tmp, compression="snappy")
        os.replace(tmp, final)
        return True

    # ---- tx ops (reference tx_ops.clj) ----

    @staticmethod
    def _dedupe_put_batch(rows):
        """Within-tx later-op-wins (reference tx semantics: ops in a
        transaction apply in order, so a second put of the same `_id`
        supersedes the first — tx_ops.clj op list ordering; verified
        against the reference's own TPC-H golden results, whose
        sf0.001 partsupp has 100 duplicate composite keys and matches
        keep-LAST). A put batch shares one valid range, so the
        earlier duplicate is never visible at any (valid, system)
        point — dropping it at write time is exact and removes the
        same-`_system_from` window tie from every later scan.
        DataFrame inputs are left alone: distributed rows have no
        defined intra-batch order to win by."""
        if not isinstance(rows, list) or not rows \
                or not all(isinstance(r, dict) and "_id" in r for r in rows):
            return rows
        try:
            last = {}
            for i, r in enumerate(rows):
                last[r["_id"]] = i
        except TypeError:        # unhashable id → Spark path decides
            return rows
        if len(last) == len(rows):
            return rows
        keep = set(last.values())
        return [r for i, r in enumerate(rows) if i in keep]

    def put(self, table, rows, valid_from=None, valid_to=None, system_from=None):
        from xtdb_spark import tracing

        rows = self._dedupe_put_batch(rows)
        with tracing.span("xtdb.tx", kind="put",
                          table=table), self._ipc_lock():
            st = system_from or self._next_system_time()
            with self._commit_journal(st, [table]):
                self._append_rows(table, rows, "put", valid_from,
                                  valid_to, st)
        return st

    def _append_rows(self, table, rows, op, valid_from, valid_to,
                     st) -> None:
        """Append one op's events at system time `st`: literal rows
        through the pyarrow fast path (`_append_local_fast`), a
        DataFrame or rows outside its envelope through the Spark
        writer (`_events_df`)."""
        if isinstance(rows, DataFrame) or not self._append_local_fast(
                table, rows, op, valid_from, valid_to, st):
            self._append(table, self._events_df(rows, op, valid_from,
                                                valid_to, st), st)

    @staticmethod
    def _check_literal_ids(rows) -> None:
        """Stage-time validation for deferred literal payloads: the
        `_id` requirement must abort the tx DURING op evaluation
        (recorded as committed=false), matching the eager
        DataFrame-build path."""
        if isinstance(rows, list) and rows \
                and all(isinstance(r, dict) for r in rows) \
                and not any("_id" in r for r in rows):
            raise ValueError("every document needs an `_id`")

    @staticmethod
    def _id_rows(ids):
        """ids may be a local list OR a DataFrame with an `_id` column
        — the DataFrame path stays fully distributed (a broad
        `DELETE … WHERE` must never collect its id set to the
        driver). A DataFrame may also carry `_valid_from`/`_valid_to`
        columns: PER-ROW valid bounds for the delete events (the
        SQL `DELETE … FOR ALL VALID_TIME WHERE <segment pred>` shape,
        reference direct-sql/sl-demo — each matching version segment
        is deleted over ITS OWN range; _events_df coalesces them)."""
        if isinstance(ids, DataFrame):
            keep = [c for c in ("_id", "_valid_from", "_valid_to")
                    if c in ids.columns]
            return ids.select(*keep)
        return [{"_id": i} for i in ids]

    def delete(self, table, ids, valid_from=None, valid_to=None, system_from=None):
        with self._ipc_lock():
            st = system_from or self._next_system_time()
            id_rows = self._id_rows(ids)
            with self._commit_journal(st, [table]):
                self._append_rows(table, id_rows, "delete", valid_from,
                                  valid_to, st)
        return st

    def erase(self, table, ids, system_from=None):
        with self._ipc_lock():
            st = system_from or self._next_system_time()
            id_rows = self._id_rows(ids)
            with self._commit_journal(st, [table]):
                self._append_rows(table, id_rows, "erase", None, None, st)
        return st

    def copy_from(self, table, path, fmt: str = "parquet",
                  system_from=None, **options):
        """Bulk load a file/directory as documents (reference
        `COPY t FROM STDIN` Sql.g4:16-45 — here the source is a
        path, the Spark-native bulk channel). Rows must carry `_id`."""
        reader = self.spark.read.options(**options)
        df = getattr(reader, fmt)(path)
        return self.put(table, df, system_from=system_from)

    def copy_to(self, table, path, fmt: str = "parquet",
                valid_time=None, system_time=None, **options):
        """Bulk export: write the table's (optionally time-traveled)
        current state out as parquet/csv/json — the read-side
        counterpart of `copy_from` (reference COPY surface,
        Sql.g4:16-45). Distributed write, one file per partition."""
        df = self.scan(table, valid_time=valid_time, system_time=system_time)
        writer = df.write.mode("overwrite").options(**options)
        getattr(writer, fmt)(path)
        return path

    def submit_tx(self, ops, system_from=None):
        """Multi-op transaction (reference api submit-tx,
        tx_ops.clj): every op in `ops` evaluates against the SAME
        pre-tx snapshot and commits at ONE system time; an
        AssertFailed (or any error) before commit aborts the whole
        batch with nothing written. Ops are ("put"|"delete"|"erase"|
        "patch", table, payload, kwargs?) tuples or ("assert_", fn)
        where fn(store) raises to abort. delete/erase payloads are id
        lists or `_id` DataFrames; patch supports valid_from/valid_to
        kwargs (portion form = patch-gaps).

        The pre-tx-snapshot guarantee is enforced by MATERIALIZING
        every staged event DataFrame (localCheckpoint) before any
        append: a lazy payload derived from events(table) would
        otherwise re-read parquet at append time and observe earlier
        appends from the same tx.

        Atomicity model: events are staged per table and appended
        only after every op has evaluated — under the inter-process
        commit lock (the reference's log-serialized tx, log.clj:
        70-87), with a commit journal written before the first append
        and retired after the ledger record. A crash mid-commit
        leaves tx-id-stamped files that `_recover_journal` quarantines
        at next open, so a partial multi-table tx can never become
        visible (the Delta commit-protocol role)."""
        from xtdb_spark import tracing

        with tracing.span("xtdb.tx", kind="submit_tx",
                          n_ops=len(ops)) as sp, self._ipc_lock():
            st = system_from or self._next_system_time()
            if sp is not None:
                sp["attributes"]["tx_id"] = self._txid(st)
            staged: list[tuple[str, DataFrame, bool]] = []
            stage = (lambda table, ev, snap=True:  # noqa: E731
                     staged.append((table, ev, snap)))

            try:
                self._submit_tx_ops(ops, st, stage)
            except Exception as e:  # aborted tx: recorded, nothing written
                self._record_tx(st, committed=False,
                                error=f"{type(e).__name__}: {e}"[:500])
                raise
            # materialize against the pre-tx snapshot, then commit.
            # `snap=False` stages are LITERAL driver-side rows — they
            # cannot observe the store, so they defer entirely to commit
            # and go through the pyarrow fast path (no Spark job; falls
            # back to the Spark writer outside the simple-scalar
            # envelope). Store-derived frames checkpoint first so they
            # pin the pre-tx snapshot.
            staged = [(table, ev.localCheckpoint(eager=True)
                       if snap and isinstance(ev, DataFrame) else ev)
                      for table, ev, snap in staged]
            with self._commit_journal(st, [t for t, _ in staged]):
                for table, ev in staged:
                    if isinstance(ev, tuple) and ev[0] == "raw":
                        self._append_rows(table, *ev[1:], st)
                    else:
                        self._append(table, ev, st)
        return st

    def _submit_tx_ops(self, ops, st, stage):
        for op in ops:
            kind, rest = op[0], op[1:]
            if kind == "assert_":
                rest[0](self)
                continue
            table, payload = rest[0], rest[1]
            kw = dict(rest[2]) if len(rest) > 2 else {}
            vf, vt = kw.get("valid_from"), kw.get("valid_to")
            lit = not isinstance(payload, DataFrame)
            if kind == "put":
                if lit:
                    self._check_literal_ids(payload)
                    stage(table, ("raw", payload, "put", vf, vt),
                          snap=False)
                else:
                    stage(table, self._events_df(payload, "put", vf, vt,
                                                 st), snap=True)
            elif kind == "delete":
                if lit:
                    stage(table, ("raw", self._id_rows(payload),
                                  "delete", vf, vt), snap=False)
                else:
                    stage(table, self._events_df(self._id_rows(payload),
                                                 "delete", vf, vt, st),
                          snap=True)
            elif kind == "erase":
                if lit:
                    stage(table, ("raw", self._id_rows(payload),
                                  "erase", None, None), snap=False)
                else:
                    stage(table, self._events_df(self._id_rows(payload),
                                                 "erase", None, None, st),
                          snap=True)
            elif kind == "patch":
                if vf is not None or vt is not None:
                    stage(table, self._patch_portion_events(
                        table, payload, vf, vt, st))
                else:
                    stage(table, self._patch_events(table, payload, st))
            else:
                raise ValueError(f"unknown tx op {kind!r}")

    def patch(self, table, rows, valid_from=None, valid_to=None, system_from=None):
        """PATCH = read current doc, struct-merge the partial doc over
        it, write as put (reference `_patch` expression.clj:2061-2095 +
        patch-gaps operator operator/patch.clj). Missing keys keep
        current values; unseen ids insert as-is.

        With a valid-time portion, delegates to `patch_portion`
        (patch-gaps semantics: merge per overlapping version, fill
        uncovered sub-ranges with the patch doc alone)."""
        if valid_from is not None or valid_to is not None:
            return self.patch_portion(table, rows, valid_from, valid_to,
                                      system_from)
        with self._ipc_lock():
            st = system_from or self._next_system_time()
            ev = self._patch_events(table, rows, st)
            with self._commit_journal(st, [table]):
                self._append(table, ev, st)
        return st

    def _patch_events(self, table, rows, st) -> DataFrame:
        patch_df = (rows if isinstance(rows, DataFrame)
                    else self._local_df(rows))
        current = bitemporal.resolve_asof(self.events(table), keep_meta=False)
        doc_cols = [c for c in current.columns if c != "_iid"]
        cur = current.withColumnRenamed("_id", "__cur_id") if "_id" in doc_cols \
            else current
        merged_cols = []
        for c in patch_df.columns:
            if c == "_id":
                merged_cols.append(F.col("p._id").alias("_id"))
            elif c in doc_cols:
                merged_cols.append(F.coalesce(F.col(f"p.{c}"), F.col(f"c.{c}")).alias(c))
            else:
                merged_cols.append(F.col(f"p.{c}").alias(c))
        for c in doc_cols:
            if c not in patch_df.columns and c != "_id":
                merged_cols.append(F.col(f"c.{c}").alias(c))
        merged = (patch_df.alias("p")
                  .join(current.alias("c"),
                        F.col("p._id") == F.col("c._id"), "left")
                  .select(*merged_cols))
        return self._events_df(merged, "put", None, None, st)

    def patch_portion(self, table, rows, valid_from, valid_to,
                      system_from=None):
        """`PATCH INTO … FOR PORTION OF VALID_TIME FROM a TO b`
        (reference operator/patch.clj:30-57 + PatchGapsCursor.kt):
        within [a, b), every existing version segment gets the patch
        merged over it; sub-ranges covered by NO version get the patch
        doc alone. All as put-events at one system time — one window
        over the id's (few) versions, no UDF."""
        with self._ipc_lock():
            st = system_from or self._next_system_time()
            ev = self._patch_portion_events(table, rows, valid_from,
                                            valid_to, st)
            with self._commit_journal(st, [table]):
                self._append(table, ev, st)
        return st

    def _patch_portion_events(self, table, rows, valid_from, valid_to,
                              st) -> DataFrame:
        a = F.lit(valid_from).cast("timestamp")
        b = (F.lit(valid_to).cast("timestamp") if valid_to is not None
             else F.lit(bitemporal.MAX_TS).cast("timestamp"))
        patch_df = (rows if isinstance(rows, DataFrame)
                    else self._local_df(rows))
        hist = bitemporal.valid_history(self.events(table)) \
            .withColumn("__vt", F.coalesce(
                F.col("_valid_to_eff"),
                F.lit(bitemporal.MAX_TS).cast("timestamp")))
        doc_cols = [c for c in hist.columns
                    if c not in bitemporal.META_COLS
                    and c not in ("_id", "_valid_to_eff", "__vt")]
        p_cols = [c for c in patch_df.columns if c != "_id"]

        ov = (patch_df.alias("p")
              .join(hist.alias("c"), F.col("p._id") == F.col("c._id"))
              .filter((F.col("c._valid_from") < b) & (a < F.col("c.__vt"))))
        # merged segments: patch over existing, clipped to the portion
        seg_cols = [F.col("p._id").alias("_id"),
                    F.greatest(F.col("c._valid_from"), a).alias("__vf"),
                    F.least(F.col("c.__vt"), b).alias("__vt2")]
        for c in sorted(set(p_cols) | set(doc_cols)):
            if c in p_cols and c in doc_cols:
                seg_cols.append(F.coalesce(F.col(f"p.{c}"), F.col(f"c.{c}"))
                                .alias(c))
            elif c in p_cols:
                seg_cols.append(F.col(f"p.{c}").alias(c))
            else:
                seg_cols.append(F.col(f"c.{c}").alias(c))
        segs = ov.select(*seg_cols)

        # gaps between/around the clipped segments, per id
        w = Window.partitionBy("_id").orderBy("__vf")
        gaps_mid = (segs
                    .select("_id", "__vf", "__vt2",
                            F.lag("__vt2").over(w).alias("__prev_end"))
                    .select("_id",
                            F.coalesce(F.col("__prev_end"), a).alias("__vf"),
                            F.col("__vf").alias("__vt2"))
                    .filter(F.col("__vf") < F.col("__vt2")))
        gaps_tail = (segs.groupBy("_id")
                     .agg(F.max("__vt2").alias("__vf"))
                     .select("_id", "__vf", b.alias("__vt2"))
                     .filter(F.col("__vf") < F.col("__vt2")))
        no_overlap = (patch_df.select("_id")
                      .join(segs.select("_id").distinct(), "_id", "left_anti")
                      .select("_id", a.alias("__vf"), b.alias("__vt2")))
        gaps = gaps_mid.unionByName(gaps_tail).unionByName(no_overlap) \
            .join(patch_df, "_id")

        out = segs.unionByName(gaps, allowMissingColumns=True)
        max_ts = F.lit(bitemporal.MAX_TS).cast("timestamp")
        ev = (out
              .withColumn("_valid_to",
                          F.when(F.col("__vt2") == max_ts,
                                 F.lit(None).cast("timestamp"))
                          .otherwise(F.col("__vt2")))
              .withColumn("_iid", self._iid_expr(out))
              .withColumn("_valid_from", F.col("__vf"))
              .withColumn("_system_from", F.lit(st).cast("timestamp"))
              .withColumn("op", F.lit("put"))
              .drop("__vf", "__vt2"))
        return ev

    # ---- maintenance ----

    def _maintain(self, table: str, step, *args):
        """Run one maintenance `step(table, *args)` under the commit
        lock (maintenance serializes with writers across processes),
        then drop the cached footers of the files that left the live
        manifest — compaction inputs and vacuumed files — so a
        long-lived process (a pgwire server under upserts) caches
        only live files."""
        with self._ipc_lock():
            out = step(table, *args)
            live = set(self.table_files(table))
            prefix = os.path.join(self._path(table), "")
            for f in list(self._footer_cache):
                if f.startswith(prefix) and f not in live:
                    self._footer_cache.pop(f, None)
            return out

    def compact(self, table: str,
                file_size_target: int = compactor.FILE_SIZE_TARGET,
                l0_threshold: int = compactor.L0_THRESHOLD) -> int:
        return self._maintain(table, self._compact_unlocked,
                              file_size_target, l0_threshold)

    def _compact_unlocked(self, table, file_size_target, l0_threshold):
        """LEVELED background compaction (reference compactor.clj +
        compactor/job_calculator.clj + trie/Bucketer.kt): run the
        available L0→L1 and tiering jobs to a fixpoint. Each job
        reads only its own inputs — cost is bounded by
        16 × file-size-target regardless of table size — and commits
        by atomically swapping the per-table manifest. See
        xtdb_spark/compactor.py for the full strategy. Returns the
        number of jobs run."""
        return compactor.compact(self, table, file_size_target,
                                 l0_threshold)

    def optimize(self, table: str, n_files: int | None = None,
                 full: bool = False,
                 cluster_by: list[str] | None = None) -> int:
        """Compaction entry point. Default: LEVELED incremental
        compaction — see `compact()`; returns the number of jobs run.

        `full=True`: one FULL compaction job (compactor.py) — every
        live file rewritten into level-1 iid buckets, split into
        `cur`/`hist` recency files — which also physically drops
        erased data, markers included: a full job merges every marker
        with everything it suppresses, the only point a marker may
        die (reference PolygonCalculator.kt:23-24 + compactor.clj), so
        the erased bytes are gone from storage (the GDPR guarantee
        `erase` exists for). Until then `drop_erased` hides them at
        read time.

        `cluster_by=[...]`: the same full job, its frame z-order
        clustered into `n_files` boxes (operators/zorder.py; default
        live bytes ÷ the 128 MB file-size target + 1) so footer
        min/max stats prune scans filtered on any clustered column —
        Delta's OPTIMIZE ... ZORDER BY. `n_files` without `cluster_by`
        is a ValueError.

        Like every job it commits by one atomic manifest swap: a
        crash leaves the old table readable, and files a `pin` holds
        survive until `unpin` and the next cleanup. Returns the
        number of files written."""
        if n_files is not None and not cluster_by:
            raise ValueError("optimize(n_files=...) sets the z-order box "
                             "count; pass it with cluster_by")
        return self._maintain(table, self._optimize_unlocked, n_files,
                              full, cluster_by)

    def _optimize_unlocked(self, table, n_files, full, cluster_by):
        if not full and not cluster_by:
            return self._compact_unlocked(table, compactor.FILE_SIZE_TARGET,
                                          compactor.L0_THRESHOLD)
        l0, entries = compactor.live_files(self._path(table))
        if not l0 and not entries:
            return 0
        job = {"out_level": 1, "part": "", "inputs_l0": l0,
               "inputs_lvl": entries, "full": True}
        if cluster_by:
            if n_files is None:
                n_bytes = sum(self._file_footer(f).n_bytes for f in
                              self.table_files(table, live=(l0, entries)))
                n_files = n_bytes // compactor.FILE_SIZE_TARGET + 1
            job.update(cluster_by=list(cluster_by), n_files=int(n_files))
        return len(compactor.run_job(self, table, job))

    def pin(self, table: str) -> int:
        """Pin the table's CURRENT file manifest against garbage
        collection (reference garbage_collector.clj respects live
        snapshot references the same way). Returns a token; scans
        built with `events(table, files=pinned_files(token))` keep
        working even while `vacuum` reclaims files outside the pin.
        Release with `unpin(token)`."""
        self._pin_counter += 1
        self._pins[self._pin_counter] = (table, tuple(self.table_files(table)))
        return self._pin_counter

    def pinned_files(self, token: int) -> list[str]:
        return list(self._pins[token][1])

    def unpin(self, token: int) -> None:
        self._pins.pop(token, None)

    def vacuum(self, table: str, retain_system_time=None) -> list[str]:
        return self._maintain(table, self._vacuum_unlocked,
                              retain_system_time)

    def _vacuum_unlocked(self, table: str, retain_system_time=None) -> list[str]:
        """Garbage-collect WHOLLY-SUPERSEDED event files (reference
        garbage_collector.clj + trie-catalog retention: delete files
        no query inside the retention window can reach).

        `retain_system_time` sets the horizon H: a `datetime` is used
        as-is; a `timedelta` keeps that much trailing system history
        (H = now − retain); None retains nothing beyond the current
        state (H = now). An event is *dead* at H when a LATER event
        for the same `_iid`, itself committed at or before H, fully
        covers its valid range (or is an erase) — every as-of or
        history query with system time ≥ H then resolves past it.
        Valid-time travel is fully preserved: a version whose valid
        range is NOT covered by any later event (e.g. a put with a
        later `valid_from`) stays reachable at old valid times and is
        never collected — only SYSTEM history truncates. A
        file is deleted only when EVERY event in it is dead and it is
        not referenced by an active `pin` — file granularity, like
        the reference (dead events inside mixed files wait for
        `optimize`). `FOR ALL SYSTEM_TIME` afterwards shows history
        truncated at the horizon; current-state scans are unaffected.

        Returns the deleted file paths. Single-writer caveat applies
        (don't run concurrently with unpinned readers of pre-vacuum
        manifests)."""
        from datetime import timedelta

        if retain_system_time is None:
            horizon = datetime.now(timezone.utc).replace(tzinfo=None)
        elif isinstance(retain_system_time, timedelta):
            horizon = (datetime.now(timezone.utc).replace(tzinfo=None)
                       - retain_system_time)
        else:
            horizon = retain_system_time
        files = self.table_files(table)
        pinned = {f for t, fs in self._pins.values() if t == table
                  for f in fs}
        candidates = [f for f in files if f not in pinned]
        if not candidates:
            return []

        ev = (self.events(table, files=files)
              .withColumn("__file", F.input_file_name()))
        max_ts = F.lit(bitemporal.MAX_TS).cast("timestamp")
        h = F.lit(horizon).cast("timestamp")
        a = ev.alias("a")
        b = (ev.select("_iid", "_system_from", "_valid_from", "_valid_to",
                       "op").alias("b"))
        covers = ((F.col("b.op") == "erase")
                  | ((F.col("b._valid_from") <= F.col("a._valid_from"))
                     & (F.coalesce(F.col("b._valid_to"), max_ts)
                        >= F.coalesce(F.col("a._valid_to"), max_ts))))
        dead_cond = ((F.col("b._iid") == F.col("a._iid"))
                     & (F.col("b._system_from") > F.col("a._system_from"))
                     & (F.col("b._system_from") <= h)
                     & covers)
        live = a.join(b, dead_cond, "left_anti")

        def _norm(p: str) -> str:
            if p.startswith("file:"):
                p = p[5:]
            return "/" + p.lstrip("/")

        # one row per file — metadata-scale collect, not data
        live_files = {_norm(f)
                      for (f,) in live.select("__file").distinct().collect()}
        deletable = [f for f in candidates
                     if _norm(os.path.abspath(f)) not in live_files]
        if deletable:
            # slot-retained WAL (replication.py): a lagging
            # replication slot must still be able to render these
            # txs' changes after their part-xt files are gone —
            # archive BEFORE deletion, exactly like every compaction
            # job (compactor.run_job)
            from xtdb_spark.replication import archive_unacked, txid_of_l0

            archive_unacked(self.warehouse,
                            [t for t in map(txid_of_l0, deletable)
                             if t is not None])
        for f in deletable:
            os.remove(f)
        if deletable:
            # drop deleted LEVEL files from the compaction manifest
            path = self._path(table)
            m = compactor.load_manifest(path)
            if m is not None:
                gone = {os.path.basename(f) for f in deletable}
                m["files"] = [e for e in m["files"]
                              if e["name"] not in gone]
                compactor.save_manifest(path, m)
        return deletable

    # ---- reads ----

    # ---- warehouse export / import (reference export.clj: block +
    #      catalog snapshot export, importable into a fresh node) ----

    _EXPORT_META = ("_txs.jsonl", "_databases.json", "_roles.json")

    @staticmethod
    def _snapshot_data_files(root: str) -> set[str]:
        """Relative paths of the IMMUTABLE data files under a
        warehouse/snapshot's table dirs (parquet files carry
        content-unique names and are never rewritten in place, so
        name identity == content identity; mutable metadata —
        `_manifest.json`, `_schema.json` — is excluded and always
        re-copied by delta export)."""
        out: set[str] = set()
        for d in os.listdir(root):
            sp = os.path.join(root, d)
            if not os.path.isdir(sp) or d.startswith(("_", ".")):
                continue
            for base_dir, dirs, files in os.walk(sp):
                dirs[:] = [x for x in dirs if not x.startswith(".")]
                for fn in files:
                    if fn.startswith((".", "_")) or ".tmp-" in fn:
                        continue
                    out.add(os.path.relpath(
                        os.path.join(base_dir, fn), root))
        return out

    def export_warehouse(self, dest: str, base: str | None = None) -> str:
        """Portable snapshot of the WHOLE warehouse: every table's
        live data files, compaction manifests and declared schemas,
        plus the tx ledger — taken under the commit lock so no
        transaction is in flight (reference export.clj exports the
        block + catalog the same way). The snapshot is a plain
        directory tree `import_warehouse` can open; bookkeeping state
        that must NOT travel (journal, quarantine, lock, pins) is
        excluded.

        `base` (a previous snapshot directory) switches to an
        INCREMENTAL export: only data files the base doesn't have are
        copied (data files are content-named and immutable, so name
        diff == content diff — compaction/vacuum replace files, never
        rewrite them), mutable metadata (ledger, manifests, schemas)
        is always refreshed, and `_delta.json` records the full
        current live-file list so import can prune base files that
        died since (compaction inputs, vacuumed versions). Importing
        base + deltas in order reproduces a full export exactly.
        Driver-side file copy — at 100 TB this becomes a parallel
        object-store copy (distcp) driven by the same name diff."""
        import shutil

        with self._ipc_lock():
            os.makedirs(dest, exist_ok=True)
            for f in self._EXPORT_META:
                src = os.path.join(self.warehouse, f)
                if os.path.exists(src):
                    shutil.copy2(src, os.path.join(dest, f))
            if base is None:
                for d in os.listdir(self.warehouse):
                    sp = os.path.join(self.warehouse, d)
                    if not os.path.isdir(sp) or d.startswith(("_", ".")):
                        continue
                    dp = os.path.join(dest, d)
                    shutil.copytree(
                        sp, dp, dirs_exist_ok=True,
                        ignore=shutil.ignore_patterns(
                            ".stage-*", "*.tmp-*",
                            f"{compactor.TMP_PREFIX}*"))
                return dest
            if not os.path.isdir(base):
                raise ValueError(f"no base snapshot at {base!r}")
            live = self._snapshot_data_files(self.warehouse)
            bj = os.path.join(base, "_delta.json")
            if os.path.isfile(bj):
                # chaining off a previous DELTA: its live list IS the
                # warehouse state at that snapshot's point in time
                with open(bj) as f:
                    have = set(_json.load(f)["live"])
            else:
                have = self._snapshot_data_files(base)
            for rel in sorted(live - have):
                dst = os.path.join(dest, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy2(os.path.join(self.warehouse, rel), dst)
            # mutable per-table metadata: always refreshed
            for d in os.listdir(self.warehouse):
                sp = os.path.join(self.warehouse, d)
                if not os.path.isdir(sp) or d.startswith(("_", ".")):
                    continue
                for meta in ("_manifest.json", "_schema.json"):
                    mp = os.path.join(sp, meta)
                    if os.path.exists(mp):
                        dd = os.path.join(dest, d)
                        os.makedirs(dd, exist_ok=True)
                        shutil.copy2(mp, os.path.join(dd, meta))
            with open(os.path.join(dest, "_delta.json"), "w") as f:
                _json.dump({"live": sorted(live)}, f)
        return dest

    @classmethod
    def import_warehouse(cls, spark: SparkSession, snapshot: str,
                         warehouse: str,
                         deltas: list[str] | tuple = ()) -> "TableStore":
        """Open an exported snapshot as a NEW store at `warehouse`:
        the snapshot tree is copied in (so the original stays a
        backup), then opened with the normal recovery path — tx
        history, as-of queries, and compaction state all carry over
        (round-trip test: xt.txs + as-of results identical).

        `deltas`: incremental snapshots (export_warehouse(base=...)),
        applied IN ORDER on top of the base — each delta's new files
        copy in, its refreshed metadata overwrites, and files absent
        from its `_delta.json` live list are pruned (they were
        consumed by compaction or vacuumed after the base). The
        result is file-identical to a full export taken at the last
        delta's point in time."""
        import shutil

        if not os.path.isdir(snapshot):
            raise ValueError(f"no snapshot at {snapshot!r}")
        os.makedirs(warehouse, exist_ok=True)
        if any(not f.startswith((".", "_commit.lock"))
               for f in os.listdir(warehouse)):
            raise ValueError(
                f"import target {warehouse!r} is not empty")
        shutil.copytree(snapshot, warehouse, dirs_exist_ok=True)
        for delta in deltas:
            dj = os.path.join(delta, "_delta.json")
            if not os.path.isfile(dj):
                raise ValueError(
                    f"{delta!r} is not an incremental snapshot "
                    "(missing _delta.json)")
            shutil.copytree(
                delta, warehouse, dirs_exist_ok=True,
                ignore=shutil.ignore_patterns("_delta.json"))
            with open(dj) as f:
                live = set(_json.load(f)["live"])
            for rel in cls._snapshot_data_files(warehouse) - live:
                os.remove(os.path.join(warehouse, rel))
        return cls(spark, warehouse)

    def tables(self) -> list[str]:
        """All store table names (dotted form — `schema.table` where a
        schema prefix exists). Reference `xt.live_tables` analogue."""
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(d.replace("__", ".") for d in os.listdir(self.warehouse)
                      if os.path.isdir(os.path.join(self.warehouse, d))
                      and not d.startswith("_"))

    def live_files(self, table: str) -> tuple[list[str], list[dict]]:
        """One listing of the table's manifest: (live L0 paths, live
        level entries), as `compactor.live_files` reads them. Handing
        one listing to a guard and to the read it approves
        (`lookup_matches_scan`, `lookup`) keeps a put or compaction
        between the two from changing the files the guard judged."""
        return compactor.live_files(self._path(table))

    def table_files(self, table: str, current_only: bool = False,
                    live=None) -> list[str]:
        """The table's manifest: its live parquet files, listed NOW —
        raw L0 appends plus the leveled compaction outputs registered
        in the per-table manifest (compactor.py; the trie-catalog
        role). The basis-token analogue (reference api basis.clj;
        scan.clj:108-113 clamps every scan to the snapshot) — passing
        this list to `events()` pins a whole multi-statement query to
        one state. `current_only` drops `hist` files — sound ONLY for
        pure current-state reads (see compactor.py recency notes).
        `live`: a `live_files` listing to use instead of a new one."""
        path = self._path(table)
        l0, entries = live or compactor.live_files(path)
        if current_only:
            entries = [e for e in entries if not e["hist"]]
        return sorted(l0 + [compactor.entry_path(path, e) for e in entries])

    def iid_py(self, _id) -> bytes:
        """Driver-side `_iid` (must match `_iid_expr` bit-for-bit:
        same type tag, same Spark cast-to-string spelling)."""
        import hashlib

        if isinstance(_id, bool):
            tag, s = "z", ("true" if _id else "false")
        elif isinstance(_id, int):
            tag, s = "i", str(_id)
        elif isinstance(_id, str):
            tag, s = "s", _id
        else:
            raise ValueError(
                f"point lookup supports int/str/bool ids, got "
                f"{type(_id).__name__} (float/timestamp string forms "
                "differ between engines — query via scan instead)")
        return hashlib.md5((tag + ":" + s).encode()).digest()

    def point_files(self, table: str, _id, current_only: bool = False,
                    live=None) -> list[str]:
        """Manifest pruned to the files that can contain `_id`: all
        live L0 files plus, per level, only the bucket whose
        iid-prefix part matches — the trie-channel walk
        (Bucketer.kt compareToPath / reference
        operator/scan.clj:127-140 iid selection). At 100 TB a point
        lookup opens one bucket chain instead of the table. `live`:
        a `live_files` listing to use instead of a new one."""
        path = self._path(table)
        l0, entries = live or compactor.live_files(path)
        h = self.iid_py(_id).hex()
        keep = [e for e in entries if h.startswith(e["part"])
                and not (current_only and e["hist"])]
        return sorted(l0) + [compactor.entry_path(path, e) for e in keep]

    def lookup(self, table: str, _id, valid_time=None,
               system_time=None, all_valid_time=False,
               all_system_time=False, keep_meta: bool = False,
               live=None) -> DataFrame:
        """Point lookup by `_id`: bucket-pruned manifest + an `_iid`
        equality filter that reaches the parquet scan (files are
        sorted by `_iid`, so row-group stats prune inside the kept
        bucket too). The events are read and resolved in ONE task
        (`coalesce(1)` before `_resolve`), so neither the
        drop-erased aggregate nor the window plans an exchange. One
        iid's events fall in one window partition anyway; what the
        single task gives up is the parallel parquet scan, which
        matters only when the point files are many (every live L0
        file is one; on 4 cores a read over 10 or 50 small files
        costs the same either way, over 200 it is ~10-20 % slower
        in one task). With the schema and erase presence taken from
        the cached footers (`events`, `_resolve`), the read is one
        Spark job. `live`: the `live_files` listing a caller's guard
        (`lookup_matches_scan`) approved."""
        current_only = (valid_time is None and system_time is None
                        and not all_valid_time and not all_system_time)
        files = self.point_files(table, _id, current_only=current_only,
                                 live=live)
        if not files:
            return self.scan(table, valid_time=valid_time,
                             system_time=system_time,
                             all_valid_time=all_valid_time,
                             all_system_time=all_system_time,
                             keep_meta=keep_meta).filter(F.lit(False))
        ev = (self.events(table, files=files)
              .filter(F.col("_iid") == F.lit(self.iid_py(_id)))
              .coalesce(1))
        return self._resolve(ev, files, valid_time, system_time,
                             all_valid_time, all_system_time,
                             keep_meta=keep_meta)

    def lookup_matches_scan(self, table: str, _id, live=None) -> bool:
        """Whether `lookup(table, _id)` returns the rows AND columns
        an SQL read keeps from the full scan under `WHERE _id =
        <_id>`, judged from cached parquet footers (no Spark job):

        - every column has one type across the live files
          (`_footer_schema` settles the table's schema), so no read
          of the table lowers a column through `_events_lub` (an
          `_id` lowered to string compares equal to ids of both type
          tags, which one tagged iid cannot find);
        - `_id`'s type carries `_id`'s own `iid_py` tag, so SQL's
          comparison and the iid select the same entity (`_id = '5'`
          over integer ids coerces to 5; the iid of '5' is another
          entity's);
        - a string `_id` is not one that a lowered id could spell:
          a rewrite of mixed-type files (compaction, `optimize`)
          stores `_id` lowered to string in every output file while
          each row keeps its tagged iid, and the footers cannot show
          it — so `-?[0-9]+`, `true`/`false` (a lowered integer or
          boolean) and any 16-byte string (a lowered UUID's raw
          bytes) keep the full scan;
        - the files `lookup` reads carry every column of the table,
          so `SELECT *` and unqualified names resolve as over the
          full scan (checked on the current-state file list, a
          subset of the lists of the other bounds).

        `live`: the `live_files` listing to judge (listed here when
        None); pass the same one to `lookup`."""
        from pyspark.sql.types import IntegralType, StringType

        live = live or self.live_files(table)
        files = self.table_files(table, live=live)
        schema = self._footer_schema(files) if files else None
        if schema is None:
            return False
        kind = {int: IntegralType, str: StringType}.get(type(_id))
        if kind is None or "_id" not in schema.names \
                or not isinstance(schema["_id"].dataType, kind):
            return False
        if isinstance(_id, str) and (
                re.fullmatch(r"-?\d+|true|false", _id)
                or len(_id.encode()) == 16):
            return False
        point = self.point_files(table, _id, current_only=True, live=live)
        return {fld.name for f in point
                for fld in self._file_footer(f).spark_schema} \
            == set(schema.names)

    def _file_footer(self, path: str) -> _Footer:
        """The one place a store file is sized and its parquet footer
        opened, cached per file version (keyed by size and mtime, so
        an upsert reads only its new file's footer). Every reader
        takes this record: the schema fold (`_footer_schema`), the
        erase gate (`_may_erase`), AS-OF pruning (`prune_manifest`),
        the selectivity estimate (`_stats_selectivity`), the
        broadcast and join-probe size gates, the point-route column
        guard, the system views (`sources/info_schema.py`) and
        `XtdbSession.status`. Any part the footer cannot give is None
        (may_erase: True). `_maintain` drops the entries of files
        that leave the live manifest."""
        import pyarrow.parquet as pq

        st = os.stat(path)
        key = (st.st_size, st.st_mtime)
        hit = self._footer_cache.get(path)
        if hit is not None and hit[0] == key:
            return hit[1]
        try:
            md = pq.ParquetFile(path).metadata
            names = {md.schema.column(i).name: i
                     for i in range(md.num_columns)}
            groups = [md.row_group(g) for g in range(md.num_row_groups)]
            stats = {c: [rg.column(i).statistics for rg in groups]
                     for c, i in names.items()}

            def has(s):
                return s is not None and s.has_min_max

            def numeric(s):
                try:
                    lo, hi = (s.min, s.max) if has(s) else (None, None)
                except Exception:     # a type pyarrow cannot decode
                    return None
                return ((float(lo), float(hi))
                        if isinstance(lo, (int, float))
                        and not isinstance(lo, bool) else None)

            rg_numeric = {}
            for c, ss in stats.items():
                nums = tuple(map(numeric, ss))
                if any(nums):
                    rg_numeric[c] = nums
            min_sf, sf_range, may_erase = None, None, True
            sf = stats.get("_system_from", [])
            if sf and all(map(has, sf)):
                m = min(s.min for s in sf)
                if getattr(m, "tzinfo", None) is not None:
                    m = m.astimezone(timezone.utc).replace(tzinfo=None)
                min_sf = m
            if any(map(has, sf)):
                sf_range = (str(min(s.min for s in sf if has(s))),
                            str(max(s.max for s in sf if has(s))))
            ops = stats.get("op", [])
            if ops and all(map(has, ops)):
                may_erase = any(s.min <= "erase" <= s.max for s in ops)
            out = _Footer(st.st_size, md.num_rows,
                          tuple(rg.num_rows for rg in groups), rg_numeric,
                          min_sf, sf_range, may_erase,
                          _spark_file_schema(md.metadata or {},
                                             md.schema.to_arrow_schema()))
        except Exception:
            out = _Footer(st.st_size, None, (), {}, None, None, True, None)
        self._footer_cache[path] = (key, out)
        return out

    def _may_erase(self, files: list[str]) -> bool:
        """Whether any of `files` may hold an erase event (footer
        `op` min/max, the test `prune_manifest` relies on). False
        lets resolution skip `bitemporal.drop_erased`'s self-join."""
        return any(self._file_footer(f).may_erase for f in files)

    def _footer_schema(self, files: list[str]):
        """The schema `spark.read.option("mergeSchema", "true")`
        infers for `files`, folded from the cached footers instead of
        a Spark job: Spark merges the per-file schemas in path order,
        keeps the first spelling of each column (names match
        case-insensitively) and reads every column nullable. None —
        the caller keeps Spark's merge read — when a file's schema is
        unknown, two files type a column differently (Spark may widen
        a nested struct, or fail and reach `_events_lub`), or a
        column's spelling differs between files."""
        from pyspark.sql.types import StructField, StructType

        fields: dict = {}
        for f in sorted(files):
            sc = self._file_footer(f).spark_schema
            if sc is None:
                return None
            for fld in sc.fields:
                fld = StructField(fld.name, _as_nullable(fld.dataType),
                                  True, fld.metadata)
                if fields.setdefault(fld.name.lower(), fld) != fld:
                    return None
        return StructType(list(fields.values()))

    def prune_manifest(self, table: str, system_time,
                       live=None) -> list[str]:
        """Manifest restricted to files that can contain rows visible
        at `system_time`: appends are monotone in `_system_from`, so a
        file whose footer min exceeds the bound holds ONLY
        later-system rows — invisible at the bound and (system time
        being the supersession axis) unable to clip anything visible
        there, hence skippable without touching resolution semantics.
        The reference does the same walk over trie-catalog temporal
        metadata before opening leaves (trie_catalog.clj;
        scan.clj:62-114 bounds). At 100 TB this turns a historical
        AS-OF query over years of appends into a scan of the matching
        prefix of the manifest — file-granularity pruning BEFORE
        Spark's own row-group-stats pruning kicks in inside the kept
        files. Two conservative carve-outs: files without footer
        stats are kept, and files that may contain ERASE events are
        ALWAYS kept — erase is retroactive across all system time
        (reference: erase wipes the id from history entirely), so a
        later erase must still suppress rows in an earlier AS-OF
        scan. The `op` column's footer min/max range detects
        erase-free files (the overwhelmingly common case). `live`: a
        `live_files` listing to use instead of a new one."""
        files = self.table_files(table, live=live)
        t = system_time
        if t is None:
            return files
        if isinstance(t, str):
            t = datetime.fromisoformat(t)
        if getattr(t, "tzinfo", None) is not None:
            t = t.astimezone(timezone.utc).replace(tzinfo=None)
        kept = []
        for f in files:
            ft = self._file_footer(f)
            if ft.min_system_from is None or ft.min_system_from <= t \
                    or ft.may_erase:
                kept.append(f)
        return kept

    def events(self, table: str, files: list[str] | None = None) -> DataFrame:
        """Event scan pinned to a manifest SNAPSHOT: the file list is
        resolved once, when the DataFrame is built, and baked into the
        plan — a concurrent `put` mid-query cannot leak new files into
        later stages of the same query (reference basis/snapshot
        isolation, api basis.clj + Snapshot.kt). At 100 TB the listing
        comes from a transactional manifest (Delta/Iceberg) instead of
        a directory glob. Compaction and `optimize` delete a rewritten
        file only when no `pin` holds it, so a frame built from
        `pinned_files(token)` stays readable until `unpin`.

        The schema comes from the cached parquet footers
        (`_footer_schema`) — the reference likewise reads its trie
        catalog's metadata before opening data (scan.clj:62-140) — so
        building the scan runs no Spark job. Files whose schema the
        footers cannot settle take Spark's `mergeSchema` read (one
        footer job), and a type conflict there takes `_events_lub`."""
        if files is None:
            files = self.table_files(table)
        if not files:
            # empty/missing table: keep the directory-read error shape
            return self.spark.read.option("mergeSchema", "true") \
                .parquet(self._path(table))
        schema = self._footer_schema(files)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*files)
        try:
            return self.spark.read.option("mergeSchema", "true") \
                .parquet(*files)
        except Exception as e:
            if "CANNOT_MERGE_SCHEMAS" not in str(e):
                raise
            return self._events_lub(files)

    def _events_lub(self, files: list[str]) -> DataFrame:
        """Cross-put dynamic typing: a column written as one scalar
        type in one tx and another later (`UPDATE t1 SET col1 = 30`
        over a string column — reference direct-sql/dml.test; its
        columns are Arrow dense unions, types.clj LUB) defeats
        parquet schema merge. Fallback: per-file reads unioned under
        a least-upper-bound — numeric mixes widen to double (the
        reference's own LUB), anything else lowers to string at the
        SQL surface (renders naturally; comparisons follow Spark's
        string⇄numeric coercions). Explicitly union-typed data keeps
        the faithful legs-struct encoding (dyntypes.encode_rows) —
        this path only catches UNDECLARED drift, so tables stay on
        the fast merged read unless they actually mixed types."""
        from functools import reduce

        from pyspark.sql.types import NumericType

        frames = [self.spark.read.parquet(f) for f in files]
        types: dict = {}
        for df in frames:
            for fld in df.schema.fields:
                types.setdefault(fld.name, set()).add(fld.dataType)
        lub = {}
        for c, ts in types.items():
            if len(ts) > 1:
                lub[c] = ("double" if all(isinstance(t, NumericType)
                                          for t in ts) else "string")
        outs = []
        order = list(types)
        for df in frames:
            cols = []
            for c in order:
                if c in df.columns:
                    col = (F.col(c).cast(lub[c]) if c in lub
                           else F.col(c))
                else:
                    tgt = lub.get(c) or next(iter(types[c]))
                    col = F.lit(None).cast(tgt)
                cols.append(col.alias(c))
            outs.append(df.select(cols))
        return reduce(lambda a, b: a.unionByName(b), outs)

    # columns a prefilter predicate must NOT reference: resolution
    # rewrites them (later versions clip _valid_to/_system_to, range
    # resolution re-derives _valid_from), so "any raw event matches"
    # is not a superset of "some resolved row matches" for them
    _PREFILTER_NONDOC = ("_valid_from", "_valid_to", "_system_from",
                         "_system_to", "op")

    def _stats_selectivity(self, files, bounds, max_footers: int = 8):
        """Footer-statistics selectivity of `bounds`, a
        `{column: [(lo, hi), ...]}` map of numeric intervals — the
        reference derives its automatic bloom sideways pushdown from
        metadata the same way (join.clj:172-226). A conjunction (the
        SQL rewriter's `_numeric_bounds`) gives each column one
        interval; `col IN (k1, k2, …)` gives one column its point
        intervals (k, k).

        Walks the cached footers of at most `max_footers` files spread
        over `files`. Per row group, each column's intervals are
        clamped against its [min, max] under a uniform assumption:
        a range adds its overlap share; a point inside adds the
        discrete-uniform mass 1/(max-min+1); against a constant
        column an interval holding the value counts 1. A column's
        masses add, capped at 1; columns multiply; row groups weight
        by rows. A column without numeric stats in a row group counts
        as broad (1.0), biasing against injection. None when `bounds`
        is empty or no footer gives a row group."""
        fs = sorted(files or [])
        if not bounds or not fs:
            return None
        step = max(1, len(fs) // max_footers)
        est_rows = tot_rows = 0.0
        for f in fs[::step][:max_footers]:
            ft = self._file_footer(f)
            for g, n in enumerate(ft.rg_rows):
                frac = 1.0
                for col, ivs in bounds.items():
                    mm = ft.rg_numeric.get(col)
                    if mm is None or mm[g] is None:
                        continue       # unknown → assume broad (safe)
                    cmin, cmax = mm[g]
                    if cmax <= cmin:            # constant column
                        mass = 1.0 if any(lo <= cmin <= hi
                                          for lo, hi in ivs) else 0.0
                    else:
                        points = sum(1 for lo, hi in ivs
                                     if lo == hi and cmin <= lo <= cmax)
                        mass = points / (cmax - cmin + 1) + sum(
                            max(0.0, (min(hi, cmax) - max(lo, cmin))
                                / (cmax - cmin))
                            for lo, hi in ivs if lo != hi)
                    frac *= min(1.0, mass)
                est_rows += frac * n
                tot_rows += n
        return (est_rows / tot_rows) if tot_rows else None

    def _prefilter_fits_broadcast(self, est: float, files,
                                  budget: int = 64 * 1024 * 1024) -> bool:
        """Whether a prefilter's candidate-iid set is safely
        broadcastable: estimated selectivity × total file bytes under
        a fixed budget. File bytes overestimate the iid-set size (the
        candidate carries ONE binary column of the matching rows), so
        this is conservative — at 100 TB even a 0.5%-selective
        candidate set is too big to broadcast and the hint stays
        off, leaving AQE's runtime decision."""
        try:
            total = sum(self._file_footer(f).n_bytes for f in files or [])
        except OSError:
            return False
        return est * total <= budget

    def scan_files(self, table: str, valid_time=None, system_time=None,
                   all_valid_time=False, all_system_time=False,
                   live=None) -> list[str]:
        """The files a `scan` at these bounds reads, from one
        `live_files` listing (`live`, or a new one). A historical
        `system_time` bound prunes the manifest (`prune_manifest`); a
        pure current-state read skips `hist` compaction outputs —
        every event in them is shadowed at every valid point by a
        later covering event, or already valid-expired (compactor.py
        recency split; reference *recency-partition*,
        compactor.clj). The SQL rewriter estimates a prefilter over
        the same list the scan it decides for will read."""
        live = live or self.live_files(table)
        if system_time is not None and not all_system_time:
            return self.prune_manifest(table, system_time, live=live)
        current = (valid_time is None and system_time is None
                   and not all_valid_time and not all_system_time)
        return self.table_files(table, current_only=current, live=live)

    def scan(self, table: str, valid_time=None, system_time=None,
             all_valid_time=False, all_system_time=False,
             prefilter=None, broadcast: bool = False,
             keep_meta: bool = False, live=None) -> DataFrame:
        """The :scan operator (reference operator/scan.clj:46-368):
        temporal bounds → resolution strategy. Column pruning +
        predicate pushdown on the returned DataFrame reach the parquet
        scan via Catalyst (the reference's metadata page pruning ≈
        parquet row-group stats). Historical `system_time` bounds
        additionally prune whole FILES from the manifest before the
        Spark scan is built (`scan_files`, `prune_manifest` — the
        trie-catalog walk); `FOR ALL SYSTEM_TIME` needs the full
        history, so it never prunes. `live`: the `live_files` listing
        to read instead of a new one.

        `prefilter` (Column or SQL string over the table's DOCUMENT
        columns): sideways candidate pruning for SELECTIVE queries.
        User predicates applied to the RESULT cannot push below the
        per-iid resolution window (they see resolved rows), so by
        default a filtered temporal scan still shuffles every event.
        A prefilter runs a cheap columnar pass (predicate columns +
        `_iid` only — pushed to parquet, z-order/footer-prunable) for
        iids where ANY version matches, then left-semi-joins events
        before resolution — a SAFE SUPERSET of "current version
        matches" (every version of a candidate iid is kept, so
        resolution is unchanged for them; non-candidates can never
        satisfy the same predicate after resolution). The caller
        still applies its own `.filter(pred)` on the result:
        `scan(t, prefilter=p).filter(p) == scan(t).filter(p)`,
        verified by tests/test_prefilter.py. Predicates referencing
        the temporal columns are REJECTED (ValueError): resolution
        rewrites them, so the superset argument only holds for
        document columns. The reference's bloom "sideways information
        passing" (join.clj:172-226) plays this role between
        operators; here it prunes the scan itself.

        A given prefilter is always applied: whether it pays for
        itself (it wins 1.8-2.2× on selective predicates, costs ~25%
        on broad ones — BENCH_NOTES round 7) is the caller's
        decision; the SQL rewriter makes it from footer statistics
        (`_auto_prefilters`). `broadcast=True` broadcast-hints the
        candidate set, for callers that sized it (the rewriter, under
        `_prefilter_fits_broadcast`)."""
        if (self.serve_cache and prefilter is None and valid_time is None
                and system_time is None and not all_valid_time
                and not all_system_time and not keep_meta):
            cl0, cents = live or compactor.live_files(self._path(table))
            tok = (tuple(sorted(cl0)),
                   tuple(sorted(str(e) for e in cents)))
            hit = self._scan_cache.get(table)
            if hit is not None and hit[0] == tok:
                return hit[1]
            self.serve_cache = False     # recurse through the normal
            try:                         # build path exactly once
                df = self.scan(table, live=(cl0, cents)).cache()
            finally:
                self.serve_cache = True
            if hit is not None:
                try:
                    hit[1].unpersist()
                except Exception:
                    pass
            self._scan_cache[table] = (tok, df)
            return df
        path = self._path(table)
        live = live or compactor.live_files(path)
        l0, entries = live
        if not l0 and not entries and os.path.isdir(path):
            # declared (CREATE TABLE) but never written: empty
            # relation with the declared columns (void-typed — types
            # arrive with the first INSERT, per the document model)
            from pyspark.sql.types import (BinaryType, NullType,
                                           StructField, StructType)

            cols = self.declared_columns(table) or []
            schema = StructType(
                [StructField("_iid", BinaryType())]
                + [StructField(c, NullType()) for c in cols])
            return self.spark.createDataFrame([], schema)
        files = self.scan_files(table, valid_time, system_time,
                                all_valid_time, all_system_time, live=live)
        if not files and system_time is not None and not all_system_time:
            # bound precedes every append: empty result with the
            # table's schema, zero I/O (filter(false) folds to an
            # empty LocalRelation)
            return self.scan(table, valid_time=valid_time,
                             all_valid_time=all_valid_time,
                             live=live).filter(F.lit(False))
        ev = self.events(table, files=files)
        if prefilter is not None:
            cond = (F.expr(prefilter) if isinstance(prefilter, str)
                    else prefilter)
            # guard probe: a Project over the doc-only view — .schema
            # forces analysis (transforms analyze lazily), and select
            # (unlike where, whose missing refs Spark resolves back
            # through the drop lineage) genuinely rejects dropped
            # columns. Probed on the FULL ev first so a typo'd column
            # surfaces Spark's own missing-column error, not ours.
            ev.select(cond.alias("_p")).schema
            nondoc = [c for c in self._PREFILTER_NONDOC
                      if c in ev.columns]
            try:
                ev.drop(*nondoc).select(cond.alias("_p")).schema
            except Exception as e:
                raise ValueError(
                    "scan(prefilter=...) predicates may reference "
                    "document columns only: resolution rewrites the "
                    "temporal columns (_valid_to/_system_to are "
                    "clipped by later versions, range resolution "
                    "re-derives _valid_from), so an any-event-matches "
                    "candidate pass is not a superset for them — "
                    "filter the resolved result instead") from e
            cand = ev.where(cond).select("_iid").distinct()
            if broadcast:
                # without the hint, AQE converts the semi-join to
                # broadcast only AFTER the probe-side exchange already
                # exists, so the FULL event table still shuffles for
                # the resolution window and the prefilter saves only
                # the sort (measured: the 20M join A/B execution win
                # was ~nothing). With the static hint the semi-join
                # sits BELOW the window exchange and the shuffle
                # itself shrinks to the candidates. Never hinted
                # unasked: for a broad predicate it would be a driver
                # OOM footgun.
                cand = F.broadcast(cand)
            ev = ev.join(cand, "_iid", "left_semi")
        return self._resolve(ev, files, valid_time, system_time,
                             all_valid_time, all_system_time,
                             keep_meta=keep_meta)

    def _resolve(self, ev: DataFrame, files: list[str], valid_time=None,
                 system_time=None, all_valid_time=False,
                 all_system_time=False,
                 keep_meta: bool = False) -> DataFrame:
        """Resolve the events `ev` read from `files` at the bounds.
        When no footer of `files` admits an erase event, every
        strategy skips `bitemporal.drop_erased` (a self-join: a
        second read of the events and a broadcast job).

        keep_meta=True surfaces `_valid_from/_valid_to/
        _system_from/_system_to` on the POINT path too (the range /
        ALL paths always carry them) — the reference exposes these as
        queryable columns on every table (its SELECT * just excludes
        them). On the as-of path `_system_to` is NULL: the winning
        version is the system-latest at the bound, and for the
        current-state scan (no bound) that is exactly ∞; for a
        historical AS OF bound a later correction's system_from is
        not computed (documented approximation — the range spellings
        are exact via the polygon paths)."""
        doc_cols = [c for c in ev.columns if c not in bitemporal.META_COLS]
        erases = self._may_erase(files)
        if all_valid_time and all_system_time:
            return bitemporal.polygon_history(ev, doc_cols, erases=erases)
        if all_valid_time:
            return bitemporal.resolve_valid_range(
                ev, "0001-01-01", bitemporal.MAX_TS, system_time, doc_cols,
                erases=erases)
        if all_system_time:
            hist = bitemporal.polygon_history(ev, doc_cols, erases=erases)
            v = F.current_timestamp() if valid_time is None \
                else F.lit(valid_time).cast("timestamp")
            return hist.filter((F.col("_valid_from") <= v)
                               & (v < F.coalesce(F.col("_valid_to"),
                                                 F.lit(bitemporal.MAX_TS).cast("timestamp"))))
        out = bitemporal.resolve_asof(ev, valid_time, system_time,
                                      keep_meta=keep_meta, erases=erases)
        if keep_meta:
            out = out.drop("op").withColumn(
                "_system_to", F.lit(None).cast("timestamp"))
        return out
