"""DML statements over the SQL surface.

Reference: INSERT/UPDATE/DELETE/ERASE/PATCH/ASSERT are planned as
relational algebra over the target table and executed at tx-index
time (reference Sql.g4:16-45; query.clj:478-495 prepareTxSql;
sql.clj:2925-3051), producing event rows appended to the log.

Spark design: each statement compiles to a SELECT over the table's
*current state* (or an inline VALUES relation), evaluated by Spark
SQL, whose result is appended as events through the TableStore —
the same "DML is a query producing (_iid, doc, valid-range) rows"
model the reference uses. Supported forms:

    INSERT INTO t (c1, c2, ...) VALUES (...), (...)
    INSERT INTO t SELECT ...
    UPDATE t [FOR PORTION OF VALID_TIME FROM 'a' TO 'b']
             SET c = expr [, ...] [WHERE pred]
    DELETE FROM t [FOR PORTION OF VALID_TIME FROM 'a' TO 'b'] [WHERE pred]
    ERASE FROM t [WHERE pred]
    PATCH INTO t [FOR PORTION OF VALID_TIME FROM 'a' TO 'b']
          (c1, ...) VALUES (...)   -- portion form = patch-gaps
    ASSERT <condition SQL over current state>
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType, FloatType

from xtdb_spark.sql.rewriter import _tokenize
from xtdb_spark.sql.rewriter import spark_escape_strings as _esc

_INSERT_VALUES_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>[\w.]+)\s*\((?P<cols>[^)]*)\)\s*"
    r"VALUES\s*(?P<values>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_SELECT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>[\w.]+)\s*(?:\((?P<cols>[^)]*)\)\s*)?"
    r"(?P<select>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)
# the TO bound is optional (Sql.g4 allows `FOR PORTION OF VALID_TIME
# FROM x` alone — docs DML-Delete-bitemporal — meaning [x, ∞)), and
# either bound may be a DATE literal
_PORTION_RE = (r"(?P<portion>\s+FOR\s+PORTION\s+OF\s+VALID_TIME\s+FROM\s+"
               r"(?:NULL|(?:TIMESTAMP\s+|DATE\s+)?'(?P<vf>[^']+)')"
               r"(?:\s+TO\s+"
               r"(?:NULL|(?:TIMESTAMP\s+|DATE\s+)?'(?P<vt>[^']+)'))?)?")
_UPDATE_RE = re.compile(
    rf"^\s*UPDATE\s+(?P<table>[\w.]+)(?:\s+AS\s+\w+)?{_PORTION_RE}\s+"
    r"SET\s+(?P<sets>.+?)(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+(?P<table>[\w.]+){_PORTION_RE}"
    r"(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_ERASE_RE = re.compile(
    r"^\s*ERASE\s+FROM\s+(?P<table>[\w.]+)(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_ALLVT_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>[\w.]+)\s+FOR\s+ALL\s+VALID_TIME"
    r"(?:\s+AS\s+(?P<alias>\w+))?(?:\s+WHERE\s+(?P<where>.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ASSERT_RE = re.compile(r"^\s*ASSERT\s+(?P<cond>.+)$", re.IGNORECASE | re.DOTALL)
_PATCH_RE = re.compile(
    rf"^\s*PATCH\s+INTO\s+(?P<table>[\w.]+){_PORTION_RE}\s*"
    r"\((?P<cols>[^)]*)\)\s*VALUES\s*(?P<values>.+)$",
    re.IGNORECASE | re.DOTALL,
)

DML_RE = re.compile(r"^\s*(INSERT|UPDATE|DELETE|ERASE|PATCH|ASSERT)\b",
                    re.IGNORECASE)


class AssertFailed(Exception):
    """Reference: ASSERT aborts the transaction (Sql.g4:35)."""


def is_dml(query: str) -> bool:
    return DML_RE.match(query) is not None


def _split_sets(sets: str) -> list[tuple[str, str]]:
    """Split `a = expr, b = expr` respecting parens/quotes."""
    parts, depth, cur, in_str = [], 0, "", False
    for ch in sets:
        if ch == "'" :
            in_str = not in_str
        elif not in_str:
            if ch in "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
                continue
        cur += ch
    parts.append(cur)
    out = []
    for p in parts:
        col, _, expr = p.partition("=")
        out.append((col.strip(), expr.strip()))
    return out



def _portion(m) -> tuple:
    """(valid_from, valid_to) from a FOR PORTION OF VALID_TIME match:
    instants normalized (trailing Z / [Zone] — reference direct-sql
    spellings), `FROM NULL` → the epoch floor (unbounded start;
    `TO NULL` keeps None = ∞, the store default)."""
    from xtdb_spark.sql.rewriter import norm_instant

    vf, vt = norm_instant(m.group("vf")), norm_instant(m.group("vt"))
    if m.group("portion") and vf is None:
        vf = "0001-01-01 00:00:00"
    return vf, vt


def _fold_table(name: str) -> str:
    """Unquoted SQL table idents fold to lowercase (identifier
    folding — matches the scan-side fold in rewriter._table_ref, so
    `INSERT INTO Prop_Owner` and `FROM Prop_Owner` hit the same
    store table; direct-sql/sl-demo). Quoted names stay exact."""
    return name if name.startswith('"') else name.lower()

def _current_view(xt, table: str) -> str:
    view = f"xt_dml_{re.sub(r'[^A-Za-z0-9]', '_', table)}"
    xt.store.scan(table).createOrReplaceTempView(view)
    return view


def _portion_view(xt, table: str, vf, vt) -> str:
    """Rows visible at CURRENT system time anywhere in the portion's
    valid range — the relation a FOR PORTION UPDATE/DELETE plans
    over. Carries the slice bounds (_valid_from/_valid_to) for
    per-row clipping."""
    from xtdb_spark import bitemporal

    view = f"xt_dml_{re.sub(r'[^A-Za-z0-9]', '_', table)}_portion"
    ev = xt.store.events(table)
    bitemporal.resolve_valid_range(
        ev, vf or "0001-01-01", vt or bitemporal.MAX_TS, None) \
        .createOrReplaceTempView(view)
    return view


def _clip_bounds_sql(vf, vt) -> str:
    """SELECT items clipping a version slice's valid range to the
    portion: bounds ride the put as per-row `_valid_from`/`_valid_to`
    document columns (_events_df coalesces them)."""
    lo = f"GREATEST(_valid_from, TIMESTAMP '{vf}') AS _valid_from"
    if vt is None:
        hi = "_valid_to"
    else:
        hi = (f"CASE WHEN _valid_to IS NULL THEN TIMESTAMP '{vt}' "
              f"ELSE LEAST(_valid_to, TIMESTAMP '{vt}') END "
              f"AS _valid_to")
    return f"{lo}, {hi}"


def _from_ref(view: str, table: str) -> str:
    """FROM clause for a DML scan view, aliased back to the bare
    table name so table-qualified predicates (`UPDATE t1 … WHERE
    t1.col2 IN …`, reference direct-sql/dml.test) keep resolving."""
    alias = table.split(".")[-1]
    if not re.fullmatch(r"[A-Za-z_]\w*", alias):
        alias = "`" + alias.replace("`", "``") + "`"
    return f"{view} AS {alias}"


def split_returning(query: str) -> tuple[str, str | None]:
    """Strip a trailing top-level `RETURNING <selectList>` (reference
    Sql.g4:788 DmlReturningStatement). Token-aware: RETURNING inside
    strings/comments/parens is data."""
    from xtdb_spark.sql.rewriter import _tokenize

    toks = _tokenize(query)
    depth, idx = 0, None
    for i, (k, t) in enumerate(toks):
        if k == "punct":
            if t in "([{":
                depth += 1
            elif t in ")]}":
                depth -= 1
        elif k == "word" and depth == 0 and t.upper() == "RETURNING":
            idx = i
    if idx is None:
        return query, None
    body = "".join(t for _, t in toks[:idx])
    sel = "".join(t for _, t in toks[idx + 1:]).strip().rstrip(";").strip()
    if not sel:
        raise ValueError("RETURNING requires a select list")
    return body, sel


def _returning(spark, affected, select_list: str | None, st):
    """Evaluate the RETURNING list over the statement's affected-rows
    relation (the inserted/updated docs, or the pre-delete rows —
    both pinned to the statement-time snapshot, so evaluation order
    vs the append doesn't matter). Without RETURNING, return the tx
    system time as before."""
    if select_list is None:
        return st
    affected.createOrReplaceTempView("xt_dml_returning")
    return spark.sql(_esc(f"SELECT {select_list} FROM xt_dml_returning"))


_PATCH_SELECT_RE = re.compile(
    rf"^\s*PATCH\s+INTO\s+(?P<table>[\w.]+){_PORTION_RE}\s*"
    r"(?P<select>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _pylit(v) -> str:
    """Python arg value → SQL literal (DML has no Spark-parameterized
    path — the statements decompose into store ops, so binding IS
    literal substitution, same as pgwire's $n path)."""
    import datetime as _dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # the D suffix keeps the literal DOUBLE: a bare `1234.5678`
        # parses as DECIMAL in Spark, and an UPDATE binding one would
        # drift the stored column's type away from the documents'
        # double (parquet schema-merge conflict on the next scan)
        import math as _math

        if _math.isfinite(v):
            return repr(v) + "D"
        return ("CAST('NaN' AS DOUBLE)" if _math.isnan(v)
                else f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)")
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    return "'" + str(v).replace("'", "''") + "'"


def bind_positional(query: str, args: list) -> str:
    """Substitute `?` placeholders with literals, token-aware (a `?`
    inside a string survives verbatim)."""
    from xtdb_spark.sql.rewriter import _tokenize

    out, n = [], 0
    for kind, text in _tokenize(query):
        if kind == "param" and n < len(args):
            out.append(_pylit(args[n]))
            n += 1
        else:
            out.append(text)
    return "".join(out)


def _dml_select(xt, sql: str):
    """spark.sql for a DML-internal SELECT; routed through the
    rewriter when it embeds a subquery, so store tables referenced
    INSIDE the predicate register (docs DML-Delete-additional /
    DML-Update-bitemporal-sql-2)."""
    if re.search(r"\(\s*SELECT\b", sql, re.IGNORECASE):
        from xtdb_spark.sql.rewriter import rewrite

        return xt.spark.sql(rewrite(xt, sql))
    return xt.spark.sql(_esc(sql))


def _keep_float_columns(xt, table: str, rel, schema=None):
    """`rel` with every DECIMAL column cast back to the DOUBLE/FLOAT
    type the same column has in `table`: a decimal literal (`1.5`
    parses as DECIMAL(2,1)) keeps the column's type. A DECIMAL file
    beside DOUBLE ones defeats the merged parquet read, and every
    later scan would take TableStore._events_lub until compaction.
    The table's schema (`schema`, else the stored events') is read
    only when `rel` has a DECIMAL column, so float8-bound writes
    pay nothing."""
    dec = [f.name for f in rel.schema.fields
           if isinstance(f.dataType, DecimalType)]
    if not dec:
        return rel
    if schema is None:
        if not xt.store.table_files(table):
            return rel
        schema = xt.store.events(table).schema
    keep = {c: schema[c].dataType for c in dec
            if c in schema.fieldNames()
            and isinstance(schema[c].dataType, (DoubleType, FloatType))}
    if not keep:
        return rel
    return rel.withColumns({c: rel[c].cast(t) for c, t in keep.items()})


def execute_dml(xt, query: str):
    spark = xt.spark
    # XTDB dialect constructs first: `INSERT INTO t RECORDS {…}` /
    # `PATCH INTO t RECORDS {…}` (reference Sql.g4:811,803) arrive
    # here as `… SELECT …` and fall into the SELECT branches below
    from xtdb_spark.sql.constructs import translate

    query = translate(query)
    query, ret = split_returning(query)

    m = _INSERT_VALUES_RE.match(query)
    if m:
        cols = [c.strip() for c in m.group("cols").split(",")]
        rel = spark.sql(_esc(
            f"SELECT * FROM (VALUES {m.group('values')}) AS t({', '.join(cols)})"))
        table = _fold_table(m.group("table"))
        rel = _keep_float_columns(xt, table, rel)
        st = xt.store.put(table, rel)
        return _returning(spark, rel, ret, st)

    m = _PATCH_RE.match(query)
    if m:
        # PATCH INTO t [FOR PORTION OF VALID_TIME FROM a TO b]
        #   (c1, c2, ...) VALUES (...), (...)
        # (reference Sql.g4:30 PATCH; portion form runs patch-gaps)
        cols = [c.strip() for c in m.group("cols").split(",")]
        rel = spark.sql(_esc(
            f"SELECT * FROM (VALUES {m.group('values')}) AS t({', '.join(cols)})"))
        vf, vt = _portion(m)
        st = xt.store.patch(_fold_table(m.group("table")), rel,
                            valid_from=vf, valid_to=vt)
        if ret is None:
            return st
        # RETURNING after PATCH sees the post-merge current state of
        # the patched ids (the doc the reader now observes)
        merged = xt.store.scan(_fold_table(m.group("table")))             .join(rel.select("_id"), "_id", "semi")
        return _returning(spark, merged, ret, st)

    m = _INSERT_SELECT_RE.match(query)
    if m:
        from xtdb_spark.sql.rewriter import rewrite

        rel = spark.sql(rewrite(xt, m.group("select")))
        if m.group("cols"):
            rel = rel.toDF(*[c.strip() for c in m.group("cols").split(",")])
        table = _fold_table(m.group("table"))
        rel = _keep_float_columns(xt, table, rel)
        st = xt.store.put(table, rel)
        return _returning(spark, rel, ret, st)

    m = _PATCH_SELECT_RE.match(query)
    if m:
        # PATCH INTO t RECORDS {…} arrives here post-translation as
        # PATCH INTO t SELECT … (reference Sql.g4:802-805 PatchRecords)
        from xtdb_spark.sql.rewriter import rewrite

        rel = spark.sql(rewrite(xt, m.group("select")))
        vf, vt = _portion(m)
        st = xt.store.patch(_fold_table(m.group("table")), rel,
                            valid_from=vf, valid_to=vt)
        if ret is None:
            return st
        merged = xt.store.scan(_fold_table(m.group("table")))             .join(rel.select("_id"), "_id", "semi")
        return _returning(spark, merged, ret, st)

    m = _DELETE_ALLVT_RE.match(query)
    if m:
        # DELETE FROM t FOR ALL VALID_TIME [AS x] [WHERE pred]
        # (reference direct-sql/sl-demo:366): the predicate selects
        # VERSION SEGMENTS across the whole valid timeline — temporal
        # columns are in scope — and each matching segment is deleted
        # over ITS OWN valid range (per-row bounds ride the ids
        # DataFrame into the delete events)
        table = _fold_table(m.group("table"))
        alias = m.group("alias") or table.split(".")[-1]
        where = m.group("where")
        view = f"xt_dml_{re.sub(r'[^A-Za-z0-9]', '_', table)}_allvt"
        xt.store.scan(table, all_valid_time=True) \
            .createOrReplaceTempView(view)
        rows = spark.sql(_esc(
            f"SELECT * FROM {view} AS {alias}"
            + (f" WHERE {where}" if where else "")))
        st = xt.store.delete(table, rows)
        return _returning(spark, rows, ret, st)

    m = _UPDATE_RE.match(query)
    if m:
        table, where = _fold_table(m.group("table")), m.group("where")
        sets_src = m.group("sets")
        if where is not None:
            # the regex's lazy split stops at the FIRST ` WHERE ` —
            # wrong when a SET expression holds a subquery with its
            # own WHERE (docs DML-Update-bitemporal-sql-2). Re-split
            # token-aware at the first DEPTH-0 WHERE.
            full = sets_src + " WHERE " + where
            toks = _tokenize(full)
            depth = 0
            cut = None
            pos = 0
            for k, t in toks:
                if k == "punct" and t in "([":
                    depth += 1
                elif k == "punct" and t in ")]":
                    depth -= 1
                elif k == "word" and depth == 0 and t.upper() == "WHERE":
                    cut = pos
                    break
                pos += len(t)
            if cut is not None:
                sets_src = full[:cut]
                where = full[cut + 5:].strip()   # past the WHERE word
            else:
                sets_src, where = full, None
        vf, vt = _portion(m)
        portion = bool(m.group("portion"))
        # FOR PORTION targets the rows visible IN the portion (the
        # reference plans DML over the portion's valid range,
        # sql.clj:2925+ — a 1998 portion must update 1998 versions
        # even though the CURRENT state doesn't see them;
        # direct-sql/sl-demo), clipping each version slice to its
        # intersection with the portion via per-row bounds
        view = (_portion_view(xt, table, vf, vt) if portion
                else _current_view(xt, table))
        sets = dict(_split_sets(sets_src))
        meta = ("_iid", "_valid_from", "_valid_to",
                "_system_from", "_system_to")
        cur = spark.table(view)
        cur_cols = [c for c in cur.columns if c not in meta]
        for col, expr in sets.items():
            if not re.fullmatch(r"[A-Za-z_]\w*", col) or not expr.strip():
                raise ValueError(f"malformed SET clause near {col!r}")
            if col not in cur_cols:
                raise ValueError(f"UPDATE {table}: unknown column {col!r}")
            if col == "_id":
                raise ValueError("cannot UPDATE _id")
        proj = ", ".join(f"({sets[c]}) AS {c}" if c in sets else c
                         for c in cur_cols)
        if portion:
            proj += ", " + _clip_bounds_sql(vf, vt)
        rel = _dml_select(
            xt, f"SELECT {proj} FROM {_from_ref(view, table)}"
            + (f" WHERE {where}" if where else ""))
        rel = _keep_float_columns(xt, table, rel, cur.schema)
        st = xt.store.put(table, rel,
                          valid_from=None if portion else vf,
                          valid_to=None if portion else vt)
        return _returning(spark, rel, ret, st)

    m = _DELETE_RE.match(query)
    if m:
        # the matching ids stay a DataFrame end-to-end — a broad
        # DELETE at 100 TB must not collect its id set to the driver
        table, where = _fold_table(m.group("table")), m.group("where")
        vf, vt = _portion(m)
        portion = bool(m.group("portion"))
        view = (_portion_view(xt, table, vf, vt) if portion
                else _current_view(xt, table))
        rows = _dml_select(
            xt, f"SELECT * FROM {_from_ref(view, table)}"
            + (f" WHERE {where}" if where else ""))
        ids = rows.select("_id").distinct() if portion else \
            rows.select("_id")
        st = xt.store.delete(table, ids, valid_from=vf, valid_to=vt)
        # RETURNING sees the deleted (pre-delete) rows — `rows` is
        # pinned to the statement-time manifest snapshot
        return _returning(spark, rows, ret, st)

    m = _ERASE_RE.match(query)
    if m:
        table, where = _fold_table(m.group("table")), m.group("where")
        view = _current_view(xt, table)
        rows = _dml_select(
            xt, f"SELECT * FROM {_from_ref(view, table)}"
            + (f" WHERE {where}" if where else ""))
        st = xt.store.erase(table, rows.select("_id"))
        return _returning(spark, rows, ret, st)

    m = _ASSERT_RE.match(query)
    if m:
        if ret is not None:
            raise ValueError("ASSERT does not take RETURNING")
        from xtdb_spark.sql.rewriter import rewrite

        cond = rewrite(xt, m.group("cond"))
        ok = spark.sql(f"SELECT ({cond}) AS ok").collect()[0]["ok"]
        if not ok:
            raise AssertFailed(f"ASSERT failed: {m.group('cond').strip()}")
        return None

    raise ValueError(f"unsupported DML statement: {query[:120]}")


class _TxRecorder:
    """Session shim for transactional DML recording: exposes the
    surface `execute_dml` touches (.spark, .store, scan/rewrite
    delegation) but turns store mutations into `submit_tx` op tuples
    instead of executing them. Read-side DataFrames (UPDATE/DELETE
    sources) are still BUILT at record time, so they pin the
    statement-time manifest snapshot; nothing is written until the
    buffered ops go through `TableStore.submit_tx` at COMMIT."""

    class _Store:
        def __init__(self, real, ops):
            self._real, self._ops = real, ops

        def put(self, table, rows, valid_from=None, valid_to=None, **kw):
            self._ops.append(("put", table, rows,
                              {"valid_from": valid_from, "valid_to": valid_to}))

        def patch(self, table, rows, valid_from=None, valid_to=None, **kw):
            self._ops.append(("patch", table, rows,
                              {"valid_from": valid_from, "valid_to": valid_to}))

        def delete(self, table, ids, valid_from=None, valid_to=None, **kw):
            self._ops.append(("delete", table, ids,
                              {"valid_from": valid_from, "valid_to": valid_to}))

        def erase(self, table, ids, **kw):
            self._ops.append(("erase", table, ids))

        def __getattr__(self, name):  # scan() etc. read the real store
            return getattr(self._real, name)

    def __init__(self, xt, ops: list):
        self._xt = xt
        self.spark = xt.spark
        self.store = self._Store(xt.store, ops)

    def __getattr__(self, name):
        return getattr(self._xt, name)


def record_dml_ops(xt, query: str) -> list:
    """Parse one DML statement into `submit_tx` op tuples without
    executing it — the pgwire BEGIN…COMMIT buffering path (reference
    pgwire.clj: DML inside an explicit transaction block accumulates
    and submits as ONE tx on COMMIT). ASSERT defers its check to
    commit time so it runs against the tx basis, aborting the whole
    batch like the reference's `ASSERT` tx op."""
    m = _ASSERT_RE.match(query)
    if m:
        from xtdb_spark.sql.rewriter import rewrite

        cond_sql = rewrite(xt, m.group("cond"))
        src = m.group("cond").strip()

        def _check(_store, _sql=cond_sql, _src=src):
            ok = xt.spark.sql(f"SELECT ({_sql}) AS ok").collect()[0]["ok"]
            if not ok:
                raise AssertFailed(f"ASSERT failed: {_src}")

        return [("assert_", _check)]
    ops: list = []
    execute_dml(_TxRecorder(xt, ops), query)
    return ops
