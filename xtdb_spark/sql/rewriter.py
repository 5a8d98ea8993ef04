"""SQL:2011-temporal dialect layer.

The reference parses a full SQL:2011 temporal dialect with ANTLR
(reference core/src/main/antlr/xtdb/antlr/Sql.g4:540-568 — FOR
VALID_TIME/SYSTEM_TIME AS OF | BETWEEN | FROM..TO | ALL) and plans
its own relational algebra. Spark SQL already covers the relational
98% — so our dialect layer is a *pre-processor*, exactly as SURVEY §4
recommends: strip the temporal clauses, resolve each referenced table
to a DataFrame with those bounds via the bitemporal scan, register it
as a temp view, and hand the rewritten text to `spark.sql`.

Unlike the round-1 single-regex version, the rewriter walks a real
token stream (strings, quoted identifiers, comments, words, params),
so it handles what the reference grammar handles anywhere a table
reference appears:

- comma-separated FROM lists: ``FROM a FOR …, b FOR SYSTEM_TIME …``
- table aliases: ``FROM users AS u`` / ``FROM users u`` — the alias
  is preserved on the substituted view
- quoted identifiers: ``FROM "my table" FOR ALL VALID_TIME``
- subqueries/derived tables: inner FROMs are rewritten too (the scan
  is linear over all tokens, parens are not skipped)
- positional parameters inside temporal clauses: ``FOR VALID_TIME AS
  OF ?`` binds the next ``?`` argument at rewrite time (the reference
  supports params in temporal specs over pgwire prepared statements);
  consumed args are removed from the list Spark sees
- ``FROM`` inside expressions (``extract(year FROM ts)``,
  ``substring(s FROM 1 FOR 2)``, ``trim(LEADING 'x' FROM s)``) passes
  through untouched — the would-be "table" never resolves in the
  store, and unrewritable spans are emitted verbatim.

Everything else (joins, aggregates, windows, CTEs, set ops…) passes
through to Spark SQL untouched — Catalyst plans it.
"""

from __future__ import annotations

import itertools
import re
import threading
from collections import deque
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import functions as F

# ---------------------------------------------------------------- tokens

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<cstr>[eE]'(?:[^'\\]|\\.|'')*')
  | (?P<dstr>\$(?P<dtag>[A-Za-z_][A-Za-z_0-9]*|)\$.*?\$(?P=dtag)\$)
  | (?P<str>'(?:[^']|'')*')
  | (?P<qident>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
  | (?P<word>[A-Za-z_][A-Za-z_0-9$]*)
  | (?P<num>(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?)
  | (?P<param>\?)
  | (?P<punct>.)
    """,
    re.VERBOSE | re.DOTALL,
)

_C_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
              "\\": "\\", "'": "'", '"': '"'}  # \0.. handled as octal

# Query-unique auto-prefilter view bookkeeping (see
# _Rewriter._build_scans): a process-wide counter makes each
# prefiltered registration collision-free across concurrent
# sessions/threads; a FIFO cap bounds temp-view catalog growth in
# long-lived servers. The cap is generous (a view is a tiny logical
# plan) so a view can't be evicted before the very next spark.sql
# call analyzes it.
_PF_SEQ = itertools.count(1)
_PF_VIEWS: deque = deque()
_PF_LOCK = threading.Lock()
_PF_VIEW_CAP = 1024

# the footer-estimated selectivity at or below which a literal
# prefilter (_Rewriter._auto_prefilters) or a join-derived IN list is
# injected — calibrated from the 20M-row A/B grid: the candidate
# pass's win at 0.1% selectivity flips to a loss by 2%
PREFILTER_THRESHOLD = 0.005

# Join-derived prefilter gates (_Rewriter._join_derived_pred): the most
# build-side keys an injected IN list carries, and the smallest fact
# table (parquet bytes) worth the planning probe — measured at
# 2M/20M rows, the probe job costs more than it saves below 256 MB.
JOIN_PREFILTER_KEY_CAP = 64
JOIN_PREFILTER_MIN_FACT_BYTES = 256 * 1024 * 1024

# diagnostics: the injections performed by the MOST RECENT rewrite
# (reset per _build_scans call). Test/EXPLAIN aid only —
# plan-text assertions are ambiguous because one injection yields two
# LeftSemi nodes (main + erase-lookup branches) and Catalyst can
# infer the same transitive literal itself.
LAST_PREFILTERS: list = []


def _pf_evict(spark, new_view: str) -> None:
    """Record `new_view` (registered on `spark`) and drop the oldest
    views past the cap — each on its OWNING session: temp views live
    in a per-SparkSession catalog, so dropping an evictee via the
    new view's session would silently leak views registered by other
    sessions."""
    with _PF_LOCK:
        _PF_VIEWS.append((spark, new_view))
        stale = []
        while len(_PF_VIEWS) > _PF_VIEW_CAP:
            stale.append(_PF_VIEWS.popleft())
    for owner, v in stale:
        try:
            owner.catalog.dropTempView(v)
        except Exception:
            pass


def _decode_c_escapes(body: str) -> str:
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "'" and i + 1 < len(body) and body[i + 1] == "'":
            out.append("'")
            i += 2
        elif c == "\\" and i + 1 < len(body):
            n = body[i + 1]
            if n in _C_ESCAPES:
                out.append(_C_ESCAPES[n])
                i += 2
            elif n == "x":
                # PG accepts 1-2 hex digits after \x
                hm = re.match(r"[0-9a-fA-F]{1,2}", body[i + 2:i + 4])
                if hm:
                    out.append(chr(int(hm.group(), 16)))
                    i += 2 + len(hm.group())
                else:
                    out.append(n)
                    i += 2
            elif n == "u":
                hm = re.match(r"[0-9a-fA-F]{4}", body[i + 2:i + 6])
                if hm:
                    out.append(chr(int(hm.group(), 16)))
                    i += 6
                else:
                    out.append(n)
                    i += 2
            elif n in "01234567":
                # PG octal escapes: \o, \oo, \ooo (1-3 octal digits)
                om = re.match(r"[0-7]{1,3}", body[i + 1:i + 4])
                out.append(chr(int(om.group(), 8)))
                i += 1 + len(om.group())
            else:
                out.append(n)
                i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _std_str(s: str) -> str:
    """Emit a PG-STANDARD string literal evaluating to exactly `s`:
    only '' doubling, backslashes verbatim. All intermediate passes
    (tokenize→rejoin happens several times: dialect translate,
    pgwire compat substitution, bind) keep this form — it is
    idempotent under re-tokenization. The ONE final conversion to
    Spark's escape-processing literal syntax happens in
    `spark_escape_strings`, at the end of `_Rewriter.run()`."""
    return "'" + s.replace("'", "''") + "'"


def spark_escape_strings(sql: str) -> str:
    """Final emit step: convert every plain '…' literal from PG
    standard-string semantics to Spark's escape-processing parser
    (escapedStringLiterals=false) by doubling backslashes. Runs
    EXACTLY ONCE, after all rewriting — double application would
    double-escape (E'\\d+' regexes, trailing backslashes). E''/$tag$
    spellings were already normalized to plain strings by
    `_tokenize`, so this single pass covers every literal."""
    out = []
    for kind, text in _tokenize(sql):
        if kind == "str":
            body = text[1:-1].replace("''", "'")
            out.append("'" + body.replace("\\", "\\\\")
                       .replace("'", "''") + "'")
        else:
            out.append(text)
    return "".join(out)


def _tokenize(sql: str) -> list[tuple[str, str]]:
    """Token stream; the reference's extra string spellings
    (Sql.g4 characterString: E'…' C-escapes, $tag$…$tag$ dollar
    quoting) normalize to standard SQL strings here, so every
    downstream pass — and Spark — sees one string form."""
    out = []
    for m in _TOKEN_RE.finditer(sql):
        kind, text = m.lastgroup, m.group()
        if kind == "cstr":
            out.append(("str", _std_str(_decode_c_escapes(text[2:-1]))))
        elif kind in ("dstr", "dtag"):
            tag = m.group("dtag") or ""
            k = len(tag) + 2
            out.append(("str", _std_str(text[k:-k])))
        else:
            out.append((kind, text))
    return out


def _token_to_ts(tok) -> str:
    """Snapshot token → its system-time basis. Our token IS the tx
    id (SHOW SNAPSHOT_TOKEN, pgwire.py), and a tx id IS its commit
    system time in epoch MICROSECONDS (tx.py _next_system_time /
    _record_tx) — so the basis timestamp is exact, no ledger lookup
    needed (reference basis.clj encodes per-db system times in its
    token the same way)."""
    from datetime import datetime, timedelta

    try:
        us = int(str(tok).strip())
    except ValueError:
        raise ValueError(f"invalid snapshot token: {tok!r}")
    return (datetime(1970, 1, 1)
            + timedelta(microseconds=us)).isoformat(sep=" ")


_CLOCK_FNS = ("CURRENT_TIMESTAMP", "LOCALTIMESTAMP", "NOW",
              "CURRENT_DATE", "CURRENT_TIME", "LOCALTIME")


def apply_clock(sql: str, clock: str, local_clock: str | None = None) -> str:
    """Pin the query's wall clock (reference query.clj:429
    expr/*clock*; SETTING CLOCK_TIME, Sql.g4:86): every now-valued
    function call in the emitted text becomes a literal at `clock`,
    so the whole query — including subqueries and defaults that
    expanded to CURRENT_TIMESTAMP — evaluates at one fixed instant.
    Token-level, so strings/comments/identifiers are untouched.

    `local_clock` (pgwire SET TIME ZONE): postgres defines
    CURRENT_DATE / CURRENT_TIME / LOCALTIME as SESSION-ZONE wall
    clock while CURRENT_TIMESTAMP / NOW() / LOCALTIMESTAMP denote an
    instant — when given, the date/time-valued functions take their
    parts from `local_clock` and the timestamp-valued ones stay at
    `clock` (the UTC instant, so predicates against naive-UTC-stored
    timestamps and DML writes are zone-independent)."""
    clock = str(clock).strip()
    loc = str(local_clock).strip() if local_clock else clock
    date_part = loc.split(" ")[0].split("T")[0]
    time_part = loc.split(" ")[-1].split("T")[-1] \
        if (" " in loc or "T" in loc) else "00:00:00"
    out = []
    toks = _tokenize(sql)
    i = 0
    while i < len(toks):
        k, t = toks[i]
        up = t.upper() if k == "word" else ""
        if up in _CLOCK_FNS:
            # swallow an optional empty () call suffix
            j = i + 1
            while j < len(toks) and toks[j][0] in ("ws", "comment"):
                j += 1
            has_call = (j + 1 < len(toks)
                        and toks[j] == ("punct", "(")
                        and toks[j + 1] == ("punct", ")"))
            if up == "NOW" and not has_call:
                out.append(t)     # `now` is a valid identifier; only
                i += 1            # the function call form is a clock
                continue
            i = j + 2 if has_call else i + 1
            if up == "CURRENT_DATE":
                out.append(f"DATE {_std_str(date_part)}")
            elif up in ("CURRENT_TIME", "LOCALTIME"):
                out.append(_std_str(time_part))
            else:
                out.append(f"TIMESTAMP {_std_str(clock)}")
        else:
            out.append(t)
            i += 1
    return "".join(out)


def _unquote(tok: tuple[str, str]) -> str:
    kind, text = tok
    if kind == "qident":
        q = text[0]
        return text[1:-1].replace(q * 2, q)
    return text


# ------------------------------------------------------------- bounds


@dataclass
class TemporalBounds:
    """Per-table temporal spec (reference operator/scan.clj:62-114)."""

    valid_asof: object | None = None
    valid_range: tuple | None = None
    all_valid: bool = False
    system_asof: object | None = None
    system_range: tuple | None = None
    all_system: bool = False

    def scan_kwargs(self) -> dict:
        """The bounds as TableStore.scan/lookup/scan_files keywords
        (point and all-time bounds; ranges resolve elsewhere)."""
        return {"valid_time": self.valid_asof,
                "system_time": self.system_asof,
                "all_valid_time": self.all_valid,
                "all_system_time": self.all_system}

    def view_suffix(self) -> str:
        parts = []
        for v in (self.valid_asof, self.valid_range, self.system_asof,
                  self.system_range, self.all_valid, self.all_system):
            parts.append(re.sub(r"\W", "_", str(v)))
        return "__".join(parts)


def norm_instant(s):
    """Reference instant spellings → Spark-castable timestamps: a
    trailing `Z` (`'1998-01-04Z'` — casts to NULL in Spark,
    silently emptying a FOR … AS OF filter) and `[Zone]` brackets
    are dropped (storage is naive-UTC), `T` separators become
    spaces. Non-strings pass through."""
    if not isinstance(s, str):
        return s
    t = re.sub(r"\[[^\]]*\]$", "", s.strip())
    if t.endswith(("Z", "z")):
        t = t[:-1]
    return t.replace("T", " ")


def scan_with_bounds(store, table: str, b: TemporalBounds,
                     keep_meta: bool = False, point=None, live=None,
                     **scan_opts):
    """The resolved scan for one table reference, read from the
    manifest listing `live` (TableStore.live_files; None lists anew).
    `point` (an `_id`) reads that one entity through
    TableStore.lookup instead, over the listing its guard approved;
    `scan_opts` (`prefilter=`, `broadcast=`) pass through to
    TableStore.scan; range bounds resolve from the events instead
    and take neither."""
    from xtdb_spark import bitemporal

    if b.valid_range is not None or b.system_range is not None:
        files = store.table_files(table, live=live)
        ev = store.events(table, files=files)
        erases = store._may_erase(files)
    if b.valid_range is not None:
        df = bitemporal.resolve_valid_range(
            ev, b.valid_range[0], b.valid_range[1], b.system_asof,
            erases=erases)
    elif b.system_range is not None:
        df = bitemporal.resolve_system_range(
            ev, b.system_range[0], b.system_range[1], b.valid_asof,
            erases=erases)
    else:
        bounds = {**b.scan_kwargs(), "keep_meta": keep_meta, "live": live}
        df = (store.scan(table, **bounds, **scan_opts) if point is None
              else store.lookup(table, point, **bounds))
    if getattr(store, "scan_order_ref_iid", False):
        df = _ref_iid_order(df)
    return df


def _ref_iid_order(df):
    """Order a scan by the REFERENCE's iid bytes (core
    xtdb/util/Iid.kt: UUID raw bytes; otherwise SHA-256 of a
    type-tagged string — 'i'+int / 's'+string — truncated to 16
    bytes; trie traversal = unsigned byte order = lowercase-hex
    lexicographic order). ONLY enabled by the SLT direct-sql runner
    (store.scan_order_ref_iid): the corpus's `nosort` expected
    blocks embed the reference's scan order, which is otherwise
    unobservable. Never set in normal operation — a global scan
    sort at 100 TB would be a needless total shuffle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                   ShortType, StringType)

    if "_id" not in df.columns:
        return df
    dt = df.schema["_id"].dataType
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        tag = "i"
    elif isinstance(dt, StringType):
        tag = "s"
    else:
        return df
    key = F.substring(
        F.sha2(F.concat(F.lit(tag), F.col("_id").cast("string")), 256),
        1, 32)
    return df.orderBy(key)


# temporal metadata columns a query can reference explicitly (the
# reference exposes them on every table; SELECT * excludes them,
# sql.clj table-info) — scalar bounds plus the `_valid_time` /
# `_system_time` PERIOD pseudo-columns the period predicates consume
_TEMPORAL_COL_WORDS = {
    "_valid_from", "_valid_to", "_system_from", "_system_to",
    "_valid_time", "_system_time",
}


def _with_period_meta(df):
    """Attach the period struct pseudo-columns (and any missing
    scalar bounds) to a scan that carries temporal metadata. NULL
    `_to` means unbounded — the period predicate translator
    coalesces to ±∞ (constructs._S/_E)."""
    from pyspark.sql import functions as F

    cols = set(df.columns)
    nul = F.lit(None).cast("timestamp")
    for c in ("_valid_from", "_valid_to", "_system_from", "_system_to"):
        if c not in cols:
            df = df.withColumn(c, nul)
    return (df.withColumn("_valid_time",
                          F.struct(F.col("_valid_from").alias("_from"),
                                   F.col("_valid_to").alias("_to")))
            .withColumn("_system_time",
                        F.struct(F.col("_system_from").alias("_from"),
                                 F.col("_system_to").alias("_to"))))


# ------------------------------------- WHERE-conjunct extraction
# (for automatic prefilter injection — conservative by design)

_WHERE_STOP = {"GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET", "UNION",
               "INTERSECT", "EXCEPT", "WINDOW", "FETCH", "QUALIFY",
               "RETURNING"}
_CONJ_BAD = {"OR", "NOT", "IN", "EXISTS", "CASE", "BETWEEN", "SELECT",
             "LIKE", "ILIKE", "IS", "ANY", "ALL", "SOME", "OVERLAPS",
             "CONTAINS", "EQUALS", "PRECEDES", "SUCCEEDS"}


def _where_conjuncts(toks):
    """Top-level conjuncts of the query's ONE WHERE clause, as token
    slices — or None when the shape is unsafe to reason about (zero
    or several WHEREs anywhere, so subquery scoping can't confuse
    attribution; an OR at conjunction level)."""
    idxs = [i for i, (k, t) in enumerate(toks)
            if k == "word" and t.upper() == "WHERE"]
    if len(idxs) != 1:
        return None
    i = idxs[0] + 1
    depth = 0
    parts, cur = [], []
    while i < len(toks):
        k, t = toks[i]
        up = t.upper() if k == "word" else ""
        if k == "punct" and t == "(":
            depth += 1
        elif k == "punct" and t == ")":
            if depth == 0:
                break
            depth -= 1
        elif k == "punct" and t == ";":
            break
        if depth == 0 and up in _WHERE_STOP:
            break
        if depth == 0 and up == "OR":
            return None
        if depth == 0 and up == "AND":
            parts.append(cur)
            cur = []
        else:
            cur.append((k, t))
        i += 1
    parts.append(cur)
    return parts


class _Conjunct(NamedTuple):
    """One top-level WHERE/ON term `[qual.]col <op> literal`, with
    the column on the left (`literal <op> col` is mirrored)."""

    qual: str | None
    col: str
    op: str                   # <, >, =, <= or >=
    lit: str                  # the literal's SQL text
    num: float | None         # its value when it is a plain decimal

    def sql(self) -> str:
        return f"{self.col} {self.op} {self.lit}"


_MIRROR = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "="}
_DECIMAL = re.compile(r"-?\d+(?:\.\d+)?")


def _simple_conjunct(part):
    """The `_Conjunct` of a term of shape [alias.]col <op> literal or
    literal <op> [alias.]col — plain/signed numbers, strings,
    TIMESTAMP/DATE literals. None for anything else (function calls,
    3VL operators, subqueries, quoted identifiers…)."""
    sig = [(k, t) for k, t in part if k not in ("ws", "comment")]
    if any(k == "word" and t.upper() in _CONJ_BAD for k, t in sig):
        return None

    def ident(j):
        if j < len(sig) and sig[j][0] == "word":
            name = sig[j][1]
            if j + 2 < len(sig) and sig[j + 1] == ("punct", ".") \
                    and sig[j + 2][0] == "word":
                return name, sig[j + 2][1], j + 3
            return None, name, j + 1
        return None, None, j

    def literal(j):
        if j + 1 < len(sig) and sig[j][0] == "word" \
                and sig[j][1].upper() in ("TIMESTAMP", "DATE") \
                and sig[j + 1][0] == "str":
            return sig[j][1].upper() + " " + sig[j + 1][1], j + 2
        if j < len(sig) and sig[j][0] in ("num", "str"):
            return sig[j][1], j + 1
        if j + 1 < len(sig) and sig[j] == ("punct", "-") \
                and sig[j + 1][0] == "num":
            return "-" + sig[j + 1][1], j + 2
        return None, j

    def cmp_op(j):
        s = ""
        while j < len(sig) and sig[j][0] == "punct" \
                and sig[j][1] in "<>=":
            s += sig[j][1]
            j += 1
        return (s, j) if s in _MIRROR else (None, j)

    def conjunct(qual, col, op, lit):
        num = float(lit) if _DECIMAL.fullmatch(lit) else None
        return _Conjunct(qual, col, op, lit, num)

    qual, col, j = ident(0)
    if col is not None:
        op, j = cmp_op(j)
        if op is not None:
            lit, j = literal(j)
            if lit is not None and j == len(sig):
                return conjunct(qual, col, op, lit)
        return None
    lit, j = literal(0)
    if lit is not None:
        op, j = cmp_op(j)
        if op is not None:
            qual, col, j = ident(j)
            if col is not None and j == len(sig):
                return conjunct(qual, col, _MIRROR[op], lit)
    return None


def _point_conjunct(c):
    """(qualifier|None, value) for a conjunct `[alias.]_id = <literal>`
    whose literal is an int64 integer or a plain string (no doubled
    quote, no backslash) — the `_id` values `iid_py` hashes exactly
    as the stored iid. None for anything else."""
    if c.col.lower() != "_id" or c.op != "=":
        return None
    lit = c.lit
    if re.fullmatch(r"-?\d+", lit) and -2 ** 63 <= int(lit) < 2 ** 63:
        return c.qual, int(lit)
    if lit[0] == "'" and not re.search(r"['\\]", lit[1:-1]):
        return c.qual, lit[1:-1]
    return None


def _numeric_bounds(conjs):
    """The `{column: [(lo, hi)]}` intervals of a conjunction, each
    column's terms intersected, for `TableStore._stats_selectivity`
    — None unless every conjunct compares a column with a plain
    decimal (strings, TIMESTAMP/DATE and exponent literals get no
    metadata-only guess)."""
    bounds: dict = {}
    for c in conjs:
        if c.num is None:
            return None
        lo, hi = bounds.get(c.col, (float("-inf"), float("inf")))
        if c.op in (">", ">=", "="):
            lo = max(lo, c.num)
        if c.op in ("<", "<=", "="):
            hi = min(hi, c.num)
        bounds[c.col] = (lo, hi)
    return {c: [iv] for c, iv in bounds.items()} or None


def _equi_conjunct(part):
    """((alias_a, col_a), (alias_b, col_b)) for a conjunct of exactly
    the shape `a.x = b.y` — BOTH sides qualified identifiers
    (unqualified sides can't be attributed to a relation safely).
    None for anything else."""
    sig = [(k, t) for k, t in part if k not in ("ws", "comment")]
    if len(sig) != 7 or sig[3] != ("punct", "="):
        return None

    def qident(j):
        if (sig[j][0] == "word" and sig[j + 1] == ("punct", ".")
                and sig[j + 2][0] == "word"):
            return sig[j][1], sig[j + 2][1]
        return None

    a, b = qident(0), qident(4)
    return (a, b) if a and b else None


_ON_STOP = {"WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET",
            "UNION", "EXCEPT", "INTERSECT", "WINDOW", "FETCH",
            "QUALIFY", "JOIN", "INNER", "LEFT", "RIGHT", "FULL",
            "CROSS", "NATURAL", "FOR", "RETURNING"}


def _inner_on_conjuncts(toks):
    """Top-level AND conjuncts of every depth-0 `ON` clause that
    belongs to an INNER join (plain `JOIN` / `INNER JOIN`).
    Outer-join ON conditions are NOT returned: their conjuncts don't
    filter the preserved side, so neither literal-prefilter nor
    join-key derivation may use them (pruning the preserved side
    would drop rows an outer join must keep). A clause with a
    top-level OR is skipped whole. Parenthesized (sub-join) ONs are
    depth > 0 and never collected — their conjuncts don't constrain
    every output row."""
    out = []
    depth = 0
    outer = False
    i, n = 0, len(toks)
    while i < n:
        k, t = toks[i]
        up = t.upper() if k == "word" else ""
        if k == "punct" and t == "(":
            depth += 1
        elif k == "punct" and t == ")":
            depth = max(0, depth - 1)
        elif depth == 0 and up in ("LEFT", "RIGHT", "FULL", "CROSS",
                                   "NATURAL", "SEMI", "ANTI"):
            outer = True          # (a stray word named e.g. `left`
            #                        only skips the next ON — safe)
        elif depth == 0 and up == "ON":
            j, d2 = i + 1, 0
            parts, cur, bad = [], [], False
            while j < n:
                k2, t2 = toks[j]
                u2 = t2.upper() if k2 == "word" else ""
                if k2 == "punct" and t2 == "(":
                    d2 += 1
                elif k2 == "punct" and t2 == ")":
                    if d2 == 0:
                        break
                    d2 -= 1
                elif k2 == "punct" and t2 in (";", ","):
                    if d2 == 0:
                        break
                if d2 == 0 and u2 in _ON_STOP:
                    break
                if d2 == 0 and u2 == "OR":
                    bad = True
                if d2 == 0 and u2 == "AND":
                    parts.append(cur)
                    cur = []
                else:
                    cur.append((k2, t2))
                j += 1
            parts.append(cur)
            if not outer and not bad:
                out.extend(parts)
            outer = False
            i = j
            continue
        i += 1
    return out


# ------------------------------------------------------------ rewriter

# words that cannot be a table alias (so `FROM t WHERE …` never reads
# WHERE as the alias of t)
_NOT_ALIAS = {
    "ON", "USING", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "FETCH", "UNION", "EXCEPT", "INTERSECT", "MINUS", "JOIN", "INNER",
    "LEFT", "RIGHT", "FULL", "CROSS", "NATURAL", "SEMI", "ANTI", "LATERAL",
    "WINDOW", "QUALIFY", "FOR", "AND", "OR", "WHEN", "THEN", "ELSE", "END",
    "SET", "VALUES", "SELECT", "WITH", "TABLESAMPLE", "PIVOT", "UNPIVOT",
    "DISTRIBUTE", "CLUSTER", "SORT", "BY", "AS", "TO",
}
# words that start a non-table relation after FROM/JOIN
_NOT_TABLE_START = {"SELECT", "VALUES", "LATERAL", "UNNEST"}

# dotted system-catalog spellings → registered temp-view names
# (reference routes these through :scan, information_schema.clj:277-285;
# Spark temp views can't contain dots, so the rewriter maps them; the
# bare pg_* spellings mirror postgres' pg_catalog search path)
_PG_CATALOG_TABLES = ("pg_tables", "pg_type", "pg_namespace", "pg_class",
                      "pg_attribute", "pg_proc", "pg_index",
                      "pg_description", "pg_views", "pg_roles",
                      "pg_settings", "pg_auth_members",
                      "pg_database", "pg_user", "pg_am",
                      "pg_stat_user_tables", "pg_matviews", "pg_enum",
                      "pg_constraint", "pg_extension", "pg_attrdef",
                      "pg_range", "pg_replication_slots")

_SYSTEM_VIEWS = {
    "information_schema.tables": "information_schema_tables",
    "information_schema.columns": "information_schema_columns",
    "information_schema.schemata": "information_schema_schemata",
    **{f"pg_catalog.{t}": f"pg_catalog_{t}" for t in _PG_CATALOG_TABLES},
    **{t: f"pg_catalog_{t}" for t in _PG_CATALOG_TABLES},
    "xt.table_stats": "xt_table_stats",
    "xt.trie_stats": "xt_trie_stats",
    "xt.metrics": "xt_metrics",
    "xt.live_tables": "xt_live_tables",
    "xt.live_columns": "xt_live_columns",
    "xt.metrics_counters": "xt_metrics_counters",
    "xt.metrics_gauges": "xt_metrics_gauges",
    "xt.metrics_timers": "xt_metrics_timers",
}


class _Rewriter:
    def __init__(self, xt, sql: str, args: list | None):
        self.xt = xt
        self.toks = _tokenize(sql)
        self.args = list(args) if args else []
        self.i = 0
        self.out: list[str] = []
        self.param_ord = 0          # ?-params passed so far, in text order
        self.consumed: set[int] = set()  # arg ordinals bound at rewrite time
        self._cap: list[str] | None = None  # active capture buffer

    # -- token plumbing (every advance goes through _take so the
    #    positional-parameter ordinal stays correct even inside
    #    subqueries and skipped spans)

    def _peek(self, k: int = 0):
        j, seen = self.i, 0
        while j < len(self.toks):
            if self.toks[j][0] not in ("ws", "comment"):
                if seen == k:
                    return self.toks[j]
                seen += 1
            j += 1
        return (None, "")

    def _take(self) -> tuple[str, str]:
        tok = self.toks[self.i]
        self.i += 1
        if tok[0] == "param":
            self.param_ord += 1
        return tok

    def _checkpoint(self):
        # includes the capture-buffer length: a restore must also
        # un-capture tokens, or backtracked spans would be emitted twice
        cap_len = len(self._cap) if self._cap is not None else 0
        return (self.i, self.param_ord, cap_len)

    def _restore(self, cp):
        self.i, self.param_ord, cap_len = cp
        if self._cap is not None:
            del self._cap[cap_len:]

    # -- main walk

    # clause keywords that END a FROM list — a top-level comma after
    # one of these is a projection/expression comma, not another
    # table ref. ON/AND/OR are NOT enders: `JOIN b ON cond, c` is a
    # valid FROM-list continuation (the SLT corpus uses it heavily)
    # and expression commas can only occur inside parens/brackets.
    _FROM_ENDERS = {
        "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
        "FETCH", "UNION", "INTERSECT", "EXCEPT", "MINUS", "WINDOW",
        "QUALIFY", "SELECT", "RETURNING",
    }

    def run(self) -> tuple[str, list]:
        self._scan_refs: list = []
        self._ref_aliases: list = []
        # explicit temporal-column references (reference: _valid_from
        # etc. are queryable on every table, excluded from SELECT *)
        # switch the scanned views to their meta-carrying variants.
        # Tracked PER QUALIFIER (round 12): `t._valid_from` switches
        # only t's scan; an UNQUALIFIED temporal ref can't be
        # attributed, so it conservatively switches every scan (the
        # reference would reject it as ambiguous in a multi-table
        # query anyway). Star expansion of a meta-switched scan is
        # re-narrowed to document columns by _strip_meta_stars —
        # the reference always excludes temporal columns from `*`
        # (sql.clj table-info).
        self._meta_quals: set = set()
        self._meta_unqual = False
        for j, (k, t) in enumerate(self.toks):
            if k != "word" or t.lower() not in _TEMPORAL_COL_WORDS:
                continue
            p = j - 1
            while p >= 0 and self.toks[p][0] in ("ws", "comment"):
                p -= 1
            if p >= 0 and self.toks[p] == ("punct", "."):
                p -= 1
                while p >= 0 and self.toks[p][0] in ("ws", "comment"):
                    p -= 1
                if p >= 0 and self.toks[p][0] in ("word", "qident"):
                    self._meta_quals.add(
                        self.toks[p][1].strip('"').lower())
                    continue
            self._meta_unqual = True
        self._star_sites: list = []
        self._setting_prefix()
        # FROM-list context per paren depth: a comma at a depth whose
        # FROM list is still open starts another table ref (`FROM a
        # JOIN b ON c, d` / `CROSS JOIN b, c` — the main walk is back
        # in control by then, so _table_ref_list alone can't see it)
        depth = 0
        from_depths: set[int] = set()
        # '(' tokens consumed by _table_ref's parenthesized-join
        # branch bypass this loop's depth counter; _table_ref counts
        # them so we re-balance here — otherwise the matching ')'
        # would drive depth negative and discard the still-open FROM
        # list's depth (`FROM (a JOIN b ON 1=1), c` lost c).
        self._open_parens = 0
        while self.i < len(self.toks):
            kind, text = self.toks[self.i]
            if kind == "word" and text.upper() in ("FROM", "JOIN"):
                from_depths.add(depth)
                self.out.append(self._take()[1])
                self._table_ref_list(single=(text.upper() == "JOIN"))
                depth += self._open_parens
                self._open_parens = 0
            else:
                if kind == "word" and text.upper() in self._FROM_ENDERS:
                    from_depths.discard(depth)
                elif kind == "punct":
                    if text in ("(", "["):
                        depth += 1
                    elif text in (")", "]"):
                        from_depths.discard(depth)
                        depth -= 1
                    elif text == "," and depth in from_depths:
                        self.out.append(self._take()[1])
                        self._table_ref()
                        depth += self._open_parens
                        self._open_parens = 0
                        continue
                    elif text == "*":
                        q = self._star_qualifier()
                        if q is not None:
                            self._star_sites.append(
                                {"idx": len(self.out), "qual": q})
                tok = self._take()
                if tok[0] == "word" and "$" in tok[1]:
                    # the reference dialect allows bare $-identifiers
                    # (foo$bar, Sql.g4 IDENTIFIER); Spark only parses
                    # them quoted
                    self.out.append("`" + tok[1].replace("`", "``") + "`")
                else:
                    self.out.append(tok[1])
        remaining = [a for j, a in enumerate(self.args) if j not in self.consumed]
        self._build_scans()
        self._strip_meta_stars()
        sql = "".join(self.out)
        sql = self._null_missing_columns(sql)
        if getattr(self, "clock_time", None) is not None:
            sql = apply_clock(sql, self.clock_time)
        return spark_escape_strings(sql), remaining

    def _star_qualifier(self):
        """Classify the `*` at self.i: returns the qualifier text for
        `alias.*`, "" for a bare projection star (after SELECT /
        DISTINCT / ALL / ','), or None when it isn't a projection
        star (multiplication, COUNT(*))."""
        p = self.i - 1
        while p >= 0 and self.toks[p][0] in ("ws", "comment"):
            p -= 1
        if p < 0:
            return None
        k, t = self.toks[p]
        if k == "punct" and t == ".":
            p -= 1
            while p >= 0 and self.toks[p][0] in ("ws", "comment"):
                p -= 1
            if p >= 0 and self.toks[p][0] in ("word", "qident"):
                return self.toks[p][1]
            return None
        if (k == "word" and t.upper() in ("SELECT", "DISTINCT", "ALL")) \
                or (k == "punct" and t == ","):
            return ""
        return None

    def _strip_meta_stars(self) -> None:
        """Reference semantics: `SELECT *` / `t.*` never expand the
        temporal metadata columns (sql.clj table-info excludes them)
        — but a meta-switched scan's view carries them, so star
        expansion over it would leak `_valid_from` etc. Re-narrow:
        replace each projection star over a meta-switched scan with
        that scan's explicit document-column list. Bare `*` is only
        narrowed when the query is single-SELECT/single-ref (the one
        case its expansion is knowable from tokens); anything more
        complex keeps the star — and, per the per-qualifier switch
        above, only queries that temporally reference THAT alias can
        hit it at all."""
        sites = getattr(self, "_star_sites", [])
        if not sites:
            return
        metas = {r["alias"].strip('"').lower(): r
                 for r in self._scan_refs
                 if r.get("meta") and not r.get("dcl")}
        if not metas:
            return

        def q(c):
            return (c if re.fullmatch(r"[A-Za-z_]\w*", c)
                    else "`" + c.replace("`", "``") + "`")

        nsel = sum(1 for k, t in self.toks
                   if k == "word" and t.upper() == "SELECT")
        for s in sites:
            if s["qual"]:
                r = metas.get(s["qual"].strip('"').lower())
                if r is None or self._shadowed(r["alias"]):
                    continue
                doc = [c for c in r["cols"]
                       if c.lower() not in _TEMPORAL_COL_WORDS]
                if not doc:
                    continue
                # `alias` and `.` are already emitted just before the
                # star slot, so the first column rides that prefix
                self.out[s["idx"]] = ", ".join(
                    [q(doc[0])] + [f"{s['qual']}.{q(c)}"
                                   for c in doc[1:]])
            else:
                if nsel != 1 or len(self._ref_aliases) != 1 \
                        or len(self._scan_refs) != 1:
                    continue
                r = self._scan_refs[0]
                if not r.get("meta") or r.get("dcl"):
                    continue
                doc = [c for c in r["cols"]
                       if c.lower() not in _TEMPORAL_COL_WORDS]
                if doc:
                    self.out[s["idx"]] = ", ".join(q(c) for c in doc)

    # keywords that can directly follow a table ref / `)` without
    # being a bare alias (for _null_missing_columns's counting —
    # anything NOT here that sits in alias position counts, which is
    # the safe direction)
    _BARE_STOP = {
        "AS", "ON", "USING", "WHERE", "GROUP", "HAVING", "ORDER",
        "LIMIT", "OFFSET", "FETCH", "UNION", "INTERSECT", "EXCEPT",
        "MINUS", "WINDOW", "QUALIFY", "RETURNING", "JOIN", "LEFT",
        "RIGHT", "INNER", "FULL", "CROSS", "NATURAL", "OUTER",
        "LATERAL", "AND", "OR", "NOT", "IN", "IS", "NULL", "LIKE",
        "ILIKE", "BETWEEN", "CASE", "WHEN", "THEN", "ELSE", "END",
        "OVER", "PARTITION", "BY", "ASC", "DESC", "NULLS", "FIRST",
        "LAST", "SELECT", "FROM", "DISTINCT", "ALL", "ANY", "SOME",
        "EXISTS", "VALUES", "SET", "FOR", "WITH", "ESCAPE",
        "CONTAINS", "OVERLAPS", "EQUALS", "PRECEDES", "SUCCEEDS",
        "IMMEDIATELY", "THEN", "ROWS", "RANGE", "TABLESAMPLE",
    }

    def _null_missing_columns(self, sql: str) -> str:
        """Schemaless semantics for QUALIFIED refs: a document key
        the scanned table doesn't have reads as NULL (the reference
        is schema-per-document — `GREATEST(5, t1.missing, 12, 8)`
        evaluates with NULL, direct-sql/numeric-value-functions;
        Spark would raise UNRESOLVED_COLUMN). Deliberately
        CONSERVATIVE: only `alias.col` where the alias names exactly
        one store scan, the alias isn't redefined elsewhere in the
        emitted text (a subquery `AS t1` disables it), the ref isn't
        part of a longer chain or a call, and the name isn't a
        temporal/underscore column. Anything ambiguous keeps Spark's
        analysis error."""
        refs = getattr(self, "_scan_refs", None)
        if not refs:
            return sql
        amap: dict = {}
        for r in refs:
            a = r["alias"].lower()
            amap[a] = (None if a in amap
                       else {c.lower() for c in r.get("cols", [])})
        toks = _tokenize(sql)
        sig = [(j, k, t) for j, (k, t) in enumerate(toks)
               if k not in ("ws", "comment")]
        # aliases introduced more than once (our scan view emits one
        # `AS alias`; any second definition → hands off). Besides
        # `AS alias`, BARE aliases count too (ADVICE r11): a word
        # right after a `)` (derived table / TVF close) or a
        # FROM/JOIN/',' table-ref without AS — over-counting is safe
        # (it only DISABLES the NULL replacement), under-counting
        # could NULL a real subquery column.
        as_counts: dict = {}
        for s in range(1, len(sig)):
            if sig[s][1] not in ("word", "qident"):
                continue
            cur = _unquote((sig[s][1], sig[s][2])).lower()
            pk, pt = sig[s - 1][1], sig[s - 1][2]
            if pk == "word" and pt.upper() == "AS":
                as_counts[cur] = as_counts.get(cur, 0) + 1
                continue
            if sig[s][1] == "word" and \
                    sig[s][2].upper() in self._BARE_STOP:
                continue
            if pk == "punct" and pt == ")":
                as_counts[cur] = as_counts.get(cur, 0) + 1
                continue
            if s >= 2 and pk in ("word", "qident") and not (
                    pk == "word" and pt.upper() in self._BARE_STOP):
                gk, gt = sig[s - 2][1], sig[s - 2][2]
                if (gk == "word" and gt.upper() in ("FROM", "JOIN")) \
                        or (gk == "punct" and gt == ","):
                    as_counts[cur] = as_counts.get(cur, 0) + 1
        drop_idx: dict = {}
        for s in range(len(sig) - 2):
            j0, k0, t0 = sig[s]
            if k0 != "word" or amap.get(t0.lower()) is None \
                    or as_counts.get(t0.lower(), 0) > 1:
                continue
            if s > 0 and sig[s - 1][2] == ".":
                continue                      # deeper chain x.t1.col
            if sig[s + 1][2] != "." or sig[s + 1][1] != "punct":
                continue
            ck, ct = sig[s + 2][1], sig[s + 2][2]
            if ck != "word":
                continue
            col = ct.lower()
            nxt = sig[s + 3][2] if s + 3 < len(sig) else ""
            if (col in amap[t0.lower()] or col.startswith("_")
                    or nxt in ("(", ".")):
                continue
            drop_idx[j0] = "NULL"             # alias token → NULL
            drop_idx[sig[s + 1][0]] = ""      # the dot
            drop_idx[sig[s + 2][0]] = ""      # the column name
        if not drop_idx:
            return sql
        return "".join(drop_idx.get(j, t) for j, (k, t) in enumerate(toks))

    _SETTING_VARS = ("DEFAULT", "SNAPSHOT_TOKEN", "SNAPSHOT_TIME",
                     "CLOCK_TIME")

    def _setting_prefix(self):
        """`SETTING <option>[, <option>]*` query prefix (reference
        Sql.g4:79-86 settingQueryVariables). Options:

        - `DEFAULT VALID_TIME/SYSTEM_TIME [TO] <spec>`: per-dimension
          default bounds applied to every table reference that
          doesn't carry its own FOR clause for that dimension
          (plan/QueryOpts in the reference).
        - `SNAPSHOT_TOKEN (TO|=) <expr>` / `SNAPSHOT_TIME (TO|=)
          <expr>` (basis.clj, query.clj:429-440): pin the query's
          system-time basis — repeatable read. Our snapshot token IS
          the latest committed tx id, and a tx id IS its commit
          system time in epoch MICROSECONDS (tx.py _record_tx /
          _next_system_time), so both lower to a `DEFAULT
          SYSTEM_TIME AS OF <ts>` bound — which also gets the
          historical-manifest FILE pruning in scan() for free.
        - `CLOCK_TIME (TO|=) <expr>` (query.clj:429 expr/*clock*):
          fix the query's wall clock — every CURRENT_TIMESTAMP /
          LOCALTIMESTAMP / NOW() / CURRENT_DATE in the emitted text
          becomes a literal at that instant (`apply_clock`).

        The prefix tokens are consumed, not emitted — Spark SQL
        never sees them."""
        self.defaults = TemporalBounds()
        self.clock_time = None
        if not (self._peek()[0] == "word"
                and self._peek()[1].upper() == "SETTING"
                and self._peek(1)[1].upper() in self._SETTING_VARS):
            return
        sink: list[str] = []
        self._cap = sink          # swallow the prefix

        def cap_take():
            tok = self._take()
            sink.append(tok[1])
            return tok

        def cap_skip_ws():
            while self.i < len(self.toks) and \
                    self.toks[self.i][0] in ("ws", "comment"):
                cap_take()

        cap_skip_ws()  # leading ws/comments before SETTING
        cap_take()  # SETTING
        while True:
            cap_skip_ws()
            var = self._peek()[1].upper()
            if var in ("SNAPSHOT_TOKEN", "SNAPSHOT_TIME", "CLOCK_TIME"):
                cap_take()
                cap_skip_ws()
                if self._peek()[1].upper() == "TO" \
                        or self._peek() == ("punct", "="):
                    cap_take()
                    cap_skip_ws()
                if var == "SNAPSHOT_TOKEN":
                    v = self._scalar_arg(cap_take, cap_skip_ws)
                    if v is _FAIL:
                        raise ValueError(
                            "malformed SETTING SNAPSHOT_TOKEN value")
                    self.defaults.system_asof = _token_to_ts(v)
                else:
                    v = self._temporal_arg(cap_take, cap_skip_ws)
                    if v is _FAIL or v is None:
                        raise ValueError(
                            f"malformed SETTING {var} value")
                    if var == "SNAPSHOT_TIME":
                        self.defaults.system_asof = v
                    else:
                        self.clock_time = v
                cap_skip_ws()
                if self._peek() == ("punct", ","):
                    cap_take()
                    continue
                break
            if var != "DEFAULT":
                break
            cap_take()  # DEFAULT
            cap_skip_ws()
            dim = self._peek()[1].upper()
            if dim not in ("VALID_TIME", "SYSTEM_TIME"):
                raise ValueError("SETTING DEFAULT expects VALID_TIME "
                                 "or SYSTEM_TIME")
            cap_take()
            cap_skip_ws()
            if self._peek()[1].upper() == "TO":
                cap_take()
                cap_skip_ws()
            kw = self._peek()[1].upper()
            if kw == "ALL":
                cap_take()
                self._set_all(self.defaults, dim)
            elif kw == "AS" and self._peek(1)[1].upper() == "OF":
                cap_take(); cap_skip_ws(); cap_take()
                v = self._temporal_arg(cap_take, cap_skip_ws)
                if v is _FAIL:
                    raise ValueError("malformed SETTING DEFAULT AS OF")
                if dim == "VALID_TIME":
                    self.defaults.valid_asof = v
                else:
                    self.defaults.system_asof = v
            elif kw in ("BETWEEN", "FROM"):
                sep = "AND" if kw == "BETWEEN" else "TO"
                cap_take()
                lo = self._temporal_arg(cap_take, cap_skip_ws)
                cap_skip_ws()
                if lo is _FAIL or self._peek()[1].upper() != sep:
                    raise ValueError("malformed SETTING DEFAULT range")
                cap_take()
                hi = self._temporal_arg(cap_take, cap_skip_ws)
                if hi is _FAIL:
                    raise ValueError("malformed SETTING DEFAULT range")
                if dim == "VALID_TIME":
                    self.defaults.valid_range = (lo, hi)
                else:
                    self.defaults.system_range = (lo, hi)
            else:
                raise ValueError("malformed SETTING DEFAULT time spec")
            cap_skip_ws()
            if self._peek() == ("punct", ","):
                cap_take()
                continue
            break
        self._cap = None  # discard the captured prefix

    def _apply_defaults(self, b: TemporalBounds) -> TemporalBounds:
        d = getattr(self, "defaults", None)
        if d is None:
            return b
        if b.valid_asof is None and b.valid_range is None \
                and not b.all_valid:
            b.valid_asof, b.valid_range, b.all_valid = \
                d.valid_asof, d.valid_range, d.all_valid
        if b.system_asof is None and b.system_range is None \
                and not b.all_system:
            b.system_asof, b.system_range, b.all_system = \
                d.system_asof, d.system_range, d.all_system
        return b

    def _table_ref_list(self, single: bool):
        while True:
            if not self._table_ref():
                return
            if single:
                return
            # comma → another table ref in the FROM list
            if self._peek() != ("punct", ","):
                return
            self.out.append(self._span_through_next_nonws())  # the comma

    def _span_through_next_nonws(self) -> str:
        parts = []
        while self.i < len(self.toks) and self.toks[self.i][0] in ("ws", "comment"):
            parts.append(self._take()[1])
        parts.append(self._take()[1])
        return "".join(parts)

    def _visible(self, df):
        """Project a scan down to its SQL-visible columns. `_iid` is
        the engine's internal id hash (reference: an implementation
        detail of the live index, never a user column — its `SELECT *`
        expands to `_id` + document columns only, sql.clj table-info),
        so SQL scan views always drop it. `store.hide_id = True`
        additionally hides `_id` — the SLT harness runs sqlite scripts
        whose `SELECT *` must not see xtdb's id column, exactly the
        reference adapter's table-info `_id` removal
        (xtdb_engine.clj:46-52)."""
        drop = ["_iid"]
        if getattr(self.xt.store, "hide_id", False):
            drop.append("_id")
        drop = [c for c in drop if c in df.columns]
        return df.drop(*drop) if drop else df

    def _table_ref(self) -> bool:
        """Parse one table reference after FROM/JOIN/','.  Emits either
        the substituted view or the original span verbatim.  Returns
        False when the next relation is not a plain table (subquery,
        VALUES, …) — the main walk then continues linearly, so inner
        FROMs still get rewritten."""
        captured: list[str] = []
        self._cap = captured

        def cap_take():
            tok = self._take()
            captured.append(tok[1])
            return tok

        def cap_skip_ws():
            while self.i < len(self.toks) and \
                    self.toks[self.i][0] in ("ws", "comment"):
                cap_take()

        def flush_verbatim(result: bool) -> bool:
            self.out.append("".join(captured))
            self._cap = None
            return result

        cap_skip_ws()
        kind, text = self._peek()
        if kind == "punct" and text == "(":
            # parenthesized JOIN relation — `FROM ( t1 AS a CROSS
            # JOIN t2 b )` (SQL-92 <parenthesized joined table>; the
            # SLT corpus uses it heavily): the FIRST table inside the
            # parens is a table ref too (the later ones re-enter via
            # their JOIN keywords in the main walk). `( SELECT …` /
            # `( VALUES …` subqueries keep falling through verbatim.
            # Look through any run of '(' so `((a JOIN b …) JOIN c …)`
            # reaches the innermost first table; each recursion level
            # consumes exactly one '('.
            k = 1
            while self._peek(k) == ("punct", "("):
                k += 1
            nk, nt = self._peek(k)
            if nk in ("word", "qident") and \
                    (nk == "qident" or nt.upper() not in _NOT_TABLE_START):
                cap_take()              # the (
                # invisible to run()'s depth counter — report it so
                # the main walk re-balances on the matching ')'
                self._open_parens += 1
                self.out.append("".join(captured))
                self._cap = None
                return self._table_ref()
            # a derived table is a FROM item whose columns the
            # conjunct attribution cannot see: it holds a place in
            # _ref_aliases, so no unqualified conjunct is given to a
            # store table beside (or inside) it, and its alias shadows
            # a store reference of the same alias inside it
            self._ref_aliases.append(self._group_alias())
            return flush_verbatim(False)
        if kind == "word" and text.upper() in _NOT_TABLE_START:
            # LATERAL / UNNEST / …
            self._ref_aliases.append(self._group_alias())
            return flush_verbatim(False)
        if kind not in ("word", "qident"):
            # emit any whitespace we swallowed, let the walk continue
            return flush_verbatim(False)
        # dotted name
        name_toks = [cap_take()]
        while self._peek() == ("punct", ".") and \
                self._peek(1)[0] in ("word", "qident"):
            cap_skip_ws()
            cap_take()  # the dot
            cap_skip_ws()
            name_toks.append(cap_take())
        if self._peek() == ("punct", "("):
            # table-valued function: emit the name, let the main walk
            # handle the argument list (and anything inside it)
            self._ref_aliases.append(self._group_alias())
            return flush_verbatim(True)
        # unquoted identifiers FOLD to lowercase (SQL identifier
        # folding; the reference normalizes unquoted table idents —
        # `FROM Prop_Owner` scans prop_owner, direct-sql/sl-demo);
        # quoted segments stay exact
        table = ".".join(
            _unquote(t) if t[0] == "qident" else t[1].lower()
            for t in name_toks if t[0] != "punct")

        if table.lower() in ("xt.txs", "xt_txs"):
            # the queryable tx log (reference xt.txs system table)
            self.xt.store.txs().createOrReplaceTempView("xt_txs")
            alias = self._alias(cap_take, cap_skip_ws) or "txs"
            self._ref_aliases.append(alias)
            lead_ws = captured[0] if captured and captured[0].isspace() else " "
            self.out.append(f"{lead_ws}xt_txs AS {alias}")
            self._cap = None
            return True

        sysview = _SYSTEM_VIEWS.get(table.lower())
        if sysview is not None:
            from xtdb_spark.sources.info_schema import register_all

            register_all(self.xt.spark, self.xt.store)
            alias = self._alias(cap_take, cap_skip_ws) or table.split(".")[-1]
            self._ref_aliases.append(alias)
            lead_ws = captured[0] if captured and captured[0].isspace() else " "
            self.out.append(f"{lead_ws}{sysview} AS {alias}")
            self._cap = None
            return True

        bounds, _ = self._for_clauses(cap_take, cap_skip_ws)
        bounds = self._apply_defaults(bounds)
        alias = self._alias(cap_take, cap_skip_ws)
        dcl = (self._derived_col_list(cap_take, cap_skip_ws)
               if alias is not None else None)

        eff_alias = alias or table.split(".")[-1]
        self._ref_aliases.append(eff_alias)
        if not self._store_table_exists(table):
            return flush_verbatim(True)
        # per-qualifier meta switch (round 12): only scans whose
        # alias is temporally referenced carry the meta columns — an
        # unqualified temporal ref still switches every scan
        want_meta = (self._meta_unqual
                     or eff_alias.strip('"').lower() in self._meta_quals
                     or table.split(".")[-1].lower() in self._meta_quals)
        view = f"xt__{table.replace('.', '_')}__{bounds.view_suffix()}"
        if want_meta:
            # distinct deterministic name: a view name must always
            # hold identical content (concurrency note below), and
            # the meta variant adds columns
            view += "__meta"
        if dcl:
            import hashlib as _hl

            view += "__dcl" + _hl.md5(
                "\x00".join(dcl).encode()).hexdigest()[:8]
        view = re.sub(r"\W", "_", view)
        # recorded only: run() builds the scan once the whole
        # statement is seen (_build_scans), so the prefilter decision
        # comes first and no reference is built twice
        self._scan_refs.append({"table": table, "bounds": bounds,
                                "view": view, "alias": eff_alias,
                                "cols": [], "dcl": dcl,
                                "meta": want_meta,
                                "out_idx": len(self.out)})
        # preserve an explicit alias; otherwise alias back to the bare
        # table name so qualified column refs keep resolving
        alias = alias or table.split(".")[-1]
        if not re.fullmatch(r"[A-Za-z_]\w*", alias):
            alias = "`" + alias.replace("`", "``") + "`"
        lead_ws = captured[0] if captured and captured[0].isspace() else " "
        self.out.append(f"{lead_ws}{view} AS {alias}")
        self._cap = None
        return True

    def _build_scans(self) -> None:
        """Build each recorded store table reference's scan exactly
        once, after the point and prefilter decisions (_point_refs,
        _auto_prefilters), which read the statement's top-level WHERE
        and inner-join ON terms parsed once into `_Conjunct`s: a
        point or prefiltered reference registers under a query-unique
        `__pf<n>` view and its out slot is pointed there; any other
        reference registers the plain scan under its shared view
        (built once per distinct view — a shared name always holds
        identical content). A point or prefiltered build that raises
        (temporal/unknown column etc.) falls back to the plain scan.
        Every read of a reference takes the one manifest listing its
        decisions read (`_live`). Fills each reference's `cols` for
        _strip_meta_stars and _null_missing_columns."""
        LAST_PREFILTERS.clear()
        if not self._scan_refs:
            return
        parts = _where_conjuncts(self.toks) or []
        on_parts = _inner_on_conjuncts(self.toks)
        where = [c for c in map(_simple_conjunct, parts) if c]
        # inner-join ON literal conjuncts constrain every output row
        # exactly like WHERE conjuncts — but only QUALIFIED ones can
        # be attributed (no single-relation fallback for ON)
        on = [c for c in map(_simple_conjunct, on_parts)
              if c and c.qual is not None]
        equi = [e for e in map(_equi_conjunct, parts + on_parts) if e]
        points = self._point_refs(where)
        decided = self._auto_prefilters(where + on, equi, skip=points)
        plain: dict = {}
        for n, r in enumerate(self._scan_refs):
            df = None
            if n in points:
                opts = {"point": points[n]}
            elif n in decided:
                pred, broadcast, jd = decided[n]
                opts = {"prefilter": pred, "broadcast": broadcast}
            else:
                opts = None
            if opts:
                try:
                    df = self._view_df(r, **opts)
                except Exception:
                    pass          # temporal/unknown column etc. —
                    #               the plain scan below
            if df is None:
                if r["view"] not in plain:
                    plain[r["view"]] = self._view_df(r)
                    plain[r["view"]].createOrReplaceTempView(r["view"])
                df = plain[r["view"]]
            else:
                uview = f"{r['view']}__pf{next(_PF_SEQ)}"
                df.createOrReplaceTempView(uview)
                self.out[r["out_idx"]] = self.out[r["out_idx"]].replace(
                    r["view"], uview, 1)
                _pf_evict(df.sparkSession, uview)
                if n in decided:
                    LAST_PREFILTERS.append(
                        {"table": r["table"], "alias": r["alias"],
                         "pred": pred, "broadcast": broadcast,
                         "join_derived": jd is not None, "view": uview})
            r["cols"] = list(df.columns)

    def _live(self, r):
        """Reference `r`'s one manifest listing
        (TableStore.live_files), taken on first use: the point guard,
        the footer estimates and the read itself all judge the same
        files, so a put or compaction in between cannot change the
        files a decision approved."""
        if "live" not in r:
            r["live"] = self.xt.store.live_files(r["table"])
        return r["live"]

    def _point_refs(self, conjs) -> dict:
        """Point reads (reference operator/scan.clj:127-140 iid
        selection): {reference index: `_id` value} for the store
        table references that a top-level WHERE conjunct (of
        `conjs`) `[alias.]_id = <literal>` pins to one entity. Their
        scan is TableStore.lookup — the files of one iid bucket, that
        iid's events, resolved on one partition — instead of every
        live file, the prefilter's candidate pass and the resolution
        shuffle. The conjunct still runs in the WHERE, and the
        lookup's rows are exactly the events of that one iid, so
        results are unchanged.

        Conjuncts are attributed as in _auto_prefilters (a qualified
        alias, or an unqualified column when the query has one FROM
        item; never a self-joined or shadowed alias), in a query with
        ONE SELECT, so the WHERE and every FROM item share one scope.
        Range bounds never route (AS OF and ALL-time bounds pass to
        lookup), nor do derived column lists.
        `TableStore.lookup_matches_scan` guards types and columns: the
        literal must carry the stored `_id`'s iid type tag, no column
        may be lowered by a mixed-type read, and the lookup's files
        must carry every column of the table. The guard and the
        lookup read the reference's one listing (`_live`)."""
        if sum(1 for k, t in self.toks
               if k == "word" and t.upper() == "SELECT") != 1:
            return {}
        conjs = [c for c in map(_point_conjunct, conjs) if c]
        if not conjs:
            return {}
        points = {}
        for n, r in enumerate(self._scan_refs):
            b = r["bounds"]
            if b.valid_range is not None or b.system_range is not None \
                    or r["dcl"]:
                continue
            keys = {k for _, k in self._mine(r, conjs)}
            if len(keys) == 1:
                k = keys.pop()
                if self.xt.store.lookup_matches_scan(r["table"], k,
                                                     live=self._live(r)):
                    points[n] = k
        return points

    def _shadowed(self, alias: str) -> bool:
        """Whether `alias` names more than one FROM item — a
        self-join, or a derived table shadowing a store reference
        inside it. Names compare case-insensitively, as Spark
        resolves them."""
        a = alias.lower()
        return sum(1 for x in self._ref_aliases
                   if x is not None and x.lower() == a) > 1

    def _mine(self, r, conjs) -> list:
        """The conjuncts (`(qualifier|None, ...)` tuples) attributed
        to store reference `r`: those qualified by its alias, or
        unqualified when the query has one FROM item. Empty for a
        self-joined or shadowed alias (it appears twice in
        _ref_aliases), whose qualifier cannot tell the two apart."""
        if self._shadowed(r["alias"]):
            return []
        single = len(self._ref_aliases) == 1
        return [c for c in conjs
                if c[0] == r["alias"] or (c[0] is None and single)]

    def _view_df(self, r, **scan_opts):
        """One reference's SQL-visible scan: resolved at its bounds
        from its manifest listing, meta columns and derived column
        list applied."""
        df = self._visible(scan_with_bounds(self.xt.store, r["table"],
                                            r["bounds"],
                                            keep_meta=r["meta"],
                                            live=r.get("live"),
                                            **scan_opts))
        if r["meta"]:
            df = _with_period_meta(df)
        if r["dcl"]:
            lower = {c.lower(): c for c in df.columns}
            df = df.select(*[
                F.col(lower[c.lower()]).alias(c) if c.lower() in lower
                else F.lit(None).alias(c)       # schemaless: absent→NULL
                for c in r["dcl"]])
        return df

    def _auto_prefilters(self, conjs, equi, skip=()) -> dict:
        """Automatic sideways pushdown for temporal-store scans in
        SQL (the reference injects its bloom pushdown automatically,
        join.clj:172-226), decided here from the statement's parsed
        conjuncts: the literal `conjs` ([alias.]col <op> literal) are
        attributed to a scanned store table by alias (or to a
        single-relation query's one table); `equi` feeds the
        join-derived IN lists (_join_derived_pred). A reference with
        a join-derived list takes it, broadcast-hinted (its gates
        sized the candidate set). A literal-only reference takes its
        conjunction when every conjunct is numeric and the cached
        parquet FOOTER statistics of the files its scan will read
        (`TableStore.scan_files`, from its one listing) estimate it
        at or below PREFILTER_THRESHOLD — metadata only, no Spark
        job; the candidate set is broadcast-hinted when
        `_prefilter_fits_broadcast` holds. Anything unparseable,
        ambiguous, non-numeric or broad leaves the plain scan (and a
        temporal-column conjunct makes the scan raise, which does
        too). SAFE BY CONSTRUCTION: the semi-join is a result
        superset and the same conjunct still runs in the WHERE, so
        results are unchanged either way
        (tests/test_sql_auto_prefilter.py,
        tests/test_sql_prefilter_parity.py). Kill switch:
        store.sql_auto_prefilter = False. References in `skip` (the
        point reads) take no decision and no footer estimate.
        Returns {reference index: (pred, broadcast, join-derived pred
        or None)} for the injected references only; builds no scan.

        CONCURRENCY: the prefiltered scan registers under a
        query-UNIQUE view name (__pf<n> suffix, _build_scans) and the
        emitted SQL references it. The shared deterministic
        xt__<table>__<bounds> name is race-safe only because its
        content is always the identical plain scan; replacing it
        with query-specific pruned content would let a concurrent
        session's spark.sql analysis silently pick up ANOTHER
        query's prefilter and drop rows. Unique pf views are evicted
        FIFO past a generous cap so a long-lived pgwire server
        doesn't leak catalog entries."""
        store = self.xt.store
        if not getattr(store, "sql_auto_prefilter", True) \
                or not (conjs or equi):
            return {}
        decided = {}
        for n, r in enumerate(self._scan_refs):
            if n in skip or r["bounds"].valid_range is not None \
                    or r["bounds"].system_range is not None \
                    or self._shadowed(r["alias"]):
                continue          # range bounds; self-join / shadowed
            # (same table+bounds twice is fine: each ref rewrites its
            #  own out slot to its own query-unique __pf view)
            mine = self._mine(r, conjs)
            jd = self._join_derived_pred(r, equi, conjs) if equi else None
            if jd is not None:
                broadcast = True  # its gates sized the candidate set
            else:
                bounds = _numeric_bounds(mine)
                if bounds is None:
                    continue
                files = store.scan_files(r["table"],
                                         **r["bounds"].scan_kwargs(),
                                         live=self._live(r))
                est = store._stats_selectivity(files, bounds)
                if est is None or est > PREFILTER_THRESHOLD:
                    continue
                broadcast = store._prefilter_fits_broadcast(est, files)
            pred = spark_escape_strings(
                " AND ".join([f"({c.sql()})" for c in mine]
                             + ([f"({jd})"] if jd else [])))
            decided[n] = (pred, broadcast, jd)
        return decided

    def _join_derived_pred(self, r, equi, conjs):
        """Join-derived sideways pushdown (the reference pushes
        build-side bloom/iid filters into the probe scan at runtime,
        join.clj:172-226): when this scan is INNER-equi-joined to
        another store scan whose own literal conjuncts are selective
        (parquet footer estimate ≤ 5%, metadata-only), evaluate the
        build side's DISTINCT join keys under a cap and return
        `fact_col IN (keys)` for the fact scan's candidate-iid
        semi-join.

        EXACT BY CONSTRUCTION: the IN list is the build side's true
        post-filter key set, and the equi conjunct (a WHERE conjunct,
        or a depth-0 INNER-join ON conjunct) must hold on every
        output row — so any fact row that contributes to the result
        matches some listed key, and the prefilter is a result
        superset (tests/test_sql_join_prefilter.py equal-results
        battery). The keys come from the build side's RAW EVENTS (no
        resolution window — one pushdown-filtered parquet job):
        every resolved row's key value exists among the events, so
        the event-key set is a SUPERSET of the resolved key set —
        sound for a superset prefilter, and an empty event-key set
        still proves the inner join empty. Outer-join ON conjuncts
        are never used (see _inner_on_conjuncts).

        Injection fires only when (a) the fact table is big enough
        for the planning probe to pay
        (JOIN_PREFILTER_MIN_FACT_BYTES, 256 MB of parquet —
        measured at 2M/20M rows: the probe job costs more
        than it saves below that), (b) the fact-side footer estimate
        for the IN is at/below the calibrated prefilter threshold,
        and (c) the estimated candidate set fits the broadcast
        budget (the scan broadcast-hints it, so the resolution
        shuffle itself shrinks — without the hint
        AQE converts the semi-join only after the full probe shuffle
        exists). Integer keys only (strings and floats have no
        footer point-mass estimate). An empty build key set lowers to
        `false` — the inner join is provably empty. Kill switch:
        store.sql_join_prefilter = False; at most
        JOIN_PREFILTER_KEY_CAP (64) keys."""
        store = self.xt.store
        if not getattr(store, "sql_join_prefilter", True):
            return None
        try:
            ffiles = store.table_files(r["table"], live=self._live(r))
            fact_bytes = sum(store._file_footer(f).n_bytes for f in ffiles)
        except Exception:
            return None
        if fact_bytes < JOIN_PREFILTER_MIN_FACT_BYTES:
            return None           # probe job costs more than a full
            #                       scan of a table this small
        preds = []                # star joins COMPOSE: every
        #                           derivable dim contributes its IN
        #                           (all are supersets, AND is too)
        seen_pairs = set()
        for (qa, ca), (qb, cb) in [*equi,
                                   *[(b, a) for a, b in equi]]:
            if qa != r["alias"] or qb == r["alias"]:
                continue
            if (ca, qb, cb) in seen_pairs:
                continue          # duplicate equi conjunct
            seen_pairs.add((ca, qb, cb))
            builds = [s for s in self._scan_refs if s["alias"] == qb]
            if len(builds) != 1 or self._shadowed(qb):
                continue
            bref = builds[0]
            bconj = [c for c in conjs if c[0] == qb]
            if not bconj:
                continue          # unfiltered build side: joining a
                #                   whole dim is rarely selective on
                #                   the fact — don't pay the probe
            bpred = spark_escape_strings(
                " AND ".join(f"({c.sql()})" for c in bconj))
            try:
                bfiles = store.table_files(bref["table"],
                                           live=self._live(bref))
                est_b = store._stats_selectivity(bfiles,
                                                 _numeric_bounds(bconj))
            except Exception:
                continue
            if est_b is None or est_b > 0.05:
                continue          # build side broad/unestimable —
                #                   skip before spending a Spark job
            try:
                # RAW events, no resolution window (superset of the
                # resolved key set — see docstring): one narrow
                # pushdown-filtered parquet job instead of a
                # window-shuffle job
                bdf = store.events(bref["table"])
                # planning-time collect, bounded BY CONSTRUCTION to
                # JOIN_PREFILTER_KEY_CAP + 1 rows — never data-sized
                rows = (bdf.where(F.expr(bpred)).select(cb).distinct()
                        .limit(JOIN_PREFILTER_KEY_CAP + 1).collect())
            except Exception:
                continue
            if len(rows) > JOIN_PREFILTER_KEY_CAP:
                continue
            keys = sorted({row[0] for row in rows
                           if row[0] is not None})
            if not keys:
                return "false"    # inner join provably empty
            # integer keys only: the point mass 1/(max-min+1) assumes
            # an integer-dense domain, arbitrary for a float column
            if not all(isinstance(k, int)
                       and not isinstance(k, bool) for k in keys):
                continue
            try:
                est_in = store._stats_selectivity(
                    ffiles, {ca: [(k, k) for k in keys]})
            except Exception:
                continue
            if est_in is None or est_in > PREFILTER_THRESHOLD:
                continue
            if not store._prefilter_fits_broadcast(est_in, ffiles):
                continue          # candidate set too big to
                #                   broadcast — at that size the
                #                   probe can't beat AQE anyway
            lits = ", ".join(str(k) for k in keys)
            preds.append(f"{ca} IN ({lits})")
        if not preds:
            return None
        return " AND ".join(preds)

    def _store_table_exists(self, table: str) -> bool:
        import os

        try:
            return os.path.isdir(self.xt.store._path(table))
        except ValueError:
            return False

    # -- temporal clauses

    def _for_clauses(self, cap_take, cap_skip_ws) -> tuple[TemporalBounds, bool]:
        b = TemporalBounds()
        found = False
        while True:
            k, t = self._peek()
            if k != "word" or t.upper() != "FOR":
                return b, found
            if not self._clause(b, cap_take, cap_skip_ws, self._checkpoint()):
                return b, found
            found = True

    def _clause(self, b: TemporalBounds, cap_take, cap_skip_ws, cp) -> bool:
        saved_consumed = set(self.consumed)
        cap_skip_ws()
        k, t = self._peek()
        if k != "word" or t.upper() != "FOR":
            self._restore(cp)
            self.consumed = saved_consumed
            return False
        cap_take()  # FOR
        cap_skip_ws()
        k, t = self._peek()
        dim = None
        is_all = False
        if k == "word" and t.upper() == "ALL":
            cap_take()
            cap_skip_ws()
            k, t = self._peek()
            is_all = True
        if k == "word" and t.upper() in ("VALID_TIME", "SYSTEM_TIME"):
            dim = t.upper()
            cap_take()
        else:
            self._restore(cp)
            self.consumed = saved_consumed
            return False
        if is_all:
            self._set_all(b, dim)
            return True
        cap_skip_ws()
        k, t = self._peek()
        kw = t.upper() if k == "word" else ""
        if kw == "ALL":                      # FOR VALID_TIME ALL form
            cap_take()
            self._set_all(b, dim)
            return True
        if kw == "AS" and self._peek(1)[1].upper() == "OF":
            cap_take(); cap_skip_ws(); cap_take()
            v = self._temporal_arg(cap_take, cap_skip_ws)
            if v is _FAIL:
                self._restore(cp); self.consumed = saved_consumed
                return False
            if dim == "VALID_TIME":
                b.valid_asof = v
            else:
                b.system_asof = v
            return True
        if kw in ("BETWEEN", "FROM"):
            sep = "AND" if kw == "BETWEEN" else "TO"
            cap_take()
            lo = self._temporal_arg(cap_take, cap_skip_ws)
            cap_skip_ws()
            k2, t2 = self._peek()
            if lo is _FAIL or k2 != "word" or t2.upper() != sep:
                self._restore(cp); self.consumed = saved_consumed
                return False
            cap_take()
            hi = self._temporal_arg(cap_take, cap_skip_ws)
            if hi is _FAIL:
                self._restore(cp); self.consumed = saved_consumed
                return False
            if dim == "VALID_TIME":
                b.valid_range = (lo, hi)
            else:
                b.system_range = (lo, hi)
            return True
        self._restore(cp)
        self.consumed = saved_consumed
        return False

    @staticmethod
    def _set_all(b: TemporalBounds, dim: str):
        if dim == "VALID_TIME":
            b.all_valid = True
        else:
            b.all_system = True

    def _temporal_arg(self, cap_take, cap_skip_ws):
        """TIMESTAMP 'x' | DATE 'x' | 'x' | ? | CURRENT_TIMESTAMP."""
        cap_skip_ws()
        k, t = self._peek()
        if k == "word" and t.upper() in ("TIMESTAMP", "DATE"):
            cap_take()
            cap_skip_ws()
            k, t = self._peek()
        if k == "str":
            cap_take()
            return norm_instant(t[1:-1].replace("''", "'"))
        if k == "param":
            ord_ = self.param_ord  # ordinal of THIS param (0-based)
            cap_take()
            if ord_ >= len(self.args):
                raise ValueError(
                    "temporal clause parameter ? has no bound argument")
            self.consumed.add(ord_)
            return self.args[ord_]
        if k == "word" and t.upper() in ("CURRENT_TIMESTAMP", "NOW",
                                         "CURRENT_DATE"):
            cap_take()
            if self._peek() == ("punct", "("):
                cap_take()
                if self._peek() == ("punct", ")"):
                    cap_take()
            return None  # "as of now" = the default bound
        return _FAIL

    def _scalar_arg(self, cap_take, cap_skip_ws):
        """'x' | 123 | ? — a snapshot-token value (Sql.g4:84 takes an
        expr; tokens travel as strings or numbers)."""
        cap_skip_ws()
        k, t = self._peek()
        if k == "str":
            cap_take()
            return t[1:-1].replace("''", "'")
        if k == "num":
            cap_take()
            return t
        if k == "param":
            ord_ = self.param_ord
            cap_take()
            if ord_ >= len(self.args):
                raise ValueError(
                    "SETTING parameter ? has no bound argument")
            self.consumed.add(ord_)
            return self.args[ord_]
        return _FAIL

    # -- alias

    def _group_alias(self) -> str | None:
        """The alias after the parenthesized group that starts at (or
        after leading keywords from) self.i — `(SELECT …) s`,
        `LATERAL (…) AS s`, `range(10) r` — read ahead without
        consuming; None when there is no group or no alias."""
        j, depth = self.i, 0
        while j < len(self.toks):
            k, t = self.toks[j]
            j += 1
            if k == "punct" and t == "(":
                depth += 1
            elif k == "punct" and t == ")":
                depth -= 1
                if depth == 0:
                    break
            elif depth == 0 and k not in ("ws", "comment", "word"):
                return None
        else:
            return None
        after = (tok for tok in self.toks[j:]
                 if tok[0] not in ("ws", "comment"))
        tok = next(after, (None, ""))
        if tok[0] == "word" and tok[1].upper() == "AS":
            tok = next(after, (None, ""))
        if tok[0] == "qident" or (tok[0] == "word"
                                  and tok[1].upper() not in _NOT_ALIAS):
            return _unquote(tok)
        return None

    def _alias(self, cap_take, cap_skip_ws) -> str | None:
        cp = self._checkpoint()
        cap_skip_ws()
        k, t = self._peek()
        if k == "word" and t.upper() == "AS":
            cap_take()
            cap_skip_ws()
            k, t = self._peek()
            if k in ("word", "qident"):
                tok = cap_take()
                return _unquote(tok)
            self._restore(cp)
            return None
        if k == "word" and t.upper() not in _NOT_ALIAS:
            tok = cap_take()
            return _unquote(tok)
        if k == "qident":
            tok = cap_take()
            return _unquote(tok)
        self._restore(cp)
        return None

    def _derived_col_list(self, cap_take, cap_skip_ws) -> list | None:
        """`AS x (c1, c2, …)` after a store-table alias: the
        reference's derived column list PROJECTS the named columns in
        that order — including the normally-star-hidden temporal
        columns (direct-sql/sl-demo lists _valid_from/_system_to to
        surface them); names the table doesn't have come back NULL
        (schemaless document model). Returns the names, or None if
        the parenthesized group isn't a plain identifier list."""
        cp = self._checkpoint()
        cap_skip_ws()
        if self._peek() != ("punct", "("):
            self._restore(cp)
            return None
        cap_take()
        names: list[str] = []
        while True:
            cap_skip_ws()
            k, t = self._peek()
            if k not in ("word", "qident") or \
                    (k == "word" and t.upper() in _NOT_TABLE_START):
                self._restore(cp)
                return None
            names.append(_unquote(cap_take()))
            cap_skip_ws()
            nxt = self._peek()
            if nxt == ("punct", ","):
                cap_take()
                continue
            if nxt == ("punct", ")"):
                cap_take()
                return names
            self._restore(cp)
            return None


_FAIL = object()


def parse_clauses(clause_text: str, args: list | None = None) -> TemporalBounds:
    """Parse a standalone run of temporal clauses (`FOR VALID_TIME AS
    OF … FOR SYSTEM_TIME …`) into TemporalBounds."""
    r = _Rewriter(None, clause_text or "", args)
    cap: list[str] = []
    r._cap = cap

    def cap_take():
        tok = r._take()
        cap.append(tok[1])
        return tok

    def cap_skip_ws():
        while r.i < len(r.toks) and r.toks[r.i][0] in ("ws", "comment"):
            cap_take()

    b, _ = r._for_clauses(cap_take, cap_skip_ws)
    return b


def rewrite(xt, query: str) -> str:
    """Rewrite temporal table references; no positional params."""
    from xtdb_spark.sql.constructs import translate
    from xtdb_spark.sql.decorr import decorrelate_join_on

    sql, _ = _Rewriter(xt, decorrelate_join_on(translate(query)),
                       None).run()
    return sql


def rewrite_with_args(xt, query: str, args: list | None,
                      point_bias: bool = False):
    """Rewrite + bind any `?` inside temporal clauses from `args`;
    returns (sql, remaining_args) with the bound args removed so the
    remaining positions still line up for Spark's parameterized SQL.
    XTDB dialect constructs (object/array literals, NEST_ONE/
    NEST_MANY, RECORDS — sql/constructs.py) translate first; the
    translation preserves `?` order, so param binding is unaffected.
    Subquery-in-JOIN-ON decorrelation (sql/decorr.py) runs between
    the two: it bails on any statement carrying `?` params, so
    binding order is never disturbed."""
    from xtdb_spark.sql.constructs import translate
    from xtdb_spark.sql.decorr import decorrelate_join_on

    return _Rewriter(
        xt, decorrelate_join_on(translate(query,
                                          point_bias=point_bias)),
        args).run()



# select items whose LAST significant token is one of these cannot be
# ending in a bare alias (the word is part of the expression)
# words that can NEVER be a column alias (so an item ending in one
# is anonymous). Deliberately minimal: anything that COULD be an
# alias must be treated as one — a wrong "anonymous" verdict would
# stack a second AS onto an aliased item (broken SQL), a wrong
# "aliased" verdict merely skips a cosmetic rename.
_ALIAS_TAIL_STOP = {"END", "NULL", "TRUE", "FALSE", "UNKNOWN"}

_SELECT_ENDERS = {
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "FETCH", "UNION", "INTERSECT", "EXCEPT", "MINUS", "WINDOW",
    "INTO", "QUALIFY",
}


def name_anonymous_columns(sql: str) -> str:
    """The reference names derived columns that carry no name
    `_column_N` by SELECT-list position (sql.clj:827,857
    ->col-sym "_column_"), and unquoted identifiers FOLD to
    lowercase, so `SELECT 1, T.COL2` comes back as _column_1 /
    col2 — Spark instead uses the expression text and the as-written
    case. Token-level post-pass over the final SQL: each SELECT
    list's items get ` AS _column_<pos>` when anonymous, or
    ` AS <lowercase>` when a bare unquoted identifier chain with
    uppercase. Conservative by construction: anything that might
    already end in an alias is left alone (appending nothing is
    always safe; appending wrongly never is)."""
    toks = _tokenize(sql)
    sig = [(j, k, t) for j, (k, t) in enumerate(toks)
           if k not in ("ws", "comment")]
    n = len(sig)
    inserts: dict[int, str] = {}   # tok index (insert BEFORE) → text

    def item_alias(lo: int, hi: int, pos: int) -> str | None:
        """Alias to append for sig-range [lo, hi) or None."""
        if hi <= lo:
            return None
        kinds = [sig[s][1] for s in range(lo, hi)]
        texts = [sig[s][2] for s in range(lo, hi)]
        # star items never rename
        if texts[-1] == "*":
            return None
        # pure dotted identifier chain → named by its last segment
        is_chain = (hi - lo) % 2 == 1 and all(
            (kinds[i] in ("word", "qident")) if i % 2 == 0
            else (kinds[i] == "punct" and texts[i] == ".")
            for i in range(hi - lo))
        if is_chain:
            last_k, last_t = kinds[-1], texts[-1]
            if last_k == "word" and last_t != last_t.lower() \
                    and last_t.upper() not in _ALIAS_TAIL_STOP:
                if hi - lo == 1 and last_t.upper() in _ALIAS_TAIL_STOP:
                    return None
                return last_t.lower()
            return None
        # already aliased? an `AS x` tail, or a bare trailing
        # word/qident directly after an expression-ending token
        last_k, last_t = kinds[-1], texts[-1]
        if last_k in ("word", "qident"):
            if hi - lo >= 2:
                pk, pt = kinds[-2], texts[-2]
                if pk == "word" and pt.upper() == "AS":
                    return None            # explicit alias
            if last_k == "word" and last_t.upper() in _ALIAS_TAIL_STOP:
                return f"_column_{pos}"
            if hi - lo >= 2:
                pk, pt = kinds[-2], texts[-2]
                if pk in ("word", "qident", "num", "str") \
                        or (pk == "punct" and pt in (")", "]", "}")):
                    return None            # bare alias — keep
            return f"_column_{pos}"
        return f"_column_{pos}"

    # scopes: stack of [start_depth, item_start_sig, item_pos]
    stack: list[list] = []
    depth = 0
    s = 0
    while s < n:
        j, k, t = sig[s]
        up = t.upper() if k == "word" else None
        if k == "punct" and t in "([{":
            depth += 1
        elif k == "punct" and t in ")]}":
            while stack and depth == stack[-1][0]:
                sc = stack.pop()
                a = item_alias(sc[1], s, sc[2])
                if a:
                    inserts[j] = f" AS {a} "
            depth -= 1
        elif up == "SELECT":
            stack.append([depth, s + 1, 1])
            # skip DISTINCT / ALL qualifiers
            if s + 1 < n and sig[s + 1][1] == "word" and \
                    sig[s + 1][2].upper() in ("DISTINCT", "ALL"):
                stack[-1][1] = s + 2
        elif stack and depth == stack[-1][0]:
            if k == "punct" and t == ",":
                sc = stack[-1]
                a = item_alias(sc[1], s, sc[2])
                if a:
                    inserts[j] = f" AS {a} "
                sc[1] = s + 1
                sc[2] += 1
            elif up in _SELECT_ENDERS:
                sc = stack.pop()
                a = item_alias(sc[1], s, sc[2])
                if a:
                    inserts[j] = f" AS {a} "
        s += 1
    while stack:
        sc = stack.pop()
        if depth == sc[0]:
            a = item_alias(sc[1], n, sc[2])
            if a:
                inserts[len(toks)] = f" AS {a} "
    if not inserts:
        return sql
    out = []
    for j, (k, t) in enumerate(toks):
        if j in inserts:
            out.append(inserts[j])
        out.append(t)
    if len(toks) in inserts:
        out.append(inserts[len(toks)])
    return "".join(out)

_EXPLAIN_RE = re.compile(r"^\s*EXPLAIN(\s+ANALYZE)?\s+", re.IGNORECASE)

_SHOW_CANNED_RE = re.compile(
    r"^\s*SHOW\s+([A-Za-z_ ]+?)\s*;?\s*$", re.IGNORECASE)

# Static answers to SHOW <name> (reference pgwire canned responses;
# sql_test.clj show-canned-responses): the library sql surface answers
# from this table, pgwire from a connection's SET values over it.
SHOW_VALUES = {
    "role": "none",
    "server_version": "16.0", "server_encoding": "UTF8",
    "client_encoding": "UTF8", "datestyle": "ISO",
    "timezone": "UTC", "integer_datetimes": "on",
    "standard_conforming_strings": "on", "transaction_isolation":
    "read committed", "search_path": "public",
}


def show_name(spelled: str) -> str:
    """SHOW's setting name: multi-word spellings (psql sends `SHOW
    TRANSACTION ISOLATION LEVEL`) normalize to the setting name."""
    name = "_".join(spelled.lower().split())
    return {"transaction_isolation_level":
            "transaction_isolation"}.get(name, name)


_XTQL_RE = re.compile(
    r"^\s*XTQL\s*(?:\(\s*)?'(?P<q>(?:[^']|'')*)'\s*\)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# ATTACH DATABASE name [WITH 'yaml'] / DETACH DATABASE name
# (reference Sql.g4:55-56 Attach/DetachDatabaseStatement)
_ATTACH_RE = re.compile(
    r"^\s*ATTACH\s+DATABASE\s+(?P<name>\w+|\"(?:[^\"]|\"\")*\")"
    r"(?:\s+WITH\s+'(?P<cfg>(?:[^']|'')*)')?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_DETACH_RE = re.compile(
    r"^\s*DETACH\s+DATABASE\s+(?P<name>\w+|\"(?:[^\"]|\"\")*\")\s*;?\s*$",
    re.IGNORECASE)

# PREPARE name AS <stmt> / EXECUTE name [(args…)] (Sql.g4:37-38,66;
# reference parse.clj visitExecuteStatement) — session-level prepared
# statements; EXECUTE args are literal expressions bound to the
# statement's positional ?-params in order
_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+(?P<name>\w+)\s+AS\s+(?P<stmt>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(?P<name>\w+)\s*(?:\((?P<args>.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

# CREATE [OR ALTER] TABLE t [(c1, c2, …)] (Sql.g4:61 — tables spring
# into existence on INSERT, so this is catalog metadata) and
# GRANT/REVOKE role TO/FROM user (Sql.g4:58-59)
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+ALTER\s+)?TABLE\s+(?P<name>[\w.]+)"
    r"(?:\s*\((?P<cols>[^)]*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_GRANT_RE = re.compile(
    r"^\s*GRANT\s+(?P<role>\w+)\s+TO\s+(?P<user>\w+)\s*;?\s*$",
    re.IGNORECASE)
_REVOKE_RE = re.compile(
    r"^\s*REVOKE\s+(?P<role>\w+)\s+FROM\s+(?P<user>\w+)\s*;?\s*$",
    re.IGNORECASE)


def rewrite_and_run(xt, query: str, args: list | None = None):
    from xtdb_spark.functions import sqlfns
    from xtdb_spark.sql import dml

    sqlfns.ensure_registered(xt.spark)

    sm = _SHOW_CANNED_RE.match(query)
    if sm:
        name = show_name(sm.group(1))
        if name in SHOW_VALUES:
            return xt.spark.createDataFrame(
                [(SHOW_VALUES[name],)], f"{name} string")
    m = _EXPLAIN_RE.match(query)
    if m:
        # EXPLAIN [ANALYZE] <query> (reference Sql.g4 / query.clj:210-277):
        # one-column relation holding the (executed, for ANALYZE) plan
        from xtdb_spark.plans.explain import explain_analyze, formatted_plan

        inner = rewrite_and_run(xt, query[m.end():], args)
        text = explain_analyze(inner) if m.group(1) else formatted_plan(inner)
        return xt.spark.createDataFrame([(text,)], "plan string")
    xm = _XTQL_RE.match(query)
    if xm:
        # XTQL embedded in SQL (reference Sql.g4:685 XtqlQuery:
        # `XTQL '(-> (from :t …) …)'` or the parenthesized form) —
        # routed to the edn pipeline parser/planner (xtql_edn.run),
        # which produces the same DataFrames the SQL path would.
        from xtdb_spark import xtql_edn

        return xtql_edn.run(xt, xm.group("q").replace("''", "'"))
    pm = _PREPARE_RE.match(query)
    if pm:
        if not hasattr(xt, "_prepared"):
            xt._prepared = {}
        xt._prepared[pm.group("name").lower()] = pm.group("stmt")
        return None
    em = _EXECUTE_RE.match(query)
    if em and em.group("name").upper() not in ("IMMEDIATE",):
        name = em.group("name").lower()
        stmt = getattr(xt, "_prepared", {}).get(name)
        if stmt is None:
            raise ValueError(f"prepared statement {name!r} does not exist")
        arg_src = em.group("args")
        vals = list(args or [])
        if arg_src and arg_src.strip():
            # literal argument expressions evaluate as a one-row
            # projection (constant-folded — no job)
            vals = list(xt.spark.sql(
                spark_escape_strings(f"SELECT {arg_src}")).collect()[0]) \
                + vals
        return rewrite_and_run(xt, stmt, args=vals)
    am = _ATTACH_RE.match(query)
    if am:
        cfg = am.group("cfg")
        xt.store.attach_database(am.group("name").strip('"'),
                                 cfg.replace("''", "'") if cfg else None)
        return None
    dm = _DETACH_RE.match(query)
    if dm:
        xt.store.detach_database(dm.group("name").strip('"'))
        return None
    cm = _CREATE_TABLE_RE.match(query)
    if cm:
        cols_src = cm.group("cols")
        cols = None
        if cols_src is not None:
            # each entry is `name [TYPE ...]` (Sql.g4:61
            # columnNameList; types are declarative — the document
            # model types from data) — keep the NAME only
            cols = []
            for c in cols_src.split(","):
                c = c.strip()
                if not c:
                    continue
                qm = re.match(r'"((?:[^"]|"")*)"', c)
                cols.append(qm.group(1).replace('""', '"') if qm
                            else c.split()[0])
        xt.store.create_table(cm.group("name"), cols)
        return None
    gm = _GRANT_RE.match(query)
    if gm:
        xt.store.grant_role(gm.group("role"), gm.group("user"))
        return None
    rm = _REVOKE_RE.match(query)
    if rm:
        xt.store.revoke_role(rm.group("role"), rm.group("user"))
        return None
    if dml.is_dml(query):
        if args:
            query = dml.bind_positional(query, args)
        return dml.execute_dml(xt, query)
    sql, remaining = rewrite_with_args(xt, query, args)
    sql = name_anonymous_columns(sql)
    try:
        return xt.spark.sql(sql, args=remaining) if remaining \
            else xt.spark.sql(sql)
    except Exception as e:
        # CONTAINS right-operand type retry: a bare column ref reads
        # as a PERIOD by default (constructs._is_point is text-only;
        # the reference dispatches on runtime type). When Spark's
        # analyzer rejects that reading — field extraction from a
        # non-struct — re-translate with the POINT reading
        # (fusion.sql `system._valid_time CONTAINS dates.d`).
        if "INVALID_EXTRACT_BASE_FIELD_TYPE" in str(e) \
                and re.search(r"\bCONTAINS\b", query, re.IGNORECASE):
            sql, remaining = rewrite_with_args(xt, query, args,
                                               point_bias=True)
            sql = name_anonymous_columns(sql)
            return xt.spark.sql(sql, args=remaining) if remaining \
                else xt.spark.sql(sql)
        raise
