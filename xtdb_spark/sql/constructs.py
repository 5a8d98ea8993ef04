"""XTDB-dialect expression constructs → Spark SQL (token-level).

The reference grammar admits several non-standard constructs anywhere
an expression or query body appears (Sql.g4):

- object literals ``{k: expr, …}`` and ``OBJECT(k: expr, …)`` /
  ``RECORD(k: expr, …)`` (Sql.g4:386-393 objectConstructor)
    → ``named_struct('k', expr, …)``
- array literals ``[e1, e2]`` (arrayValueConstructor)
    → ``array(e1, e2)`` — disambiguated from subscript ``expr[i]``
      by what precedes the bracket, the same rule a lexer uses
- ``NEST_ONE (subquery)`` (Sql.g4:283) → scalar subquery returning a
  struct of the select list; Spark's scalar-subquery cardinality
  check supplies the reference's single-row error semantics
- ``NEST_MANY (subquery)`` (Sql.g4:284) → scalar subquery returning
  ``collect_list(struct(select list))`` (grouped subqueries wrap in a
  derived table so the aggregate collects the grouped rows)
- ``RECORDS {…}, {…}`` (Sql.g4:529-531, RecordsQuery/InsertRecords/
  PatchRecords) → ``SELECT … UNION ALL SELECT …`` over the UNION of
  the records' keys (missing keys are NULL — the dynamic-document
  model; the store's widest-type canonicalization merges the rest)

This is a pure text→text pass over the same token stream the
temporal rewriter uses; positional ``?`` params pass through in
order. It runs before temporal rewriting and before DML parsing, so
``INSERT INTO t RECORDS {…}`` reaches the DML layer as
``INSERT INTO t SELECT …``.
"""

from __future__ import annotations

import re

from xtdb_spark.sql.rewriter import SHOW_VALUES, _TOKEN_RE, _tokenize, _unquote

_TRIGGER_RE = re.compile(
    r"[{\[]|\bNEST_ONE\b|\bNEST_MANY\b|\bRECORDS\b"
    r"|\bOBJECT\s*\(|\bRECORD\s*\(|\bPERIOD\s*\(|\bTSTZRANGE\s*\("
    r"|\bOVERLAPS\b|\bEQUALS\b|\bCONTAINS\b|\bPRECEDES\b|\bSUCCEEDS\b"
    r"|\bLEADS\b|\bLAGS\b"
    # select-star modifiers (* EXCLUDE …, * RENAME …) and the
    # FROM-first query form (`FROM t WHERE … SELECT …`); the \)\s*FROM
    # alternative over-matches `SELECT f(x) FROM` — harmless, the walk
    # is identity there, it only costs the token pass
    r"|\*\s*(?:EXCLUDE|RENAME)\b|\bMATERIALIZED\b"
    r"|\bUNNEST\s*\(|\bGENERATE_SERIES\s*\(|\bRANGE\s*\("
    r"|\bLIKE_REGEX\b|~|\bSYMMETRIC\b|\bASYMMETRIC\b"
    r"|\bMOD\s*\(|\bRANGE_BINS\s*\(|\bDATE_BIN\s*\("
    r"|\bCURRENT_CATALOG\b|\bCURRENT_USER\b|\bSESSION_USER\b"
    r"|::|\bCONCAT\s*\(|\bREGEXP_REPLACE\s*\("
    r"|\bAS\s+(?:VARCHAR|TEXT|CHAR|DECIMAL|NUMERIC|DEC|TIME)\b"
    r"|\bCURRENT_SETTING\s*\(|\bEXTRACT\s*\("
    r"|\bCURRENT_SCHEMAS?\b|\bPG_CATALOG\s*\."
    r"|\bSTRING_TO_ARRAY\s*\(|\bARRAY_(?:LOWER|UPPER)\s*\("
    r"|\bARRAY\s*\(\s*SELECT\b"
    r"|\bTIMESTAMP\s*'[^']*[Zz\]]'"
    r"|\bGREATEST\s*\(|\bLEAST\s*\("
    r"|\b_valid_time\b|\b_system_time\b"
    r"|[=<>!]\s*(?:ANY|SOME|ALL)\s*\(|\bPG_SLEEP"
    r"|\bHAS_(?:ANY_COLUMN|TABLE|SCHEMA)_PRIVILEGE\s*\("
    r"|\bPG_(?:TABLE_IS_VISIBLE|GET_EXPR|GET_INDEXDEF|GET_USERBYID)"
    r"\s*\(|\b_PG_EXPANDARRAY\s*\("
    r"|\bINTERVAL\s*'\s*[+-]?P|\bAS\s+URI\b|\bAS\s+DURATION\b"
    r"|\b(?:DURATION|UUID|URI|KEYWORD|TIME)\s*'"
    # searchCondition comma-AND: any WHERE/HAVING query walks (the
    # walk is identity on standard SQL; commas split only at the
    # condition's own top level)
    r"|\bWHERE\b|\bHAVING\b"
    r"|\bFETCH\b|\bOFFSET\s+(?:\d+|\?)\s+(?:ROWS?\b|LIMIT\b)"
    r"|\bAS\s+ROW\s*\(|\bARRAY\s*[),\]]|\bARRAY\s*\[\s*\d+\s*\]"
    r"|^\s*(?:EXPLAIN\s+(?:ANALYZE\s+)?)?(?:SETTING\b.*?)?FROM\b"
    r"|\(\s*FROM\b|\)\s*FROM\b"
    r"|\b(?:UNION|INTERSECT|EXCEPT)\s+(?:ALL\s+|DISTINCT\s+)?FROM\b",
    re.IGNORECASE | re.DOTALL)

# top-level words that mean the current frame already has a governing
# statement/select — a later FROM belongs to it, not to a FROM-first
# query term (Sql.g4:681 `fromClause queryTail*`)
_FROM_FIRST_SUPPRESS = {
    "SELECT", "VALUES", "XTQL", "TABLE", "DELETE", "ERASE", "COPY",
    "INSERT", "UPDATE", "PATCH", "ATTACH", "DETACH", "SHOW", "GRANT",
    "REVOKE", "CREATE", "PREPARE", "EXECUTE", "ASSERT", "BEGIN",
    "START", "COMMIT", "ROLLBACK", "RECORDS",
}

# words that END the from-clause / a query tail at top level
_FF_STOPS = ("WHERE", "GROUP", "HAVING", "SELECT", "ORDER", "LIMIT",
             "OFFSET", "FETCH", "UNION", "INTERSECT", "EXCEPT",
             "WINDOW")

# infix period predicates (reference Sql.g4:227-243 + periods.py
# semantics — [from, to) with NULL bounds = ±∞)
_PERIOD_PREDS = {"OVERLAPS", "EQUALS", "CONTAINS", "PRECEDES",
                 "SUCCEEDS", "LEADS", "LAGS"}


def _S(x: str) -> str:
    return f"coalesce(({x})._from, timestamp '0001-01-01 00:00:00')"


def _E(x: str) -> str:
    return f"coalesce(({x})._to, timestamp '9999-12-31 23:59:59')"


_POINT_PREFIX_RE = re.compile(
    r"TIMESTAMPTZ\b|TIMESTAMP\b|DATE\b|'"
    r"|CAST\s*\(.*\bAS\s+(TIMESTAMP|DATE)\s*\)\s*$"
    r"|CURRENT_TIMESTAMP\b|CURRENT_DATE\b|NOW\s*\("
    r"|TO_TIMESTAMP\s*\(|TO_DATE\s*\(|TIMESTAMP_(MICROS|MILLIS|SECONDS)"
    r"\s*\(|DATE_TRUNC\s*\(|MAKE_TIMESTAMP\s*\(|MAKE_DATE\s*\(",
    re.IGNORECASE | re.DOTALL)


def _is_point(expr: str) -> bool:
    """Right operand of CONTAINS: a timestamp point rather than a
    period. The reference's `contains?` dispatches on RUNTIME type;
    Spark is statically typed and this pass is text-only, so
    point-ness is decided syntactically: temporal literals, casts to
    TIMESTAMP/DATE, and the common point-producing functions are
    points; everything else (incl. bare columns) is treated as a
    period struct. LIMITATION: a bare timestamp-typed COLUMN on the
    right must be written `CAST(col AS TIMESTAMP)` (or compared via
    `PERIOD(col, col)`) — a bare name is assumed to be a period
    column and fails Spark analysis otherwise (documented, not
    silent: the analysis error names the missing `_from` field)."""
    return bool(_POINT_PREFIX_RE.match(expr.strip()))


_PERIODISH_RE = re.compile(
    r"\b_valid_time\b|\b_system_time\b|^\s*PERIOD\s*\("
    r"|^\s*TSTZRANGE\s*\(|^\s*named_struct\s*\(\s*'_from'",
    re.IGNORECASE)


def _periodish(expr: str) -> bool:
    """Heuristic: does this (already-translated) expression denote a
    PERIOD? The reference dispatches `*`/LOWER/UPPER on runtime type;
    this pass is text-only, so period-ness is decided syntactically —
    the period pseudo-columns, PERIOD()/TSTZRANGE constructors, and
    prior period translations (named_struct('_from', …))."""
    return bool(_PERIODISH_RE.search(expr))


def _period_intersection_sql(a: str, b: str) -> str:
    """`p1 * p2` — period intersection (reference Sql.g4:372
    periodIntersection; temporal join demo direct-sql/sl-demo).
    NULL bounds stay NULL (= unbounded) rather than materializing
    ±∞ sentinels; an empty intersection yields a degenerate period
    (from ≥ to) exactly like the reference's value, which its
    callers guard with OVERLAPS."""
    af, bf = f"({a})._from", f"({b})._from"
    at, bt = f"({a})._to", f"({b})._to"
    frm = (f"CASE WHEN {af} IS NULL THEN {bf} "
           f"WHEN {bf} IS NULL THEN {af} "
           f"ELSE greatest({af}, {bf}) END")
    to = (f"CASE WHEN {at} IS NULL THEN {bt} "
          f"WHEN {bt} IS NULL THEN {at} "
          f"ELSE least({at}, {bt}) END")
    return f"named_struct('_from', {frm}, '_to', {to})"


_BARE_REF_RE = re.compile(
    r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*\Z")


def _strip_outer_parens(x: str) -> str:
    x = x.strip()
    while x.startswith("(") and x.endswith(")"):
        depth = 0
        for i, c in enumerate(x):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and i < len(x) - 1:
                    return x
        x = x[1:-1].strip()
    return x


def _period_pred_sql(base: str, mod: str | None, a: str, b: str,
                     point_bias: bool = False) -> str:
    S, E = _S, _E
    bb = _strip_outer_parens(b)
    if base == "CONTAINS" and (
            _is_point(bb)
            or (point_bias and _BARE_REF_RE.fullmatch(bb)
                and not _periodish(bb))):
        t = f"CAST({b} AS TIMESTAMP)"
        lo = "<" if mod == "STRICTLY" else "<="
        return f"({S(a)} {lo} {t} AND {t} < {E(a)})"
    table = {
        (None, "OVERLAPS"): f"({S(a)} < {E(b)} AND {S(b)} < {E(a)})",
        ("STRICTLY", "OVERLAPS"): f"({S(b)} < {S(a)} AND {E(a)} < {E(b)})",
        (None, "EQUALS"): f"({S(a)} = {S(b)} AND {E(a)} = {E(b)})",
        (None, "CONTAINS"): f"({S(a)} <= {S(b)} AND {E(b)} <= {E(a)})",
        ("STRICTLY", "CONTAINS"): f"({S(a)} < {S(b)} AND {E(b)} < {E(a)})",
        (None, "PRECEDES"): f"({E(a)} <= {S(b)})",
        ("STRICTLY", "PRECEDES"): f"({E(a)} < {S(b)})",
        ("IMMEDIATELY", "PRECEDES"): f"({E(a)} = {S(b)})",
        (None, "SUCCEEDS"): f"({S(a)} >= {E(b)})",
        ("STRICTLY", "SUCCEEDS"): f"({S(a)} > {E(b)})",
        ("IMMEDIATELY", "SUCCEEDS"): f"({S(a)} = {E(b)})",
        (None, "LEADS"):
            f"({S(a)} < {S(b)} AND {E(a)} <= {E(b)} AND {S(b)} < {E(a)})",
        ("STRICTLY", "LEADS"):
            f"({S(a)} < {S(b)} AND {E(a)} < {E(b)} AND {S(b)} < {E(a)})",
        ("IMMEDIATELY", "LEADS"): f"({S(a)} < {S(b)} AND {E(a)} = {E(b)})",
        (None, "LAGS"):
            f"({S(a)} >= {S(b)} AND {E(a)} >= {E(b)} AND {S(a)} < {E(b)})",
        ("STRICTLY", "LAGS"):
            f"({S(a)} > {S(b)} AND {E(a)} > {E(b)} AND {S(a)} < {E(b)})",
        ("IMMEDIATELY", "LAGS"): f"({S(a)} = {S(b)} AND {E(a)} > {E(b)})",
    }
    try:
        return table[(mod, base)]
    except KeyError:
        raise ValueError(f"unsupported period predicate "
                         f"{(mod + ' ') if mod else ''}{base}") from None

# keywords that cannot END an expression — a `[` after one of these
# starts an array literal, not a subscript
_NON_POSTFIX_WORDS = {
    "SELECT", "DISTINCT", "ALL", "FROM", "WHERE", "AND", "OR", "NOT", "IN",
    "ON", "WHEN", "THEN", "ELSE", "CASE", "BY", "AS", "HAVING", "UNION",
    "EXCEPT", "INTERSECT", "VALUES", "SET", "LIKE", "ILIKE", "BETWEEN",
    "IS", "RETURNING", "OVER", "PARTITION", "ORDER", "GROUP", "LIMIT",
    "OFFSET", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS",
    # "END" does NOT belong here: CASE…END is an OPERAND, so what
    # follows it is postfix context — `END + x` is binary (the SLT
    # corpus random/groupby hits this; with END non-postfix the
    # unary-plus identity drop ate the operator), and `END[i]` would
    # be a subscript
    "COALESCE", "RECORDS", "THEN", "ANY", "SOME", "EXISTS",
}


_DT_RE = re.compile(r"\bDATE_TRUNC\s*\(", re.IGNORECASE)

# reference Sql.g4:488-495 dateTruncPrecision: the precision may be a
# BARE KEYWORD (`DATE_TRUNC(minute, ts)`) where Spark and DuckDB both
# require a string literal
_DT_PRECISIONS = {
    "MILLENNIUM", "CENTURY", "DECADE", "YEAR", "QUARTER", "MONTH",
    "WEEK", "DAY", "HOUR", "MINUTE", "SECOND", "MILLISECOND",
    "MICROSECOND", "NANOSECOND"}


def _quote_date_trunc(sql: str) -> str:
    """`DATE_TRUNC(minute, x)` → `DATE_TRUNC('MINUTE', x)` — the
    reference grammar admits the unquoted precision keyword
    (Sql.g4:367 DateTruncFunction, :488 dateTruncPrecision); Spark
    needs the string form. Token-level: only a bare precision word
    directly between `DATE_TRUNC(` and `,` is touched, so strings,
    comments, and column-valued first args pass through."""
    toks = [(m.lastgroup, m.group()) for m in _TOKEN_RE.finditer(sql)]
    n = len(toks)

    def sig(j):
        while j < n and toks[j][0] in ("ws", "comment"):
            j += 1
        return j

    out = []
    i = 0
    while i < n:
        k, t = toks[i]
        if k == "word" and t.upper() == "DATE_TRUNC":
            j = sig(i + 1)
            if j < n and toks[j] == ("punct", "("):
                p = sig(j + 1)
                if p < n and toks[p][0] == "word" \
                        and toks[p][1].upper() in _DT_PRECISIONS \
                        and sig(p + 1) < n \
                        and toks[sig(p + 1)] == ("punct", ","):
                    out.extend(t2 for _, t2 in toks[i:p])
                    out.append("'" + toks[p][1].upper() + "'")
                    i = p + 1
                    continue
        out.append(t)
        i += 1
    return "".join(out)


_AGG_FNS = {
    "SUM", "COUNT", "AVG", "MIN", "MAX", "STDDEV", "STDDEV_POP",
    "STDDEV_SAMP", "VAR_POP", "VAR_SAMP", "VARIANCE", "ARRAY_AGG",
    "BOOL_AND", "BOOL_OR", "EVERY", "ANY_VALUE", "LISTAGG",
    "STRING_AGG", "PERCENTILE_CONT", "PERCENTILE_DISC",
}

_WORD_OR_PUNCT = re.compile(
    r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|[A-Za-z_]\w*|.", re.DOTALL)


def _select_items(sel: str) -> list[tuple[str, bool]]:
    """Split a projection list on top-level commas; per item, flag
    whether it contains an aggregate-function call OUTSIDE any nested
    subquery (a `(SELECT …)`/`(FROM …)` group — aggs in there belong
    to the subquery, not this block) and not governed by OVER."""
    items: list[tuple[str, bool]] = []
    cur: list[str] = []
    cur_agg = False
    depth = 0
    sub_depths: list[int] = []    # depths at which a subquery started
    toks = _WORD_OR_PUNCT.findall(sel)
    for j, t in enumerate(toks):
        if t == "(":
            depth += 1
            k = j + 1
            while k < len(toks) and toks[k].strip() == "":
                k += 1
            if k < len(toks) and toks[k].upper() in ("SELECT", "FROM"):
                sub_depths.append(depth)
        elif t == ")":
            if sub_depths and sub_depths[-1] == depth:
                sub_depths.pop()
            depth -= 1
        elif t == "," and depth == 0:
            items.append(("".join(cur).strip(), cur_agg))
            cur, cur_agg = [], False
            continue
        elif (not sub_depths and t.upper() in _AGG_FNS):
            k = j + 1
            while k < len(toks) and toks[k].strip() == "":
                k += 1
            if k < len(toks) and toks[k] == "(":
                cur_agg = True
        cur.append(t)
    if cur:
        items.append(("".join(cur).strip(), cur_agg))
    return items


_TRAIL_ALIAS_RE = re.compile(
    r"\s+(?:AS\s+)?([A-Za-z_]\w*|\"(?:[^\"]|\"\")*\")\s*$",
    re.IGNORECASE)


def _implicit_group_by(sel: str) -> str | None:
    """Non-aggregated projection expressions of a mixed
    aggregate/plain SELECT list (alias stripped) — the implicit
    grouping key; None when the list has no aggregates (plain
    projection) or only aggregates (global aggregate)."""
    if re.search(r"\bOVER\b", sel, re.IGNORECASE):
        return None               # window aggregates don't group
    items = _select_items(sel)
    if not any(agg for _, agg in items):
        return None
    plain = [e for e, agg in items if not agg]
    if not plain:
        return None
    keys = []
    for e in plain:
        m = _TRAIL_ALIAS_RE.search(e)
        # strip a trailing [AS] alias — but not a bare column's own
        # final identifier (`c.c_name` ends in an ident with no
        # preceding expression separator; only strip when what
        # remains is non-empty and doesn't end in `.`/an operator)
        if m:
            head = e[:m.start()].strip()
            if head and not head.endswith((".", ",", "(", "+", "-",
                                           "*", "/", "|", "=")):
                if m.group(0).upper().strip().startswith("AS ") or \
                        not re.fullmatch(r"[\w.\"]+", e.strip()):
                    e = head
        keys.append(e)
    return ", ".join(keys)


_TSTZ_RE = re.compile(r"\bTIMESTAMPTZ\b", re.IGNORECASE)


def _map_tstz(sql: str) -> str:
    """`TIMESTAMPTZ` → `TIMESTAMP` (type name and literal prefix,
    reference Sql.g4 TsTzType/pg alias): Spark's TIMESTAMP is the
    session-zoned instant type, the correct target; Spark rejects
    the TIMESTAMPTZ spelling outright (`?::timestamptz`,
    fusion.sql). Token-level so the word survives inside strings,
    comments, and quoted identifiers."""
    return "".join(
        "TIMESTAMP" if m.lastgroup == "word"
        and m.group().upper() == "TIMESTAMPTZ" else m.group()
        for m in _TOKEN_RE.finditer(sql))


def translate(sql: str, point_bias: bool = False) -> str:
    """Translate XTDB constructs to Spark SQL; no-op (same string)
    when none are present. `point_bias=True` is the analyze-retry
    mode (rewriter.rewrite_and_run): a BARE column ref on the right
    of CONTAINS is treated as a timestamp POINT instead of a period
    — the reference dispatches on runtime type, this text-only pass
    cannot, so the rewriter retries with the other reading when
    Spark's analyzer rejects the period one."""
    if _TSTZ_RE.search(sql):
        sql = _map_tstz(sql)
    if _DT_RE.search(sql):
        sql = _quote_date_trunc(sql)
    if not _TRIGGER_RE.search(sql):
        return sql
    return _Translator(sql, point_bias=point_bias).run()


def _has_toplevel_word(text: str, word: str) -> bool:
    depth = 0
    for m in _TOKEN_RE.finditer(text):
        kind, t = m.lastgroup, m.group()
        if kind == "punct":
            if t in "([{":
                depth += 1
            elif t in ")]}":
                depth -= 1
        elif kind == "word" and depth == 0 and t.upper() == word:
            return True
    return False


def _ident_sql(name: str) -> str:
    if re.fullmatch(r"[A-Za-z_]\w*", name):
        return name
    return "`" + name.replace("`", "``") + "`"


_ATOM_KEYWORDS = {
    "AND", "OR", "NOT", "IN", "IS", "LIKE", "BETWEEN", "WHEN",
    "THEN", "ELSE", "END", "CASE", "SELECT", "FROM", "WHERE", "ON",
    "AS", "BY", "ALL", "ANY", "SOME", "EXISTS", "DISTINCT",
}


def _trailing_atom_start(parts: list) -> int | None:
    """Index into `parts` where its trailing ATOM starts, or None.
    An atom is a dotted identifier chain, optionally ending in one
    structural paren group `( … )` (function call / parenthesized
    expression), or a single self-contained translated fragment
    (balanced text). Structural parens are single-char entries in
    the walker's output, so entry-level depth counting is exact;
    fully-balanced multi-token entries (translated constructs like
    `element_at(x, 1)`) count as atoms whole. Used by the subscript
    fallback to recover a base the walker stopped tracking."""
    def blank(e):
        return e.strip() == ""

    def identish(e):
        e = e.strip()
        return bool(re.fullmatch(r"[\w$]+", e)) and \
            e.upper() not in _ATOM_KEYWORDS or \
            bool(re.fullmatch(r"`(?:[^`]|``)*`|\"(?:[^\"]|\"\")*\"", e))

    def balanced(e):
        d = 0
        in_s = False
        for c in e:
            if in_s:
                in_s = c != "'"
            elif c == "'":
                in_s = True
            elif c in "([{":
                d += 1
            elif c in ")]}":
                d -= 1
                if d < 0:
                    return False
        return d == 0 and not in_s

    j = len(parts) - 1
    while j >= 0 and blank(parts[j]):
        j -= 1
    if j < 0:
        return None
    e = parts[j].strip()
    if e == ")":
        depth = 0
        while j >= 0:
            s = parts[j].strip()
            if s == ")":
                depth += 1
            elif s == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            return None
        start = j
        # adjacent (no blank) callee name → function call
        if j > 0 and not blank(parts[j - 1]) and identish(parts[j - 1]):
            j -= 1
            start = j
        else:
            return start
    elif identish(e) or (balanced(e) and e.endswith((")", "]", "}"))
                         and not e[0].isspace()):
        start = j
    else:
        return None
    # extend backward over a dotted chain: ident (. ident)* —
    # blanks allowed around the dots
    while True:
        k = start - 1
        while k >= 0 and blank(parts[k]):
            k -= 1
        if k < 0 or parts[k].strip() != ".":
            return start
        k2 = k - 1
        while k2 >= 0 and blank(parts[k2]):
            k2 -= 1
        if k2 < 0 or not identish(parts[k2]):
            return start
        start = k2


class _Translator:
    def __init__(self, sql: str, point_bias: bool = False):
        self.point_bias = point_bias
        self.toks = [(m.lastgroup, m.group())
                     for m in _TOKEN_RE.finditer(sql)]
        self.i = 0
        self.postfix = False  # does the last significant output token
        #                       end an expression? (subscript context)
        self._after_dot = False  # last significant token was a field
        #                          dot (identifier-chain continuation)
        self._ff_n = 0           # FROM-first derived-table alias counter

    # -- plumbing

    def _peek(self, k: int = 0):
        j, seen = self.i, 0
        while j < len(self.toks):
            if self.toks[j][0] not in ("ws", "comment"):
                if seen == k:
                    return self.toks[j]
                seen += 1
            j += 1
        return (None, "")

    def _next(self):
        tok = self.toks[self.i]
        self.i += 1
        return tok

    def _skip_ws(self) -> str:
        parts = []
        while self.i < len(self.toks) and \
                self.toks[self.i][0] in ("ws", "comment"):
            parts.append(self._next()[1])
        return "".join(parts)

    # -- main walk

    def run(self) -> str:
        return self._walk(closers=(), allow_query=True)

    def _walk(self, closers: tuple, stop_words: tuple = (),
              allow_query: bool = False, in_from: bool = False) -> str:
        """Translate until (exclusive) a top-level closer punct, a
        top-level stop word, or EOF. Consumes nested () [] {} wholly
        via the construct branches. Tracks the output span of the
        current PRIMARY expression (identifier chains, literals,
        constructors, parenthesized groups + their call/subscript/
        field continuations) so the infix period predicates can
        capture their already-emitted left operand — composite left
        operands (`x + y OVERLAPS …`) need explicit parens."""
        parts: list[str] = []
        expr_start: int | None = None
        suppress = False  # frame already has a governing SELECT/DML —
        #                   a FROM here is its from-clause, not a
        #                   FROM-first query term
        last_sig = "FROM" if in_from else ""  # last significant token
        from_ctx = in_from       # inside a from-clause (table refs)
        while self.i < len(self.toks):
            kind, text = self.toks[self.i]
            if kind in ("ws", "comment"):
                parts.append(self._next()[1])
                continue
            if kind == "punct" and text in closers:
                break
            if kind == "word" and stop_words and text.upper() in stop_words:
                break
            if kind == "punct" and text == "*" and \
                    (not self.postfix or self._after_dot) and \
                    self._peek(1)[0] == "word" and \
                    self._peek(1)[1].upper() in ("EXCLUDE", "RENAME"):
                parts.append(self._star_modifiers(parts))
                self.postfix = False
                self._after_dot = False
                expr_start = None
                continue
            if kind == "punct" and text == "*" and self.postfix \
                    and expr_start is not None \
                    and _periodish("".join(parts[expr_start:])):
                # period INTERSECTION `p1 * p2` (Sql.g4:372; the
                # reference dispatches on runtime type — here on the
                # operands' textual period-ness; numeric `*` falls
                # through untouched)
                left = "".join(parts[expr_start:]).strip()
                save = self.i
                self._next()
                try:
                    right = self._parse_primary()
                except ValueError:
                    self.i = save
                else:
                    if _periodish(right):
                        del parts[expr_start:]
                        parts.append(_period_intersection_sql(left,
                                                              right))
                        self.postfix = True
                        continue
                    self.i = save
            if kind == "punct" and text == "~":
                k = len(parts) - 1
                while k >= 0 and parts[k].strip() == "":
                    k -= 1
                if self.postfix or (k >= 0 and parts[k].strip() == "!"):
                    parts.append(self._pg_regex_op(parts))
                    self.postfix = True
                    expr_start = None
                    last_sig = ""
                    continue
            if kind == "punct" and text == "+" and not self.postfix:
                # UNARY plus is identity in the reference for ANY
                # operand type (sql.clj:1409 visitUnaryPlusExpr
                # returns the inner expr unchanged) — drop it, so
                # `+ text_col` stays the string instead of Spark's
                # implicit numeric cast. Binary + (postfix context)
                # is untouched.
                self._next()
                continue
            if kind == "punct" and text == "{":
                if not self.postfix:
                    expr_start = len(parts)
                parts.append(self._object_literal())
                self.postfix = True
                continue
            if kind == "punct" and text == "[":
                if self.postfix:  # subscript expr[i] — continuation
                    # the reference's array access is ONE-based (SQL
                    # standard; direct-sql/sl-a5 friends[2] = 2nd
                    # element) — Spark's bare [] is zero-based, so
                    # wrap the emitted base in element_at (1-based;
                    # map keys behave identically)
                    self._next()
                    self.postfix = False
                    idx = self._walk(closers=("]",)).strip()
                    if self._peek() == ("punct", "]"):
                        self._next()
                    if expr_start is None:
                        # no tracked start (the preceding atom came
                        # from a branch that resets tracking) —
                        # recover it from the emitted tail, so the
                        # same source syntax never silently gets
                        # 0-based access (ADVICE r11)
                        expr_start = _trailing_atom_start(parts)
                    if expr_start is not None:
                        base = "".join(parts[expr_start:])
                        del parts[expr_start:]
                        parts.append(f"element_at({base}, {idx})")
                    else:         # unrecoverable — 1-based via index
                        #           arithmetic (arrays; a quoted
                        #           string is a MAP key, unshifted)
                        istr = idx.strip()
                        if istr.startswith("'") and istr.endswith("'"):
                            parts.append(f"[{idx}]")
                        else:
                            parts.append(f"[({idx}) - 1]")
                    self.postfix = True
                else:             # array literal [e1, e2]
                    expr_start = len(parts)
                    parts.append(self._array_literal())
                    self.postfix = True
                continue
            if kind == "punct" and text == ":" \
                    and self._peek(1) == ("punct", ":") \
                    and self._peek(2)[0] in ("word", "qident") \
                    and self.postfix:
                # `expr::type` with XTDB/PG type spellings Spark
                # rejects: quoted type names (x::"timestamp",
                # expr_test.clj), bare VARCHAR/DECIMAL, DURATION.
                # Re-emitted as CAST so multi-word mapped types
                # (INTERVAL DAY TO SECOND) stay parseable.
                start = expr_start if expr_start is not None \
                    else _trailing_atom_start(parts)
                self._next()
                self._skip_ws()
                self._next()          # the two colons
                self._skip_ws()
                tk, tt = self._peek()
                self._next()
                typ = _unquote((tk, tt)) if tk == "qident" else tt
                if self._peek() == ("punct", "("):
                    self._next()
                    self.postfix = False
                    inner = self._walk(closers=(")",))
                    if self._peek() == ("punct", ")"):
                        self._next()
                    typ += f"({inner})"
                elif typ.upper() == "DOUBLE" and \
                        self._peek()[0] == "word" and \
                        self._peek()[1].upper() == "PRECISION":
                    self._next()
                mapped = self._map_type(typ)
                if start is not None:
                    base = "".join(parts[start:])
                    del parts[start:]
                    parts.append(f"CAST({base} AS {mapped})")
                    expr_start = start
                else:
                    parts.append(f"::{mapped}")
                self.postfix = True
                last_sig = ""
                continue
            if kind == "punct" and text == "(":
                was_call = self.postfix
                if not self.postfix:  # group start, not a call
                    expr_start = len(parts)
                parts.append(self._next()[1])
                self.postfix = False  # fresh expression context
                # a group/subquery paren may open a FROM-first query
                # term; a function-call paren never does (EXTRACT/
                # SUBSTRING/TRIM use FROM *inside* calls)
                parts.append(self._walk(closers=(")",),
                                        allow_query=not was_call))
                if self._peek() == ("punct", ")"):
                    parts.append(self._next()[1])
                self.postfix = True
                last_sig = ")"
                continue
            if kind == "word":
                up = text.upper()
                if up == "FROM" and allow_query and not suppress:
                    # FROM-first query term (Sql.g4:681-693
                    # `fromClause queryTail*`) — fold the tails into
                    # nested derived tables, reference sql.clj:2795
                    parts.append(self._from_first())
                    if self.i < len(self.toks):
                        parts.append(" ")  # tail walks strip the ws
                        #                    before their stop word
                    self.postfix = False
                    expr_start = None
                    suppress = True
                    continue
                if up == "MATERIALIZED" and \
                        self._peek(1)[0] in ("word", "qident") and \
                        self._peek(2)[1].upper() in ("AS", "("):
                    # WITH [MATERIALIZED] cte AS (…) — Spark has no
                    # materialization hint; drop the keyword
                    self._next()
                    self._skip_ws()
                    continue
                if up in ("ANY", "SOME", "ALL") and \
                        self._peek(1) == ("punct", "("):
                    k = len(parts) - 1
                    while k >= 0 and parts[k].strip() == "":
                        k -= 1
                    if k >= 0 and parts[k].strip() in ("=", "<", ">", "!"):
                        parts.append(self._quantified(parts, up))
                        self.postfix = True
                        expr_start = None
                        last_sig = ""
                        continue
                if up == "BETWEEN" and \
                        self._peek(1)[1].upper() in ("SYMMETRIC",
                                                     "ASYMMETRIC"):
                    if self._peek(1)[1].upper() == "ASYMMETRIC":
                        parts.append(self._next()[1])   # BETWEEN
                        self._skip_ws()
                        self._next()                    # drop the word
                        parts.append(" ")
                        self.postfix = False
                        last_sig = "BETWEEN"
                        continue
                    parts.append(self._between_symmetric(parts))
                    self.postfix = True
                    expr_start = None
                    last_sig = ""
                    continue
                if up == "LIKE_REGEX":
                    parts.append(self._like_regex(parts))
                    self.postfix = True
                    expr_start = None
                    last_sig = ""
                    continue
                if up == "INTERVAL" and self._peek(1)[0] == "str":
                    inner = self._peek(1)[1][1:-1].strip()
                    if re.match(r"^[+-]?P", inner, re.IGNORECASE) and \
                            self._peek(2)[1].upper() not in (
                                "YEAR", "MONTH", "DAY", "HOUR",
                                "MINUTE", "SECOND"):
                        if not self.postfix:
                            expr_start = len(parts)
                        parts.append(self._iso_interval_literal())
                        self.postfix = True
                        last_sig = ""
                        continue
                if up == "ARRAY" and self._peek(1) == ("punct", "["):
                    # ARRAY[e1, e2] spelling (Sql.g4:505 — the ARRAY
                    # keyword is optional noise before the literal)
                    self._next()
                    self._skip_ws()
                    self.postfix = False   # the [ branch emits array()
                    continue
                if up == "TIMESTAMP" and self._peek(1)[0] == "str" \
                        and not self.postfix and not self._after_dot:
                    # reference instant spellings Spark's literal
                    # parser rejects: a trailing `Z` on a DATE-only
                    # or T-separated value (`TIMESTAMP
                    # '1998-01-10Z'`, direct-sql/sl-demo; values are
                    # UTC instants, our storage is naive-UTC) and a
                    # trailing `[Zone]` bracket (Sql.g4
                    # characterString instant forms)
                    raw = self._peek(1)[1][1:-1]
                    zm = re.search(r"\[([^\]]*)\]$", raw)
                    self._last_lit_zone = zm.group(1) if zm else None
                    norm = re.sub(r"\[[^\]]*\]$", "", raw).strip()
                    if norm.endswith(("Z", "z")):
                        norm = norm[:-1]
                    if norm != raw:
                        if not self.postfix:
                            expr_start = len(parts)
                        self._next()
                        self._skip_ws()
                        self._next()
                        parts.append(
                            f"TIMESTAMP '{norm.replace('T', ' ')}'")
                        self.postfix = True
                        last_sig = ""
                        continue
                    # plain literal — fall through verbatim
                if up in ("DURATION", "UUID", "URI", "KEYWORD", "TIME") \
                        and self._peek(1)[0] == "str" \
                        and not self.postfix and not self._after_dot:
                    # typed literals (Sql.g4:103-113): DURATION 'PT1H'
                    # → day-time interval (sql.clj:992 Duration/parse);
                    # UUID/URI/KEYWORD → canonical strings (keyword
                    # strips the leading colon, sql.clj:1321-1326);
                    # TIME 'hh:mm:ss' → HOUR TO SECOND interval (a
                    # LocalTime total order Spark can compare and add
                    # to timestamps)
                    if not self.postfix:
                        expr_start = len(parts)
                    self._next()
                    self._skip_ws()
                    raw = self._next()[1][1:-1].replace("''", "'")
                    if up == "DURATION":
                        parts.append(self._iso_interval_sql(raw))
                    elif up == "TIME":
                        parts.append(f"INTERVAL '{raw}' HOUR TO SECOND")
                    elif up == "UUID":
                        parts.append(f"'{raw.lower()}'")
                    elif up == "KEYWORD":
                        parts.append(f"'{raw.lstrip(':')}'")
                    else:
                        parts.append(f"'{raw}'")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "CAST" and self._peek(1) == ("punct", "("):
                    if not self.postfix:
                        expr_start = len(parts)
                    parts.append(self._cast_call())
                    self.postfix = True
                    last_sig = ""
                    continue
                if up in ("GREATEST", "LEAST") \
                        and self._peek(1) == ("punct", "(") \
                        and not self.postfix:
                    # the reference's GREATEST/LEAST are NULL-STRICT
                    # (SQL standard: any NULL argument → NULL;
                    # direct-sql/numeric-value-functions expects
                    # GREATEST(5, NULL, 12, 8) = NULL); Spark's skip
                    # NULLs (postgres behavior)
                    if not self.postfix:
                        expr_start = len(parts)
                    self._next()
                    self._skip_ws()
                    self._next()          # (
                    args = []
                    while True:
                        args.append(self._walk(closers=(",", ")"))
                                    .strip())
                        if self._peek() == ("punct", ","):
                            self._skip_ws()
                            self._next()
                            continue
                        if self._peek() == ("punct", ")"):
                            self._skip_ws()
                            self._next()
                        break
                    nulls = " OR ".join(f"({a}) IS NULL" for a in args)
                    call = f"{up.lower()}({', '.join(args)})"
                    parts.append(f"(CASE WHEN {nulls} THEN NULL "
                                 f"ELSE {call} END)")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "MOD" and self._peek(1) == ("punct", "(") \
                        and not self.postfix:
                    # the reference's MOD is FLOORED (clojure `mod`,
                    # expression.clj:1001-1004 — sign of the divisor:
                    # MOD(-5,3)=1, MOD(3,-5)=-2); Spark's % / mod()
                    # truncate. Direct expansion, no UDF.
                    if not self.postfix:
                        expr_start = len(parts)
                    self._next()          # MOD
                    self._skip_ws()
                    self._next()          # (
                    a = self._walk(closers=(",", ")")).strip()
                    if self._peek() == ("punct", ","):
                        self._skip_ws()
                        self._next()
                        b = self._walk(closers=(")",)).strip()
                        if self._peek() == ("punct", ")"):
                            self._skip_ws()
                            self._next()
                        parts.append(f"(((({a}) % ({b})) + ({b})) "
                                     f"% ({b}))")
                    else:                 # malformed — re-emit
                        if self._peek() == ("punct", ")"):
                            self._skip_ws()
                            self._next()
                        parts.append(f"MOD({a})")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "DATE_BIN" and \
                        self._peek(1) == ("punct", "(") \
                        and not self.postfix:
                    # DATE_BIN(stride, ts[, origin]) — inline epoch
                    # arithmetic, NOT the registered SQL UDF: Spark
                    # rejects SQL UDFs inside Generate nodes, and
                    # DATE_BIN anchors generate_series ranges
                    # (fusion.sql). Truncating DIV = reference quot.
                    expr_start = len(parts)
                    self._next()          # DATE_BIN
                    self._skip_ws()
                    self._next()          # (
                    args = [self._walk(closers=(",", ")")).strip()]
                    while self._peek() == ("punct", ","):
                        self._skip_ws()
                        self._next()
                        args.append(
                            self._walk(closers=(",", ")")).strip())
                    if self._peek() == ("punct", ")"):
                        self._skip_ws()
                        self._next()
                    if len(args) in (2, 3):
                        s = self._stride_us(args[0])
                        o = (f"unix_micros(({args[2]}))"
                             if len(args) == 3 else "0")
                        t = f"unix_micros(CAST(({args[1]}) AS TIMESTAMP))"
                        parts.append(
                            f"timestamp_micros((({t} - {o}) DIV ({s}))"
                            f" * ({s}) + {o})")
                    else:                 # malformed — re-emit
                        parts.append(f"DATE_BIN({', '.join(args)})")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "RANGE_BINS" and \
                        self._peek(1) == ("punct", "(") \
                        and not self.postfix:
                    # reference range_bins(stride, period[, origin])
                    # (expression/temporal.clj:2105-2157): an ARRAY
                    # of aligned {_from,_to,_weight} bins over the
                    # period. Lowered to xt_range_bins_us (sqlfns) in
                    # epoch micros. The legacy 2-arg scalar spelling
                    # range_bins(ts, width_seconds) — first arg not
                    # an interval — re-emits for the registered
                    # scalar function.
                    expr_start = len(parts)
                    self._next()          # RANGE_BINS
                    self._skip_ws()
                    self._next()          # (
                    args = [self._walk(closers=(",", ")")).strip()]
                    while self._peek() == ("punct", ","):
                        self._skip_ws()
                        self._next()
                        args.append(
                            self._walk(closers=(",", ")")).strip())
                    if self._peek() == ("punct", ")"):
                        self._skip_ws()
                        self._next()
                    if len(args) in (2, 3) and \
                            args[0].upper().startswith("INTERVAL"):
                        parts.append(self._range_bins_sql(
                            args[0], args[1],
                            args[2] if len(args) == 3 else None))
                    else:
                        parts.append(
                            f"range_bins({', '.join(args)})")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "CONCAT" and self._peek(1) == ("punct", "(") \
                        and not self.postfix:
                    # PG/reference CONCAT skips NULL args and yields
                    # '' when all are NULL (expression.clj concat;
                    # Spark's concat instead null-propagates)
                    expr_start = len(parts)
                    self._next()
                    self._skip_ws()
                    self._next()
                    args = []
                    while True:
                        self.postfix = False
                        args.append(
                            self._walk(closers=(",", ")")).strip())
                        if self._peek() == ("punct", ","):
                            self._next()
                            continue
                        break
                    if self._peek() == ("punct", ")"):
                        self._next()
                    parts.append("concat(" + ", ".join(
                        f"coalesce(CAST(({a}) AS STRING), '')"
                        for a in args) + ")")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "REGEXP_REPLACE" and \
                        self._peek(1) == ("punct", "(") \
                        and not self.postfix:
                    # PG \N group backreferences in the replacement
                    # → Java $N (reference regexp_replace accepts
                    # both; Spark is Java-only). Literal replacements
                    # only — a computed replacement passes through.
                    expr_start = len(parts)
                    self._next()
                    self._skip_ws()
                    self._next()
                    args = []
                    while True:
                        self.postfix = False
                        args.append(
                            self._walk(closers=(",", ")")).strip())
                        if self._peek() == ("punct", ","):
                            self._next()
                            continue
                        break
                    if self._peek() == ("punct", ")"):
                        self._next()
                    if len(args) >= 3 and args[2].startswith("'") \
                            and args[2].endswith("'"):
                        args[2] = re.sub(r"\\(\d)", r"$\1", args[2])
                    parts.append(
                        f"REGEXP_REPLACE({', '.join(args)})")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "CURRENT_SETTING" and \
                        self._peek(1) == ("punct", "(") \
                        and not self.postfix:
                    # node-level settings for the library surface, the
                    # table SHOW answers from (pgwire answers
                    # per-connection)
                    expr_start = len(parts)
                    self._next()
                    self._skip_ws()
                    self._next()
                    self.postfix = False
                    arg = self._walk(closers=(")",)).strip()
                    if self._peek() == ("punct", ")"):
                        self._next()
                    parts.append(f"(CASE lower({arg}) " + "".join(
                        f"WHEN '{k}' THEN '{v}' "
                        for k, v in SHOW_VALUES.items()) + "END)")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "EXTRACT" and self._peek(1) == ("punct", "(") \
                        and self._peek(2)[0] == "word" \
                        and self._peek(2)[1].upper() in (
                            "DOW", "ISODOW", "TIMEZONE_HOUR",
                            "TIMEZONE_MINUTE") \
                        and not self.postfix:
                    # PG fields Spark lacks or numbers differently:
                    # DOW Sunday=0 (Spark's is 1-based), ISODOW
                    # Monday=1..Sunday=7; TIMEZONE_* are 0 — storage
                    # is UTC instants (reference tstz in UTC)
                    expr_start = len(parts)
                    self._next()
                    self._skip_ws()
                    self._next()          # (
                    fld = self._next()[1].upper()
                    self._skip_ws()
                    if self._peek()[1].upper() == "FROM":
                        self._next()
                    self.postfix = False
                    e = self._walk(closers=(")",)).strip()
                    if self._peek() == ("punct", ")"):
                        self._next()
                    if fld == "DOW":
                        parts.append(f"(dayofweek({e}) - 1)")
                    elif fld == "ISODOW":
                        parts.append(f"(pmod(dayofweek({e}) + 5, 7) + 1)")
                    else:
                        parts.append(f"(0 * dayofweek({e}))")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up in self._PG_CONST_FNS and \
                        self._peek(1) == ("punct", "("):
                    if not self.postfix:
                        expr_start = len(parts)
                    parts.append(self._pg_const_fn(self._PG_CONST_FNS[up]))
                    self.postfix = True
                    last_sig = ""
                    continue
                if up in self._PG_KEYWORD_CONSTS and not self.postfix \
                        and not self._after_dot:
                    if not self.postfix:
                        expr_start = len(parts)
                    parts.append(self._pg_const_fn(
                        self._PG_KEYWORD_CONSTS[up]))
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "CURRENT_SCHEMAS" and \
                        self._peek(1) == ("punct", "(") and \
                        not self.postfix:
                    # CURRENT_SCHEMAS(include_implicit) →
                    # ['pg_catalog','public'] / ['public']
                    # (sql_test.clj test-qc-array-expr-3539)
                    expr_start = len(parts)
                    self._next()
                    self._skip_ws()
                    self._next()
                    self.postfix = False
                    arg = self._walk(closers=(")",)).strip()
                    if self._peek() == ("punct", ")"):
                        self._next()
                    parts.append(
                        f"if(({arg}), array('pg_catalog', 'public'), "
                        "array('public'))")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "PG_CATALOG" and \
                        self._peek(1) == ("punct", ".") and \
                        self._peek(2)[0] == "word" and \
                        self._peek(3) == ("punct", "(") and \
                        not self.postfix and not self._after_dot:
                    # pg_catalog.fn(...) → fn(...) — the schema
                    # qualifier names the same function set
                    self._next()          # pg_catalog
                    self._skip_ws()
                    self._next()          # .
                    continue
                if up == "STRING_TO_ARRAY" and \
                        self._peek(1) == ("punct", "("):
                    if from_ctx and last_sig in ("FROM", ",", "JOIN"):
                        parts.append(self._array_fn_table(up))
                        self.postfix = False
                        expr_start = None
                        last_sig = ""
                        continue
                    if not self.postfix:
                        expr_start = len(parts)
                    parts.append(self._string_to_array_expr())
                    self.postfix = True
                    last_sig = ""
                    continue
                if up in ("ARRAY_LOWER", "ARRAY_UPPER") and \
                        self._peek(1) == ("punct", "(") and \
                        not self.postfix:
                    # PG array bounds: 1 / size for a non-empty
                    # array, NULL for empty (dim argument ignored —
                    # one-dimensional arrays). Inline, not a SQL UDF:
                    # these appear inside series bounds, which live
                    # under Generate nodes where Spark bans SQL UDFs.
                    expr_start = len(parts)
                    fn = up
                    self._next()
                    self._skip_ws()
                    self._next()
                    self.postfix = False
                    a0 = self._walk(closers=(",", ")")).strip()
                    if self._peek() == ("punct", ","):
                        self._next()
                        self._walk(closers=(")",))   # dim — ignored
                    if self._peek() == ("punct", ")"):
                        self._next()
                    val = "1" if fn == "ARRAY_LOWER" else f"size({a0})"
                    parts.append(
                        f"(CASE WHEN size({a0}) > 0 THEN {val} END)")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "ARRAY" and self._peek(1) == ("punct", "(") \
                        and self._peek(2)[0] == "word" \
                        and self._peek(2)[1].upper() == "SELECT" \
                        and not self.postfix:
                    # PG ARRAY(subquery) constructor → aggregate the
                    # subquery's single select item with array_agg IN
                    # PLACE (no extra nesting level — a correlated
                    # operand must stay one subquery deep for Spark's
                    # decorrelator); empty → [] via coalesce
                    expr_start = len(parts)
                    self._next()          # ARRAY
                    self._skip_ws()
                    self._next()          # (
                    self._skip_ws()
                    self._next()          # SELECT
                    self.postfix = False
                    item = self._walk(
                        closers=(")",),
                        stop_words=("FROM", "WHERE", "GROUP",
                                    "HAVING", "ORDER", "LIMIT",
                                    "OFFSET")).strip()
                    rest = ""
                    if self._peek() != ("punct", ")"):
                        self.postfix = False
                        rest = self._walk(closers=(")",)).strip()
                    if self._peek() == ("punct", ")"):
                        self._next()
                    parts.append(
                        f"coalesce((SELECT array_agg({item}) {rest}), "
                        "array())")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up in ("PG_SLEEP", "PG_SLEEP_FOR") and \
                        self._peek(1) == ("punct", "("):
                    if not self.postfix:
                        expr_start = len(parts)
                    parts.append(self._pg_sleep(up == "PG_SLEEP_FOR"))
                    self.postfix = True
                    last_sig = ""
                    continue
                if (up == "FETCH" and
                        self._peek(1)[1].upper() in ("FIRST", "NEXT")) \
                        or (up == "OFFSET"
                            and self._peek(1)[0] in ("num", "param")):
                    parts.append(self._offset_fetch())
                    if self.i < len(self.toks) and \
                            self._peek() != ("punct", ")"):
                        parts.append(" ")
                    self.postfix = False
                    expr_start = None
                    last_sig = ""
                    continue
                if up in ("WHERE", "HAVING"):
                    # searchCondition: top-level commas = implicit AND
                    parts.append(self._next()[1])
                    parts.append(" ")
                    parts.append(self._search_condition())
                    if self.i < len(self.toks) and \
                            self._peek() != ("punct", ")"):
                        parts.append(" ")
                    self.postfix = False
                    expr_start = None
                    last_sig = ""
                    from_ctx = False
                    continue
                if up in _FROM_FIRST_SUPPRESS:
                    suppress = True
                elif up in ("UNION", "INTERSECT", "EXCEPT"):
                    suppress = False  # next term may be FROM-first
                # UNNEST / generate_series / range TABLE references
                # (Sql.g4:546-547) — only in from-clause position
                if up == "UNNEST" and self._peek(1) == ("punct", "(") \
                        and from_ctx and last_sig in ("FROM", ",", "JOIN"):
                    parts.append(self._unnest_table())
                    self.postfix = False
                    expr_start = None
                    last_sig = ""
                    continue
                if up in ("GENERATE_SERIES", "RANGE") and \
                        self._peek(1) == ("punct", "("):
                    if from_ctx and last_sig in ("FROM", ",", "JOIN"):
                        parts.append(self._series_table(up))
                        self.postfix = False
                        expr_start = None
                        last_sig = ""
                        continue
                    if up == "GENERATE_SERIES" or not self.postfix:
                        # expression form (Sql.g4:292) → array value
                        if not self.postfix:
                            expr_start = len(parts)
                        parts.append(self._series_expr(up))
                        self.postfix = True
                        last_sig = ""
                        continue
                if up == "FROM":
                    from_ctx = True
                elif up in ("WHERE", "GROUP", "HAVING", "SELECT",
                            "ORDER", "LIMIT", "OFFSET", "FETCH",
                            "UNION", "INTERSECT", "EXCEPT", "WINDOW",
                            "SET", "RETURNING"):
                    from_ctx = False
                # infix period predicates: `p1 [STRICTLY|IMMEDIATELY]
                # OVERLAPS/EQUALS/CONTAINS/… p2`
                mod, base = None, up
                if up in ("STRICTLY", "IMMEDIATELY"):
                    nk, nt = self._peek(1)
                    if nk == "word" and nt.upper() in _PERIOD_PREDS:
                        mod, base = up, nt.upper()
                if base in _PERIOD_PREDS and (mod or up in _PERIOD_PREDS) \
                        and self.postfix and expr_start is not None:
                    left = "".join(parts[expr_start:]).strip()
                    del parts[expr_start:]
                    self._next()          # mod or predicate word
                    if mod:
                        self._skip_ws()
                        self._next()      # the predicate word
                    right = self._parse_primary()
                    parts.append(_period_pred_sql(
                        base, mod, left, right,
                        point_bias=self.point_bias))
                    self.postfix = True
                    expr_start = len(parts) - 1
                    continue
                if up in ("LOWER", "UPPER") and \
                        self._peek(1) == ("punct", "(") \
                        and not self.postfix:
                    # LOWER/UPPER on a PERIOD → its bounds (reference
                    # Sql.g4:375-376 periodBoundFunction; sl-demo's
                    # temporal-join projections). String lower/upper
                    # falls through untouched — dispatch is the
                    # textual period-ness of the argument.
                    save = self.i
                    self._next()
                    self._skip_ws()
                    self._next()      # (
                    self.postfix = False
                    arg = self._walk(closers=(")",)).strip()
                    if self._peek() == ("punct", ")"):
                        self._skip_ws()
                        self._next()
                    if not self.postfix:
                        expr_start = len(parts)
                    if _periodish(arg):
                        fld = "_from" if up == "LOWER" else "_to"
                        parts.append(f"({arg}).{fld}")
                    else:
                        parts.append(f"{up.lower()}({arg})")
                    self.postfix = True
                    last_sig = ""
                    continue
                if up == "OVERLAPS" and not self.postfix and \
                        self._peek(1) == ("punct", "("):
                    # n-ary prefix form (Sql.g4:370): TRUE iff all
                    # periods share a common instant
                    self._next()
                    self._skip_ws()
                    self._next()  # (
                    args = []
                    while True:
                        self.postfix = False
                        args.append(self._walk(closers=(",", ")")).strip())
                        if self._peek() == ("punct", ","):
                            self._next()
                            continue
                        break
                    if self._peek() == ("punct", ")"):
                        self._next()
                    starts = ", ".join(_S(a) for a in args)
                    ends = ", ".join(_E(a) for a in args)
                    expr_start = len(parts)
                    parts.append(f"(greatest({starts}) < least({ends}))")
                    self.postfix = True
                    continue
                if up in ("PERIOD", "TSTZRANGE") and \
                        self._peek(1) == ("punct", "(") and not self.postfix:
                    expr_start = len(parts)
                    parts.append(self._period_call())
                    self.postfix = True
                    continue
                if up in ("OBJECT", "RECORD") and self._object_call_ahead():
                    if not self.postfix:
                        expr_start = len(parts)
                    parts.append(self._object_call())
                    self.postfix = True
                    continue
                if up in ("NEST_ONE", "NEST_MANY") and \
                        self._peek(1) == ("punct", "("):
                    if not self.postfix:
                        expr_start = len(parts)
                    parts.append(self._nest(up))
                    self.postfix = True
                    continue
                if up == "RECORDS" and self._records_ahead(1):
                    parts.append(self._records())
                    self.postfix = True
                    expr_start = None
                    continue
                if up == "VALUES":
                    vk = self._values_keyunion()
                    if vk is not None:
                        parts.append(vk)
                        self.postfix = True
                        expr_start = None
                        last_sig = ""
                        continue
            tok = self._next()
            if tok[0] in ("word", "qident", "num", "str") \
                    and not self.postfix and not self._after_dot \
                    and not (tok[0] == "word"
                             and tok[1].upper() in _NON_POSTFIX_WORDS):
                expr_start = len(parts)
            elif tok[0] == "punct" and tok[1] != ".":
                expr_start = None
            parts.append(tok[1])
            self._after_dot = tok == ("punct", ".")
            last_sig = tok[1].upper() if tok[0] == "word" else tok[1]
            if tok[0] == "word":
                self.postfix = tok[1].upper() not in _NON_POSTFIX_WORDS
            elif tok[0] in ("qident", "num", "str"):
                self.postfix = True
            else:
                self.postfix = False
        return "".join(parts)

    def _period_call(self) -> str:
        """PERIOD(a, b) / TSTZRANGE(a, b) constructor (reference
        Sql.g4:371) → the periods.py struct<_from,_to> encoding; one
        argument (or NULL second) = unbounded end."""
        self._next()  # PERIOD | TSTZRANGE
        self._skip_ws()
        self._next()  # (
        self.postfix = False
        a = self._walk(closers=(",", ")")).strip()
        b = "NULL"
        if self._peek() == ("punct", ","):
            self._next()
            self.postfix = False
            b = self._walk(closers=(")",)).strip()
        if self._peek() == ("punct", ")"):
            self._next()
        return (f"named_struct('_from', CAST({a} AS TIMESTAMP), "
                f"'_to', CAST({b} AS TIMESTAMP))")

    def _star_modifiers(self, parts: list[str]) -> str:
        """``[q.]* EXCLUDE a | (a, b) [RENAME a AS b | (a AS b, …)]``
        (reference Sql.g4:659-665 excludeClause/renameClause, executed
        by sql.clj:889-922) → Spark ``[q.]* EXCEPT (…)`` with renamed
        columns re-added as aliased projections.  A RENAME moves the
        column to the end of the star expansion; the reference keeps
        it in place — callers that care about position must list
        columns explicitly (our driver compare is order-insensitive)."""
        # recover an already-emitted qualifier chain (`t.` / `a.b.`)
        # by scanning the output buffer backwards: ws* (. ws* ident)+
        qual = ""
        if self._after_dot:
            ident_re = r'[A-Za-z_]\w*|"(?:[^"]|"")*"|`(?:[^`]|``)*`'
            chain: list[str] = []
            expect = "."
            j = len(parts) - 1
            chain_start = len(parts)
            while j >= 0:
                frag = parts[j]
                if frag.strip() == "":
                    j -= 1
                    continue
                if expect == "." and frag == ".":
                    chain.append(frag)
                    expect = "ident"
                elif expect == "ident" and re.fullmatch(ident_re, frag):
                    chain.append(frag)
                    expect = "."
                else:
                    break
                chain_start = j
                j -= 1
            if chain and expect == ".":  # ended on an ident — valid
                del parts[chain_start:]
                qual = "".join(reversed(chain))

        def _ident_tok() -> str:
            self._skip_ws()
            out = [self._next()[1]]
            while self._peek() == ("punct", ".") :
                self._skip_ws()
                out.append(self._next()[1])  # .
                self._skip_ws()
                out.append(self._next()[1])  # ident
            return "".join(out)

        self._next()  # the *
        excludes: list[str] = []
        renames: list[tuple[str, str]] = []
        self._skip_ws()
        if self._peek()[1].upper() == "EXCLUDE":
            self._next()
            self._skip_ws()
            if self._peek() == ("punct", "("):
                self._next()
                while True:
                    excludes.append(_ident_tok())
                    self._skip_ws()
                    if self._peek() == ("punct", ","):
                        self._next()
                        continue
                    break
                self._skip_ws()
                if self._peek() == ("punct", ")"):
                    self._next()
            else:
                excludes.append(_ident_tok())
        if self._peek()[1].upper() == "RENAME":
            self._skip_ws()
            self._next()

            def _pair() -> tuple[str, str]:
                col = _ident_tok()
                self._skip_ws()
                if self._peek()[1].upper() == "AS":
                    self._next()
                alias = _ident_tok()
                return col, alias

            self._skip_ws()
            if self._peek() == ("punct", "("):
                self._next()
                while True:
                    renames.append(_pair())
                    self._skip_ws()
                    if self._peek() == ("punct", ","):
                        self._next()
                        continue
                    break
                self._skip_ws()
                if self._peek() == ("punct", ")"):
                    self._next()
            else:
                renames.append(_pair())
        hidden = excludes + [c for c, _ in renames]
        out = f"{qual}*"
        if hidden:
            out += " EXCEPT (" + ", ".join(hidden) + ")"
        for col, alias in renames:
            src = col if "." in col else qual + col
            out += f", {src} AS {alias}"
        return out

    _SC_STOPS = ("GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
                 "FETCH", "UNION", "INTERSECT", "EXCEPT", "WINDOW",
                 "SELECT", "RETURNING", "WHERE")

    def _search_condition(self) -> str:
        """searchCondition (Sql.g4:749 ``expr? (',' expr?)*``) —
        top-level commas are implicit AND (sql.clj:1273 wraps the
        exprs in one ``and``); empty slots are skipped."""
        conds: list[str] = []
        while True:
            self.postfix = False
            c = self._walk(closers=(")", ","),
                           stop_words=self._SC_STOPS).strip()
            if c:
                conds.append(c)
            if self._peek() == ("punct", ","):
                self._next()
                continue
            break
        if not conds:
            return ""
        if len(conds) == 1:
            return conds[0]
        return " AND ".join(f"({c})" for c in conds)

    def _offset_fetch(self) -> str:
        """offsetAndLimit (Sql.g4:698-711): ``OFFSET n [ROW|ROWS]``
        and ``FETCH FIRST|NEXT [n] ROW|ROWS ONLY`` (and either
        order, plus the LIMIT spelling) → canonical Spark
        ``LIMIT n OFFSET m`` (Spark only parses that order and has
        no FETCH/ROW-noise forms)."""
        off = lim = None
        off_first = False
        while True:
            k, t = self._peek()
            up = t.upper() if k == "word" else ""
            if up == "OFFSET" and off is None:
                off_first = lim is None
                self._skip_ws()
                self._next()
                self._skip_ws()
                off = self._next()[1]
                if self._peek()[1].upper() in ("ROW", "ROWS"):
                    self._skip_ws()
                    self._next()
            elif up == "FETCH" and lim is None:
                self._skip_ws()
                self._next()          # FETCH
                self._skip_ws()
                self._next()          # FIRST | NEXT
                lim = "1"
                if self._peek()[0] in ("num", "param"):
                    self._skip_ws()
                    lim = self._next()[1]
                if self._peek()[1].upper() in ("ROW", "ROWS"):
                    self._skip_ws()
                    self._next()
                if self._peek()[1].upper() == "ONLY":
                    self._skip_ws()
                    self._next()
            elif up == "LIMIT" and lim is None:
                self._skip_ws()
                self._next()
                self._skip_ws()
                lim = self._next()[1]
            else:
                break
        if off == "?" and lim == "?" and off_first:
            # canonicalizing to LIMIT…OFFSET would swap the two
            # positional bindings — refuse loudly rather than misbind
            raise ValueError(
                "OFFSET ? … FETCH/LIMIT ? cannot be reordered with "
                "positional parameters — write LIMIT ? OFFSET ?")
        out = []
        if lim is not None:
            out.append(f"LIMIT {lim}")
        if off is not None:
            out.append(f"OFFSET {off}")
        return " ".join(out)

    def _from_first(self) -> str:
        """``FROM t [tail …]`` query term where tail = ``WHERE p`` |
        ``[GROUP BY g [HAVING h]] SELECT list`` (Sql.g4:681-693
        queryTail) — each tail wraps the previous relation, exactly
        the reference's left fold (sql.clj:2795-2809).  Trailing
        ORDER BY / LIMIT / set-ops stay in the outer token stream and
        attach to the folded SELECT we emit."""
        self._next()  # FROM
        self.postfix = False
        from_text = self._walk(closers=(")",), stop_words=_FF_STOPS,
                               in_from=True).strip()
        # tails BEFORE the first SELECT tail stay in the same query
        # block (from-clause aliases like `FROM t x WHERE x.a…` must
        # remain in scope — the reference fold is logical, not a
        # textual derived table); tails AFTER a projection wrap it
        conds: list[str] = []
        rel: str | None = None  # closed subquery once projected

        def _where_suffix() -> str:
            return (" WHERE " + " AND ".join(f"({c})" for c in conds)
                    if conds else "")

        while True:
            k, t = self._peek()
            up = t.upper() if k == "word" else ""
            if up == "WHERE":
                self._next()
                cond = self._search_condition()
                if rel is None:
                    conds.append(cond)
                else:
                    self._ff_n += 1
                    rel = (f"SELECT * FROM ({rel}) __xt_ff{self._ff_n} "
                           f"WHERE {cond}")
            elif up in ("GROUP", "HAVING", "SELECT"):
                group = having = None
                if up == "GROUP":
                    self._next()          # GROUP
                    self._skip_ws()
                    self._next()          # BY
                    self.postfix = False
                    group = self._walk(closers=(")",),
                                       stop_words=_FF_STOPS).strip()
                if self._peek()[1].upper() == "HAVING":
                    self._next()
                    having = self._search_condition()
                if self._peek()[1].upper() != "SELECT":
                    raise ValueError(
                        "FROM-first GROUP BY/HAVING tail must be "
                        "followed by SELECT (Sql.g4 queryTail)")
                self._next()              # SELECT
                self.postfix = False
                sel = self._walk(closers=(")",),
                                 stop_words=_FF_STOPS).strip()
                if group is None:
                    # XTDB's implicit GROUP BY (reference plan
                    # semantics; e.g. its own tpch q05/q10/q13/q21/q22
                    # texts): a projection mixing aggregate calls with
                    # plain columns groups by the non-aggregated
                    # expressions — Spark requires the clause spelled
                    # out, so synthesize it
                    group = _implicit_group_by(sel)
                if rel is None:
                    rel = f"SELECT {sel} FROM {from_text}" + _where_suffix()
                    conds = []
                else:
                    self._ff_n += 1
                    rel = f"SELECT {sel} FROM ({rel}) __xt_ff{self._ff_n}"
                if group:
                    rel += f" GROUP BY {group}"
                if having:
                    rel += f" HAVING {having}"
            else:
                break
        if rel is None:
            rel = f"SELECT * FROM {from_text}" + _where_suffix()
        return rel

    # boundary words when capturing an already-emitted LEFT operand
    # backwards out of the output buffer (comparison/infix rewrites)
    _LEFT_STOPS = {
        "AND", "OR", "NOT", "WHERE", "WHEN", "THEN", "ELSE", "CASE",
        "ON", "SELECT", "FROM", "BY", "HAVING", "SET", "RETURNING",
        "IN", "LIKE", "BETWEEN", "IS", "UNION", "INTERSECT", "EXCEPT",
        "ALL", "DISTINCT", "AS",
    }

    def _capture_left(self, parts: list[str]) -> str:
        """Pop the trailing expression off the output buffer: walk
        fragments backwards, balancing parens, stopping at a
        top-level boundary word/comma/comparison punct.  Composite
        constructs were emitted as single fragments, so they ride
        along as atoms."""
        depth = 0
        case_depth = 0   # CASE…END blocks ride along whole
        start = len(parts)
        k = len(parts) - 1
        while k >= 0:
            frag = parts[k]
            fs = frag.strip()
            if fs == "":
                k -= 1
                continue
            if fs == ")":
                depth += 1
            elif fs == "(":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0:
                up = fs.upper() if re.fullmatch(r"[A-Za-z_]\w*", fs) \
                    else None
                if up == "END":
                    case_depth += 1
                elif up == "CASE" and case_depth:
                    case_depth -= 1
                elif case_depth == 0:
                    if fs == "," or fs in ("=", "<", ">", "!"):
                        break
                    if up is not None and up in self._LEFT_STOPS:
                        break
            start = k
            k -= 1
        left = "".join(parts[start:]).strip()
        del parts[start:]
        return left

    def _trailing_comp_op(self, parts: list[str]) -> str | None:
        """Pop a trailing comparison operator (=, <>, !=, <, <=, >,
        >=) off the output buffer, or None."""
        puncts: list[str] = []
        k = len(parts) - 1
        while k >= 0 and len(puncts) < 2:
            fs = parts[k].strip()
            if fs == "":
                k -= 1
                continue
            if fs in ("=", "<", ">", "!"):
                puncts.append(fs)
                k -= 1
                continue
            break
        op = "".join(reversed(puncts))
        if op not in ("=", "<>", "!=", "<", "<=", ">", ">="):
            return None
        del parts[k + 1:]
        return "<>" if op == "!=" else op

    def _quantified(self, parts: list[str], quant: str) -> str:
        """``E op ANY|SOME|ALL (subquery)`` (Sql.g4:245; the
        reference lowers ALL to NOT(negated-op ANY) over a mark-join,
        sql.clj:2127-2151) — Spark has no quantified comparisons, so
        lower to 3VL-faithful combinations of IN / scalar aggregates
        over the subquery (empty → ANY false / ALL true; NULLs in
        either operand → UNKNOWN where the standard says so).  E is
        re-emitted verbatim (possibly several times) — side-effecting
        expressions are not a concern in this pure dialect."""
        op = self._trailing_comp_op(parts)
        if op is None:          # not a quantified comparison after all
            raise ValueError("quantifier without comparison operator")
        e = self._capture_left(parts)
        self._next()            # ANY | SOME | ALL
        self._skip_ws()
        self._next()            # (
        self.postfix = False
        q = self._walk(closers=(")",), allow_query=True).strip()
        if self._peek() == ("punct", ")"):
            self._next()
        is_all = quant == "ALL"
        if not re.match(r"\s*(?:\(|(?:SELECT|WITH|VALUES|FROM|XTQL"
                        r"|RECORDS|TABLE)\b)", q, re.IGNORECASE):
            # array operand (sql.clj:2155 QuantifiedComparisonExpr —
            # the postgres `= ANY(array)` form): Spark's exists/forall
            # higher-order functions follow 3VL natively.  The \b
            # keeps columns like `selections` out of the subquery arm.
            fn = "forall" if is_all else "exists"
            return f"{fn}({q}, __xt_sv -> ({e}) {op} __xt_sv)"
        strip_lits = (lambda s: re.sub(r"'(?:[^']|'')*'", "", s))
        if "?" in strip_lits(q) or "?" in strip_lits(e):
            # the lowering re-emits both sides several times, which
            # would duplicate positional parameters and shift every
            # later ?-binding — refuse loudly rather than misbind
            raise ValueError(
                "positional ? parameters inside a quantified "
                "comparison are not supported — inline the value or "
                "use a temp view for the subquery")
        self._ff_n += 1
        n = self._ff_n

        def agg(expr: str) -> str:
            return f"(SELECT {expr} FROM ({q}) __xtq{n}(__v))"

        cnt, nn = agg("COUNT(*)"), agg("COUNT(__v)")
        null_b = "CAST(NULL AS BOOLEAN)"
        if op == "=" and not is_all:
            # Spark's IN-subquery is semi-join-shaped (no-match +
            # NULL in the subquery yields FALSE, not UNKNOWN) — wrap
            # it to restore the standard's 3VL
            return (f"(CASE WHEN {cnt} = 0 THEN FALSE "
                    f"WHEN ({e}) IN ({q}) THEN TRUE "
                    f"WHEN ({e}) IS NULL OR {cnt} > {nn} THEN {null_b} "
                    f"ELSE FALSE END)")
        if op == "<>" and is_all:
            return (f"(CASE WHEN {cnt} = 0 THEN TRUE "
                    f"WHEN ({e}) IN ({q}) THEN FALSE "
                    f"WHEN ({e}) IS NULL OR {cnt} > {nn} THEN {null_b} "
                    f"ELSE TRUE END)")
        if op in ("=", "<>"):
            ndv, only = agg("COUNT(DISTINCT __v)"), agg("MAX(__v)")
            if op == "<>":      # <> ANY
                return (f"(CASE WHEN {cnt} = 0 THEN FALSE "
                        f"WHEN ({e}) IS NULL THEN {null_b} "
                        f"WHEN {ndv} >= 2 THEN TRUE "
                        f"WHEN {ndv} = 1 AND ({e}) <> {only} THEN TRUE "
                        f"WHEN {cnt} > {nn} OR {nn} = 0 THEN {null_b} "
                        f"ELSE FALSE END)")
            return (f"(CASE WHEN {cnt} = 0 THEN TRUE "  # = ALL
                    f"WHEN ({e}) IS NULL THEN {null_b} "
                    f"WHEN {ndv} >= 2 THEN FALSE "
                    f"WHEN {ndv} = 1 AND ({e}) <> {only} THEN FALSE "
                    f"WHEN {cnt} > {nn} THEN {null_b} "
                    f"ELSE TRUE END)")
        if not is_all:          # ordering op ANY
            m = agg("MIN(__v)" if op in (">", ">=") else "MAX(__v)")
            return (f"(CASE WHEN {cnt} = 0 THEN FALSE "
                    f"WHEN ({e}) {op} {m} THEN TRUE "
                    f"WHEN ({e}) IS NULL OR {cnt} > {nn} OR {nn} = 0 "
                    f"THEN {null_b} ELSE FALSE END)")
        m = agg("MAX(__v)" if op in (">", ">=") else "MIN(__v)")
        return (f"(CASE WHEN {cnt} = 0 THEN TRUE "
                f"WHEN NOT(({e}) {op} {m}) THEN FALSE "
                f"WHEN ({e}) IS NULL OR {cnt} > {nn} THEN {null_b} "
                f"ELSE TRUE END)")

    def _between_symmetric(self, parts: list[str]) -> str:
        """``E [NOT] BETWEEN SYMMETRIC a AND b`` (Sql.g4:218) —
        bounds apply in either order."""
        neg = False
        k = len(parts) - 1
        while k >= 0 and parts[k].strip() == "":
            k -= 1
        if k >= 0 and parts[k].strip().upper() == "NOT":
            neg = True
            del parts[k:]
        e = self._capture_left(parts)
        self._next()            # BETWEEN
        self._skip_ws()
        self._next()            # SYMMETRIC
        stops = ("AND",)
        self.postfix = False
        a = self._walk(closers=(")", ","), stop_words=stops).strip()
        self._next()            # AND
        self.postfix = False
        b = self._walk(closers=(")", ","),
                       stop_words=("AND", "OR", "AS", "FROM", "WHERE",
                                   "GROUP", "ORDER", "HAVING", "LIMIT",
                                   "OFFSET", "FETCH", "THEN", "ELSE",
                                   "END", "WHEN", "UNION", "INTERSECT",
                                   "EXCEPT")).strip()
        out = (f"(({e}) BETWEEN ({a}) AND ({b}) "
               f"OR ({e}) BETWEEN ({b}) AND ({a}))")
        return f"(NOT {out})" if neg else out

    def _like_regex(self, parts: list[str]) -> str:
        """``E [NOT] LIKE_REGEX pat [FLAG f]`` (Sql.g4:221) →
        regexp_like, flags spliced as an inline ``(?f)`` group."""
        neg = False
        k = len(parts) - 1
        while k >= 0 and parts[k].strip() == "":
            k -= 1
        if k >= 0 and parts[k].strip().upper() == "NOT":
            neg = True
            del parts[k:]
        e = self._capture_left(parts)
        self._next()            # LIKE_REGEX
        pat = self._rhs_operand(extra=("FLAG",))
        flag = None
        if self._peek()[1].upper() == "FLAG":
            self._skip_ws()
            self._next()
            flag = self._rhs_operand()
        if flag is not None:
            pat = f"concat('(?', {flag}, ')', {pat})"
        out = f"regexp_like({e}, {pat})"
        return f"(NOT {out})" if neg else out

    def _rhs_operand(self, extra: tuple = ()) -> str:
        """Right operand of an infix rewrite (regex pattern, flag):
        a full expression up to the next top-level boundary word, so
        concatenations like ``~ 'a' || 'b'`` stay whole (PG gives
        ``||`` higher precedence than the regex operators)."""
        self.postfix = False
        return self._walk(
            closers=(")", ","),
            stop_words=("AND", "OR", "AS", "FROM", "WHERE", "GROUP",
                        "ORDER", "HAVING", "LIMIT", "OFFSET", "FETCH",
                        "THEN", "ELSE", "END", "WHEN", "UNION",
                        "INTERSECT", "EXCEPT") + extra).strip()

    def _pg_regex_op(self, parts: list[str]) -> str:
        """Postgres regex operators ``~  ~*  !~  !~*`` (Sql.g4:222
        PostgresRegexPredicate) → regexp_like."""
        neg = False
        k = len(parts) - 1
        while k >= 0 and parts[k].strip() == "":
            k -= 1
        if k >= 0 and parts[k].strip() == "!":
            neg = True
            del parts[k:]
        e = self._capture_left(parts)
        self._next()            # ~
        ci = False
        if self._peek() == ("punct", "*"):
            self._skip_ws()
            self._next()
            ci = True
        pat = self._rhs_operand()
        if ci:
            pat = f"concat('(?i)', {pat})"
        out = f"regexp_like({e}, {pat})"
        return f"(NOT {out})" if neg else out

    # pg-compat callables the reference hard-wires (sql.clj:1792-1797,
    # 2228-2234): privilege predicates are TRUE (single-user),
    # pg_get_expr/_pg_expandarray/pg_get_indexdef are NULL,
    # pg_table_is_visible TRUE, pg_get_userbyid the server user
    # keyword-style session constants (parens optional; reference
    # expression.clj postgres compat: the catalog/user are fixed node
    # identity, sql_test.clj test-current-catalog)
    _PG_KEYWORD_CONSTS = {
        "CURRENT_CATALOG": "'xtdb'",
        "CURRENT_USER": "'xtdb'",
        "SESSION_USER": "'xtdb'",
        "CURRENT_SCHEMA": "'public'",
    }

    _PG_CONST_FNS = {
        "HAS_ANY_COLUMN_PRIVILEGE": "TRUE",
        "HAS_TABLE_PRIVILEGE": "TRUE",
        "HAS_SCHEMA_PRIVILEGE": "TRUE",
        "PG_TABLE_IS_VISIBLE": "TRUE",
        "PG_GET_EXPR": "CAST(NULL AS STRING)",
        "_PG_EXPANDARRAY": "CAST(NULL AS STRING)",
        "PG_GET_INDEXDEF": "CAST(NULL AS STRING)",
        "PG_GET_USERBYID": "'xtdb'",
        "VERSION": "'PostgreSQL 16'",
    }

    def _pg_const_fn(self, const: str) -> str:
        """Swallow ``fn(args…)`` and emit the reference's constant.
        Bare-keyword spellings (CURRENT_CATALOG) keep their trailing
        whitespace — _peek looks past it without consuming."""
        self._next()            # the function word
        if self._peek() == ("punct", "("):
            self._skip_ws()
            self._next()
            self.postfix = False
            self._walk(closers=(")",))   # discard args
            if self._peek() == ("punct", ")"):
                self._next()
        return const

    def _pg_sleep(self, for_form: bool) -> str:
        """pg_sleep(seconds) / pg_sleep_for(interval) — the reference
        really sleeps (sql.clj:1798-1803); lower to a JVM static call
        so SELECT pg_sleep(1) blocks like postgres."""
        self._next()
        self._skip_ws()
        self._next()            # (
        self.postfix = False
        arg = self._walk(closers=(")",)).strip()
        if self._peek() == ("punct", ")"):
            self._next()
        ms = (f"unix_millis(CAST('1970-01-01 00:00:00' AS TIMESTAMP) "
              f"+ ({arg}))" if for_form
              else f"CAST(({arg}) * 1000 AS BIGINT)")
        return (f"nullif(java_method('java.lang.Thread', 'sleep', "
                f"{ms}), 'void')")

    _ISO_DUR_RE = re.compile(
        r"^([+-]?)P(?:([+-]?\d+)Y)?(?:([+-]?\d+)M)?(?:([+-]?\d+)W)?"
        r"(?:([+-]?\d+)D)?(?:T(?:([+-]?\d+)H)?(?:([+-]?\d+)M)?"
        r"(?:([+-]?\d+(?:\.\d+)?)S)?)?$",
        re.IGNORECASE)

    @classmethod
    def _iso_interval_sql(cls, iso: str) -> str:
        """ISO-8601 duration string → a Spark interval literal.
        The reference parses these natively (sql.clj:992
        parse-duration-literal / temporal.clj:667 PeriodDuration);
        Spark splits year-month from day-time interval types, so a
        MIXED duration (months AND days/time) has no single Spark
        value — rejected with guidance."""
        m = cls._ISO_DUR_RE.match(iso.strip())
        if not m or iso.strip().upper().lstrip("+-") in ("P", ""):
            raise ValueError(f"cannot parse ISO duration {iso!r}")
        sign, y, mo, w, d, h, mi, s = m.groups()
        neg = -1 if sign == "-" else 1
        ym = neg * (12 * int(y or 0) + int(mo or 0))
        # components may carry individual signs (reference
        # PeriodDuration: 'P3M2DT-3S'); fold day-time to one total
        us = neg * round(1_000_000 * (
            86400 * (int(d or 0) + 7 * int(w or 0))
            + 3600 * int(h or 0) + 60 * int(mi or 0) + float(s or 0)))
        if ym and us:
            # mixed year-month + day-time has no single TYPED Spark
            # interval — the legacy multi-unit literal builds a
            # CalendarInterval, which sequence()/timestamp addition
            # accept (comparisons don't, matching the reference's
            # non-comparable PeriodDuration)
            dsign = -1 if us < 0 else 1
            days, rem = divmod(abs(us), 86400 * 1_000_000)
            whole, frac = divmod(rem, 1_000_000)
            sec_txt = f"{whole}.{frac:06d}".rstrip("0").rstrip(".") \
                if frac else str(whole)
            return (f"INTERVAL {ym} MONTH {dsign * days} DAY "
                    f"{'-' if dsign < 0 else ''}{sec_txt} SECOND")
        if ym:
            a = abs(ym)
            pre = "-" if ym < 0 else ""
            return f"INTERVAL '{pre}{a // 12}-{a % 12}' YEAR TO MONTH"
        # pure day-time (possibly zero): normalize the magnitude into
        # Spark's capped day-time string fields
        a = abs(us)
        days, rem = divmod(a, 86400 * 1_000_000)
        hh, rem = divmod(rem, 3600 * 1_000_000)
        mm, rem = divmod(rem, 60 * 1_000_000)
        ss, frac = divmod(rem, 1_000_000)
        s_fmt = f"{ss:02d}.{frac:06d}".rstrip("0").rstrip(".") \
            if frac else f"{ss:02d}"
        pre = "-" if us < 0 else ""
        return (f"INTERVAL '{pre}{days} {hh:02d}:{mm:02d}:{s_fmt}' "
                f"DAY TO SECOND")

    @staticmethod
    def _stride_us(interval_sql: str) -> str:
        """An interval expression's width in epoch microseconds
        (exact for day-time intervals — the only strides a fixed
        bin grid admits)."""
        return ("unix_micros(CAST('1970-01-01 00:00:00' AS TIMESTAMP)"
                f" + ({interval_sql}))")

    @classmethod
    def _range_bins_sql(cls, iv: str, p: str, origin: str | None) -> str:
        """The reference's range_bins(stride, period[, origin])
        (expression/temporal.clj:2109 emit-range-bins) as ONE inline
        expression: the origin-aligned bins overlapping the period
        [from, to), each carrying the fraction of the period it
        covers. Inline (no SQL UDF) because the call site is usually
        under UNNEST — a Generate node, where Spark forbids SQL
        UDFs. Truncating DIV mirrors the reference's quot; NULL
        period bounds (open periods) propagate to a NULL list."""
        s = cls._stride_us(iv)
        f = f"unix_micros(({p})._from)"
        t = f"unix_micros(({p})._to)"
        o = f"unix_micros(({origin}))" if origin is not None else "0"
        base = f"((({f}) - {o}) DIV ({s})) * ({s}) + {o}"
        n1 = (f"((((({t}) - {o} - 1) DIV ({s})) + 1)"
              f" - ((({f}) - {o}) DIV ({s}))) - 1")
        return (
            f"transform(sequence(CAST(0 AS BIGINT), {n1}), "
            f"i -> named_struct("
            f"'_from', timestamp_micros(({base}) + i * ({s})), "
            f"'_to', timestamp_micros(({base}) + (i + 1) * ({s})), "
            f"'_weight', CAST(least(({base}) + (i + 1) * ({s}), {t})"
            f" - greatest(({base}) + i * ({s}), {f}) AS DOUBLE)"
            f" / CAST(({t}) - ({f}) AS DOUBLE)))")

    def _iso_interval_literal(self) -> str:
        self._next()            # INTERVAL
        self._skip_ws()
        raw = self._next()[1]   # the quoted string
        iso = raw[1:-1].replace("''", "'")
        self._last_iso_raw = iso
        return self._iso_interval_sql(iso)

    def _cast_call(self) -> str:
        """CAST(expr AS type) with the XTDB-only types mapped:
        URI → STRING (tagged string in the reference, types.clj),
        DURATION[(p)] → INTERVAL DAY TO SECOND.  Everything else
        re-emits unchanged."""
        self._next()            # CAST
        self._skip_ws()
        self._next()            # (
        self.postfix = False
        expr = self._walk(closers=(")",), stop_words=("AS",))
        if self._peek()[1].upper() == "AS":
            self._skip_ws()
            self._next()
        # Raw token copy for the type — _walk would fire the
        # ARRAY[…] literal branch on sized-array type spellings
        # (INT ARRAY[5]), hiding them from _map_type.
        depth = 0
        typ_parts: list[str] = []
        while self.i < len(self.toks):
            # raw current token, NOT _peek() (which skips whitespace
            # without advancing — pairing it with _next() here left a
            # space-separated closing paren unconsumed, so spaced
            # `CAST ( x AS t )` re-emitted the `)` twice)
            k, t = self.toks[self.i]
            if k == "punct" and t == ")" and depth == 0:
                self._next()
                break
            depth += (k == "punct" and t in "([")
            depth -= (k == "punct" and t in ")]")
            typ_parts.append(self._next()[1])
        typ = self._map_type("".join(typ_parts).strip())
        return f"CAST({expr.strip()} AS {typ})"

    @classmethod
    def _map_type(cls, typ: str) -> str:
        """XTDB dataType spellings → Spark (Sql.g4:181-196): URI →
        STRING, DURATION → day-time interval, ``t ARRAY`` →
        ``ARRAY<t>``, ``ROW(a t, …)`` → ``STRUCT<a: t, …>``."""
        t = typ.strip()
        up = t.upper().replace(" ", "")
        if up == "URI":
            return "STRING"
        if up in ("VARCHAR", "TEXT", "CHAR"):
            return "STRING"   # CharacterStringType, Sql.g4:185 —
            #                   Spark needs a length on bare VARCHAR
        if up in ("DECIMAL", "NUMERIC", "DEC"):
            # bare DECIMAL is arbitrary-precision in the reference
            # (value keeps its own scale); Spark's bare spelling is
            # DECIMAL(10,0), which TRUNCATES — widest typed form
            return "DECIMAL(38,18)"
        if up == "TIME" or re.fullmatch(r"TIME\(\d+\)", up):
            return "INTERVAL HOUR TO SECOND"
        if up == "DURATION" or re.fullmatch(r"DURATION\(\d+\)", up):
            return "INTERVAL DAY TO SECOND"
        m = re.fullmatch(r"(.*?)\s+ARRAY(?:\s*\[\s*\d+\s*\])?", t,
                         re.IGNORECASE | re.DOTALL)
        if m:
            return f"ARRAY<{cls._map_type(m.group(1))}>"
        m = re.fullmatch(r"ROW\s*\((.*)\)", t, re.IGNORECASE | re.DOTALL)
        if m:
            fields = []
            depth = 0
            cur = ""
            for ch in m.group(1) + ",":
                if ch == "," and depth == 0:
                    fields.append(cur.strip())
                    cur = ""
                    continue
                depth += ch in "(<["
                depth -= ch in ")>]"
                cur += ch
            cols = []
            for f in fields:
                if not f:
                    continue
                name, _, ft = f.partition(" ")
                cols.append(f"{name}: {cls._map_type(ft)}")
            return "STRUCT<" + ", ".join(cols) + ">"
        return t

    _TBL_ALIAS_STOP = {
        "WHERE", "GROUP", "HAVING", "SELECT", "ORDER", "LIMIT",
        "OFFSET", "FETCH", "UNION", "INTERSECT", "EXCEPT", "WINDOW",
        "ON", "USING", "JOIN", "LEFT", "RIGHT", "FULL", "INNER",
        "OUTER", "CROSS", "NATURAL", "FOR", "WITH", "SET", "RETURNING",
    }

    def _table_alias_part(self) -> tuple[str | None, list[str]]:
        """Optional ``[AS] alias [(col, …)]`` after a derived table."""
        alias = None
        cols: list[str] = []
        k, t = self._peek()
        if k == "word" and t.upper() == "AS":
            self._skip_ws()
            self._next()
            k, t = self._peek()
        if k in ("word", "qident") and t.upper() not in self._TBL_ALIAS_STOP:
            self._skip_ws()
            alias = self._next()[1]
            if self._peek() == ("punct", "("):
                self._skip_ws()
                self._next()
                while True:
                    self._skip_ws()
                    cols.append(self._next()[1])
                    self._skip_ws()
                    if self._peek() == ("punct", ","):
                        self._next()
                        continue
                    break
                if self._peek() == ("punct", ")"):
                    self._next()
        return alias, cols

    def _with_ordinality_ahead(self) -> bool:
        if self._peek()[1].upper() == "WITH" and \
                self._peek(1)[1].upper() == "ORDINALITY":
            self._skip_ws()
            self._next()
            self._skip_ws()
            self._next()
            return True
        return False

    def _unnest_table(self) -> str:
        """``UNNEST(expr) [WITH ORDINALITY] [AS] a [(v[, o])]``
        (Sql.g4:546 CollectionDerivedTable; operator/unnest.clj —
        ordinality is 1-based) → ``LATERAL explode`` / a LATERAL
        posexplode subquery that re-bases the ordinal.  When no
        column list is given the columns are named ``unnest`` /
        ``ordinality`` (the reference generates inaccessible gensyms
        there — a stable name is strictly more usable)."""
        self._next()          # UNNEST
        self._skip_ws()
        self._next()          # (
        self.postfix = False
        expr = self._walk(closers=(")",)).strip()
        if self._peek() == ("punct", ")"):
            self._next()
        # a NULL / absent-column operand yields NO rows (reference
        # unnest.clj skips null collections); Spark's explode(NULL)
        # is an analysis error instead
        expr = f"coalesce({expr}, array())"
        ordinality = self._with_ordinality_ahead()
        alias, cols = self._table_alias_part()
        self._ff_n += 1
        alias = alias or f"__xt_un{self._ff_n}"
        v = cols[0] if cols else "unnest"
        if not ordinality:
            return f"LATERAL explode({expr}) {alias}({v})"
        o = cols[1] if len(cols) > 1 else "ordinality"
        return (f"LATERAL (SELECT {v}, __xt_pos + 1 AS {o} "
                f"FROM posexplode({expr}) __xt_pe{self._ff_n}"
                f"(__xt_pos, {v})) AS {alias}")

    def _string_to_array_expr(self) -> str:
        """string_to_array(s, d) → PG semantics over Spark split:
        '' → empty array, NULL string → NULL; the delimiter is a
        LITERAL (regex-quoted)."""
        self._next()          # STRING_TO_ARRAY
        self._skip_ws()
        self._next()          # (
        self.postfix = False
        src = self._walk(closers=(",", ")")).strip()
        delim = "','"
        if self._peek() == ("punct", ","):
            self._next()
            self.postfix = False
            delim = self._walk(closers=(")",)).strip()
        if self._peek() == ("punct", ")"):
            self._next()
        return (f"(CASE WHEN ({src}) = '' THEN array() "
                f"ELSE split({src}, "
                f"concat('\\Q', {delim}, '\\E')) END)")

    def _array_fn_table(self, fn: str) -> str:
        """An array-valued function call in FROM position
        (sql_test.clj string_to_array TVF usage) → LATERAL explode,
        with the same WITH ORDINALITY shape as UNNEST."""
        expr = self._string_to_array_expr()
        ordinality = self._with_ordinality_ahead()
        alias, cols = self._table_alias_part()
        self._ff_n += 1
        alias = alias or f"__xt_af{self._ff_n}"
        v = cols[0] if cols else fn.lower()
        expr = f"coalesce({expr}, array())"
        if not ordinality:
            return f"LATERAL explode({expr}) {alias}({v})"
        o = cols[1] if len(cols) > 1 else "ordinality"
        return (f"LATERAL (SELECT {v}, __xt_pos + 1 AS {o} "
                f"FROM posexplode({expr}) __xt_pe{self._ff_n}"
                f"(__xt_pos, {v})) AS {alias}")

    def _series_args(self) -> list[str]:
        self._next()          # GENERATE_SERIES | RANGE
        self._skip_ws()
        self._next()          # (
        args, zones, isos = [], [], []
        while True:
            self.postfix = False
            self._last_lit_zone = None
            self._last_iso_raw = None
            args.append(self._walk(closers=(",", ")")).strip())
            zones.append(getattr(self, "_last_lit_zone", None))
            isos.append(getattr(self, "_last_iso_raw", None))
            if self._peek() == ("punct", ","):
                self._next()
                continue
            break
        if self._peek() == ("punct", ")"):
            self._next()
        self._series_meta = (zones, isos)
        return args

    def _series_zone(self, args: list[str]) -> str | None:
        """Zone for calendar stepping: when BOTH bounds are
        `[Zone]`-bracketed literals of the SAME zone and the step's
        ISO form has a calendar part (days/weeks/months/years — a
        java.time Period, which ZonedDateTime adds in LOCAL time,
        reference sql.clj temporal literals), the series must step
        in that zone: 2020-03-29 London crosses a DST gap, so local
        midnights are NOT 24h apart as instants
        (generate_series_test.clj). Pure PT… durations are instant
        arithmetic — zone-independent — and plain bounds step in
        UTC as before."""
        zones, isos = getattr(self, "_series_meta", ([], []))
        if len(args) != 3 or len(zones) < 2:
            return None
        if not zones[0] or zones[0] != zones[1]:
            return None
        iso = isos[2] if len(isos) > 2 else None
        if not iso:
            return None
        m = re.match(r"[+-]?P([^T]*)", iso.strip(), re.IGNORECASE)
        return zones[0] if m and m.group(1).strip() else None

    @staticmethod
    def _guarded_seq(args: list[str], exclude_end: bool = False) -> str:
        """``sequence`` with the reference's direction semantics
        (generate_series_test.clj: generate_series(10, 3) → [], and a
        step whose sign opposes the direction → [] — Spark's
        ``sequence`` instead auto-descends / throws).  Built so the
        inner ``sequence`` call is valid for ANY argument values
        (Catalyst constant-folds foldable sub-expressions even in
        never-taken CASE branches, so a guarded-but-invalid literal
        call would still throw at plan time): the bounds are
        normalized to a valid call, and the guard lives in a
        ``filter`` predicate that drops every element when the
        direction is wrong.

        Every argument expression is emitted EXACTLY ONCE, bound into
        a one-element struct array and consumed through lambdas — so
        positional ``?`` parameters keep their count and order
        (rewrite_with_args's contract) and non-deterministic
        arguments are evaluated once, not per guard re-reference.
        ``exclude_end`` folds range()'s exclusive upper bound into
        the same lambda (only the end bound can ever equal an
        element: sequence values are strictly monotone)."""
        a = f"({args[0]})"
        if len(args) == 1:
            # [a] (or [] for range(a), whose end == its only element)
            return f"slice(array({a}), 1, 0)" if exclude_end \
                else f"array({a})"
        b = f"({args[1]})"
        if len(args) == 2:
            keep = "__xt_g.lo <= __xt_g.hi"
            if exclude_end:
                keep += " AND __xt_gv <> __xt_g.hi"
            return (f"flatten(transform(array(struct({a} AS lo, "
                    f"{b} AS hi)), __xt_g -> "
                    f"filter(sequence(least(__xt_g.lo, __xt_g.hi), "
                    f"greatest(__xt_g.lo, __xt_g.hi)), "
                    f"__xt_gv -> {keep})))")
        s = f"({args[2]})"
        mixed = re.match(
            r"^\(?\s*INTERVAL\s+(-?\d+)\s+MONTH\s+(-?\d+)\s+DAY\s+"
            r"(-?[\d.]+)\s+SECOND\s*\)?$", args[2].strip(),
            re.IGNORECASE)
        if mixed:
            # mixed year-month + day-time step (reference
            # PeriodDuration, e.g. 'P3M2DT3S'): ANSI Spark has no
            # single interval value for it, so step by INDEX —
            # element n = lo + n*months + n*day-time — over an index
            # range bounded by the step's minimum width (28-day
            # months), filtered back to <= hi. Positive steps only
            # (the mixed-negative case has no reference coverage);
            # empty when lo > hi, like the guarded sequence.
            ym = int(mixed.group(1))
            dt_us = round(1_000_000 * (86400 * int(mixed.group(2))
                                       + float(mixed.group(3))))
            if ym > 0 and dt_us >= 0:
                min_us = ym * 28 * 86400 * 1_000_000 + dt_us
                keep = "__xt_gv <= __xt_g.hi"
                if exclude_end:
                    keep += " AND __xt_gv <> __xt_g.hi"
                return (
                    "flatten(transform(array(struct("
                    f"CAST({a} AS TIMESTAMP) AS lo, "
                    f"CAST({b} AS TIMESTAMP) AS hi)), __xt_g -> "
                    "filter(transform(sequence(CAST(0 AS BIGINT), "
                    "greatest(CAST(0 AS BIGINT), "
                    "(unix_micros(__xt_g.hi) - unix_micros(__xt_g.lo))"
                    f" DIV {min_us})), "
                    "__xt_n -> __xt_g.lo "
                    f"+ make_ym_interval(0, CAST({ym} * __xt_n AS INT))"
                    f" + make_dt_interval(0, 0, 0, "
                    f"CAST({dt_us} * __xt_n AS DOUBLE) / 1000000.0)), "
                    f"__xt_gv -> {keep})))")
        # a step with a day-time component over DATE bounds: the
        # reference recasts the bounds to timestamps and emits
        # timestamps (temporal.clj generate_series :date :date
        # :interval → month-day-micro recall-with-cast3); Spark's
        # sequence instead errors on sub-day steps over dates. The
        # cast is a no-op on timestamp bounds, and non-temporal
        # bounds never take interval steps.
        if re.match(r"\(?\s*INTERVAL\b", args[2], re.IGNORECASE) and \
                re.search(r"\b(DAY|HOUR|MINUTE|SECOND)\b", args[2],
                          re.IGNORECASE):
            a = f"CAST({a} AS TIMESTAMP)"
            b = f"CAST({b} AS TIMESTAMP)"
        cond = ("(__xt_g.lo <= __xt_g.hi AND "
                "__xt_g.lo + __xt_g.st > __xt_g.lo) OR "
                "(__xt_g.lo >= __xt_g.hi AND "
                "__xt_g.lo + __xt_g.st < __xt_g.lo)")
        keep = cond
        if exclude_end:
            keep = f"({cond}) AND __xt_gv <> __xt_g.hi"
        return (f"flatten(transform(array(struct({a} AS lo, {b} AS hi, "
                f"{s} AS st)), __xt_g -> "
                f"filter(sequence(__xt_g.lo, "
                f"if({cond}, __xt_g.hi, __xt_g.lo), __xt_g.st), "
                f"__xt_gv -> {keep})))")

    def _zoned_seq(self, args: list[str], zone: str | None,
                   exclude_end: bool = False) -> str:
        if zone is None:
            return self._guarded_seq(args, exclude_end=exclude_end)
        z = zone.replace("'", "''")
        local = [
            f"convert_timezone('UTC', '{z}', CAST(({args[0]}) "
            "AS TIMESTAMP))",
            f"convert_timezone('UTC', '{z}', CAST(({args[1]}) "
            "AS TIMESTAMP))",
            args[2]]
        seq = self._guarded_seq(local, exclude_end=exclude_end)
        return (f"transform({seq}, __xt_z -> "
                f"convert_timezone('{z}', 'UTC', __xt_z))")

    def _series_table(self, fn: str) -> str:
        """``generate_series(a, b[, s])`` / ``range(a, b[, s])`` as a
        TABLE reference (Sql.g4:547 GenerateSeriesTable):
        generate_series includes the end bound, range excludes it
        (DuckDB-compatible split the reference grammar mirrors via
        the two spellings; temporal.clj's include-end? flag).  Both
        lower to ``explode(sequence(…))`` — sequence only emits the
        bound when the step lands on it exactly, so range's exclusion
        is a ``<> bound`` filter, direction-agnostic."""
        args = self._series_args()
        zone = self._series_zone(args)
        ordinality = self._with_ordinality_ahead()
        alias, cols = self._table_alias_part()
        self._ff_n += 1
        alias = alias or f"__xt_gs{self._ff_n}"
        v = cols[0] if cols else "generate_series"
        # range's end-exclusion rides inside the guarded lambda so
        # the end-bound expression (possibly a positional ?) is never
        # re-emitted
        seq = self._zoned_seq(args, zone,
                              exclude_end=fn != "GENERATE_SERIES")
        if not ordinality:
            return f"LATERAL explode({seq}) {alias}({v})"
        o = cols[1] if len(cols) > 1 else "ordinality"
        return (f"LATERAL (SELECT {v}, __xt_pos + 1 AS {o} "
                f"FROM posexplode({seq}) __xt_pe{self._ff_n}"
                f"(__xt_pos, {v})) AS {alias}")

    def _series_expr(self, fn: str) -> str:
        """Expression form (Sql.g4:292 GenerateSeriesFunction) →
        an array value: ``sequence(…)``, with range's exclusive end
        as an ``array filter``."""
        args = self._series_args()
        return self._zoned_seq(args, self._series_zone(args),
                               exclude_end=fn != "GENERATE_SERIES")

    def _parse_primary(self) -> str:
        """One primary expression (right operand of an infix period
        predicate): literal / identifier chain / constructor /
        parenthesized group, plus call/subscript/field continuations."""
        self._skip_ws()
        k, t = self._peek()
        if k == "punct" and t == "{":
            base = self._object_literal()
        elif k == "punct" and t == "[":
            base = self._array_literal()
        elif k == "punct" and t == "(":
            self._next()
            self.postfix = False
            inner = self._walk(closers=(")",))
            if self._peek() == ("punct", ")"):
                self._next()
            base = "(" + inner + ")"
        elif k == "word" and t.upper() in ("OBJECT", "RECORD") \
                and self._object_call_ahead():
            base = self._object_call()
        elif k == "word" and t.upper() in ("PERIOD", "TSTZRANGE") \
                and self._peek(1) == ("punct", "("):
            base = self._period_call()
        elif k == "word" and t.upper() in ("TIMESTAMP", "DATE") \
                and self._peek(1)[0] == "str":
            w = self._next()[1]
            self._skip_ws()
            base = f"{w} {self._next()[1]}"
        elif k in ("word", "qident", "num", "str"):
            base = self._next()[1]
        else:
            raise ValueError(
                f"expected expression after period predicate, got {t!r}")
        while True:
            nk, nt = self._peek()
            if nk == "punct" and nt == ".":
                self._skip_ws()
                self._next()  # the dot
                self._skip_ws()
                fk, _ = self._peek()
                if fk not in ("word", "qident"):
                    raise ValueError("malformed field access")
                base += "." + self._next()[1]
                continue
            if nk == "punct" and nt in ("(", "["):
                close = ")" if nt == "(" else "]"
                self._skip_ws()
                self._next()  # the opener
                self.postfix = False
                inner = self._walk(closers=(close,))
                if self._peek() == ("punct", close):
                    self._next()
                base += nt + inner + close
                continue
            break
        self.postfix = True
        return base

    # -- object constructors

    def _object_call_ahead(self) -> bool:
        """OBJECT( / RECORD( followed by `ident :` (or empty) is an
        object constructor; anything else passes through."""
        if self._peek(1) != ("punct", "("):
            return False
        if self._peek(2) == ("punct", ")"):
            return True
        return (self._peek(2)[0] in ("word", "qident")
                and self._peek(3) == ("punct", ":")
                and self._peek(4) != ("punct", ":"))  # not a :: cast

    def _object_pairs(self, closer: str) -> list[tuple[str, str]]:
        """Parse `k: expr, …` up to (and consuming) `closer`."""
        pairs: list[tuple[str, str]] = []
        while True:
            self._skip_ws()
            if self._peek() == ("punct", closer):
                self._next()
                return pairs
            k, t = self._peek()
            if k not in ("word", "qident"):
                raise ValueError(
                    f"malformed object literal: expected a key, got {t!r}")
            key = _unquote(self._next())
            self._skip_ws()
            if self._peek() != ("punct", ":"):
                raise ValueError(
                    f"malformed object literal: expected ':' after {key!r}")
            self._next()
            self.postfix = False  # fresh expression context
            val = self._walk(closers=(",", closer)).strip()
            pairs.append((key, val))
            if self._peek() == ("punct", ","):
                self._next()
                continue
            if self._peek() == ("punct", closer):
                self._next()
                return pairs
            raise ValueError("malformed object literal: unterminated")

    @staticmethod
    def _named_struct(pairs: list[tuple[str, str]]) -> str:
        if not pairs:
            return "named_struct()"
        args = ", ".join(f"'{k}'" + ", " + v for k, v in pairs)
        return f"named_struct({args})"

    def _object_literal(self) -> str:
        self._next()  # {
        return self._named_struct(self._object_pairs("}"))

    def _object_call(self) -> str:
        self._next()  # OBJECT / RECORD
        self._skip_ws()
        self._next()  # (
        return self._named_struct(self._object_pairs(")"))

    def _array_literal(self) -> str:
        self._next()  # [
        self.postfix = False  # fresh expression context
        body = self._walk(closers=("]",))
        if self._peek() == ("punct", "]"):
            self._next()
        return f"array({body})"

    # -- NEST_ONE / NEST_MANY

    def _nest(self, kind: str) -> str:
        self._next()  # NEST_ONE / NEST_MANY
        self._skip_ws()
        self._next()  # (
        self._skip_ws()
        k, t = self._peek()
        if k == "word" and t.upper() == "FROM":
            # FROM-first subquery (docs pull-sql-1: `NEST_ONE(FROM
            # authors WHERE … SELECT …)`): fold to standard form
            # first, then nest that text
            depth = 1
            raw = []
            while self.i < len(self.toks):
                kk, tt = self.toks[self.i]
                if kk == "punct" and tt == "(":
                    depth += 1
                elif kk == "punct" and tt == ")":
                    depth -= 1
                    if depth == 0:
                        break
                raw.append(tt)
                self.i += 1
            if self._peek() == ("punct", ")"):
                self._next()
            std = _Translator("".join(raw)).run().strip()
            return self._nest_std(kind, std)
        if k != "word" or t.upper() != "SELECT":
            raise ValueError(f"{kind} requires a subquery")
        self._next()  # SELECT
        self._skip_ws()
        distinct = False
        k, t = self._peek()
        if k == "word" and t.upper() == "DISTINCT":
            distinct = True
            self._next()
        sel = self._walk(closers=(")",), stop_words=("FROM",)).strip()
        rest = self._walk(closers=(")",)).strip()  # FROM … (may be empty)
        if self._peek() == ("punct", ")"):
            self._next()
        if kind == "NEST_ONE":
            # DISTINCT must survive the struct-wrap: NEST_ONE(SELECT
            # DISTINCT dept …) is single-row iff the DISTINCT rows are
            # single — dropping it would trip Spark's scalar-subquery
            # cardinality check on multi-row-but-single-value inputs
            d = "DISTINCT " if distinct else ""
            return f"(SELECT {d}struct({sel}) {rest})".rstrip() + ""
        if _has_toplevel_word(rest, "GROUP"):
            # grouped subquery: one record per GROUP — collect over a
            # derived table so the aggregate sees the grouped rows
            d = "DISTINCT " if distinct else ""
            inner = f"SELECT {d}{sel} {rest}"
            return (f"(SELECT collect_list(struct(*)) "
                    f"FROM ({inner}) __nest_rows)")
        agg = f"collect_list(struct({sel}))"
        if distinct:
            agg = f"array_distinct({agg})"
        return f"(SELECT {agg} {rest})".rstrip()

    @staticmethod
    def _nest_std(kind: str, std: str) -> str:
        """Nest an already-standard `SELECT … FROM … [ORDER BY k
        [DESC]] [LIMIT n]` subquery text. Correlated subqueries with
        LIMIT are rejected by Spark outright, so per-outer-row
        ORDER/LIMIT (the docs' NEST_MANY comments example) lowers to
        a comparator-sorted `collect_list` + `slice` INSIDE the
        aggregate scalar subquery — correlation stays in the WHERE,
        which Spark supports under aggregation."""
        toks = _tokenize(std)
        depth = 0
        sel_i = from_i = order_i = limit_i = None
        for idx, (k, t) in enumerate(toks):
            if k == "punct" and t in "([":
                depth += 1
            elif k == "punct" and t in ")]":
                depth -= 1
            elif depth == 0 and k == "word":
                u = t.upper()
                if u == "SELECT" and sel_i is None:
                    sel_i = idx
                elif u == "FROM" and sel_i is not None and from_i is None:
                    from_i = idx
                elif u == "ORDER" and from_i is not None and order_i is None:
                    order_i = idx
                elif u == "LIMIT" and from_i is not None and limit_i is None:
                    limit_i = idx
        if sel_i is None or from_i is None:
            raise ValueError(f"{kind} requires a subquery")

        def txt(a, b):
            return "".join(t for _, t in toks[a:b]).strip()

        sel = txt(sel_i + 1, from_i)
        tail_end = min(x for x in (order_i, limit_i, len(toks))
                       if x is not None)
        rest = txt(from_i, tail_end)
        if kind == "NEST_ONE":
            return f"(SELECT struct({sel}) {rest})"
        if order_i is None and limit_i is None:
            return f"(SELECT collect_list(struct({sel})) {rest})"
        # ORDER BY <key> [ASC|DESC] [LIMIT n] — single key
        limit_n = None
        if limit_i is not None:
            limit_n = txt(limit_i + 1, len(toks))
        key_end = limit_i if limit_i is not None else len(toks)
        desc = False
        key = ""
        if order_i is not None:
            kt = toks[order_i + 1: key_end]
            words = [(k, t) for k, t in kt if k not in ("ws", "comment")]
            if words and words[0][1].upper() == "BY":
                words = words[1:]
            if words and words[-1][1].upper() in ("ASC", "DESC"):
                desc = words[-1][1].upper() == "DESC"
                words = words[:-1]
            key = "".join(t for _, t in words).strip()
        if not key:
            agg = f"collect_list(struct({sel}))"
            out = (f"slice({agg}, 1, {limit_n})" if limit_n else agg)
            return f"(SELECT {out} {rest})"
        lt, gt = ("<", ">") if not desc else (">", "<")
        agg = (f"transform(array_sort("
               f"collect_list(struct(({key}) AS __o, "
               f"struct({sel}) AS __v)), "
               f"(l, r) -> CASE WHEN l.__o {lt} r.__o THEN -1 "
               f"WHEN l.__o {gt} r.__o THEN 1 ELSE 0 END), "
               f"x -> x.__v)")
        if limit_n:
            agg = f"slice({agg}, 1, {limit_n})"
        return f"(SELECT {agg} {rest})"

    # -- heterogeneous inline VALUES (key-unioned object literals)

    def _values_keyunion(self) -> str | None:
        """VALUES rows whose object literals carry DIFFERING key
        sets in the same column position (direct-sql/object-array:
        ``VALUES ({b: 42}), ({d: 100})``): Spark's inline tables are
        statically typed, so pad every literal with NULL for the
        other rows' keys — NullType struct fields widen under
        Spark's type coercion, and the reference's dynamic-document
        model reads a missing key as NULL, so the padding IS the
        semantics. Field order is normalized to first-seen union
        order across rows (a struct type requires one order).
        Returns None — with parser state restored — when the list
        isn't that shape; the normal per-literal translation then
        applies."""
        save = (self.i, self.postfix, self._after_dot)

        def bail():
            self.i, self.postfix, self._after_dot = save
            return None

        try:
            rows = self._values_rows()
        except ValueError:
            return bail()
        if len(rows) < 2 or not rows[0] \
                or any(len(r) != len(rows[0]) for r in rows):
            return bail()
        # key-union reorders fields — positional params inside the
        # literals would re-bind out of order, so leave those alone
        if any("?" in (p if k == "txt"
                       else " ".join(v for _, v in p))
               for r in rows for k, p in r):
            return bail()
        changed = False
        out = [[None] * len(rows[0]) for _ in rows]
        for j in range(len(rows[0])):
            items = [r[j] for r in rows]
            if all(kind == "obj" for kind, _ in items):
                union: list[str] = []
                for _, pairs in items:
                    for key, _ in pairs:
                        if key not in union:
                            union.append(key)
                if any({k for k, _ in pairs} != set(union)
                       for _, pairs in items):
                    changed = True
                    for i, (_, pairs) in enumerate(items):
                        have = dict(pairs)
                        out[i][j] = self._named_struct(
                            [(key, have.get(key, "NULL"))
                             for key in union])
                    continue
            for i, (kind, payload) in enumerate(items):
                out[i][j] = (self._named_struct(payload)
                             if kind == "obj" else payload)
        if not changed:
            return bail()
        return "VALUES " + ", ".join(
            "(" + ", ".join(r) + ")" for r in out)

    def _values_rows(self):
        """Parse `VALUES (item, …) [, (item, …)]*` into rows of
        ("obj", pairs) | ("txt", translated-text) items."""
        self._next()                   # VALUES
        rows = []
        while True:
            self._skip_ws()
            if self._peek() != ("punct", "("):
                raise ValueError("not an inline row")
            self._next()
            items = []
            while True:
                self._skip_ws()
                if self._peek() == ("punct", "{"):
                    self._next()
                    items.append(("obj", self._object_pairs("}")))
                    self._skip_ws()
                else:
                    self.postfix = False
                    txt = self._walk(closers=(",", ")")).strip()
                    if not txt:
                        raise ValueError("empty item")
                    items.append(("txt", txt))
                k, t = self._peek()
                if (k, t) == ("punct", ","):
                    self._next()
                    continue
                if (k, t) == ("punct", ")"):
                    self._next()
                    break
                raise ValueError("malformed row")
            rows.append(items)
            self._skip_ws()
            if self._peek() == ("punct", ","):
                mark = self.i
                self._next()
                self._skip_ws()
                if self._peek() == ("punct", "("):
                    continue
                self.i = mark
            return rows

    # -- RECORDS

    def _records_ahead(self, k: int) -> bool:
        nk, nt = self._peek(k)
        if nk == "punct" and nt == "{":
            return True
        return (nk == "word" and nt.upper() in ("OBJECT", "RECORD")
                and self._peek(k + 1) == ("punct", "("))

    def _records(self) -> str:
        self._next()  # RECORDS
        records: list[list[tuple[str, str]]] = []
        while True:
            self._skip_ws()
            k, t = self._peek()
            if k == "punct" and t == "{":
                self._next()
                records.append(self._object_pairs("}"))
            elif k == "word" and t.upper() in ("OBJECT", "RECORD"):
                self._next()
                self._skip_ws()
                self._next()  # (
                records.append(self._object_pairs(")"))
            elif k == "param":
                raise ValueError(
                    "RECORDS ? (parameter record) is not supported — "
                    "bind documents via the tx API instead")
            else:
                raise ValueError("RECORDS requires object literals")
            if self._peek() == ("punct", ",") and self._records_ahead(1):
                self._next()  # the comma
                continue
            break
        # union of keys, first-seen order (dynamic-document model).
        # Each record's VALUES are emitted in the record's own textual
        # order inside a derived table, then reordered by NAME in the
        # outer select — so positional '?' params keep their textual
        # binding order even when records spell keys in different
        # orders (RECORDS {a: 1, b: ?}, {b: ?, a: ?}).
        keys: list[str] = []
        for rec in records:
            for key, _ in rec:
                if key not in keys:
                    keys.append(key)
        selects = []
        for n, rec in enumerate(records):
            present = {key for key, _ in rec}
            inner_cols = ", ".join(
                f"{val} AS {_ident_sql(key)}" for key, val in rec) \
                or "1 AS __dummy"
            outer_cols = ", ".join(
                (f"{_ident_sql(key)}" if key in present
                 else f"NULL AS {_ident_sql(key)}")
                for key in keys) or "NULL AS __empty"
            selects.append(
                f"SELECT {outer_cols} FROM (SELECT {inner_cols}) __r{n}")
        return " UNION ALL ".join(selects)
