"""XTQL-style pipeline DSL → DataFrames.

The reference's second query language is XTQL: edn/JSON datalog-ish
pipelines parsed into Pipeline/Unify/From/Where/With/Without/Return/
Join/Aggregate/OrderBy/Limit/Offset/Unnest/UnionAll records
(reference core/src/main/clojure/xtdb/xtql.clj:293-593) and planned
to the same logical plan as SQL. On Spark the DataFrame API *is* that
logical-plan builder, so this module is a thin veneer providing the
XTQL operation vocabulary, including datalog-style `unify` (join on
shared logic variables = natural join on shared column names).

Usage:
    from xtdb_spark.xtql import q, from_, where, aggregate, unify
    df = q(xt,
           from_("orders"),
           where(F.col("o_totalprice") > 1000),
           aggregate("o_custkey", n=F.count("*")))
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Step = Callable[[object, DataFrame | None], DataFrame]


def q(xt, *steps: Step) -> DataFrame:
    """Run a pipeline: first step is a source, rest are transforms
    (reference xtql.clj Pipeline)."""
    df: DataFrame | None = None
    for step in steps:
        df = step(xt, df)
    return df


def from_(table: str, bind: dict[str, str] | None = None, **temporal) -> Step:
    """Source step (reference xtql.clj From): scan a store table with
    optional temporal opts (valid_time=, system_time=, all_valid_time=,
    all_system_time=) and optional column renames `bind`. Extra
    kwargs pass through to scan — `prefilter=` (and `broadcast=`,
    hinting its candidate set) give XTQL pipelines the
    same sideways candidate pruning the SQL path injects
    automatically (reference join.clj:172-226 applies
    it to every query surface); renames in `bind` happen AFTER the
    scan, so the prefilter uses the table's own column names.

    Binding a TEMPORAL column (`_valid_from` … `_system_to`, or the
    `_valid_time`/`_system_time` period structs — reference
    xtql.clj binds :xt/valid-from etc. on any From) switches the
    scan to its meta-carrying variant automatically, same as the
    SQL surface's per-qualifier switch; `keep_meta=True` forces it
    without a bind."""

    def step(xt, _df):
        from xtdb_spark.sql.rewriter import (_TEMPORAL_COL_WORDS,
                                             _with_period_meta)

        kw = dict(temporal)
        want_meta = bool(kw.pop("keep_meta", False)) or bool(
            bind and any(c.lower() in _TEMPORAL_COL_WORDS
                         for c in bind))
        df = xt.scan(table, keep_meta=want_meta, **kw)
        if want_meta:
            df = _with_period_meta(df)
        if "_iid" in df.columns:
            df = df.drop("_iid")  # internal key — not a logic var
        if bind:
            for col, var in bind.items():
                df = df.withColumnRenamed(col, var)
        return df

    return step


def rel(rows) -> Step:
    """Literal relation (reference :table operator, operator/table.clj)."""

    def step(xt, _df):
        return xt.spark.createDataFrame(rows)

    return step


def from_df(df: DataFrame, bind: dict[str, str] | None = None) -> Step:
    """Source step over an existing DataFrame — the reference's
    prepared-RA entry point (query.clj:166-172 plan-query accepts raw
    relations), and what lets XTQL pipelines run over any Spark
    source, not just the bitemporal store."""

    def step(_xt, _prev):
        out = df
        if bind:
            for col, var in bind.items():
                out = out.withColumnRenamed(col, var)
        return out

    return step


def where(*preds: Column) -> Step:
    def step(_xt, df):
        for p in preds:
            df = df.filter(p)
        return df

    return step


def with_(**cols: Column) -> Step:
    """Add computed columns (reference xtql.clj With)."""

    def step(_xt, df):
        return df.withColumns(dict(cols))

    return step


def without(*cols: str) -> Step:
    def step(_xt, df):
        return df.drop(*cols)

    return step


def return_(*cols, **renamed: Column) -> Step:
    """Project (reference xtql.clj Return)."""

    def step(_xt, df):
        sel = [F.col(c) for c in cols]
        sel += [c.alias(name) for name, c in renamed.items()]
        return df.select(*sel)

    return step


def join(other: Step, on: list[str] | None = None, how: str = "inner") -> Step:
    """Join against another pipeline source; `on=None` → unify on all
    shared column names (datalog-style, reference xtql.clj Unify)."""

    def step(xt, df):
        right = other(xt, None)
        keys = on or sorted(set(df.columns) & set(right.columns))
        if not keys:
            return df.crossJoin(right)
        return df.join(right, keys, how)

    return step


def left_join(other: Step, on: list[str] | None = None) -> Step:
    return join(other, on, "left")


def unify(*sources: Step) -> Step:
    """Datalog unification: natural-join every source on shared
    logic-variable (column) names (reference xtql.clj Unify)."""

    def step(xt, _df):
        dfs = [s(xt, None) for s in sources]
        out = dfs[0]
        for nxt in dfs[1:]:
            keys = sorted(set(out.columns) & set(nxt.columns))
            out = out.crossJoin(nxt) if not keys else out.join(nxt, keys)
        return out

    return step


def aggregate(*group_cols: str, **aggs: Column) -> Step:
    def step(_xt, df):
        named = [c.alias(name) for name, c in aggs.items()]
        if group_cols:
            return df.groupBy(*group_cols).agg(*named)
        return df.agg(*named)

    return step


def order_by(*cols) -> Step:
    def step(_xt, df):
        return df.orderBy(*cols)

    return step


def limit(n: int) -> Step:
    def step(_xt, df):
        return df.limit(n)

    return step


def offset(n: int) -> Step:
    def step(_xt, df):
        return df.offset(n)

    return step


def unnest(col: str, alias: str | None = None) -> Step:
    """Explode a list column (reference operator/unnest.clj)."""

    def step(_xt, df):
        out = alias or col
        return df.withColumn(out, F.explode(F.col(col)))

    return step


def nest_many(child: DataFrame, on: list[str], payload: Column,
              alias: str) -> Step:
    """XTDB SQL's NEST_MANY (correlated subquery → array column of
    the matching child rows): LEFT JOIN + collect_list, the
    decorrelated plan. `payload` is what each child row contributes
    (a column or struct); arrays are sorted for determinism."""

    def step(_xt, df):
        nested = (child.groupBy(*on)
                  .agg(F.sort_array(F.collect_list(payload)).alias(alias)))
        out = df.join(nested, on, "left")
        return out.withColumn(
            alias, F.coalesce(F.col(alias), F.array().cast(
                out.schema[alias].dataType)))

    return step


def nest_one(child: DataFrame, on: list[str], payload: Column,
             alias: str) -> Step:
    """XTDB SQL's NEST_ONE (correlated scalar row → struct column):
    first matching child row by payload order."""

    def step(_xt, df):
        nested = (child.groupBy(*on)
                  .agg(F.min(payload).alias(alias)))
        return df.join(nested, on, "left")

    return step


def union_all(other: Step) -> Step:
    def step(xt, df):
        return df.unionByName(other(xt, None), allowMissingColumns=True)

    return step
