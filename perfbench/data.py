"""Input generation. Everything here is made from the run's seed (and,
for the TPC-H tables, DuckDB's built-in `dbgen`, which is itself
deterministic); the program under test only ever sees the results.

- `tpch_tables(sf)`: the 8 dbgen tables in the shape of the reference
  loader (DECIMAL → DOUBLE, one `_id` per row).
- `refresh_ops(tables, seed)`: a seeded refresh transaction (update,
  delete and insert a few percent of orders/lineitem).
- `write_catalog_tables(dir, sf, seed)`: the catalog's parquet
  inputs (the TPC-H-like star schema plus events, documents and
  embeddings) in the schema the query registry expects.
"""

from __future__ import annotations

import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# _id per table: the primary key, composite keys folded into one int
TPCH_ID = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "partsupp": "ps_partkey * 100000 + ps_suppkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey * 8 + l_linenumber",
}
# share of orders the refresh transaction revises
REFRESH_SHARE = 0.02


def tpch_tables(sf: float) -> dict[str, pa.Table]:
    """dbgen at `sf`, DECIMAL columns as DOUBLE, an `_id` column in
    front, one row per `_id` (dbgen repeats a few partsupp keys at
    tiny scale; the last one wins, as in a put batch)."""
    con = duckdb.connect()
    try:
        con.execute("LOAD tpch")
        con.execute(f"CALL dbgen(sf={sf})")
        out = {}
        for t, idx in TPCH_ID.items():
            cols = con.execute(f"DESCRIBE {t}").fetchall()
            sel = ", ".join(
                f"CAST({c} AS DOUBLE) AS {c}" if ty.startswith("DECIMAL")
                else c for c, ty, *_ in cols)
            out[t] = con.execute(f"""
                SELECT * EXCLUDE (__rn) FROM (
                  SELECT CAST({idx} AS BIGINT) AS _id, {sel},
                         row_number() OVER (PARTITION BY {idx}
                                            ORDER BY rowid DESC) AS __rn
                  FROM {t})
                WHERE __rn = 1 ORDER BY _id""").arrow()
        return out
    finally:
        con.close()


def refresh_ops(tables: dict[str, pa.Table], seed: int) -> dict[str, list]:
    """A refresh transaction: REFRESH_SHARE of orders get a new total
    price and status, half that share of lineitems are deleted, and
    half that share of new orders arrive with 1-3 lineitems each."""
    rng = random.Random(seed)
    orders = tables["orders"].to_pylist()
    items = tables["lineitem"].to_pylist()
    n = max(2, int(len(orders) * REFRESH_SHARE))
    upd = []
    for o in rng.sample(orders, n):
        o = dict(o)
        o["o_totalprice"] = round(o["o_totalprice"] * rng.uniform(0.5, 1.5), 2)
        o["o_orderstatus"] = rng.choice("OFP")
        upd.append(o)
    deleted = [r["_id"] for r in rng.sample(items, max(1, n // 2))]
    top = max(o["o_orderkey"] for o in orders)
    new_orders, new_items = [], []
    for i in range(max(1, n // 2)):
        o = dict(rng.choice(orders))
        o["o_orderkey"] = o["_id"] = top + 1 + i
        new_orders.append(o)
        for ln in range(1, rng.randint(1, 3) + 1):
            li = dict(rng.choice(items))
            li["l_orderkey"], li["l_linenumber"] = o["o_orderkey"], ln
            li["_id"] = o["o_orderkey"] * 8 + ln
            new_items.append(li)
    return {"orders_put": upd + new_orders, "lineitem_delete": deleted,
            "lineitem_put": new_items}


def duckdb_with(tables: dict[str, pa.Table], refresh: dict | None = None):
    """An independent DuckDB copy of the tables, with the refresh
    applied when given — the oracle for the store's answers."""
    con = duckdb.connect()
    for t, tbl in tables.items():
        con.register("__src", tbl)
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM __src")
        con.unregister("__src")
    if refresh:
        con.register("__upd", pa.Table.from_pylist(
            refresh["orders_put"], schema=tables["orders"].schema))
        con.execute("DELETE FROM orders WHERE _id IN (SELECT _id FROM __upd)")
        con.execute("INSERT INTO orders BY NAME SELECT * FROM __upd")
        con.register("__del", pa.table({"_id": refresh["lineitem_delete"]}))
        con.execute("DELETE FROM lineitem WHERE _id IN (SELECT _id FROM __del)")
        con.register("__ins", pa.Table.from_pylist(
            refresh["lineitem_put"], schema=tables["lineitem"].schema))
        con.execute("DELETE FROM lineitem WHERE _id IN (SELECT _id FROM __ins)")
        con.execute("INSERT INTO lineitem BY NAME SELECT * FROM __ins")
    return con


def tpch_query_texts() -> dict[int, str]:
    """The 22 standard TPC-H query texts, as DuckDB ships them."""
    con = duckdb.connect()
    try:
        con.execute("LOAD tpch")
        return {n: q.strip().rstrip(";") for n, q in con.execute(
            "SELECT query_nr, query FROM tpch_queries()").fetchall()}
    finally:
        con.close()


# ---- the catalog's inputs ----------------------------------------------

_CATALOG_TPCH = {
    "region": "SELECT CAST(r_regionkey AS INT) AS r_regionkey, r_name FROM region",
    "nation": """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
                 CAST(n_regionkey AS INT) AS n_regionkey FROM nation""",
    "customer": """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
                   CAST(c_nationkey AS INT) AS c_nationkey,
                   CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
                   FROM customer""",
    "supplier": """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
                   CAST(s_nationkey AS INT) AS s_nationkey,
                   CAST(s_acctbal AS DOUBLE) AS s_acctbal FROM supplier""",
    "part": """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name, p_brand,
               p_type, CAST(p_size AS INT) AS p_size,
               CAST(p_retailprice AS DOUBLE) AS p_retailprice FROM part""",
    "orders": """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                 CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus,
                 CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                 CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
                 o_orderpriority FROM orders""",
    "lineitem": """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                   CAST(l_partkey AS BIGINT) AS l_partkey,
                   CAST(l_suppkey AS BIGINT) AS l_suppkey,
                   CAST(l_linenumber AS INT) AS l_linenumber,
                   CAST(l_quantity AS DOUBLE) AS l_quantity,
                   CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                   CAST(l_discount AS DOUBLE) AS l_discount,
                   CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, l_linestatus,
                   CAST(l_shipdate AS TIMESTAMP) AS l_shipdate FROM lineitem""",
}

_WORDS = ("the a data query row column table scan join filter group sort "
          "merge hash window batch stream spark line order part key value "
          "agg big small fast slow vector customer").split()
_LANGS = ["en"] * 3 + ["de", "fr", "es", "zh"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def write_catalog_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the 10 catalog tables as `<out_dir>/<table>.parquet`;
    returns row counts. TPC-H-like tables come from dbgen (projected
    to the catalog's schema); events, documents and embeddings are
    drawn from `seed`."""
    counts = {}
    con = duckdb.connect()
    try:
        con.execute("LOAD tpch")
        con.execute(f"CALL dbgen(sf={sf})")
        for t, sel in _CATALOG_TPCH.items():
            con.execute(f"COPY ({sel}) TO '{out_dir}/{t}.parquet' "
                        "(FORMAT PARQUET)")
            counts[t] = con.execute(f"SELECT count(*) FROM ({sel})").fetchone()[0]
    finally:
        con.close()
    rng = np.random.default_rng(seed)

    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    span_us = 30 * 86_400 * 10**6
    # strictly increasing timestamps: no two events of a user tie
    off = np.sort(rng.integers(0, span_us - n_ev, n_ev)) + np.arange(n_ev)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + off.astype("timedelta64[us]"))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array([_EVENT_TYPES[i] for i in
                                rng.integers(0, len(_EVENT_TYPES), n_ev)]),
        "value": pa.array(np.round(rng.uniform(1, 200, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    pq.write_table(events, f"{out_dir}/events.parquet")
    counts["events"] = n_ev

    n_docs = max(500, int(50_000 * sf))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            # a near-verbatim copy: exact dedup folds case and spacing
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append("  " + src.upper() if rng.random() < 0.5 else src)
        else:
            n_w = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in
                                  rng.integers(0, len(_WORDS), n_w)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[j] for j in
                          rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    counts["documents"] = n_docs

    n_vec = max(500, int(20_000 * sf))
    vecs = rng.normal(0, 0.12, (n_vec, 64)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
    counts["embeddings"] = n_vec
    return counts
