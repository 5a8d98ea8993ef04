"""The reference's documentation tutorial examples, verbatim.

`src/test/resources/docs/xtql_tutorial_examples.yaml` (SQL + DML)
and `…_xtql.yaml` (the XTQL-edn spellings of the same queries) are
the reference's own docs-snippet test fixtures (docs tests load them
by key). Every entry runs here over a seeded store: SQL/DML through
xt.sql with positional params bound, XTQL through the edn pipeline
(xtql_edn.run). Spot semantic assertions where the tutorial implies
them; at minimum every snippet must plan and execute.

Round 12 — this battery drove three XTQL engine additions matching
reference xtql.clj: `exists?` subquery expressions in where
(anti/semi join), `pull`/`pull*` record(-array) expressions in with
(windowed per-key order/limit + collect, one join — set-oriented,
no per-row subquery), and unify CLAUSES (where/join/left-join as
unify members, with out-bind vectors).
"""

import os

import pytest
import yaml

from xtdb_spark.session import XtdbSession

DOCS = "/root/reference/src/test/resources/docs"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DOCS), reason="reference docs fixtures not present")


def _load(name):
    """The named fixture, or {} without the reference docs (the
    module-level skipif then skips every test)."""
    if not os.path.isdir(DOCS):
        return {}
    with open(os.path.join(DOCS, name)) as f:
        return yaml.safe_load(f)


@pytest.fixture(scope="module")
def xt(spark, tmp_path_factory):
    xt = XtdbSession.__new__(XtdbSession)
    from xtdb_spark.tx import TableStore

    xt.spark = spark
    xt.store = TableStore(
        spark, str(tmp_path_factory.mktemp("docs_wh")))
    s = xt.store
    s.put("users", [
        {"_id": "ivan", "first_name": "Ivan", "last_name": "Ivanov",
         "age": 30, "email": "ivan@example.com"},
        {"_id": "petr", "first_name": "Petr", "last_name": "Petrov",
         "age": 30},
        {"_id": "anna", "first_name": "Anna", "last_name": "Karenina",
         "age": 25},
    ], system_from="2024-01-01", valid_from="2015-01-01")
    s.put("old_users", [
        {"_id": "old1", "given_name": "Olga", "surname": "Orlova"}],
        system_from="2024-01-01")
    s.put("articles", [
        {"_id": 1, "author_id": "ivan", "title": "t1", "content": "c1"},
        {"_id": 2, "author_id": "petr", "title": "t2", "content": "c2"},
    ], system_from="2024-01-01")
    s.put("authors", [
        {"_id": "ivan", "first_name": "Ivan", "last_name": "Ivanov"},
        {"_id": "petr", "first_name": "Petr", "last_name": "Petrov"},
    ], system_from="2024-01-01")
    s.put("comments", [
        {"_id": i, "article_id": 1 + (i % 2), "post_id": 100 + (i % 2),
         "created_at": f"2024-01-{10 + i:02d}", "comment": f"c{i}"}
        for i in range(6)
    ], system_from="2024-01-01")
    s.put("customers", [{"_id": f"c{i}"} for i in range(4)],
          system_from="2024-01-01")
    s.put("orders", [
        {"_id": f"o{i}", "customer_id": f"c{i % 2}",
         "currency": "EUR" if i % 2 else "USD",
         "order_value": 10.0 * (i + 1)}
        for i in range(4)
    ], system_from="2024-01-01")
    s.put("posts", [
        {"_id": 100, "post_id": 100, "author_id": "ivan",
         "comment_count": 0},
        {"_id": 101, "post_id": 101, "author_id": "petr",
         "comment_count": 0},
    ], system_from="2024-01-01")
    s.put("promotions", [
        {"_id": 1, "promotion_type": "christmas"},
        {"_id": 2, "promotion_type": "easter"},
    ], system_from="2024-01-01", valid_from="2023-12-01")
    s.put("documents", [{"_id": "d1", "version": 1}],
          system_from="2024-01-01")
    return xt


SQL = _load("xtql_tutorial_examples.yaml")
XTQL = _load("xtql_tutorial_examples_xtql.yaml")

# positional params for the DML snippets (the docs bind them in
# their surrounding prose)
SQL_ARGS = {
    "DML-Delete-sql": [100],
    "DML-Delete-additional-unify-clauses-sql": ["ivan"],
    "DML-Update-sql": ["d1"],
    "DML-Update-bitemporal-sql-1": [50, 100],
    "DML-Update-bitemporal-sql-2": [100, 100],
}


@pytest.mark.parametrize("key", sorted(k for k in SQL
                                       if not k.startswith("DML")))
def test_sql_tutorial_snippet(xt, key):
    rows = xt.sql(SQL[key]).collect()
    if key == "bo-sql-2":
        assert [(r["first_name"], r["last_name"]) for r in rows] == \
            [("Ivan", "Ivanov")]
    elif key == "joins-sql-2":
        # same-age pairs, both directions
        assert sorted((r["uid1"], r["uid2"]) for r in rows) == \
            [("ivan", "petr"), ("petr", "ivan")]
    elif key == "joins-sql-4":
        assert sorted(r["cid"] for r in rows) == ["c2", "c3"]
    elif key == "aggr-sql-1":
        got = {(r["cid"], r["currency"]): (r["order_count"],
                                           float(r["total_value"]))
               for r in rows}
        assert got[("c0", "USD")] == (2, 40.0)
        assert got[("c2", None)] == (0, 0.0)
    elif key == "pull-sql-1":
        byid = {r["article_id"]: r for r in rows}
        assert byid[1]["author"]["first_name"] == "Ivan"
        assert [c["comment"] for c in byid[1]["comments"]] == \
            ["c4", "c2", "c0"]
    else:
        assert rows is not None


@pytest.mark.parametrize("key", sorted(k for k in XTQL))
def test_xtql_tutorial_snippet(xt, key):
    from xtdb_spark import xtql_edn

    rows = xtql_edn.run(xt, XTQL[key]).collect()
    if key == "bo-xtql-2":
        assert [(r["first-name"], r["last-name"]) for r in rows] == \
            [("Ivan", "Ivanov")]
    elif key == "joins-xtql-2":
        assert sorted((r["uid1"], r["uid2"]) for r in rows) == \
            [("ivan", "petr"), ("petr", "ivan")]
    elif key == "joins-xtql-4":
        assert sorted(r["cid"] for r in rows) == ["c2", "c3"]
    elif key == "aggr-xtql-1":
        got = {(r["cid"], r["currency"]): (r["order-count"],
                                           float(r["total-value"]))
               for r in rows}
        assert got[("c0", "USD")] == (2, 40.0)
        assert got[("c2", None)] == (0, 0.0)
    elif key == "pull-xtql-1":
        byid = {r["article-id"]: r for r in rows}
        assert byid[1]["author"]["first-name"] == "Ivan"
        assert [c["comment"] for c in byid[1]["comments"]] == \
            ["c4", "c2", "c0"]
    else:
        assert rows is not None


# the DML snippets MUTATE the seeded store, so they run after every
# query snippet (pytest executes in definition order)
@pytest.mark.parametrize("key", sorted(k for k in SQL
                                       if k.startswith("DML")))
def test_sql_dml_snippet(xt, key):
    xt.sql(SQL[key], args=SQL_ARGS.get(key))   # must execute cleanly
