"""Round-12 optimization invariants: the size-gated global-scalar
strategy (q11/q15 window vs broadcast-aggregate paths) must produce
identical rows, and the rewritten heads keep their plan properties.
"""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("name", ["q11", "q15"])
def test_global_scalar_paths_identical(spark, name):
    from xtdb_spark.queries import tpch2

    fn = getattr(tpch2, name)
    small = fn(spark, SF_DIR, big=False)
    big = fn(spark, SF_DIR, big=True)
    assert small.columns == big.columns
    assert _rows(small) == _rows(big)


def test_global_scalar_big_path_reuses_exchange(spark):
    """The broadcast-aggregate path must NOT recompute the value
    subtree: its 1-row aggregate reads the grouped relation's shuffle
    output via ReuseExchange. (AQE off: reuse resolution is hidden
    until runtime in adaptive plans.)"""
    from xtdb_spark.queries import tpch2

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = tpch2.q11(spark, SF_DIR, big=True)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan


def test_q20_semi_join_has_no_prebuild_distinct(spark):
    """q20's HAVING subquery feeds the semi join directly — exactly
    two aggregate exchanges ((suppkey,partkey) partial+final), not a
    third distinct pass."""
    from xtdb_spark.queries import QUERIES

    df = QUERIES["tpch_q20_potential_promotion"].fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    # the aggregate side contributes one Exchange; a distinct would
    # add a second hashpartitioning(l_suppkey...) exchange
    import re
    supp_exchanges = re.findall(
        r"hashpartitioning\(l_suppkey[^)]*\)", plan)
    assert len(supp_exchanges) <= 1, plan


def test_corpus_prep_single_text_scan(spark):
    """pipe_corpus_prep reads documents ONCE (window dedup), not
    twice (old aggregate + semi-join spelling)."""
    from xtdb_spark.queries import QUERIES

    df = QUERIES["pipe_corpus_prep"].fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert plan.count("documents.parquet]") == 1
    assert "Window" in plan


@pytest.mark.parametrize("name", [
    "pipe_corpus_prep", "pipe_text_quality", "pipe_lang_id",
    "pipe_dedup_keep_best"])
def test_text_heads_single_regex_pass(spark, name):
    """r12 pass 2: every text signal derives from ONE whitespace-
    normalization regex pass (text.normalized) and ONE token-array
    materialization — the plan must contain exactly one
    regexp_replace and no \\s+ tokenizing split (the old spellings
    carried up to 3 regex scans / 24 replicated split trees)."""
    import re

    from xtdb_spark.queries import QUERIES

    df = QUERIES[name].fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert len(re.findall(r"regexp_replace", plan)) == 1, plan
    # the tokenizer must be the literal-space split of the aliased
    # normal form, evaluated once: no split(..., \s+, ...) anywhere
    assert not re.search(r"split\([^)]*\\s\+", plan), plan


def test_norm_tokens_equivalence_edge_cases(spark):
    """The literal-split-of-normal-form tokenizer must agree with the
    old \\s+ tokenizer on edge inputs: empty, all-whitespace, tabs/
    newlines at the edges (both sides produce the same empty edge
    tokens), multi-space runs, and unicode text."""
    from pyspark.sql import functions as F

    from xtdb_spark.pipeline import text

    rows = [("",), ("   ",), ("\t\t",), ("\ta b\t",), ("a  b   c",),
            ("  left",), ("right  ",), ("Ünïcode  TEXT\nnewline",),
            ("one",), ("\n\n\n",)]
    df = spark.createDataFrame(rows, "text string")
    norm = text.normalized(F.col("text"))
    out = df.select(
        text.tokens(F.lower(F.col("text"))).alias("old_toks"),
        text.norm_tokens(norm).alias("new_toks"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
        .cast("double").alias("old_ns"),
        text.norm_nonspace_chars(norm, F.size(text.norm_tokens(norm)))
        .alias("new_ns"),
        text.fingerprint(F.col("text")).alias("old_fp"),
        F.md5(norm).alias("new_fp"),
    ).collect()
    for r in out:
        assert r.old_toks == r.new_toks, r
        assert r.old_ns == r.new_ns, r
        assert r.old_fp == r.new_fp, r


def test_asof_same_source_equals_general(spark):
    """asof_join_same_source ≡ asof_join when both sides filter one
    relation (ties, strict mode, and null carry included)."""
    from pyspark.sql import functions as F

    from xtdb_spark.operators.asof import asof_join, asof_join_same_source
    from xtdb_spark.queries.registry import ld

    e = ld(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value", "event_type")
    for strict in (False, True):
        clicks = e.filter(F.col("event_type") == "click") \
            .select("user_id", "ts", "event_id")
        purchases = e.filter(F.col("event_type") == "purchase") \
            .select("user_id", "ts", "value")
        general = asof_join(clicks, purchases, on="user_id",
                            left_ts="ts", right_ts="ts",
                            right_cols=["value"], strict=strict) \
            .select("event_id", "value", "asof_ts")
        same = asof_join_same_source(
            e, on="user_id", ts="ts",
            left_pred=F.col("event_type") == "click",
            right_pred=F.col("event_type") == "purchase",
            right_cols=["value"], strict=strict) \
            .select("event_id", "value", "asof_ts")
        assert _rows(general) == _rows(same), f"strict={strict}"


def test_percentile_array_equals_per_cut_calls(spark):
    """The shared percentile(col, array(...)) state must reproduce
    the per-cut percentile() calls bit-for-bit (same sorted map, same
    interpolation) for op_agg_percentile and
    an_value_percentiles_by_type."""
    from pyspark.sql import functions as F

    from xtdb_spark.queries import QUERIES
    from xtdb_spark.queries.registry import ld

    l = ld(spark, SF_DIR, "lineitem")
    old_l = l.groupBy("l_linestatus").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"))
    assert _rows(old_l) == _rows(
        QUERIES["op_agg_percentile"].fn(spark, SF_DIR))

    e = ld(spark, SF_DIR, "events")
    old_e = (e.groupBy("event_type")
             .agg(F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
                  F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
                  F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"))
             .orderBy("event_type"))
    assert _rows(old_e) == _rows(
        QUERIES["an_value_percentiles_by_type"].fn(spark, SF_DIR))


def test_agg_approx_split_equals_fused_aggregate(spark):
    """op_agg_approx's split (distinct-alone + non-distinct pass,
    broadcast-joined back) must equal the single fused aggregate it
    replaced."""
    from pyspark.sql import functions as F

    from xtdb_spark.queries import QUERIES
    from xtdb_spark.queries.registry import ld

    e = ld(spark, SF_DIR, "events")
    fused = (e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("__acd"),
        F.expr("percentile(value, 0.5)").alias("__em"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("__am"))
    ).select(
        "event_type", "n_users_exact",
        (F.abs(F.col("__acd") - F.col("n_users_exact"))
         <= 0.05 * F.col("n_users_exact") + F.lit(2)).alias("approx_distinct_ok"),
        (F.abs(F.col("__am") - F.col("__em"))
         <= 0.05 * F.abs(F.col("__em")) + F.lit(0.01)).alias("approx_median_ok"))
    assert _rows(fused) == _rows(QUERIES["op_agg_approx"].fn(spark, SF_DIR))


def test_word_ngrams_zipchain_equals_slice_join_spelling(spark):
    """word_ngrams' zip_with chain (r12, 6.6× on the corpus gram
    pass) must be element-identical to the slice+array_join spelling
    it replaced, across n and the short-doc/whitespace/NULL edges —
    including the [NULL] the old spelling produced for NULL text."""
    from pyspark.sql import functions as F

    from xtdb_spark.pipeline.dedup import word_ngrams

    def old_word_ngrams(text_col, n=3):
        words = F.split(F.lower(F.trim(text_col)), r"\s+")
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
        grams = F.transform(
            idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
        return F.array_distinct(grams)

    rows = [("",), ("  ",), ("one",), ("one two",), ("one two three",),
            ("a b c d e f g",), ("  Mixed   CASE  with\textra\nws  ",),
            ("dup dup dup dup dup",), (None,), ("x " * 50,)]
    df = spark.createDataFrame(rows, "text string")
    for n in (1, 2, 3, 5):
        cmp = df.select(old_word_ngrams(F.col("text"), n).alias("o"),
                        word_ngrams(F.col("text"), n).alias("n"))
        for r in cmp.collect():
            assert r["o"] == r["n"], (n, r["o"], r["n"])


def test_hashed_gram_arrays_injective_encoding(spark):
    """_hashed_gram_arrays must preserve array sizes and every
    pairwise intersection count (exactness contract of the verify
    encoding), and keep string arrays verbatim when hashing is not
    provably injective on the vocabulary."""
    from pyspark.sql import functions as F

    from xtdb_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c x y z"), (3, "p q r s t u"),
         (4, "a b c d e f")], "doc_id long, text string")
    g = dedup._gram_arrays(docs, "doc_id", "text", 3)
    gh = dedup._hashed_gram_arrays(g)
    assert dict(gh.dtypes)["grams"] == "array<bigint>"
    j = (g.alias("s").join(gh.alias("h"), "id")
         .select("id", F.size("s.grams").alias("ns"),
                 F.size("h.grams").alias("nh")).collect())
    assert all(r["ns"] == r["nh"] for r in j)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
    old = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup._jaccard_for_pairs_arrays(g, pairs).collect()}
    new = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup._jaccard_for_pairs_arrays(gh, pairs).collect()}
    assert old == new and (1, 4) in new and new[(1, 4)] == 1.0
