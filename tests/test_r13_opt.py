"""Round-13 optimization invariants: the Arrow-dict verify kernel
must be bit-identical to the distributed join kernel, the spill-safe
exact-percentile path must equal the in-memory aggregate (all-null
groups included), reliable checkpointing must be a pure storage swap,
and NO catalog entry may carry an expensive expression tree in a
Filter/Join/Exchange condition (the r12 session-11 probe, now pinned
catalog-wide)."""

import os

import pytest

from xtdb_spark.plans.explain import count_shuffles

SF_DIR = "/root/testdata/sf0.001"
SF_DIR2 = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# --------------------------------------------------------- item 2

def test_dict_verify_kernel_identical_to_join_path(spark, monkeypatch):
    """ngram + minhash verify through the Arrow-dict kernel vs the
    array_intersect join kernel: same pairs, same jaccard doubles."""
    from xtdb_spark.pipeline import dedup

    docs = spark.read.parquet(os.path.join(SF_DIR2, "documents.parquet"))
    # the pair-volume gate would route this small corpus to the join
    # kernel; force the dict kernel on to pin its equality
    monkeypatch.setattr(dedup, "_ARROW_VERIFY_MIN_PAIRS", 0)
    fast = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.05,
                                     max_gram_df=100)
    assert "InArrow" in _plan(fast), "dict kernel did not engage"
    a = _rows(fast)
    assert len(a) > 0
    mh_fast = _rows(dedup.minhash_lsh_pairs(docs, k=32, bands=8,
                                            threshold=0.2))
    monkeypatch.setattr(dedup, "_ARROW_VERIFY_MAX_BYTES", 0)
    slow = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.05,
                                     max_gram_df=100)
    assert "InArrow" not in _plan(slow)
    assert _rows(slow) == a
    mh_slow = _rows(dedup.minhash_lsh_pairs(docs, k=32, bands=8,
                                            threshold=0.2))
    assert mh_fast == mh_slow and len(mh_fast) > 0


def test_dict_kernel_drops_foreign_ids_like_inner_join(spark):
    """Library callers may pass candidate ids that are not in the
    gram relation: the join kernel drops them (inner join) — the
    dict kernel must too."""
    from pyspark.sql import functions as F

    from xtdb_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id long, text string")
    g = dedup._hashed_gram_arrays(
        dedup._gram_arrays_ck(docs, "doc_id", "text", 2))
    cand = spark.createDataFrame(
        [(1, 2), (1, 99), (98, 2), (1, 3)], "id_a long, id_b long")
    out = dedup._dict_intersect_counts(g, cand)
    assert out is not None
    got = {(r.id_a, r.id_b): (r.n_inter, r.na, r.nb)
           for r in out.collect()}
    # foreign ids (99, 98) dropped like the inner join; the
    # zero-intersection pair (1,3) is dropped in-kernel too (the
    # caller's n_inter >= 1 filter, applied early)
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == (2, 3, 3)   # "a b","b c" shared; "c d"/"c e" not


# --------------------------------------------------------- item 6

@pytest.mark.parametrize("sf", [SF_DIR, SF_DIR2])
def test_exact_percentiles_paths_identical(spark, sf, monkeypatch):
    from xtdb_spark.operators.percentile import exact_percentiles
    from xtdb_spark.plans import explain

    def run(big, df, grp, col, qs):
        monkeypatch.setattr(explain, "BIG_BYTES",
                            0 if big else 1 << 64)
        out = exact_percentiles(df, grp, col, qs)
        assert ("Window" in _plan(out)) == big
        return {r[grp]: None if r["__p"] is None else list(r["__p"])
                for r in out.collect()}

    e = spark.read.parquet(os.path.join(sf, "events.parquet"))
    # group "b" has only null values: both arms keep it with null
    # percentiles; "a" mixes a null among its values
    nulls = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None), ("b", None), ("b", None)],
        "g string, v double")
    for df, grp, col, qs in (
            (e, "event_type", "value", [0.50, 0.95, 0.99]),
            (spark.read.parquet(os.path.join(sf, "lineitem.parquet")),
             "l_linestatus", "l_extendedprice", [0.5, 0.9]),
            (nulls, "g", "v", [0.0, 0.5, 1.0])):
        small = run(False, df, grp, col, qs)
        big = run(True, df, grp, col, qs)
        assert small == big   # bit-identical doubles, not approx
    assert small == {"a": [1.0, 2.0, 3.0], "b": None}


# --------------------------------------------------------- item 5

def test_reliable_checkpoint_dir_is_pure_storage_swap(spark, tmp_path):
    from xtdb_spark.pipeline import dedup

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    base = _rows(dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.05,
                                           max_gram_df=100))
    ckdir = str(tmp_path / "ck")
    spark.conf.set("xtdb.checkpointDir", ckdir)
    try:
        got = _rows(dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.05,
                                              max_gram_df=100))
        assert got == base
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(ckdir)
                 for f in fs]
        assert files, "no reliable checkpoint files written"
    finally:
        spark.conf.unset("xtdb.checkpointDir")
        # clear the context-level dir so later tests keep using
        # localCheckpoint (setCheckpointDir has no public unset)
        sc = spark.sparkContext
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty())


# --------------------------------------------------------- item 8

_EXPENSIVE = ("split(", "regexp_replace(", "regexp_extract_all(",
              "zip_with(", "transform(")

# entries allowed to keep an expensive tree in a condition, each with
# the measured reason it does not matter (r12 session-11 audit)
_ALLOW = {
    "op_unnest_ordinality",   # ≤20-row demo relation: literal-space
                              # split in the inferred generate filter
    "cb_distinct_counts",     # partitions by get_json_object —
                              # parse-once-per-distinct is the
                              # entry's documented design
}


# Upper bounds on shuffle exchanges in each entry's sf0.001 plan (AQE
# on, as the catalog runs), pinning the exchange cuts of rounds 12-13
# (OPTIMIZATION_r12.md / OPTIMIZATION_r13.md tell each story).
_MAX_SHUFFLES = {
    "an_daily_retention": 2,
    "an_top_users_by_value": 2,
    "an_value_percentiles_by_type": 2,
    "bitemp_current_state": 1,
    "bitemp_polygon_rectangles": 12,
    "cb_minmax_ts": 0,
    "dyn_nested_legs": 3,
    "op_agg_approx": 3,
    "op_agg_percentile": 1,
    "op_group_by_aggs": 2,
    "op_window_row_number": 1,
    "pipe_ann_cosine_topk": 3,
    "pipe_ann_ivf": 3,
    "pipe_ann_ivfpq": 4,
    "pipe_ann_lsh": 2,
    "pipe_ann_pq": 11,
    "pipe_bpe_encode": 4,
    "pipe_bpe_train": 0,
    "pipe_bpe_word_freqs": 2,
    "pipe_contamination_check": 2,
    "pipe_corpus_prep": 3,
    "pipe_dedup_clusters": 0,
    "pipe_dedup_embedding_cosine": 0,
    "pipe_dedup_exact": 2,
    "pipe_dedup_keep_best": 2,
    "pipe_dedup_minhash_lsh": 0,
    "pipe_dedup_ngram_jaccard": 1,
    "pipe_dedup_semantic": 4,
    "pipe_dedup_simhash": 7,
    "pipe_dedup_span_pairs": 3,
    "pipe_dedup_substring": 3,
    "pipe_embedding_norms": 2,
    "pipe_global_shuffle": 2,
    "pipe_lang_id": 1,
    "pipe_ngram_topk": 1,
    "pipe_perplexity_filter": 8,
    "pipe_pii_redact": 1,
    "pipe_quality_lr_step": 1,
    "pipe_quality_lr_train": 0,
    "pipe_repetition_score": 3,
    "pipe_sequence_packing": 6,
    "pipe_stratified_sample": 3,
    "pipe_text_chunking": 1,
    "pipe_text_quality": 1,
    "pipe_token_count": 1,
    "tpch_q10_returned_items": 1,
    "tpch_q11_important_stock": 1,
    "tpch_q12_late_shipments": 1,
    "tpch_q13_customer_order_distribution": 3,
    "tpch_q14_promo_effect": 0,
    "tpch_q15_top_supplier": 1,
    "tpch_q16_part_supplier_relationship": 3,
    "tpch_q17_small_quantity_revenue": 1,
    "tpch_q18_large_volume_customer": 1,
    "tpch_q19_discounted_revenue": 0,
    "tpch_q1_pricing_summary": 1,
    "tpch_q20_potential_promotion": 2,
    "tpch_q22_global_sales_opportunity": 2,
    "tpch_q2_min_cost_supplier": 2,
    "tpch_q3_shipping_priority": 1,
    "tpch_q4_order_priority": 1,
    "tpch_q5_local_supplier_volume": 2,
    "tpch_q6_revenue_forecast": 0,
    "tpch_q7_volume_shipping": 1,
    "tpch_q8_national_market_share": 2,
    "tpch_q9_product_type_profit": 2,
    "ts_asof_join": 1,
}


def _catalog_names():
    from xtdb_spark.queries import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _catalog_names())
def test_no_expensive_exprs_in_conditions_catalog_wide(spark, name):
    """Catalyst duplicates expensive expression trees into pushed
    Filter conditions, inferred join-key isnotnull predicates and
    Exchange keys (guide §4.4's trap in JVM form; three spellings
    found and fixed in r12). This pins the WHOLE catalog so a new
    entry cannot reintroduce a duplicated regex/gram tree. The same
    plan pins the entry's shuffle count where _MAX_SHUFFLES has one."""
    if name in _ALLOW:
        pytest.skip("documented cheap exception (see _ALLOW)")
    from xtdb_spark.queries import QUERIES

    plan = _plan(QUERIES[name].fn(spark, SF_DIR))
    suspect = [ln for ln in plan.splitlines()
               if ln.lstrip().startswith(("Condition", "Join condition",
                                          "Left keys", "Right keys"))
               or "hashpartitioning(" in ln]
    for tok in _EXPENSIVE:
        bad = [ln for ln in suspect if tok in ln]
        assert not bad, f"{name}: {tok} in {bad[0].strip()[:220]}"
    if name in _MAX_SHUFFLES:
        n = count_shuffles(plan)
        assert n <= _MAX_SHUFFLES[name], f"{name}: {n} shuffles"


# ------------------------------------------ gram-pass repartition

def test_gram_pass_repartitions_text_below_compute(spark):
    """The gram exchange must ship raw (id, text) and the zip_with
    chain must sit ABOVE it (r13: the scan of compressed text yields
    1-2 partitions at every SF, so a repartition placed after the
    gram select ran the chain and a gram-array shuffle near-serially
    — sf10 checkpoint 44-47 s vs 4-10 s with the exchange below)."""
    import re

    from pyspark.sql import functions as F

    from xtdb_spark.pipeline import dedup

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    g = (dedup._text_by_id(docs, "doc_id", "text")
         .select("id", dedup.word_ngrams(F.col("__text"), 3).alias("grams")))
    plan = _plan(g)
    # the Exchange's input is the raw text projection, not gram arrays
    ex = re.search(r"\(\d+\) Exchange\n(?:.*\n)*?Input.*", plan)
    assert ex and "__text" in ex.group(0), ex.group(0) if ex else plan
    # and no gram chain is computed below it (map side stays cheap)
    below = plan[ex.end():]
    assert "zip_with" not in below.split("\n\n")[0]

    # the materialized checkpoint runs at the session's configured
    # parallelism, not the byte-sized scan partitioning
    ck = dedup._gram_arrays_ck(docs, "doc_id", "text", 3)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert ck.rdd.getNumPartitions() == n


def test_gram_pass_rows_identical_to_post_select_repartition(spark):
    """Moving the repartition below the gram compute is a pure plan
    transformation: per-doc gram arrays are element-identical to the
    r12 spelling (select grams, then repartition)."""
    from pyspark.sql import functions as F

    from xtdb_spark.pipeline import dedup

    docs = spark.read.parquet(os.path.join(SF_DIR2, "documents.parquet"))
    new = dedup._gram_arrays_ck(docs, "doc_id", "text", 3)
    old = (docs.select(F.col("doc_id").alias("id"),
                       dedup.word_ngrams(F.col("text"), 3).alias("grams"))
           .repartition(F.col("id")))
    assert _rows(new.select("id", F.col("grams").cast("string"))) \
        == _rows(old.select("id", F.col("grams").cast("string")))


# ------------------------------------------ ldw (session 3)

def test_ldw_repartitions_plain_scan_to_configured_parallelism(spark):
    """ldw() on a plain (uncached) scan must hash-repartition the raw
    rows to spark.sql.shuffle.partitions BEFORE any per-row compute —
    compressed text parquet scans 1-2 input partitions at every SF,
    so narrow regex/tokenize passes over ld() ran near-serially."""
    from xtdb_spark.queries.registry import ld, ldw

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = ldw(spark, SF_DIR, "documents")
    assert d.rdd.getNumPartitions() == n
    plan = _plan(d)
    assert "hashpartitioning(doc_id" in plan, plan
    # and rows are exactly ld()'s rows — a repartition, nothing else
    old = ld(spark, SF_DIR, "documents")
    assert _rows(d) == _rows(old)


def test_ldw_is_noop_on_pinned_cache(spark):
    """When cache_tables pinned the table, ldw() must return the
    cached view UNTOUCHED (the cache already repartitions for work):
    the bench's hot path gains no extra exchange, so bench numbers
    stay comparable across rounds."""
    from xtdb_spark.queries import registry

    view = registry._cache_view_name(SF_DIR, "documents")
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .createOrReplaceTempView(view)
    registry._CACHED_VIEWS.add(view)
    try:
        d = registry.ldw(spark, SF_DIR, "documents")
        assert "hashpartitioning" not in _plan(d)
    finally:
        registry._CACHED_VIEWS.discard(view)
        spark.catalog.dropTempView(view)


def test_partition_sensitive_entries_stay_on_ld():
    """k-means fits consume vectors in partition order (limit-based
    sampling) — repartitioning CHANGES their results (measured
    SIG-DIFF at sf0.001 / sf10). pipe_embedding_kmeans must keep the
    plain ld() scan everywhere; pipe_ann_pq may repartition the
    order-insensitive encode/rerank path but its codebook FIT must
    read the plain-scan arm."""
    import inspect

    from xtdb_spark.queries import QUERIES

    src = inspect.getsource(QUERIES["pipe_embedding_kmeans"].fn)
    assert "ldw(" not in src, "pipe_embedding_kmeans must not use ldw"
    src = inspect.getsource(QUERIES["pipe_ann_pq"].fn)
    assert "pq_codebooks(c_fit" in src, \
        "pipe_ann_pq codebook fit must read the plain-scan arm"


# ------------------------------------------ simhash (session 4)

def test_simhash_fingerprint_computed_once(spark):
    """simhash_near_pairs: the 64-sum fingerprint aggregate is
    checkpointed, so the final plan replays NEITHER the token explode
    nor the parquet scan — before the checkpoint the cap-aggregate
    arm re-ran the whole fingerprint subtree (2 scans / 2 token
    explodes in the executed plan; sf1 A/B median 5.00 → 3.67 s),
    and its rows are unchanged (a checkpoint is a barrier)."""
    from xtdb_spark.pipeline import dedup

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3, max_band_df=200)
    plan = _plan(pairs)
    assert "Scan parquet" not in plan, "fingerprint subtree replayed"
    assert "explode(split" not in plan, "token explode replayed"
    assert _rows(pairs) == _rows(pairs)


def test_bpe_ish_token_count_equals_split_spelling(spark):
    """The regexp_count pieces term must equal the r12 split+filter
    spelling on adversarial inputs (unicode, emoji, NULL, control
    chars, empty) — same Java regex classes, maximal runs."""
    from pyspark.sql import functions as F

    from xtdb_spark.pipeline import text as T

    rows = [("",), ("   ",), (".",), ("...a..b..",), ("a1b2",),
            ("ünïcode wörds",), ("漢字テスト abc 123",),
            ("\t\n\x0b\f\r",), ("a-b_c.d!e",), ("🎉 emoji 🚀 test",),
            (None,), ("0" * 100 + "." + "a" * 100,)]
    df = spark.createDataFrame(rows, ["text"])
    old = (F.size(F.filter(F.split("text", r"[^A-Za-z0-9]+"),
                           lambda w: w != F.lit("")))
           + F.length(F.regexp_replace(
               F.regexp_replace("text", r"[A-Za-z]+|[0-9]+", ""),
               r"\s", "")))
    bad = (df.select(old.alias("o"),
                     T.bpe_ish_token_count(F.col("text")).alias("n"))
           .filter(~F.col("o").eqNullSafe(F.col("n")))).count()
    assert bad == 0


def test_classify_punct_equals_single_class_spelling(spark):
    """The punct-density numerator's run-strip spelling must equal
    the r12 single-char-class replace on adversarial inputs."""
    from pyspark.sql import functions as F

    rows = [("",), (None,), ("...a..b..",), ("ünïcode wörds!",),
            ("漢字 abc 123?",), ("\t\n\x0b\f\r",), ("🎉,🚀",),
            ("a-b_c.d!e",)]
    df = spark.createDataFrame(rows, ["t"])
    old = F.length(F.regexp_replace("t", r"[A-Za-z0-9\s]", ""))
    new = F.length(F.regexp_replace(F.regexp_replace(
        "t", r"[A-Za-z]+|[0-9]+", ""), r"\s", ""))
    bad = df.select(old.alias("o"), new.alias("n")) \
            .filter(~F.col("o").eqNullSafe(F.col("n"))).count()
    assert bad == 0


def test_span_pairs_distinct_is_per_doc_array_distinct(spark):
    """span_pairs' per-doc fingerprint dedup must run as
    array_distinct below the explode, not as a full-stream
    (doc_id, h) distinct exchange (r13: one 150 M-row exchange gone
    at the sf10 replica; rows identical, oracle PASS ×3 SFs)."""
    import re

    from xtdb_spark.pipeline import dedup

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(dedup.span_pairs(docs))
    assert "array_distinct" in plan
    assert not re.search(r"hashpartitioning\(doc_id#\d+L?, h#", plan), \
        "full-stream distinct exchange reappeared"
