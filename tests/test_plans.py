"""Plan-quality regression tests: lock in the physical-plan
properties that make the catalog scale (SURVEY §4) — filters reach
the parquet scan, scans are column-pruned, dimension joins broadcast,
and no query degenerates to a cartesian product.

The reference's equivalents: metadata page pruning
(expression/metadata.clj), bloom sideways pushdown (join.clj:172-226),
build-side choice by stats (join.clj:435-441). Here Catalyst provides
them — these tests ensure our query shapes keep qualifying."""

from __future__ import annotations

import re

import pytest

from xtdb_spark.plans.explain import analyze
from xtdb_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def no_aqe(spark):
    """Static plans: AQE hides join strategies until runtime."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def facts(spark, name):
    return analyze(QUERIES[name].fn(spark, SF_DIR))


# These two plan with AQE on. no_aqe is module-scoped: it turns AQE
# off at the first test that requests it and back on only when the
# module ends, so they sit above that test.
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


def test_q1_filter_pushdown_and_pruning(no_aqe):
    f = facts(no_aqe, "tpch_q1_pricing_summary")
    assert any("l_shipdate" in pf for pf in f.pushed_filters), f.pushed_filters
    # only the 7 needed columns are read, not all 11
    assert f.scan_reads_only(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")


def test_q3_selective_filters_pushed(no_aqe):
    f = facts(no_aqe, "tpch_q3_shipping_priority")
    flat = ";".join(f.pushed_filters)
    assert "c_mktsegment" in flat and "o_orderdate" in flat and "l_shipdate" in flat


def test_q5_dimensions_broadcast(no_aqe):
    f = facts(no_aqe, "tpch_q5_local_supplier_volume")
    # 6-way join: every join should be hash-based, none cartesian
    assert f.n_broadcast_joins >= 2  # nation + region at minimum
    assert "CartesianProduct" not in f.text


def test_q9_all_joins_broadcast_at_small_sf(no_aqe):
    f = facts(no_aqe, "tpch_q9_product_type_profit")
    assert f.n_broadcast_joins >= 3
    assert any("p_name" in pf and "red" in pf for pf in f.pushed_filters)


def test_q2_semi_join_prunes_before_aggregate(no_aqe):
    """The broadcast semi-joins must sit BELOW the (partkey, suppkey)
    aggregate: the formatted plan's aggregate node reads from joins,
    not the raw scan."""
    f = facts(no_aqe, "tpch_q2_min_cost_supplier")
    txt = f.text
    first_agg = txt.find("HashAggregate")
    first_semi = txt.find("BroadcastHashJoin LeftSemi")
    if first_semi == -1:
        first_semi = txt.find("LeftSemi")
    assert first_semi != -1, "semi-join pruning disappeared from Q2"


def test_bitemp_scan_prunes_columns(no_aqe):
    f = facts(no_aqe, "bitemp_current_state")
    # resolution reads only the event-log columns it needs
    assert f.scan_reads_only("user_id", "value", "event_type", "ts")


def test_no_cartesian_products_in_headline(no_aqe):
    from bench import HEADLINE

    for name in HEADLINE:
        f = facts(no_aqe, name)
        # scalar-subquery broadcasts (1-row rels) are the only
        # legitimate nested-loop joins
        assert "CartesianProduct" not in f.text, name


def test_explain_analyze_runtime_metrics(spark):
    """EXPLAIN ANALYZE parity: executed-plan string carries runtime
    metrics (reference query.clj:210-277 per-cursor stats)."""
    from xtdb_spark.plans.explain import explain_analyze

    txt = explain_analyze(QUERIES["tpch_q1_pricing_summary"].fn(spark, SF_DIR))
    assert "== Runtime metrics ==" in txt
    assert "numOutputRows" in txt
    # AQE finalized: the static AdaptiveSparkPlan wrapper is unwrapped
    assert "isFinalPlan=false" not in txt


def test_minhash_lsh_verify_is_candidate_driven(no_aqe):
    """The LSH verify stage must compute Jaccard for CANDIDATE pairs
    only — never the all-pairs shared-shingle join the banding exists
    to avoid (round-1 VERDICT scale-killer). Locked two ways: no
    cartesian product anywhere in the plan, and the verify kernel
    minhash runs (`_jaccard_for_pairs_arrays` over the hashed gram
    arrays) yields nothing when the candidate set is empty even though
    the docs share every shingle."""
    from xtdb_spark.pipeline.dedup import (_gram_arrays, _hashed_gram_arrays,
                                           _jaccard_for_pairs_arrays,
                                           minhash_lsh_pairs)
    from xtdb_spark.plans.explain import formatted_plan

    spark = no_aqe
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)],
        "doc_id long, text string")
    plan = formatted_plan(minhash_lsh_pairs(docs))
    assert "CartesianProduct" not in plan
    # identical docs: LSH must still find them (recall sanity)
    found = minhash_lsh_pairs(docs, threshold=0.9)
    assert found.count() == 15  # C(6,2) identical pairs
    # empty candidate set → zero verify work/output despite full overlap
    g = _hashed_gram_arrays(_gram_arrays(docs, "doc_id", "text", 3))
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert _jaccard_for_pairs_arrays(g, empty).count() == 0
    # candidate-driven: exactly the requested pair comes back
    one = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    got = _jaccard_for_pairs_arrays(g, one).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [(0, 1, 1.0)]


def test_sequence_packing_window_is_partitioned(spark):
    """Scale regression: the big cumsum window in pipe_sequence_packing
    must be PARTITIONED by shard — a bare Window.orderBy funnels the
    whole table through one task at scale. Only the 256-row
    shard-prefix window may be unpartitioned."""
    import __spark_entry__ as entry

    df = entry.queries()["pipe_sequence_packing"](
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    wins = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert wins, "expected window operators in the packing plan"
    big = [ln for ln in wins if "n_tokens" in ln and "shard_tokens" not in ln]
    assert big and all("windowspecdefinition(shard" in ln for ln in big), \
        f"per-doc cumsum window must be partitioned by shard: {big}"


def test_cb_point_lookup_pushdown(no_aqe):
    """ClickBench point-filter shape: the user_id predicate must
    reach the parquet scan (row-group stats skip at scale)."""
    f = facts(no_aqe, "cb_point_lookup")
    assert any("user_id" in pf for pf in f.pushed_filters), f.pushed_filters
    assert f.scan_reads_only("event_id", "ts", "event_type", "value",
                             "user_id")


def test_cb_minute_histogram_range_pushdown(no_aqe):
    """Time-window histogram: the ts range predicate reaches the scan
    and only (ts) is read."""
    f = facts(no_aqe, "cb_minute_histogram")
    assert any("ts" in pf for pf in f.pushed_filters), f.pushed_filters
    assert f.scan_reads_only("ts")


def test_cb_topk_no_global_sort(no_aqe):
    """Group-topk must TakeOrderedAndProject, not globally sort the
    aggregate output."""
    f = facts(no_aqe, "cb_group_count_topk")
    assert "TakeOrderedAndProject" in f.text


def test_substring_dedup_three_shuffles_and_pruned_scan(no_aqe):
    """pipe_dedup_substring's scale shape: the scan reads only
    (doc_id, text); the short-doc filter runs BEFORE the shingle
    explode; exactly three exchanges (the ldw compute repartition of
    the raw text below the explode — guide §2, partition for
    post-explode work, not scanned bytes — plus fingerprint window
    and doc_id islands) — no groupBy+self-join recompute of the
    explode."""
    f = facts(no_aqe, "pipe_dedup_substring")
    assert f.scan_reads_only("doc_id", "text")
    assert f.text.count("Generate") >= 1          # the explode
    assert f.n_shuffles == 3, f.n_shuffles
    # the added exchange is the raw-text compute repartition: an
    # explicit-count hash exchange on the doc id (formatted mode puts
    # the partitioning on an Arguments: line)
    assert re.search(r"Arguments: hashpartitioning\(doc_id#\d+L?, \d+\), "
                     r"REPARTITION_BY_NUM", f.text), "no compute repartition"
    assert "CartesianProduct" not in f.text


def test_global_shuffle_is_range_exchange_no_window(no_aqe):
    """pipe_global_shuffle: a range repartition + local sort — no
    global window, no single-partition funnel. The ldw compute
    repartition below it parallelizes the range sampler's scan (the
    compressed text scan is 1-2 partitions at every SF), so exactly
    two exchanges."""
    f = facts(no_aqe, "pipe_global_shuffle")
    assert f.n_shuffles == 2, f.n_shuffles
    assert "rangepartitioning" in f.text.lower()
    assert "Window" not in f.text
