"""Deduplication operators for corpus prep at scale.

Strategies (each returns DataFrames, shuffles only on blocking keys):

- exact: hash-groupBy on a normalized fingerprint. One shuffle.
- n-gram Jaccard: word n-gram sets, exact pairwise Jaccard within
  blocking buckets (shared rare n-gram). Exact but candidate-bounded.
- MinHash + LSH: k min-hashes per doc (k aggregate expressions over
  exploded shingles — JVM-side, no UDF), banded into b buckets,
  candidate pairs from bucket self-join, verified with exact Jaccard.
  The classic scale path: cost ~ O(docs × shingles) + bucket joins.
- SimHash: 32-bit projection fingerprint via per-bit majority vote
  (32 conditional-sum aggregates), near-dup = small Hamming distance,
  blocked on bytes (any equal byte → candidate).
"""

from __future__ import annotations

import itertools
import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xtdb_spark.pipeline.text import fingerprint

_log = logging.getLogger("xtdb_spark.dedup")
_cap_seq = itertools.count()
_cap_logged: set[str] = set()

# Opt-in reliable checkpointing for long-lived intermediates (r13,
# guide §5.3 at cluster scale): localCheckpoint data dies with an
# executor, so an hour-long dedup job can fail mid-flight instead of
# recomputing. When this conf (or an already-set SparkContext
# checkpoint dir) points at reliable storage, the materialization
# barriers below write there instead. Local default: unset →
# localCheckpoint, exactly the pre-r13 behavior.
_CHECKPOINT_DIR_CONF = "xtdb.checkpointDir"


def checkpoint_df(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialization barrier: `df.checkpoint()` to the configured
    reliable checkpoint dir when one is set (``xtdb.checkpointDir``
    conf or `SparkContext.setCheckpointDir`), else
    `df.localCheckpoint()`. Results are identical either way — a
    checkpoint is a barrier, not a transformation — only the storage
    (reliable vs executor-local) and thus failure recovery differ."""
    spark = df.sparkSession
    sc = spark.sparkContext
    conf_dir = spark.conf.get(_CHECKPOINT_DIR_CONF, None)
    has_dir = not sc._jsc.sc().getCheckpointDir().isEmpty()
    if conf_dir and not has_dir:
        sc.setCheckpointDir(conf_dir)
        has_dir = True
    if has_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _cap_hot_buckets(e: DataFrame, keys: list[str], id_col: str,
                     cap: int, what: str) -> DataFrame:
    """Drop blocking buckets shared by more than `cap` ids before a
    banded self-join (the hot-bucket quadratic guard) — OBSERVABLY,
    not silently (round-11 ADVICE: the round-10 default flip to
    capped mode changed recall for library callers with no signal).
    The executed plan carries an `observe` metric
    `xtdb.dedup.<what>.<n>` with `dropped_buckets` (bucket values
    actually over the cap on THIS input — recall lost, if any) and
    `max_bucket_df`; any QueryExecutionListener sees it, and a
    one-time log line per call site records the opt-out
    (max_band_df=None → exhaustive recall)."""
    if what not in _cap_logged:
        _cap_logged.add(what)
        _log.info(
            "%s: hot-bucket cap active (bucket df > %d dropped before "
            "the self-join); pass max_band_df=None for exhaustive "
            "recall; the executed plan's 'xtdb.dedup.%s.*' observed "
            "metric reports dropped_buckets/max_bucket_df",
            what, cap, what)
    agg = (e.groupBy(*keys)
           .agg(F.countDistinct(id_col).alias("bdf"))
           .observe(f"xtdb.dedup.{what}.{next(_cap_seq)}",
                    F.coalesce(
                        F.sum((F.col("bdf") > cap).cast("long")),
                        F.lit(0)).alias("dropped_buckets"),
                    F.max("bdf").alias("max_bucket_df")))
    ok = agg.filter(F.col("bdf") <= cap).select(*keys)
    return e.join(ok, keys)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents.
    Returns (fingerprint, n_docs, keep_id, dup_ids-as-sorted-string)."""
    return (docs
            .select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
            .groupBy("fp")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keep_id"),
                 F.array_join(F.sort_array(F.collect_list(id_col)), ",")
                 .alias("all_ids")))


def word_ngrams(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column.

    Built as a zip_with chain — gram_k[i] = gram_{k-1}[i] ⊔ words[i+k-1]
    via ONE concat per element — instead of
    `transform(idx, i -> array_join(slice(words, i+1, n), ' '))`:
    the slice+join lambda allocates a sub-array and re-iterates it per
    position, and measured 6.6× slower (25-29 s vs 3.8-4.4 s per
    corpus gram pass at the sf1 replica, r12; outputs verified
    element-identical on all 50 k docs, and an element_at+concat_ws
    spelling measured ~2.7× WORSE than baseline — allocation shape,
    not lambda count, is what matters). Intermediate zips pad the
    tail with NULL (concat is null-strict); the final slice drops
    exactly that padded region. Docs shorter than n words keep the
    whole-text single shingle; NULL text yields the single-NULL array
    `[NULL]` the slice+join spelling produced (its `greatest` skipped
    the NULL size, leaving one position whose join was NULL)."""
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
    m = F.size(words)
    g = words
    for k in range(2, n + 1):
        g = F.zip_with(g, F.slice(words, k, F.greatest(m - (k - 1), F.lit(0))),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    grams = (F.when(m >= n, F.slice(g, 1, m - (n - 1)))
             .when(m >= 1, F.array(F.array_join(words, " ")))
             .otherwise(F.array(F.lit(None).cast("string"))))
    return F.array_distinct(grams)


def _work_partitions(docs: DataFrame) -> int:
    """Partition count for the gram passes: the session's configured
    shuffle parallelism (cpus locally; a cluster sets it to its scale).
    Passed EXPLICITLY to repartition() so AQE cannot coalesce the raw
    text exchange by its byte size — compressed doc text arrives ~100×
    smaller than the gram/tokenize work it fans out into (sf10: 6 MB
    parquet → ~1 GB of text → ~6 GB of grams), the exact
    partition-for-work-not-bytes case of guide §2."""
    return int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _text_by_id(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __text) repartitioned by id BEFORE any gram/token compute.

    r13 (guide §2.1/§2.2): the gram pass is the engine's most
    expensive narrow compute, and the parquet scan of compressed text
    yields 1-2 input partitions at any SF (6 MB file at the sf10
    replica) — putting repartition() AFTER the gram select ran the
    regex+zip_with chain and the ~6 GB gram-array shuffle write on 2
    cores. Shuffling the raw (id, text) FIRST moves the compute above
    the exchange (32-way) and ships ~6× fewer bytes; measured
    44-47 s → 4-10 s on the sf10 gram checkpoint, arrays
    bit-identical across all 500 k docs."""
    return (docs.select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("__text"))
            .repartition(_work_partitions(docs), F.col("id")))


def _shingle_table(docs: DataFrame, id_col: str, text_col: str,
                   n: int) -> DataFrame:
    """(id, n_grams, gram) — one row per distinct shingle per doc.

    Repartitions the raw (id, text) on the doc id FIRST (see
    _text_by_id): the explode multiplies per-row work ~100×, and
    without the shuffle the gram compute AND the downstream
    aggregation inherit the parquet scan's BYTE-sized partitioning
    (observed at sf10: a 2-task stage with one straggler spilling for
    minutes — partition for post-explode work, not bytes scanned).

    explode_OUTER, deliberately (r12, guide §4.4's duplication trap
    in JVM form): plain explode makes InferFiltersFromGenerate add a
    `size(grams) > 0` filter on the aliased column, and predicate
    pushdown then substitutes the FULL word_ngrams tree into the
    condition — every doc paid the gram pass twice (52 split trees in
    pipe_contamination_check's Filter conditions). word_ngrams output
    is never null and never empty (short/NULL docs yield a 1-element
    array — see its docstring), so outer == inner row-for-row and no
    filter is inferred (the rule only fires for outer=false)."""
    return (_text_by_id(docs, id_col, text_col)
            .select("id", word_ngrams(F.col("__text"), n).alias("grams"))
            .withColumn("n_grams", F.size("grams"))
            .select("id", "n_grams", F.explode_outer("grams").alias("gram")))


def _gram_arrays(docs: DataFrame, id_col: str, text_col: str,
                 n: int) -> DataFrame:
    """(id, grams) — per-doc DISTINCT shingle array (word_ngrams is
    array_distinct), the compact verify-side relation: one row per
    doc, not one per shingle."""
    return docs.select(F.col(id_col).alias("id"),
                       word_ngrams(F.col(text_col), n).alias("grams"))


def _gram_arrays_ck(docs: DataFrame, id_col: str, text_col: str,
                    n: int) -> DataFrame:
    """(id, grams) materialized ONCE via localCheckpoint, partitioned
    by id (the post-explode work key, see _shingle_table).

    The gram computation (regex split + n-gram transform +
    array_distinct) is the most expensive narrow pass in the banded
    dedups, and the lazy plan replays it per consumer: blocking-side
    explode, the df/rare aggregate, each arm of the candidate
    self-join, and the verify arrays each re-derive it (r12 measured
    ~27 s per replay at the sf1 replica; checkpointing took
    pipe_dedup_ngram_jaccard 123-132 s -> 91-99 s same-JVM, output
    bit-identical). Same materialization-barrier pattern as
    duplicate_clusters' per-round checkpoints (guide §5.3); like
    there, localCheckpoint trades executor-loss recovery of this
    intermediate for never re-running the corpus regex pass.

    r13: the repartition moved BELOW the gram compute onto the raw
    (id, text) — see _text_by_id — so the chain runs at full
    parallelism and the exchange ships text, not built gram arrays
    (sf10 checkpoint 44-47 s → 4-10 s, arrays bit-identical)."""
    g = (_text_by_id(docs, id_col, text_col)
         .select("id", word_ngrams(F.col("__text"), n).alias("grams")))
    return checkpoint_df(g)


def _hashed_gram_arrays(g: DataFrame) -> DataFrame:
    """Encode the per-doc gram arrays as xxhash64 longs for the verify
    intersect — EXACT, not approximate: the encoding is only used
    after a runtime injectivity proof (count of distinct grams ==
    count of distinct hashes over the corpus vocabulary, one
    vocab-sized aggregate off the checkpointed relation). Injective
    hashing preserves every per-pair intersection count and array
    size, so Jaccard values are identical by construction; on a
    collision (never observed; ~|vocab|²/2⁶⁴ odds) the string arrays
    are returned unchanged and the verify runs exactly as before.

    Motivation (r12, guide §1.2 per-row work): array_intersect over
    52-element *string* arrays costs ~50 µs/pair (per-row hash-set
    build over ~20-byte UTF8 keys) — 48-50 s for 43.8 M candidate
    pairs at the sf1 replica vs 17-19 s over long arrays (2.8×)."""
    # two-stage spelling (r13): distinct first (map-side partial
    # aggregation over the gram stream), then count + hash-distinct
    # over the VOCAB-sized relation — the one-aggregate double
    # countDistinct spelling planned an Expand that duplicated the
    # whole exploded corpus stream into the distinct shuffle.
    chk = (g.select(F.explode_outer("grams").alias("gram"))
           .distinct()
           .agg(F.count("*").alias("ng"),
                F.countDistinct(F.xxhash64("gram")).alias("nh"))
           .collect()[0])
    if chk["ng"] != chk["nh"]:  # pragma: no cover — astronomically rare
        return g
    return g.select("id",
                    F.expr("transform(grams, x -> xxhash64(x))").alias("grams"))


# Arrow-dict verify gate: the per-task gram dictionary must stay
# broadcast-sized. Local default 256 MB of hashed-gram payload —
# far above every gate SF (sf1 ≈ 20 MB, the sf10 replica ≈ 100 MB)
# and far below a 100 TB corpus, which falls back to the
# distributed array_intersect join kernel below.
_ARROW_VERIFY_MAX_BYTES = 256 << 20
# rows × (2·max_grams) int64 scratch per chunk; the chunker below
# bounds memory, but a corpus whose LONGEST doc dwarfs the typical
# doc would waste the rectangular sort on padding — route those to
# the join kernel instead.
_ARROW_VERIFY_MAX_GRAMS = 4096
# the dict build + broadcast + per-task payload load is a fixed cost
# (~0.7 s at 50 k docs, ~2 s at 500 k); below this many candidate
# pairs the per-pair savings cannot repay it and the join kernel is
# faster (measured: minhash sf1, 250 k pairs — join 8.7 s vs dict
# 10.6 s; ngram sf1, 43.8 M pairs — dict 2× better).
_ARROW_VERIFY_MIN_PAIRS = 2_000_000


def _arrow_verify_eligible(g: DataFrame) -> bool:
    """Type/byte/width gate for the dict kernel (the cheap checks,
    one small aggregate over the checkpointed gram relation)."""
    from pyspark.sql.types import ArrayType, LongType

    gtype = dict(zip(g.columns, [f.dataType for f in g.schema.fields]))
    if not (isinstance(gtype.get("grams"), ArrayType)
            and isinstance(gtype["grams"].elementType, LongType)):
        return False          # string fallback path — join kernel owns it
    stats = g.agg(F.sum(F.size("grams")).alias("tg"),
                  F.max(F.size("grams")).alias("mg")).collect()[0]
    return not (stats["tg"] is None
                or stats["tg"] * 8 > _ARROW_VERIFY_MAX_BYTES
                or stats["mg"] > _ARROW_VERIFY_MAX_GRAMS)


def _dict_intersect_counts(g: DataFrame, cand: DataFrame,
                           threshold: float = 0.0,
                           gated: bool = False) -> DataFrame | None:
    """(id_a, id_b, n_inter, na, nb) for an explicit candidate-pair
    set, via a task-local gram dictionary + ONE vectorized sorted-row
    merge per Arrow batch (guide §4.2/§8: the decision needs only
    8-byte gram hashes; ship the 16-byte pair keys, not the arrays).

    EXACT, not approximate — every shortcut is invariant-guarded and
    falls back to the distributed join kernel (return None) when a
    guard fails:

    - requires the hashed (long-array) gram relation — the
      `_hashed_gram_arrays` injectivity proof already holds there;
    - integral doc ids key the dictionary directly; other id types
      ride as xxhash64(id), and the dictionary build verifies those
      hashes are unique over the corpus (exact id lookup);
    - per pair, |A∩B| = count of adjacent equal values in the SORTED
      concatenation of both gram arrays (each array is distinct by
      word_ngrams construction). Rows shorter than the rectangle are
      padded from a reserved range at int64 min, distinct within
      every row; the build checks NO real gram hash lands in that
      range, so pads can never create or mask a match;
    - pairs failing `n_inter >= 1` or `jaccard >= threshold` are
      dropped INSIDE the kernel (the Arrow round-trip of the pair
      stream is over half the stage cost — 7.3 s identity pass vs
      17 s full stage at the sf1 replica — and survivors are ~0.6%
      of candidates). numpy float64 division over exactly-widened
      ints is the same IEEE-754 operation as the caller's Spark
      `double` expression, so the surviving set is identical; the
      caller re-applies both filters on the returned counts anyway.

    Per-pair cost is ~2 µs of SIMD sort vs array_intersect's per-row
    OpenHashSet build (~17 µs CPU measured at the sf1 replica, r12) —
    and only when the whole corpus' gram payload fits the broadcast
    gate (see _ARROW_VERIFY_MAX_BYTES).
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not gated and not _arrow_verify_eligible(g):
        return None
    spark = g.sparkSession
    gtype = dict(zip(g.columns, [f.dataType for f in g.schema.fields]))

    import numpy as np

    int_ids = isinstance(gtype.get("id"),
                         (ByteType, ShortType, IntegerType, LongType))
    key = (F.col("id").cast("long") if int_ids
           else F.xxhash64("id")).alias("h")
    # toArrow: the list column arrives as ONE flat values buffer plus
    # offsets — the dictionary's CSR layout directly, with zero
    # per-row Python objects (a toPandas build materialized 500 k
    # list objects and cost 7-10 s of driver time at the sf10
    # replica; this path is ~6×  cheaper and is the §4.2 "re-slice
    # the buffer, don't copy rows" move on the driver side)
    tbl = g.select(key, "grams").toArrow()
    h = tbl.column("h").combine_chunks().to_numpy(
        zero_copy_only=False).astype(np.int64, copy=False)
    n = h.size
    if n == 0 or np.unique(h).size != n:
        return None           # id-hash collision: exact lookup impossible
    grams_col = tbl.column("grams").combine_chunks()
    if grams_col.null_count or grams_col.values.null_count:
        return None           # null docs/elements — join kernel owns it
    values = grams_col.values.to_numpy(zero_copy_only=False) \
        .astype(np.int64, copy=False)
    off = grams_col.offsets.to_numpy(zero_copy_only=False) \
        .astype(np.int64, copy=False)
    lens = np.diff(off)
    k_max = int(lens.max())
    # lookups go through an argsort permutation instead of reordering
    # the CSR by id hash (sorter: batch key → dict row)
    sorter = np.argsort(h, kind="stable")
    h_sorted = h[sorter]
    # (an int32 vocabulary-rank remap of the values was tried here —
    # it halves worker sort width but costs a driver-serial
    # np.unique + searchsorted over EVERY gram occurrence, measured
    # 6-8 s at the 500 k-doc replica vs no observable worker-side
    # win at sf1; rejected)
    pad_top = np.iinfo(np.int64).min + 2 * k_max
    if values.size and int(values.min()) < pad_top:
        return None           # a real hash sits in the pad range
    bc = spark.sparkContext.broadcast(
        (h_sorted, sorter.astype(np.int64), values, off, k_max))

    id_t = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    out_schema = (f"id_a {id_t['id_a']}, id_b {id_t['id_b']}, "
                  "n_inter int, na int, nb int")

    def count_batches(batches):
        import numpy as np
        import pyarrow as pa

        hs, sorter, vals, offs, K = bc.value
        pads = np.iinfo(np.int64).min + np.arange(2 * K, dtype=np.int64)
        cols = np.arange(K, dtype=np.int64)
        # bound the rectangular scratch to ~64 MB per chunk
        chunk = max(1, (8 << 20) // max(2 * K, 1))

        def side(idx, ln, lo, k):
            # k = this chunk's max length for the side: pairs are
            # processed in (la+lb)-sorted chunks so the rectangle is
            # only as wide as the chunk's longest docs — sorting the
            # global-max width instead wastes ~2× on padding when the
            # length distribution is skewed (measured at sf1: max 98
            # vs median 52 grams/doc)
            c = cols[:k]
            rect = vals[offs[idx][:, None]
                        + np.minimum(c, ln[:, None] - 1)]
            return np.where(c >= ln[:, None],
                            pads[lo:lo + k][None, :], rect)

        for b in batches:
            if "__ha" in b.schema.names:
                ha = b.column("__ha").to_numpy()
                hb = b.column("__hb").to_numpy()
            else:
                ha = b.column("id_a").to_numpy().astype(np.int64,
                                                        copy=False)
                hb = b.column("id_b").to_numpy().astype(np.int64,
                                                        copy=False)
            ia = np.searchsorted(hs, ha).clip(max=hs.size - 1)
            ib = np.searchsorted(hs, hb).clip(max=hs.size - 1)
            # ids absent from g drop out, exactly like the join
            # kernel's inner attach joins (library callers may pass
            # foreign candidate ids; the entries never do)
            ok = (hs[ia] == ha) & (hs[ib] == hb)
            if not ok.all():
                b = b.filter(pa.array(ok))
                ia, ib = ia[ok], ib[ok]
            ia = sorter[ia]          # sorted position → CSR row
            ib = sorter[ib]
            la = (offs[ia + 1] - offs[ia])
            lb = (offs[ib + 1] - offs[ib])
            ninter = np.empty(ia.size, dtype=np.int32)
            order = np.argsort(la + lb, kind="stable")
            for s in range(0, ia.size, chunk):
                sel = order[s:s + chunk]
                ls, lt = la[sel], lb[sel]
                ka = int(ls.max()) if ls.size else 0
                kb = int(lt.max()) if lt.size else 0
                rect = np.concatenate(
                    [side(ia[sel], ls, 0, ka),
                     side(ib[sel], lt, K, kb)], axis=1)
                rect.sort(axis=1)
                ninter[sel] = (rect[:, 1:] == rect[:, :-1]).sum(axis=1)
            # in-kernel survivor filter: float64 over exactly-widened
            # ints — the same IEEE-754 division/compare the caller's
            # Spark double expression performs on the same integers
            union = (la + lb - ninter).astype(np.float64)
            keep = (ninter >= 1) & (
                ninter.astype(np.float64) / union >= threshold)
            if not keep.all():
                b = b.filter(pa.array(keep))
                ninter, la, lb = ninter[keep], la[keep], lb[keep]
            yield pa.RecordBatch.from_arrays(
                [b.column("id_a"), b.column("id_b"),
                 pa.array(ninter, pa.int32()),
                 pa.array(la.astype(np.int32)),
                 pa.array(lb.astype(np.int32))],
                names=["id_a", "id_b", "n_inter", "na", "nb"])

    if int_ids:
        keyed = cand.select("id_a", "id_b")
    else:
        keyed = cand.select("id_a", "id_b",
                            F.xxhash64("id_a").alias("__ha"),
                            F.xxhash64("id_b").alias("__hb"))
    return keyed.mapInArrow(count_batches, out_schema)


def _jaccard_for_pairs_arrays(g: DataFrame, cand: DataFrame,
                              threshold: float = 0.0,
                              pair_hint: int | None = None) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair set, computed by
    intersecting per-doc DISTINCT gram arrays (r12, guide §2.3/§3):
    |A∩B| = size(array_intersect) — identical to the exploded
    gram-equality count since the arrays are distinct — but the
    intermediate is |cand| rows (two joins against the one-row-per-
    doc array relation, broadcastable when the corpus side fits;
    AQE picks the strategy from runtime sizes) instead of
    |cand|×shingles exploded rows shuffled into a (id_a,id_b)
    aggregate. Measured 420 s → 54 s on pipe_dedup_ngram_jaccard at
    the sf1 replica (43.8 M candidates × 52 shingles/doc).

    Zero-intersection candidates drop out (their Jaccard is 0, and
    the exploded gram-equality join this replaced never emitted
    them).

    r13: when the hashed gram relation fits the broadcast gate AND
    the candidate volume is large enough to repay the dictionary
    build (`pair_hint` from the caller — ngram's vocab df estimate —
    or a checkpoint-and-count when the caller has none), the counts
    come from `_dict_intersect_counts` (task-local dictionary +
    vectorized sorted-merge, ~2× on the verify stage at the sf1
    replica) — same n_inter/na/nb integers, same jaccard expression,
    so the output is bit-identical; above either gate (100 TB
    corpora; sparse candidate sets) or on any invariant failure the
    distributed join kernel below runs unchanged."""
    jac = (F.col("n_inter").cast("double")
           / (F.col("na") + F.col("nb") - F.col("n_inter")))
    counts = None
    if _arrow_verify_eligible(g):
        n_pairs = pair_hint
        if n_pairs is None:
            # no caller estimate: materialize the candidate set once
            # (it is about to be consumed anyway; eligibility already
            # bounds the corpus, so cand is checkpoint-sized) and
            # count it exactly
            cand = checkpoint_df(cand)
            n_pairs = cand.count()
        if n_pairs >= _ARROW_VERIFY_MIN_PAIRS:
            counts = _dict_intersect_counts(g, cand, threshold,
                                            gated=True)
    if counts is None:
        ga = g.select(F.col("id").alias("id_a"), F.col("grams").alias("__ga"))
        gb = g.select(F.col("id").alias("id_b"), F.col("grams").alias("__gb"))
        n_inter = F.size(F.array_intersect("__ga", "__gb"))
        counts = (cand.join(ga, "id_a").join(gb, "id_b")
                  .select("id_a", "id_b", n_inter.alias("n_inter"),
                          F.size("__ga").alias("na"), F.size("__gb").alias("nb")))
    return (counts
            .filter(F.col("n_inter") >= 1)
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_gram_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing at
    least one (blocking) shingle. |A∩B| from a shingle-join count;
    |A∪B| = |A|+|B|−|A∩B|.

    `max_gram_df` is the 100 TB knob: block only on shingles whose
    document frequency is ≤ max_gram_df. Common shingles ("of the
    and") otherwise make the candidate join quadratic; near-dups at
    any reasonable threshold always share *rare* shingles too, so
    df-filtered blocking keeps recall while bounding each blocking
    bucket to ≤ max_gram_df² pairs. Jaccard for the surviving
    candidates is still computed over ALL shingles (exact).

    Every stage (df aggregate, blocking join, verify intersect) runs
    over xxhash64-encoded grams when the corpus vocabulary admits the
    `_hashed_gram_arrays` injectivity proof — equalities, document
    frequencies and intersection counts are then identical to the
    string spelling, with 8-byte join/shuffle keys (guide §2.3) and a
    2.8× cheaper verify intersect (r12 A/Bs, both stages bit-identical
    at the sf1 replica).

    r13 (guide §2.4 — don't run the same full pass twice): in the
    df-filtered path the corpus gram aggregate is materialized ONCE
    as a vocabulary relation (gram → df) and BOTH the injectivity
    proof and the rare-gram filter read it; previously the proof ran
    its own full-corpus exploded aggregate before the df aggregate
    re-aggregated the same stream. Document frequencies over hashed
    grams equal those over strings exactly when the proof holds, so
    the candidate set is unchanged."""
    gs = _gram_arrays_ck(docs, id_col, text_col, n)
    if max_gram_df is not None:
        vocab = checkpoint_df(
            gs.select(F.explode_outer("grams").alias("gram"))
            .groupBy("gram").agg(F.count("*").alias("__df")))
        chk = vocab.agg(
            F.count("*").alias("ng"),
            F.countDistinct(F.xxhash64("gram")).alias("nh")).collect()[0]
        if chk["ng"] == chk["nh"]:
            g = gs.select(
                "id",
                F.expr("transform(grams, x -> xxhash64(x))").alias("grams"))
            rare = (vocab.filter(F.col("__df") <= max_gram_df)
                    .select(F.xxhash64("gram").alias("gram")))
        else:  # pragma: no cover — astronomically rare
            g = gs
            rare = (vocab.filter(F.col("__df") <= max_gram_df)
                    .select("gram"))
        # explode_outer here and below: the hashed grams column is an
        # aliased transform(...) Project over the checkpoint, so plain
        # explode's inferred size()>0 filter would re-run the 52-hash
        # transform per doc per consuming arm (see _shingle_table).
        # word_ngrams output is never empty/null; transform keeps that.
        sh = g.select("id", F.explode_outer("grams").alias("gram"))
        block = sh.join(rare, "gram", "left_semi")
        cand = (block.alias("a")
                .join(block.alias("b"),
                      (F.col("a.gram") == F.col("b.gram"))
                      & (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
                .distinct())
        # candidate-volume upper bound Σ df·(df−1)/2 over blocking
        # grams, one tiny aggregate off the vocab checkpoint — the
        # verify kernel's pair gate, for free
        est = (vocab.filter(F.col("__df") <= max_gram_df)
               .agg(F.sum(F.col("__df") * (F.col("__df") - 1) / 2)
                    .alias("e")).collect()[0]["e"])
        return _jaccard_for_pairs_arrays(g, cand, threshold,
                                         pair_hint=int(est or 0))
    g = _hashed_gram_arrays(gs)
    sh = g.select("id", F.size("grams").alias("n_grams"),
                  F.explode_outer("grams").alias("gram"))
    # exact blocking on every shared shingle; the intersection count
    # falls straight out of the one blocking join
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.gram") == F.col("b.gram"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                      F.col("a.n_grams").alias("na"), F.col("b.n_grams").alias("nb"))
             .agg(F.count("*").alias("n_inter")))
    jac = (F.col("n_inter").cast("double")
           / (F.col("na") + F.col("nb") - F.col("n_inter")))
    return (inter.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       k: int = 32) -> DataFrame:
    """k-permutation MinHash signature per doc. Each permutation is
    xxhash64(shingle, seed_i); the signature element is the min over
    shingles — k aggregate expressions in ONE groupBy pass. The raw
    text is repartitioned by id first (_text_by_id) so the gram+hash
    compute runs at full parallelism AND the groupBy(id) reuses that
    partitioning with no further exchange."""
    sh = (_text_by_id(docs, id_col, text_col)
          .select("id", F.explode(word_ngrams(F.col("__text"), n)).alias("gram")))
    return _signatures_from_shingles(sh, k)


def _signatures_from_shingles(sh: DataFrame, k: int) -> DataFrame:
    """k-permutation MinHash over an exploded (id, gram) relation."""
    aggs = [F.min(F.xxhash64(F.col("gram"), F.lit(i))).alias(f"mh_{i}")
            for i in range(k)]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3, k: int = 32,
                      bands: int = 8, threshold: float = 0.5,
                      max_bucket_df: int | None = None) -> DataFrame:
    """MinHash LSH: band the signature (k/bands rows per band), bucket
    docs by (band_idx, band_hash), self-join buckets for candidates,
    then verify with exact Jaccard. Returns verified pairs.

    `max_bucket_df` is the degenerate-corpus quadratic guard (the
    phash/simhash/audio cap): an LSH bucket shared by more docs than
    the cap — a giant exact/near-identical cluster, which
    exact_duplicates already owns — is dropped before the self-join.
    None (the default) keeps exhaustive banding: unlike the other
    banded joins, LSH buckets are already sized by the full band hash,
    so the cap is only needed against adversarially-duplicated
    corpora."""
    g = _gram_arrays_ck(docs, id_col, text_col, n)
    sigs = _signatures_from_shingles(
        g.select("id", F.explode("grams").alias("gram")), k)
    rows_per_band = k // bands
    band_cols = [
        F.struct(F.lit(bi).alias("band"),
                 F.hash(*[F.col(f"mh_{bi * rows_per_band + j}")
                          for j in range(rows_per_band)]).alias("bh"))
        for bi in range(bands)
    ]
    buckets = (sigs.select("id", F.explode(F.array(*band_cols)).alias("b"))
               .select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")))
    if max_bucket_df is not None:
        ok = (buckets.groupBy("band", "bh")
              .agg(F.countDistinct("id").alias("bdf"))
              .filter(F.col("bdf") <= max_bucket_df)
              .select("band", "bh"))
        buckets = buckets.join(ok, ["band", "bh"])
    cand = (buckets.alias("x")
            .join(buckets.alias("y"),
                  (F.col("x.band") == F.col("y.band"))
                  & (F.col("x.bh") == F.col("y.bh"))
                  & (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct())
    # verify with exact Jaccard for the LSH candidates ONLY — the
    # whole point of banding is never touching non-candidate pairs.
    # (An LSH-bucket Σcnt·(cnt−1)/2 pair_hint that skips the verify
    # gate's checkpoint-and-count of cand was A/B'd in r13 and
    # REJECTED: the candidate checkpoint doubles as the
    # materialization that lets AQE broadcast the verify attach joins
    # below the dict-kernel gate — sf1 median 3.46 s → 6.29 s with
    # the hint, sf10 noise-neutral.)
    return _jaccard_for_pairs_arrays(_hashed_gram_arrays(g), cand, threshold)


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-doc SimHash fingerprint: bit_i = majority vote of token
    hash bit_i. One explode + one groupBy with `bits` conditional
    sums — no UDF, fully JVM-side."""
    toks = (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                                          r"\s+")).alias("tok"))
            .withColumn("h", F.xxhash64("tok")))
    ones = [F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)))
            .alias(f"ones_{i}") for i in range(bits)]
    g = toks.groupBy("id").agg(F.count("*").alias("n_toks"), *ones)
    sim = None
    for i in range(bits):
        # shiftleft, not * 2**i: bit 63 of a 64-bit fingerprint lands
        # in the long's sign bit, which multiplication can't reach
        bit = F.shiftleft((F.col(f"ones_{i}") * 2
                           > F.col("n_toks")).cast("long"), i)
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return g.select("id", "n_toks", sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       bits: int = 64,
                       max_band_df: int | None = 200) -> DataFrame:
    """Near-dup pairs by SimHash: pigeonhole-block on the
    fingerprint's max_hamming+1 bit bands (hamming ≤ h over h+1
    bands ⇒ ≥1 band equal), verify Hamming distance with bit_count.

    `bits` sizes the band space — THE scale knob: 32-bit hashes give
    8-bit bands (256 values), so at 500k docs every bucket holds
    ~2k docs and the self-join is quadratic (it exhausted local disk
    at sf10, round 8); 64-bit hashes give 16-bit bands (65k values)
    and corpus-sized inputs block cleanly. `max_band_df` is the
    degenerate-corpus guard on top (the phash/audio cap): a band
    value shared by more docs than the cap is dropped before the
    join — that hot a band means a giant exact/near-identical
    cluster, which exact dedup already handles. The library DEFAULT
    is the capped mode (200 — a degenerate corpus can't go quadratic
    by accident); exhaustive recall is the explicit opt-in
    (max_band_df=None)."""
    nb = max_hamming + 1
    width = bits // nb
    # checkpointed: the fingerprint aggregate (64 conditional sums
    # over the exploded token stream — the entry's dominant compute)
    # otherwise replays under the cap aggregate, the cap join and the
    # candidate self-join arms, whose exchanges differ and so cannot
    # all be reused (r13; the materialization is corpus-rows × 3
    # columns, ~12 MB at the sf10 replica)
    sh = checkpoint_df(simhash(docs, id_col, text_col, bits=bits))

    def band_val(i: int):
        shifted = F.shiftrightunsigned(F.col("simhash"), i * width)
        bw = width if i < nb - 1 else bits - width * (nb - 1)
        if bw >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << bw) - 1))

    bands = F.array(*[
        F.struct(F.lit(i).alias("bi"), band_val(i).alias("bv"))
        for i in range(nb)])
    e = (sh.select("id", "simhash", F.explode(bands).alias("b"))
         .select("id", "simhash", "b.bi", "b.bv"))
    if max_band_df is not None:
        e = _cap_hot_buckets(e, ["bi", "bv"], "id", max_band_df,
                             "simhash_near_pairs")
    cand = (e.alias("x")
            .join(e.alias("y"),
                  (F.col("x.bi") == F.col("y.bi"))
                  & (F.col("x.bv") == F.col("y.bv"))
                  & (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                    F.col("x.simhash").alias("sh_a"), F.col("y.simhash").alias("sh_b"))
            .distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b", max_iter: int = 16,
                       batch_rounds: int = 3) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (id, cluster_id) where cluster_id = the MIN doc id reachable
    through dup edges — the canonical "keep one per dup cluster"
    reduction after any pairwise dedup (transitively: if A~B and B~C,
    all three land in one cluster even though A~C was never tested).

    Algorithm: min-label propagation with pointer jumping — each
    round every node takes min(own label, neighbors' labels), then
    shortcuts through its label's label (path doubling), so
    convergence needs O(log diameter) rounds, not O(diameter). Dup
    graphs are near-cliques (diameter 2-4), so one batch of
    `batch_rounds` rounds almost always converges.

    Scale shape (100 TB): the pair derivation is checkpointed ONCE
    before the direction-doubling union (r12: the union's two
    branches otherwise replay the entire upstream pair pipeline —
    measured 164.8 s vs 93 s for one pass at sf1), and every
    propagation round is checkpointed eagerly — lineage stays LINEAR.
    The previous lazy `batch_rounds` composition grew the plan
    multiplicatively (each round references the label relation ~4×,
    so a 3-round batch replayed ~4³ subtree copies: 58.5 s per batch
    on a 50 k-node graph; per-round checkpointing runs the same graph
    in 0.6 s/round). One driver job per round, probe per
    `batch_rounds`; the probe checks the fixpoint directly (a
    fixpoint ⇔ every edge's endpoints carry the same label), so a
    converged batch is recognized immediately. Per-round data
    movement is one shuffle on node id."""
    e = checkpoint_df(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
    edges = checkpoint_df(
        e.union(e.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst"))).distinct())
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")))

    def one_round(lab: DataFrame) -> DataFrame:
        nbr = (edges.join(lab, edges.dst == lab.id)
               .groupBy("src").agg(F.min("label").alias("nbr_min")))
        prop = (lab.alias("l")
                .join(nbr, F.col("l.id") == F.col("src"), "left")
                .select(F.col("l.id").alias("id"),
                        F.least(F.col("l.label"),
                                F.coalesce(F.col("nbr_min"),
                                           F.col("l.label")))
                        .alias("label")))
        # pointer jumping: label <- min(label, label's own label)
        ptr = prop.select(F.col("id").alias("pid"),
                          F.col("label").alias("plabel"))
        return (prop.alias("a")
                .join(ptr, F.col("a.label") == F.col("pid"), "left")
                .select(F.col("a.id").alias("id"),
                        F.least(F.col("a.label"),
                                F.coalesce(F.col("plabel"),
                                           F.col("a.label")))
                        .alias("label")))

    rounds_done = 0
    while rounds_done < max_iter:
        new = labels
        for _ in range(min(batch_rounds, max_iter - rounds_done)):
            new = checkpoint_df(one_round(new))
            rounds_done += 1
        labels = new
        la = new.select(F.col("id").alias("sid"), F.col("label").alias("sl"))
        lb = new.select(F.col("id").alias("did"), F.col("label").alias("dl"))
        violations = (edges.join(la, edges.src == la.sid)
                      .join(lb, edges.dst == lb.did)
                      .filter(F.col("sl") != F.col("dl"))
                      .limit(1).count())
        if violations == 0:
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def duplicate_spans(docs: DataFrame, w: int = 12) -> DataFrame:
    """Substring-level exact dedup: find duplicated w-token SPANS
    across (and within) the corpus — the scalable shingle form of
    suffix-array substring dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): every w-token window
    is fingerprinted; a window whose fingerprint occurs more than
    once anywhere in the corpus is a duplicated span.  Overlapping
    duplicated windows are merged per document (gaps-and-islands) so
    `covered_tokens` counts each token once.

    → (doc_id, n_dup_shingles, n_dup_spans, covered_tokens,
       n_tokens, dup_ratio) for documents containing at least one
    duplicated span.

    Scale shape: the shingle explode is the standard ~n_tokens×
    row expansion (JVM-side `transform`+`posexplode`, no Python);
    duplicate marking is ONE hash shuffle via a count window over the
    fingerprint (no groupBy+self-join, so the explode is not
    recomputed); the interval merge is one doc_id shuffle.  md5 keeps
    the fingerprint oracle-comparable engine-to-engine — at 100 TB
    swap it for xxhash64 (8-byte shuffle keys, same plan)."""
    from pyspark.sql import Window

    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                    r"\s+", " "), " ")
    sized = (docs.select("doc_id", toks.alias("toks"))
             .withColumn("n_tokens", F.size("toks")))
    # No pre-explode `n_tokens >= w` filter: pushdown substitutes the
    # tokenize tree into the condition — one extra regex pass per doc
    # (see _shingle_table). The IF yields an EMPTY shingle array for
    # short docs (and NULL n_tokens for NULL text → IF false), so
    # posexplode_OUTER + isNotNull drops exactly the filtered docs
    # (md5 is never null).
    sh = (sized.select(
        "doc_id", "n_tokens",
        F.posexplode_outer(F.expr(
            f"IF(n_tokens >= {w}, "
            f"transform(sequence(0, n_tokens - {w}), "
            f"i -> md5(concat_ws(' ', slice(toks, i + 1, {w})))), "
            f"array())"
        )).alias("p", "h"))
        .where(F.col("h").isNotNull()))
    marks = (sh.withColumn("c", F.count("*").over(Window.partitionBy("h")))
             .filter(F.col("c") > 1)
             .drop("c", "h"))
    prev = (Window.partitionBy("doc_id").orderBy("p")
            .rowsBetween(Window.unboundedPreceding, -1))
    run = (Window.partitionBy("doc_id").orderBy("p")
           .rowsBetween(Window.unboundedPreceding, 0))
    islands = (marks
               .withColumn("new_isl",
                           F.when(F.col("p") > F.coalesce(
                               F.max(F.col("p") + w).over(prev),
                               F.lit(-1)), 1).otherwise(0))
               .withColumn("isl_id", F.sum("new_isl").over(run))
               .groupBy("doc_id", "n_tokens", "isl_id")
               .agg((F.max(F.col("p") + w) - F.min("p")).alias("cov"),
                    F.count("*").alias("nsh")))
    return (islands.groupBy("doc_id", "n_tokens")
            .agg(F.sum("nsh").alias("n_dup_shingles"),
                 F.count("*").alias("n_dup_spans"),
                 F.sum("cov").alias("covered_tokens"))
            .select("doc_id", "n_dup_shingles", "n_dup_spans",
                    "covered_tokens", "n_tokens",
                    F.round(F.col("covered_tokens")
                            / F.col("n_tokens"), 4).alias("dup_ratio")))


def span_pairs(docs: DataFrame, w: int = 12) -> DataFrame:
    """Companion to `duplicate_spans`: WHICH documents share
    duplicated w-token spans.  Pairs are star-shaped — every doc
    containing a duplicated fingerprint links to the MINIMUM doc id
    holding it — so a fingerprint occurring in k docs yields k-1
    rows, not k², and a hot boilerplate shingle cannot go quadratic.
    → (doc_a, doc_b, n_shared_shingles), doc_a < doc_b.

    Same two-shuffle shape as duplicate_spans (fingerprint window,
    then the pair groupBy); md5 for engine-portable fingerprints —
    swap for xxhash64 at 100 TB."""
    from pyspark.sql import Window

    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                    r"\s+", " "), " ")
    sized = (docs.select("doc_id", toks.alias("toks"))
             .withColumn("n_tokens", F.size("toks")))
    # Same no-pushed-filter spelling as duplicate_spans (see there).
    # The (doc_id, h) distinct is PER-DOC, so it runs as
    # array_distinct over the window array BEFORE the explode (r13,
    # guide §2.4): the `.distinct()` spelling shuffled the whole
    # exploded shingle stream by (doc_id, h) just to dedup within
    # each doc — one full-stream exchange gone (3 → 2), same rows
    # (one row per distinct fingerprint per doc, order-free under
    # the downstream fingerprint window / pair groupBy).
    sh = (sized.select(
        "doc_id",
        F.explode_outer(F.expr(
            f"IF(n_tokens >= {w}, "
            f"array_distinct(transform(sequence(0, n_tokens - {w}), "
            f"i -> md5(concat_ws(' ', slice(toks, i + 1, {w}))))), "
            f"array())"
        )).alias("h"))
        .where(F.col("h").isNotNull()))
    win = Window.partitionBy("h")
    marked = (sh.withColumn("m", F.min("doc_id").over(win))
              .withColumn("c", F.count("*").over(win)))
    return (marked.filter((F.col("c") > 1) & (F.col("doc_id") != F.col("m")))
            .groupBy(F.col("m").alias("doc_a"),
                     F.col("doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_shared_shingles")))


def near_dup_phash(hashes: DataFrame, max_hamming: int = 3,
                   id_col: str = "media_id",
                   hash_col: str = "phash",
                   max_band_df: int | None = 200) -> DataFrame:
    """Near-duplicate IMAGE pairs from 64-bit perceptual hashes
    (multimodal.phash_images) — the same pigeonhole blocking as the
    SimHash text path (simhash_duplicates): split the hash into
    max_hamming+1 bit bands; two hashes within max_hamming Hamming
    bits agree EXACTLY on at least one band, so a band equi-join
    finds every candidate (no all-pairs), and bit_count(XOR) verifies
    exactly. Scale shape: explode ×(max_hamming+1), one shuffle on
    (band, value), candidate-only verification.

    `max_band_df` is the hot-band quadratic guard (the audio path's
    `max_block_df`, the text path's `max_gram_df`): a (band, value)
    bucket shared by more than `max_band_df` images is dropped
    before the self-join — a crawl full of near-constant thumbnails
    would otherwise make one bucket O(n²). Any hash that common is
    exact-duplicate territory (`exact_duplicates` handles it); a pair
    is only missed if EVERY band it agrees on is that hot. The
    library DEFAULT is the capped mode (200); exhaustive recall is
    the explicit opt-in (max_band_df=None)."""
    nb = max_hamming + 1
    width = 64 // nb
    h = F.col(hash_col)

    def band_val(i: int):
        shifted = F.shiftrightunsigned(h, i * width)
        bits = width if i < nb - 1 else 64 - width * (nb - 1)
        if bits >= 64:          # single-band case — mask would
            return shifted      # overflow a long literal
        return shifted.bitwiseAND(F.lit((1 << bits) - 1))

    bands = F.array(*[
        F.struct(F.lit(i).alias("bi"), band_val(i).alias("bv"))
        for i in range(nb)])
    e = (hashes.select(F.col(id_col), h.alias("_h"),
                       F.explode(bands).alias("b"))
         .select(id_col, "_h", "b.bi", "b.bv"))
    if max_band_df is not None:
        e = _cap_hot_buckets(e, ["bi", "bv"], id_col, max_band_df,
                             "near_dup_phash")
    a, b = e.alias("a"), e.alias("b")
    pairs = (a.join(b, (F.col("a.bi") == F.col("b.bi"))
                    & (F.col("a.bv") == F.col("b.bv"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h")))
                     .alias("hamming"))
             .distinct()
             .filter(F.col("hamming") <= max_hamming))
    return pairs


def near_dup_audio(fps: DataFrame, min_ratio: float = 0.35,
                   max_block_df: int = 200,
                   id_col: str = "media_id") -> DataFrame:
    """Near-duplicate AUDIO pairs from exploded fingerprint blocks
    (multimodal.audio_fingerprints) — the n-gram-Jaccard shape on
    block words: equi-join on block_hash, shared-block count per
    pair, ratio against the smaller clip's block count. Guards:
    blocks appearing in more than `max_block_df` clips are dropped
    before the self-join (the `max_gram_df` bound from text dedup —
    silence/constant-tone words would otherwise go quadratic)."""
    counts = (fps.select(id_col, "block_hash").distinct()
              .groupBy(id_col).agg(F.count("*").alias("n_blocks")))
    df_ok = (fps.groupBy("block_hash")
             .agg(F.countDistinct(id_col).alias("bdf"))
             .filter(F.col("bdf") <= max_block_df)
             .select("block_hash"))
    pruned = fps.join(df_ok, "block_hash").select(id_col, "block_hash") \
        .distinct()
    a, b = pruned.alias("a"), pruned.alias("b")
    shared = (a.join(b, (F.col("a.block_hash") == F.col("b.block_hash"))
                     & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
              .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                       F.col(f"b.{id_col}").alias("id_b"))
              .agg(F.count("*").alias("n_shared")))
    ca = counts.select(F.col(id_col).alias("id_a"),
                       F.col("n_blocks").alias("blocks_a"))
    cb = counts.select(F.col(id_col).alias("id_b"),
                       F.col("n_blocks").alias("blocks_b"))
    return (shared.join(ca, "id_a").join(cb, "id_b")
            .withColumn("ratio", F.round(
                F.col("n_shared")
                / F.least("blocks_a", "blocks_b"), 6))
            .filter(F.col("ratio") >= min_ratio)
            .select("id_a", "id_b", "n_shared", "ratio"))


def near_dup_video(frame_hashes: DataFrame, max_hamming: int = 3,
                   min_ratio: float = 0.5,
                   id_col: str = "media_id",
                   max_band_df: int | None = 200) -> DataFrame:
    """Near-duplicate VIDEO pairs: frame-level banded Hamming match
    (near_dup_phash over the sampled-frame dHashes,
    multimodal.video_fingerprints), then a clip-level vote — the
    fraction of the smaller clip's distinct frame hashes that match
    some frame of the other clip must reach `min_ratio`. Same scale
    shape as the image path ×frames-per-clip.

    The frame identity `_fid` is CONTENT-derived (xxhash64 of the
    distinct (clip, hash) pair), never positional: this frame is
    re-computed by three join branches (the banded self-join plus the
    ida/idb back-joins), and a positional id such as
    `monotonically_increasing_id` is not stable across recomputation
    of a post-shuffle subplan (fetch-order races, task retries, AQE),
    which would silently attribute frame matches to the wrong clips
    on a cluster."""
    hashes = frame_hashes.select(id_col, "phash").distinct() \
        .withColumn("_fid", F.xxhash64(F.col(id_col), F.col("phash")))
    counts = hashes.groupBy(id_col).agg(F.count("*").alias("n_frames"))
    fp = near_dup_phash(hashes, max_hamming=max_hamming,
                        id_col="_fid", hash_col="phash",
                        max_band_df=max_band_df)
    ida = hashes.select(F.col("_fid").alias("id_a"),
                        F.col(id_col).alias("ma"),
                        F.col("phash").alias("ha"))
    idb = hashes.select(F.col("_fid").alias("id_b"),
                        F.col(id_col).alias("mb"),
                        F.col("phash").alias("hb"))
    frame_pairs = (fp.join(ida, "id_a").join(idb, "id_b")
                   .filter(F.col("ma") != F.col("mb"))
                   .select(F.least("ma", "mb").alias("id_a"),
                           F.greatest("ma", "mb").alias("id_b"),
                           F.when(F.col("ma") < F.col("mb"),
                                  F.col("ha")).otherwise(F.col("hb"))
                           .alias("matched_hash"))
                   .distinct())
    shared = (frame_pairs.groupBy("id_a", "id_b")
              .agg(F.count("*").alias("n_matched")))
    ca = counts.select(F.col(id_col).alias("id_a"),
                       F.col("n_frames").alias("frames_a"))
    cb = counts.select(F.col(id_col).alias("id_b"),
                       F.col("n_frames").alias("frames_b"))
    return (shared.join(ca, "id_a").join(cb, "id_b")
            .withColumn("ratio", F.round(
                F.col("n_matched") / F.least("frames_a", "frames_b"), 6))
            .filter(F.col("ratio") >= min_ratio)
            .select("id_a", "id_b", "n_matched", "ratio"))
