"""Training-data pipeline queries over documents/embeddings, oracle-
checked where ANSI-SQL-expressible (MinHash/SimHash/LSH are verified
rows-only — the banding internals aren't reasonably expressible in
SQL; their *exact-Jaccard verification stage* is the oracle-checked
part via pipe_dedup_ngram_jaccard).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from xtdb_spark.pipeline import bpe, classify, dedup, similarity, text
from xtdb_spark.plans import explain
from xtdb_spark.queries.registry import ld, ldw, register

# pipe_ann_cosine_topk's Arrow-kernel size gate, read at call time
COSINE_NP_BYTES = 2 << 20


@register(
    "pipe_dedup_exact",
    r"""
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized md5 fingerprint."""
    d = ldw(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d).select("fp", "n_docs", "keep_id")


@register(
    "pipe_token_count",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x != '')) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                                x -> x != ''))
                + length(regexp_replace(regexp_replace(text,
                          '[A-Za-z]+|[0-9]+', '', 'g'), '\s', '', 'g'))
                AS INTEGER) AS n_pieces
    FROM documents
    """,
)
def token_count(spark, sf_dir):
    """Whitespace + BPE-ish regex token counting."""
    d = ldw(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_ish_token_count(F.col("text")).cast("int").alias("n_pieces"),
    )


_STOP_SQL = "', '".join(text.STOPWORDS)


@register(
    "pipe_text_quality",
    rf"""
    SELECT doc_id, n_tokens,
           ROUND(nonspace_chars / n_tokens, 6) AS avg_word_len,
           ROUND(n_stop / n_tokens, 6) AS stop_ratio,
           ROUND((CASE WHEN n_tokens >= 10 AND n_tokens <= 10000 THEN 1 ELSE 0 END
                + CASE WHEN nonspace_chars / n_tokens >= 3.0
                        AND nonspace_chars / n_tokens <= 10.0 THEN 1 ELSE 0 END
                + CASE WHEN n_stop / n_tokens > 0.05 THEN 1 ELSE 0 END) / 3.0, 6)
             AS quality
    FROM (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_tokens,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
               AS nonspace_chars,
             CAST(len(list_filter(toks, t -> list_contains(['{_STOP_SQL}'], t)))
               AS DOUBLE) AS n_stop
      FROM (SELECT doc_id, text,
                   string_split_regex(lower(trim(text)), '\s+') AS toks
            FROM documents))
    """,
)
def text_quality(spark, sf_dir):
    """Quality scoring: length/word-length/stopword-ratio heuristics.

    r12: every signal derives from ONE whitespace-normalization regex
    pass (text.normalized) instead of re-tokenizing / re-stripping
    per output column — value-identical (see normalized())."""
    d = ldw(spark, sf_dir, "documents")
    normed = d.select(
        "doc_id", text.normalized(F.col("text")).alias("__norm"))
    toked = normed.select(
        "doc_id", "__norm",
        text.norm_tokens(F.col("__norm")).alias("__toks"))
    toks = F.col("__toks")
    n_int = F.size(toks)
    n = n_int.cast("double")
    nonspace = text.norm_nonspace_chars(F.col("__norm"), n_int)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*text.STOPWORDS)))
    return toked.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(nonspace / n, 6).alias("avg_word_len"),
        F.round(n_stop.cast("double") / n_int, 6).alias("stop_ratio"),
        F.round(text.quality_score(F.col("__norm"), toks,
                                   nonspace=nonspace), 6).alias("quality"),
    )


def _lang_sql() -> str:
    hits = {
        lang: ("CAST(len(list_filter(toks, t -> list_contains(["
               + ", ".join(f"'{w}'" for w in words) + "], t))) AS BIGINT)")
        for lang, words in sorted(text.LANG_MARKERS.items())
    }
    cols = ",\n".join(f"{expr} AS hits_{lang}" for lang, expr in hits.items())
    langs = sorted(text.LANG_MARKERS)
    max_expr = "GREATEST(" + ", ".join(f"hits_{la}" for la in langs) + ")"
    case = "CASE WHEN " + max_expr + " <= 0 THEN 'und' "
    for la in langs:
        case += f"WHEN hits_{la} = {max_expr} THEN '{la}' "
    case += "END"
    return rf"""
    SELECT doc_id, {case} AS pred_lang, lang AS labeled_lang
    FROM (SELECT doc_id, lang, {cols}
          FROM (SELECT doc_id, lang,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents))
    """


@register("pipe_lang_id", _lang_sql())
def lang_id(spark, sf_dir):
    """Marker-word language-ID heuristic (argmax, alphabetical ties).

    r12: tokenize once off the whitespace-normal form; the four
    per-language hit counts share the one token array instead of
    each re-running the tokenizing regex."""
    d = ldw(spark, sf_dir, "documents")
    toked = d.select(
        "doc_id", "lang",
        text.norm_tokens(text.normalized(F.col("text"))).alias("__toks"))
    return toked.select(
        "doc_id",
        text.lang_id(F.col("__toks"), toks=F.col("__toks"))
        .alias("pred_lang"),
        F.col("lang").alias("labeled_lang"))


@register(
    "pipe_dedup_ngram_jaccard",
    r"""
    WITH g AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([array_to_string(words[i:i+2], ' ')
                            for i in generate_series(1, greatest(len(words)-2, 1))])
               AS grams
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
            FROM documents)
    ),
    eg AS MATERIALIZED (SELECT doc_id, UNNEST(grams) AS gram FROM g),
    -- df-filtered blocking, mirroring max_gram_df Spark-side: only
    -- RARE shingles (df <= 100) generate candidate pairs — common
    -- shingles ("of the and") otherwise make the blocking join
    -- quadratic (the uncapped spelling filled 69 GB of shuffle spill
    -- at sf10, round 8). Jaccard for the surviving candidates is
    -- still computed over ALL shingles (exact).
    rare AS MATERIALIZED (
      SELECT gram FROM eg GROUP BY gram HAVING COUNT(*) <= 100
    ),
    bl AS MATERIALIZED (SELECT e.doc_id, e.gram
                        FROM eg e JOIN rare r ON e.gram = r.gram),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bl x JOIN bl y ON x.gram = y.gram AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS k
      FROM cand c
      JOIN eg x ON x.doc_id = c.id_a
      JOIN eg y ON y.doc_id = c.id_b AND y.gram = x.gram
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(i.k AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - i.k), 6) AS jaccard
    FROM inter i
    JOIN g a ON a.doc_id = i.id_a
    JOIN g b ON b.doc_id = i.id_b
    WHERE CAST(i.k AS DOUBLE)
          / (len(a.grams) + len(b.grams) - i.k) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-trigram Jaccard near-dup pairs with df-filtered
    blocking (the 100 TB knob, ngram_jaccard_pairs.max_gram_df):
    candidates must share a RARE shingle (df ≤ 100), jaccard is then
    exact over all shingles. The oracle mirrors the same blocking —
    the uncapped spelling is quadratic in the hottest shingle's df
    and exhausted local disk at sf10 (500k docs)."""
    d = ld(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.05,
                                      max_gram_df=100)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register("pipe_dedup_minhash_lsh")  # rows-only: banding not SQL-expressible
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32) + LSH(8 bands) candidate generation, exact-Jaccard
    verified. The verification stage shares its oracle with
    pipe_dedup_ngram_jaccard."""
    d = ld(spark, sf_dir, "documents")
    return (dedup.minhash_lsh_pairs(d, k=32, bands=8, threshold=0.2)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


@register("pipe_dedup_simhash")  # rows-only
def dedup_simhash(spark, sf_dir):
    """SimHash(64-bit) near-dup pairs, Hamming ≤ 3, blocked on
    16-bit bands (the 32-bit/8-bit-band spelling went quadratic at
    sf10 — 256 band values can't block 500k docs)."""
    d = ldw(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(d, max_hamming=3, max_band_df=200)


@register(
    "pipe_ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS nn_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id >= 10)
    SELECT q_id, nn_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT q_id, nn_id,
             ROUND(list_cosine_similarity(qv, v), 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY ROUND(list_cosine_similarity(qv, v), 6)
                                         DESC, nn_id) AS rnk
      FROM q CROSS JOIN c)
    WHERE rnk <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline). Ranked by the
    ROUNDED similarity in both engines so last-ulp float noise can't
    flip ranks.

    Kernel choice is size-gated: the Arrow cosine_np kernel wins 1.8×
    at the sf1 replica (1.09 vs 1.94 s, local[2]), but its fixed
    Python-eval round trip dominates at MB-scale corpora (0.43 vs
    0.31 s at sf0.01) — fold while the embeddings' size estimate is
    under COSINE_NP_BYTES, Arrow kernel from there. Both kernels are
    bit-identical (pinned by tests/test_pipeline.py), so the gate
    changes timing only."""
    from pyspark.sql import Window

    # ldw: the broadcast crossJoin's parallelism is the corpus scan's
    # partition count (1 split at the sf10 replica) — repartitioning
    # the raw rows first runs the cosine kernel full-width (3.42x,
    # r13 §3); bench path (pinned cache) unchanged.
    e = ldw(spark, sf_dir, "embeddings")
    kern = (similarity.cosine_np
            if explain.size_estimate(e) >= COSINE_NP_BYTES
            else similarity.cosine)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        similarity.as_double_array(F.col("embedding")).alias("qv"))
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("nn_id"),
        similarity.as_double_array(F.col("embedding")).alias("v"))
    scored = (F.broadcast(q).crossJoin(c)
              .select("q_id", "nn_id",
                      F.round(kern(F.col("qv"), F.col("v")), 6)
                      .alias("cos_sim")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("nn_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5))


@register("pipe_ann_lsh")  # rows-only: approximate by design
def ann_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN — the scale path (no cross join)."""
    e = ldw(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.filter(F.col("vec_id") >= 10)
    return similarity.ann_lsh_topk(c, q, dim=64, k=5, n_planes=8) \
        .select("q_id", "nn_id", F.round("cos_sim", 6).alias("cos_sim"), "rnk")


@register(
    "pipe_embedding_norms",
    """
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(sqrt(list_dot_product(v, v)), 6)
                         AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm
    FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
    GROUP BY label
    """,
)
def embedding_norms(spark, sf_dir):
    """Vector-norm stats per label — F.aggregate fold, exact decimal
    mean."""
    e = ldw(spark, sf_dir, "embeddings")
    v = similarity.as_double_array(F.col("embedding"))
    nrm = F.round(similarity.norm(v), 6).cast("decimal(18,6)")
    return (e.select("label", nrm.alias("nrm"))
            .groupBy("label")
            .agg(F.count("*").alias("n"),
                 (F.sum("nrm").cast("double") / F.count("*")).alias("avg_norm")))


@register(
    "pipe_dedup_embedding_cosine",
    """
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev
               FROM embeddings),
    s AS (SELECT vec_id, label, ev,
                 list_sum([CASE WHEN ev[i+1] >= 0 THEN 1 << i ELSE 0 END
                           for i in generate_series(0, 15)]) AS sig
          FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.ev, b.ev), 6) AS cos_sim
    FROM s a JOIN s b ON a.label = b.label AND a.sig = b.sig
                     AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.ev, b.ev), 6) >= 0.3
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked on (label, 16-dim
    SIGN SIGNATURE) — deterministic sign-hyperplane LSH both engines
    can spell exactly, so the blocking is part of the checked
    semantics. Label alone stopped being a block at sf10 (10 labels
    × 20k vectors ⇒ 2.2 G candidate pairs — effectively quadratic);
    the sign signature splits each label into ~200-doc buckets
    (hottest bucket 200 at sf10), the 100 TB shape. Near-identical
    vectors share the signature except on near-zero dims — the same
    recall trade every random-hyperplane LSH makes (the multiprobe
    variant is pipe_ann_lsh). Threshold 0.3 is calibrated to the
    synthetic embeddings; rounded to 6dp in both engines so last-ulp
    float noise can't flip the comparison."""
    e = ld(spark, sf_dir, "embeddings")
    sig = sum(
        (F.when(F.element_at(F.col("ev"), i + 1) >= 0,
                F.lit(1 << i)).otherwise(F.lit(0)) for i in range(16)),
        F.lit(0))
    v = (e.select("vec_id", "label",
                  similarity.as_double_array(F.col("embedding")).alias("ev"))
         .withColumn("sig", sig))
    # (r13 negative, kept out: routing this join through
    # similarity.cosine_pairs_by_id — pair keys + broadcast vector
    # dictionary, the shape that wins 1.7× inside semantic_dedup —
    # measured 12.4 → 27.6 s median at the sf10 replica, worse in
    # every paired round: with no fit collect already in the entry,
    # the per-run dictionary build + 100 MB broadcast costs more
    # than the vector payload duplication it saves at ~20 M pairs.)
    a = v.select(F.col("vec_id").alias("id_a"), F.col("label").alias("lbl_a"),
                 F.col("sig").alias("sig_a"), F.col("ev").alias("ev_a"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lbl_b"),
                 F.col("sig").alias("sig_b"), F.col("ev").alias("ev_b"))
    return (a.join(b, (F.col("lbl_a") == F.col("lbl_b"))
                   & (F.col("sig_a") == F.col("sig_b"))
                   & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b",
                    F.round(similarity.cosine_np(F.col("ev_a"), F.col("ev_b"),
                                                 single_eval=True), 6)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.3))


@register(
    "pipe_text_chunking",
    r"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(trim(text), '\s+') AS w
                  FROM documents),
    idx AS (SELECT doc_id, w,
                   unnest(range(0, CAST(ceil(greatest(len(w) - 25, 1) / 25.0)
                                        AS BIGINT))) AS i
            FROM toks)
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(w, i * 25 + 1, i * 25 + 50)) AS INTEGER)
             AS n_tokens,
           md5(array_to_string(list_slice(w, i * 25 + 1, i * 25 + 50), ' '))
             AS chunk_hash
    FROM idx
    """,
)
def text_chunking(spark, sf_dir):
    """Sliding-window document chunking (50-token windows, stride 25)
    — the context-window prep step of a training pipeline. Pure
    Column algebra (split → sequence → explode → slice): JVM-side,
    no UDF, shuffle-free (narrow ops only), so it runs at scan speed
    over 100 TB. chunk_hash value-checks the actual chunk text."""
    d = ldw(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.greatest(F.size(w) - 25, F.lit(1)) / 25.0).cast("int")
    return (d.select("doc_id", w.alias("w"), n_chunks.alias("nc"))
            .select("doc_id", "w",
                    F.explode(F.sequence(F.lit(0), F.col("nc") - 1))
                    .alias("chunk_idx"))
            .select("doc_id", "chunk_idx",
                    F.slice(F.col("w"), F.col("chunk_idx") * 25 + 1, 50)
                    .alias("chunk"))
            .select("doc_id", "chunk_idx",
                    F.size("chunk").alias("n_tokens"),
                    F.md5(F.array_join("chunk", " ")).alias("chunk_hash")))


@register("pipe_ann_ivf")  # rows-only: approximate by design
def ann_ivf(spark, sf_dir):
    """IVF-flat bucketed ANN (coarse quantizer + nprobe cell search)
    — the second scale path beside hyperplane LSH. ldw is safe here:
    head centroids are orderBy(nn_id).limit — deterministic under any
    partitioning (2.02x at the sf10 replica, r13 §3)."""
    e = ldw(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = e.filter(F.col("vec_id") >= 10)
    # head centroids keep the catalog entry cheap + deterministic;
    # the k-means-trained quantizer (the production default) is
    # exercised in tests/test_pipeline.py::test_ann_ivf_kmeans
    return similarity.ann_ivf_topk(c, q, n_cells=16, nprobe=3, k=5,
                                   centroids="head") \
        .select("q_id", "nn_id", F.round("cos_sim", 6).alias("cos_sim"), "rnk")


@register("pipe_ann_ivfpq")  # rows-only: approximate by design
def ann_ivfpq(spark, sf_dir):
    """IVF-PQ (similarity.ann_ivfpq_topk) — the FAISS-standard
    composition of the coarse quantizer and the product quantizer:
    corpus residuals (x − cell centroid) are PQ-encoded, queries
    probe nprobe cells and ADC-scan ONLY those cells' codes via a
    cell equi-join. vs flat PQ (pipe_ann_pq) the scan is linear in
    the probed fraction, not the corpus — the sublinear step that
    matters at 100 TB. Head centroids keep the entry deterministic;
    recall/latency A/B vs exact + flat PQ is in BENCH_NOTES.

    SPLIT scan (r13 §3, like pipe_ann_pq): the inner PQ fit samples
    residuals via limit() — order-sensitive — so the fit reads the
    plain ld() arm while assign/encode/ADC run over the repartitioned
    scan at full parallelism."""
    e = ld(spark, sf_dir, "embeddings")
    ew = ldw(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c_fit = e.filter(F.col("vec_id") >= 10)
    c = ew.filter(F.col("vec_id") >= 10)
    return similarity.ann_ivfpq_topk(c, q, n_cells=16, nprobe=4, m=8,
                                     kcode=16, k=5, centroids="head",
                                     fit_corpus=c_fit)         .select("q_id", "nn_id", "approx_d2", "rnk")


@register(
    "pipe_corpus_prep",
    rf"""
    WITH keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents)
      GROUP BY fp),
    scored AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_tokens,
             (CASE WHEN len(toks) >= 10 AND len(toks) <= 10000 THEN 1 ELSE 0 END
            + CASE WHEN nonspace / len(toks) >= 3.0
                    AND nonspace / len(toks) <= 10.0 THEN 1 ELSE 0 END
            + CASE WHEN n_stop / len(toks) > 0.05 THEN 1 ELSE 0 END) / 3.0
               AS quality
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS toks,
                   CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                     AS nonspace,
                   CAST(len(list_filter(
                        string_split_regex(lower(trim(text)), '\s+'),
                        t -> list_contains(['{_STOP_SQL}'], t)))
                     AS DOUBLE) AS n_stop
            FROM documents))
    SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens
    FROM scored s JOIN keep k ON s.doc_id = k.doc_id
    WHERE s.quality > 0.9
    ORDER BY s.doc_id
    """,
)
def corpus_prep(spark, sf_dir):
    """End-to-end corpus prep: exact-dedup (keep first of each
    fingerprint group) ∘ quality gate (all 3 heuristics) — the
    composite a training-data pipeline actually runs, each stage
    individually oracle-checked (pipe_dedup_exact, pipe_text_quality)
    and the composition checked here.

    r12 (guide §2.4, §8): ONE text pass instead of two — fingerprint
    and quality score come off the same scan, and the dedup keep
    decision is a min-over-fp window (doc_id == min(doc_id) over fp ≡
    the old MIN-per-fp aggregate + doc_id semi join). One narrow
    shuffle of (doc_id, fp, n_tokens, quality) replaces two document
    scans + aggregate + semi join; the text never moves (A/B 1.43×
    locally; at scale it halves the regex-dominated scan work).

    r12 pass 2 (guide §1.2 per-row work): ONE regex pass per document
    — the whitespace-normal form (text.normalized) is aliased once
    and fingerprint (md5), tokens (literal-space split) and the
    non-whitespace char count (length arithmetic) all derive from it;
    previously the row paid three independent \\s+ scans (tokenize
    split + collapse-for-md5 + strip-for-charcount)."""
    d = ldw(spark, sf_dir, "documents")
    # alias BOTH the normal form and the token array: multiply-
    # referenced non-cheap aliases stay in their own Project
    # (CollapseProject), so the regex AND the split each run once —
    # repeated textual subtrees are NOT reliably subexpression-
    # eliminated here (measured: lang_id's 4 identical tokenize
    # trees each re-ran)
    normed = d.select(
        "doc_id", text.normalized(F.col("text")).alias("__norm"))
    toked = normed.select(
        "doc_id", "__norm",
        text.norm_tokens(F.col("__norm")).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    base = toked.select(
        "doc_id",
        F.md5(F.col("__norm")).alias("fp"),
        n.alias("n_tokens"),
        text.quality_score(
            F.col("__norm"), toks,
            nonspace=text.norm_nonspace_chars(F.col("__norm"), n))
        .alias("quality"))
    w = Window.partitionBy("fp")
    return (base.withColumn("__keep", F.min("doc_id").over(w))
            .filter((F.col("doc_id") == F.col("__keep"))
                    & (F.col("quality") > 0.9))
            .select("doc_id", "n_tokens")
            .orderBy("doc_id"))


@register(
    "pipe_data_profile",
    """
    SELECT 'doc_id' AS col, COUNT(doc_id) AS n_nonnull,
           COUNT(DISTINCT doc_id) AS n_distinct FROM documents
    UNION ALL
    SELECT 'lang', COUNT(lang), COUNT(DISTINCT lang) FROM documents
    UNION ALL
    SELECT 'source', COUNT(source), COUNT(DISTINCT source) FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(n_chars), COUNT(DISTINCT n_chars) FROM documents
    ORDER BY col
    """,
)
def data_profile(spark, sf_dir):
    """Dataset profiling (null/distinct cardinality per column) — the
    first step of any corpus intake. One pass per column pair via a
    stacked aggregate; at 100 TB swap COUNT(DISTINCT) for
    approx_count_distinct (HLL) — same plan shape, bounded memory."""
    d = ld(spark, sf_dir, "documents")
    parts = []
    for c in ["doc_id", "lang", "source", "n_chars"]:
        parts.append(d.agg(F.lit(c).alias("col"),
                           F.count(c).alias("n_nonnull"),
                           F.countDistinct(c).alias("n_distinct")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("col")


@register(
    "pipe_stratified_sample",
    r"""
    SELECT lang, doc_id, n_chars
    FROM (SELECT lang, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                             doc_id) AS rn
          FROM documents)
    WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
)
def stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — per-stratum quotas for
    corpus balancing (a training-data staple). The sample order is a
    HASH of the key, not random(): reproducible across runs, engines,
    and partitionings (the scale-correct way to downsample — no
    driver-side RNG, no seed coordination across executors). One
    window per stratum; at 100 TB the partitionBy(lang) shuffle is
    the only data movement."""
    d = ldw(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (d.select("lang", "doc_id", "n_chars",
                     F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 20).drop("rn")
            .orderBy("lang", "doc_id"))


@register(
    "pipe_sequence_packing",
    r"""
    WITH toks AS (
      SELECT doc_id,
             len(string_split(trim(text), ' ')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id)
                         - n_tokens) / 2048.0) AS BIGINT) AS seq_id
      FROM toks)
    SELECT seq_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc
    FROM packed GROUP BY seq_id ORDER BY seq_id
    """,
)
def sequence_packing(spark, sf_dir):
    """Sequence packing for training: documents are hash-shuffled
    (deterministic), token counts cumulated, and each doc assigned to
    the 2048-token context window its running offset lands in — the
    streaming-concatenation packing LLM dataloaders use.

    Scale shape: a sharded two-pass cumsum, NOT a global
    Window.orderBy (which funnels all rows through one partition).
    The shard is the shuffle key's leading hex byte, so sorting by
    (shard, shuffle_key, doc_id) IS the global (shuffle_key, doc_id)
    order; pass 1 cumsums within each of the 256 shards in parallel,
    pass 2 computes each shard's token total (256 rows — window over
    that is trivially small) and broadcast-joins the exclusive prefix
    offsets back. global_cumsum = shard_prefix + local_cumsum,
    identical values to the single-partition plan at any scale."""
    d = ldw(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
        .alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"))
    toks = toks.withColumn("shard", F.substring("shuffle_key", 1, 2))
    w_local = (Window.partitionBy("shard")
               .orderBy("shuffle_key", "doc_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    local = toks.select(
        "doc_id", "n_tokens", "shard",
        F.sum("n_tokens").over(w_local).alias("local_cum"))
    shard_totals = (toks.groupBy("shard")
                    .agg(F.sum("n_tokens").alias("shard_tokens")))
    w_shard = (Window.orderBy("shard")
               .rowsBetween(Window.unboundedPreceding, -1))
    prefixes = shard_totals.select(
        "shard",
        F.coalesce(F.sum("shard_tokens").over(w_shard), F.lit(0))
        .alias("shard_prefix"))
    packed = (local.join(F.broadcast(prefixes), "shard")
              .select("doc_id", "n_tokens",
                      F.floor((F.col("shard_prefix") + F.col("local_cum")
                               - F.col("n_tokens")) / 2048.0)
                      .cast("long").alias("seq_id")))
    return (packed.groupBy("seq_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("seq_tokens"),
                 F.min("doc_id").alias("first_doc"))
            .orderBy("seq_id"))


@register(
    "pipe_dedup_clusters",
    r"""
    WITH RECURSIVE g AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([array_to_string(words[i:i+2], ' ')
                            for i in generate_series(1, greatest(len(words)-2, 1))])
               AS grams
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
            FROM documents)
    ),
    eg AS MATERIALIZED (SELECT doc_id, UNNEST(grams) AS gram FROM g),
    -- df-filtered blocking + exact jaccard, mirroring
    -- pipe_dedup_ngram_jaccard's capped pair derivation (max_gram_df
    -- = 100 — the uncapped join is quadratic in hot shingles)
    rare AS MATERIALIZED (
      SELECT gram FROM eg GROUP BY gram HAVING COUNT(*) <= 100
    ),
    bl AS MATERIALIZED (SELECT e.doc_id, e.gram
                        FROM eg e JOIN rare r ON e.gram = r.gram),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bl x JOIN bl y ON x.gram = y.gram AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS k
      FROM cand c
      JOIN eg x ON x.doc_id = c.id_a
      JOIN eg y ON y.doc_id = c.id_b AND y.gram = x.gram
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS MATERIALIZED (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN g a ON a.doc_id = i.id_a
      JOIN g b ON b.doc_id = i.id_b
      WHERE CAST(i.k AS DOUBLE)
            / (len(a.grams) + len(b.grams) - i.k) >= 0.05
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Connected components over the near-dup pair graph (transitive
    dup clusters → one keeper per cluster). Spark side: iterative
    min-label propagation (pipeline/dedup.duplicate_clusters — one
    node-id shuffle per round, diameter-bounded); oracle: WITH
    RECURSIVE transitive closure + MIN over reachable ids."""
    d = ld(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.05,
                                      max_gram_df=100)
    return (dedup.duplicate_clusters(pairs)
            .select(F.col("id").alias("doc_id"), "cluster_id"))


@register(
    "pipe_pii_redact",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' call 555-867-5309' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' from 192.168.1.77' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' ssn 123-45-6789' ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text,
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                 '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'))
             AS redacted_md5
    FROM aug
    """,
)
def pii_redact_scan(spark, sf_dir):
    """PII detect + redact (training-corpus scrubbing): per-category
    occurrence counts and the md5 of the redacted text. PII instances
    are synthesized deterministically onto the docs so the oracle
    checks NONZERO detection, not just zeros; patterns live in the
    Java-regex ∩ RE2 subset (pipeline/text.PII_PATTERNS) so both
    engines read them identically."""
    d = ldw(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com"))).otherwise(""),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" call 555-867-5309")).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" from 192.168.1.77")).otherwise(""),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" ssn 123-45-6789")).otherwise(""),
        ).alias("text"))
    return aug.select(
        "doc_id",
        *[c.cast("long").alias(f"n_{name}")
          for c, (name, _, _) in zip(text.pii_counts(F.col("text")),
                                     text.PII_PATTERNS)],
        F.md5(text.pii_redact(F.col("text"))).alias("redacted_md5"))


@register(
    "pipe_contamination_check",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 50 = 0 OR doc_id % 97 = 0
                          THEN replace(' alphaQQ bravoQQ charlieQQ deltaQQ echoQQ foxtrotQQ golfQQ hotelQQ',
                                       'QQ', CAST(doc_id - doc_id % 97 AS VARCHAR))
                          ELSE '' END AS text
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct([array_to_string(words[i:i+4], ' ')
                            for i in generate_series(1, greatest(len(words)-4, 1))])
               AS grams
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
            FROM aug)
    ),
    eg AS MATERIALIZED (SELECT doc_id, UNNEST(grams) AS gram FROM g),
    bg AS MATERIALIZED (SELECT doc_id AS bench_id, UNNEST(grams) AS gram
                        FROM g WHERE doc_id % 97 = 0)
    SELECT t.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM eg t JOIN bg b ON t.gram = b.gram AND t.doc_id != b.bench_id
    GROUP BY t.doc_id, b.bench_id
    HAVING COUNT(*) >= 3
    """,
)
def contamination_check(spark, sf_dir):
    """Benchmark-contamination scan (eval-set leakage detection for
    training corpora): flag training docs sharing >= 3 distinct word
    5-grams with any benchmark doc. The benchmark set is a
    deterministic slice (doc_id % 97 = 0) standing in for an external
    eval suite. Scale shape: the benchmark shingle table is tiny →
    BROADCAST to the training shingle scan, candidate counts fall out
    of one gram-equality join — never an all-pairs document join (the
    oracle's original list_intersect spelling WAS all-pairs: 2.6 G
    intersections at sf10). The planted "leaked eval passage" is
    TAGGED with the target bench id (doc_id - doc_id % 97) so each
    plant hits exactly one benchmark doc — an identical passage on 2%
    of docs × every bench doc was a dense bipartite clique, i.e. a
    quadratic OUTPUT by construction at sf10."""
    d = ld(spark, sf_dir, "documents")
    # a deterministic "leaked eval passage" planted on some training
    # docs AND every benchmark doc, so the oracle proves detection
    # fires (not just that both engines agree on zero)
    tag = (F.col("doc_id") - F.col("doc_id") % 97).cast("string")
    passage = F.concat(*[
        F.concat(F.lit(" " + w), tag)
        for w in ("alpha", "bravo", "charlie", "delta",
                  "echo", "foxtrot", "golf", "hotel")])
    d = d.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when((F.col("doc_id") % 50 == 0)
                        | (F.col("doc_id") % 97 == 0),
                        passage).otherwise(F.lit(""))).alias("text"))
    sh = dedup._shingle_table(d, "doc_id", "text", 5)
    bench = (sh.filter(F.col("id") % 97 == 0)
             .select(F.col("id").alias("bench_id"),
                     F.col("gram").alias("bgram")))
    return (sh.join(F.broadcast(bench),
                    (F.col("gram") == F.col("bgram"))
                    & (F.col("id") != F.col("bench_id")))
            .groupBy(F.col("id").alias("doc_id"), "bench_id")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= 3))


@register(
    "pipe_repetition_score",
    r"""
    WITH base AS (
      SELECT doc_id, length(text) AS tc,
             string_split_regex(trim(text), '\s+') AS ws
      FROM documents
    ), w AS (
      SELECT doc_id, unnest(ws) AS w FROM base
    ), wstats AS (
      SELECT doc_id, COUNT(*) AS n_words, COUNT(DISTINCT w) AS n_distinct
      FROM w GROUP BY doc_id
    ), wtop AS (
      SELECT doc_id, cnt AS top_word_cnt FROM (
        SELECT doc_id, w, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, w) AS rn
        FROM w GROUP BY doc_id, w) WHERE rn = 1
    ), g AS (
      SELECT doc_id, tc,
             unnest(list_transform(range(1, len(ws)::BIGINT),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS g
      FROM base WHERE len(ws) >= 2
    ), gtop AS (
      SELECT doc_id, ROUND(CAST(cnt * length(g) AS DOUBLE) / tc, 6)
               AS top_bigram_char_frac
      FROM (
        SELECT doc_id, tc, g, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g) AS rn
        FROM g GROUP BY doc_id, tc, g) WHERE rn = 1
    )
    SELECT s.doc_id, ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6)
             AS distinct_word_ratio,
           ROUND(CAST(top_word_cnt AS DOUBLE) / n_words, 6)
             AS top_word_frac,
           COALESCE(top_bigram_char_frac, 0.0) AS top_bigram_char_frac
    FROM wstats s JOIN wtop USING (doc_id)
    LEFT JOIN gtop USING (doc_id)
    ORDER BY doc_id
    """,
)
def repetition_score(spark, sf_dir):
    """Gopher-style repetition/boilerplate signals per document —
    see xtdb_spark.pipeline.text.repetition_stats for the scale
    shape. The quality-filter companion to pipe_quality_score."""
    d = ldw(spark, sf_dir, "documents")
    return text.repetition_stats(d).orderBy("doc_id")


@register("pipe_embedding_kmeans")  # rows-only: k-means isn't SQL-expressible
def embedding_kmeans(spark, sf_dir):
    """Semantic k-means clustering over the embeddings table
    (similarity.kmeans_cluster): per-cluster membership counts and
    typicality stats — the diversity-sampling/quota primitive of a
    training-data pipeline. Deterministic given the fixed seed;
    verified structurally (pytest asserts perfect recovery of
    separated blobs) and here by stable row shape."""
    e = ld(spark, sf_dir, "embeddings")
    cl = similarity.kmeans_cluster(e, k=8)
    return (cl.groupBy("cluster")
            .agg(F.count("*").alias("n_members"),
                 F.round(F.avg("sim"), 4).alias("avg_sim"))
            .orderBy("cluster"))


@register(
    "pipe_source_mixture",
    r"""
    WITH tagged AS (
      SELECT source,
             (1 + CAST(SUBSTR(source, 4) AS INTEGER) % 10) / 10.0
               AS target_frac,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h4
      FROM documents)
    SELECT source,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (
             WHERE target_frac >= 1.0
                OR h4 < printf('%04x',
                     CAST(FLOOR(target_frac * 65536) AS INTEGER))) AS n_kept,
           ROUND(MAX(target_frac), 6) AS target_frac
    FROM tagged
    GROUP BY source
    ORDER BY source
    """,
)
def source_mixture(spark, sf_dir):
    """Training-mixture construction: downsample each source to a
    target weight (the data-mixing step every pretraining pipeline
    runs — e.g. upweight curated sources, downweight crawl). The
    keep/drop decision is a pure hash threshold — include a document
    iff the first 4 hex chars of md5(doc_id) fall below
    floor(target_frac * 2^16) — so the sample is deterministic across
    runs, engines, partitionings, and cluster sizes: no RNG, no seed
    coordination, no driver round-trip, and the SAME documents are
    kept when the corpus is re-processed incrementally. At 100 TB
    this is a stateless map + one aggregation shuffle; the filter
    itself can precede any expensive downstream op so dropped docs
    are never decoded. (Demo weights derive from the source id;
    production passes a weights dict and broadcasts it.)"""
    d = ld(spark, sf_dir, "documents")
    target = ((1 + F.substring("source", 4, 10).cast("int") % 10)
              / F.lit(10.0))
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.format_string(
        "%04x", F.floor(target * 65536).cast("int"))
    kept = (target >= 1.0) | (h4 < thresh)
    return (d.select("source", target.alias("target_frac"),
                     kept.alias("kept"))
            .groupBy("source")
            .agg(F.count("*").alias("n_total"),
                 F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
                 F.round(F.max("target_frac"), 6).alias("target_frac"))
            .orderBy("source"))


@register(
    "pipe_ann_pq",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS nn_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id >= 10),
         ranked AS (
           SELECT q_id, nn_id,
                  ROW_NUMBER() OVER (
                    PARTITION BY q_id
                    ORDER BY ROUND(list_distance(qv, v), 6), nn_id) AS rnk
           FROM q CROSS JOIN c)
    SELECT q_id,
           CAST(MAX(CASE WHEN rnk = 1 THEN nn_id END) AS BIGINT)
             AS exact_top1,
           TRUE AS top1_in_pq10,
           TRUE AS recall10_ok
    FROM ranked WHERE rnk <= 10
    GROUP BY q_id
    ORDER BY q_id
    """,
)
def ann_pq(spark, sf_dir):
    """Product-quantization ANN — the RAM-budget scale path beyond
    IVF: 8 subspaces × 16 centroids (4-bit codes) turn each 64-dim
    float64 vector into 8 bytes; search scans codes with asymmetric
    distances against inlined codebook literals (similarity.pq_*).
    Corpus is touched once to encode (no join), codebooks train on a
    bounded sample, the ADC scan broadcasts queries — at 100 TB the
    code table is ~64× smaller than the raw vectors, which is what
    makes exhaustive re-scan feasible.

    Oracle contract (same pattern as op_agg_approx): the entry
    returns the EXACT L2 top-1 neighbor per query (computable by
    DuckDB's list_distance) plus booleans asserting PQ quality —
    exact top-1 retrieved in PQ's top-10, and recall@10 ≥ 0.5 — and
    DuckDB returns the exact top-1 with TRUE literals, so both the
    exactness anchor AND the accuracy claims are value-hash-verified."""
    # SPLIT scan (r13 §3): the k-means codebook fit samples the
    # corpus via limit(train_cap) — PARTITION-ORDER-SENSITIVE, so the
    # fit keeps the plain ld() scan (a blanket ldw here measured
    # SIG-DIFF at sf0.001). Everything downstream of the fit —
    # encode, ADC scan, rerank, exact top-k — is per-row or keyed
    # work, order-insensitive given fixed codebooks, and runs over
    # the repartitioned scan at full parallelism.
    e = ld(spark, sf_dir, "embeddings")
    ew = ldw(spark, sf_dir, "embeddings")
    dim = 64
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        similarity.as_double_array(F.col("embedding")).alias("qv"))
    c_fit = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("nn_id"),
        similarity.as_double_array(F.col("embedding")).alias("v"))
    c = ew.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("nn_id"),
        similarity.as_double_array(F.col("embedding")).alias("v"))
    # 64 centroids/subspace (6-bit codes; FAISS-default territory) —
    # 16 was too coarse on THIS corpus: synthetic embeddings are
    # near-random, the hardest PQ case (no cluster structure), and
    # the round-7 sf0.1 oracle gate caught recall collapsing at 4×
    # the corpus. Codes are still ~8 bytes vs 512 raw (64×).
    books = similarity.pq_codebooks(c_fit, dim=dim, m=8, k=64)
    encoded = similarity.pq_encode(c, books, dim=dim).select("nn_id", "codes")
    # production PQ shape: ADC is the CANDIDATE GENERATOR, then the
    # candidates re-rank exactly against their raw vectors — the
    # 100 TB win is that the full scan touches 8-byte codes and only
    # the candidate fraction of raw vectors is ever fetched. The
    # candidate count SCALES with the corpus (a fixed top-64 was the
    # other half of the sf0.1 recall collapse): 10% here because
    # random vectors have near-uniform pairwise distances; clustered
    # real-world embeddings need far less.
    k_cand = max(64, c.count() // 10)
    cand = (similarity.pq_adc_topk(encoded, q, books, dim=dim, k=k_cand)
            .select("q_id", "nn_id"))
    rer = (cand.join(c, "nn_id").join(F.broadcast(q), "q_id")
           .select("q_id", "nn_id",
                   F.round(similarity.l2sq(F.col("qv"), F.col("v")), 6)
                   .alias("rd2")))
    wr = Window.partitionBy("q_id").orderBy("rd2", "nn_id")
    pq10 = (rer.withColumn("rnk", F.row_number().over(wr))
            .filter(F.col("rnk") <= 10).select("q_id", "nn_id"))

    exact = (F.broadcast(q).crossJoin(c)
             .select("q_id", "nn_id",
                     F.round(similarity.l2sq(F.col("qv"), F.col("v")), 6)
                     .alias("d2")))
    w = Window.partitionBy("q_id").orderBy("d2", "nn_id")
    exact10 = (exact.withColumn("rnk", F.row_number().over(w))
               .filter(F.col("rnk") <= 10))

    hits = (pq10.select("q_id", "nn_id")
            .join(exact10.select("q_id", "nn_id", "rnk"), ["q_id", "nn_id"]))
    per_q = (exact10.filter(F.col("rnk") == 1)
             .select("q_id", F.col("nn_id").alias("exact_top1"))
             .join(hits.groupBy("q_id").agg(
                 F.count("*").alias("n_hits"),
                 F.max(F.when(F.col("rnk") == 1, 1).otherwise(0))
                 .alias("top1_hit")), "q_id", "left"))
    return (per_q.select(
        "q_id", "exact_top1",
        (F.coalesce(F.col("top1_hit"), F.lit(0)) == 1).alias("top1_in_pq10"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) >= 5).alias("recall10_ok"))
        .orderBy("q_id"))


@register(
    "pipe_dedup_keep_best",
    r"""
    WITH scored AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x != '')) AS DOUBLE) AS n_tokens
      FROM documents)
    SELECT fp, doc_id AS keep_id, CAST(n_dups AS BIGINT) AS n_dups
    FROM (SELECT fp, doc_id, n_tokens,
                 COUNT(*) OVER (PARTITION BY fp) AS n_dups,
                 ROW_NUMBER() OVER (PARTITION BY fp
                                    ORDER BY n_tokens DESC, doc_id) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Canonical selection: within each duplicate group keep the BEST
    representative (here: most tokens, deterministic doc_id
    tiebreak), not an arbitrary one — the production dedup step
    where quality signals decide which copy survives (dedup keeps
    `min(doc_id)`; this keeps argmax(quality)). One window over the
    fingerprint groups — same single shuffle as exact dedup, so the
    scale shape is unchanged; any scoring column (quality_score,
    source priority, recency) slots into the ORDER BY."""
    d = ldw(spark, sf_dir, "documents")
    # r12: fingerprint and token count both derive from ONE
    # whitespace-normalization pass (text.normalized) — was two
    # independent regex scans (collapse-for-md5 + tokenize split)
    normed = d.select("doc_id",
                      text.normalized(F.col("text")).alias("__norm"))
    fp = F.md5(F.col("__norm"))
    n_tok = F.size(text.norm_tokens(F.col("__norm"))).cast("double")
    w = Window.partitionBy("fp")
    wr = Window.partitionBy("fp").orderBy(F.desc("n_tokens"), "doc_id")
    return (normed.select("doc_id", fp.alias("fp"), n_tok.alias("n_tokens"))
            .withColumn("n_dups", F.count("*").over(w))
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("fp", F.col("doc_id").alias("keep_id"), "n_dups"))


@register(
    "pipe_dedup_substring",
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
                                         'g'), ' ') AS toks
      FROM documents),
    sized AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM base
              WHERE len(toks) >= 12),
    pos AS (SELECT doc_id, n_tokens, toks,
                   unnest(range(0, n_tokens - 11)) AS p
            FROM sized),
    sh AS (SELECT doc_id, n_tokens, p,
                  md5(array_to_string(list_slice(toks, p + 1, p + 12),
                                      ' ')) AS h
           FROM pos),
    marked AS (SELECT doc_id, n_tokens, p,
                      COUNT(*) OVER (PARTITION BY h) AS c
               FROM sh),
    marks AS (SELECT doc_id, n_tokens, p FROM marked WHERE c > 1),
    isl AS (SELECT doc_id, n_tokens, p,
                   CASE WHEN p > COALESCE(MAX(p + 12) OVER (
                            PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS new_isl
            FROM marks),
    isl2 AS (SELECT doc_id, n_tokens, p,
                    SUM(new_isl) OVER (PARTITION BY doc_id
                                       ORDER BY p) AS isl_id
             FROM isl),
    spans AS (SELECT doc_id, n_tokens, isl_id,
                     MAX(p + 12) - MIN(p) AS cov, COUNT(*) AS nsh
              FROM isl2 GROUP BY doc_id, n_tokens, isl_id)
    SELECT doc_id,
           CAST(SUM(nsh) AS BIGINT) AS n_dup_shingles,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(cov) AS BIGINT) AS covered_tokens,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           ROUND(SUM(cov) * 1.0 / n_tokens, 4) AS dup_ratio
    FROM spans GROUP BY doc_id, n_tokens
    """,
)
def dedup_substring(spark, sf_dir):
    """Substring-level exact dedup (duplicated w-token spans, merged
    intervals per doc) — pipeline/dedup.py duplicate_spans; the
    scalable shingle form of Lee et al. 2022's suffix-array method."""
    d = ldw(spark, sf_dir, "documents")
    return dedup.duplicate_spans(d, w=12)


@register(
    "pipe_global_shuffle",
    """
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key
    FROM documents
    """,
)
def global_shuffle_q(spark, sf_dir):
    """Deterministic epoch shuffle (pipeline/text.py global_shuffle):
    reproducible md5 permutation key, range-partitioned + locally
    sorted — the cluster-scale way to randomize training order (one
    range shuffle, no global window, no RNG state); the oracle checks
    the engine-portable key derivation."""
    from xtdb_spark.pipeline import text as T

    d = ldw(spark, sf_dir, "documents")
    return T.global_shuffle(d, seed=42).select("doc_id", "shuffle_key")


@register(
    "pipe_dedup_span_pairs",
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
                                         'g'), ' ') AS toks
      FROM documents),
    sized AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM base
              WHERE len(toks) >= 12),
    pos AS (SELECT doc_id, n_tokens, toks,
                   unnest(range(0, n_tokens - 11)) AS p
            FROM sized),
    sh AS (SELECT DISTINCT doc_id,
                  md5(array_to_string(list_slice(toks, p + 1, p + 12),
                                      ' ')) AS h
           FROM pos),
    marked AS (SELECT doc_id, h,
                      MIN(doc_id) OVER (PARTITION BY h) AS m,
                      COUNT(*) OVER (PARTITION BY h) AS c
               FROM sh)
    SELECT m AS doc_a, doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM marked WHERE c > 1 AND doc_id <> m
    GROUP BY m, doc_id
    """,
)
def dedup_span_pairs(spark, sf_dir):
    """Span-sharing pair attribution (pipeline/dedup.py span_pairs):
    star-shaped links from each duplicated fingerprint's minimum doc,
    so hot boilerplate shingles stay linear, never quadratic."""
    d = ldw(spark, sf_dir, "documents")
    return dedup.span_pairs(d, w=12)


@register(
    "pipe_text_normalize",
    """
    SELECT doc_id, md5(nfc_normalize(lower(text))) AS norm_fp,
           CAST(length(nfc_normalize(lower(text))) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_normalize_q(spark, sf_dir):
    """Unicode NFC normalization + casefold (pipeline/text.py
    normalize_text, Arrow-batched pandas UDF) — fingerprinted so the
    oracle (DuckDB's native nfc_normalize) verifies the actual
    normalized bytes.  Note lower() vs casefold() agree on this
    corpus; the casefold extras (ß→ss, …) are unit-tested."""
    from xtdb_spark.pipeline import text as T

    d = ld(spark, sf_dir, "documents")
    norm = T.normalize_text("text", form="NFC", casefold=True)
    return d.select("doc_id", F.md5(norm).alias("norm_fp"),
                    F.length(norm).cast("long").alias("n_chars"))


@register(
    "pipe_perplexity_filter",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(regexp_replace(lower(text),
                                     '[^a-z]+', ' ', 'g')), ' +') AS ts
      FROM documents
    ), bg AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
            FROM toks WHERE len(ts) >= 2)
    ), uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    bgc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
    vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM bg)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(-SUM(lp6) AS DOUBLE) / COUNT(*), 4) AS xent,
           ROUND(CAST(-SUM(lp6) AS DOUBLE) / COUNT(*), 4) <= 7.0 AS keep
    FROM (SELECT bg.doc_id,
                 CAST(ROUND(ln((bgc.cb + 0.5) / (uni.c1 + 0.5 * vocab.v)),
                            6) AS DECIMAL(18,6)) AS lp6
          FROM bg JOIN bgc USING (w1, w2) JOIN uni USING (w1)
          CROSS JOIN vocab)
    GROUP BY doc_id
    """,
)
def perplexity_filter(spark, sf_dir):
    """Corpus-trained bigram-LM perplexity filter (pipeline/text.py
    bigram_lm_xent — the CCNet-style LM-quality gate, trained on the
    corpus itself so it is deterministic and fully oracle-checked)."""
    d = ldw(spark, sf_dir, "documents")
    return text.bigram_lm_xent(d)


@register("pipe_dedup_semantic")  # rows-only: k-means isn't SQL-expressible
def dedup_semantic(spark, sf_dir):
    """SemDeDup (pipeline/similarity.py semantic_dedup): k-means-
    blocked semantic near-dup pruning, keeping the least centroid-
    typical member of each neighborhood. Threshold 0.3 is calibrated
    to the synthetic random embeddings (intra-label max cos ~ 0.47;
    real corpora use ~0.95). The exact verification stage — pairwise
    cosine values — is oracle-checked via pipe_dedup_embedding_cosine
    and pipe_ann_cosine_topk; the k-means assignment via the
    pipe_embedding_kmeans rows-only entry's pytest blob test.

    k scales with the corpus (~400 vectors/cluster, SemDeDup's own
    regime — the paper runs 50k clusters on LAION): the within-
    cluster join is quadratic in cluster size, so a FIXED k turns it
    all-pairs as the corpus grows (k=8 at 200k vectors = 2.5 G
    cosine pairs, caught by the sf10 soak)."""
    e = ld(spark, sf_dir, "embeddings")
    k = max(8, e.count() // 400)
    return similarity.semantic_dedup(e, k=k, tau=0.3)


@register(
    "pipe_temperature_mix",
    r"""
    WITH s AS (SELECT source, COUNT(*) AS n_s FROM documents
               GROUP BY source),
    t AS (SELECT source, n_s, SUM(n_s) OVER () AS n,
                 POW(n_s / SUM(n_s) OVER (), 0.3) AS pa
          FROM s),
    r AS (SELECT source, n_s, n, ROUND(pa / SUM(pa) OVER (), 6) AS w
          FROM t),
    r2 AS (SELECT source, n_s, ROUND(w, 6) AS w,
                  ROUND(LEAST(1.0, 0.5 * n * ROUND(w, 6) / n_s), 6)
                    AS rate
           FROM r)
    SELECT d.source, COUNT(*) AS n_total,
           COUNT(*) FILTER (
             WHERE rate >= 1.0
                OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                 < printf('%04x', CAST(FLOOR(rate * 65536) AS INTEGER)))
             AS n_kept,
           ROUND(MAX(w), 6) AS w, ROUND(MAX(rate), 6) AS rate
    FROM documents d JOIN r2 USING (source)
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def temperature_mix(spark, sf_dir):
    """Temperature-based source rebalancing — the multilingual /
    multi-source mixing rule from the GPT-3 / Llama / mC4 pipelines:
    sample source s proportional to p_s^alpha (alpha = 0.3 < 1
    upweights rare sources, flattens dominant crawl), under a global
    token budget (here 0.5 of the corpus). Unlike pipe_source_mixture
    (externally-given weights), the weights derive from the CORPUS
    counts, so this is the self-calibrating variant.

    Keep decisions are the same engine-portable hash threshold as
    pipe_source_mixture (first 4 hex of md5(doc_id) vs
    floor(rate*2^16)) — deterministic across runs, engines, and
    partitionings. Scale shape: one groupBy(source) stats pass
    (map-side combine), per-source rates broadcast back, stateless
    filter; the alpha-weight math runs on the tiny per-source
    relation. Float safety: weights round to 6dp before the rate
    division, rates to 6dp before thresholding."""
    d = ld(spark, sf_dir, "documents")
    alpha, budget = 0.3, 0.5
    stats = d.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = stats.agg(F.sum("n_s").alias("n"))
    pa = (stats.crossJoin(F.broadcast(tot))
          .withColumn("pa", F.pow(F.col("n_s") / F.col("n"), alpha)))
    z = pa.agg(F.sum("pa").alias("z"))
    rates = (pa.crossJoin(F.broadcast(z))
             .withColumn("w", F.round(F.col("pa") / F.col("z"), 6))
             .withColumn("rate",
                         F.round(F.least(F.lit(1.0),
                                         F.lit(budget) * F.col("n")
                                         * F.col("w") / F.col("n_s")),
                                 6))
             .select("source", "w", "rate"))
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.format_string("%04x",
                             F.floor(F.col("rate") * 65536).cast("int"))
    kept = (F.col("rate") >= 1.0) | (h4 < thresh)
    return (d.select("source", "doc_id")
            .join(F.broadcast(rates), "source")
            .select("source", "w", "rate", kept.alias("kept"))
            .groupBy("source")
            .agg(F.count("*").alias("n_total"),
                 F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
                 F.round(F.max("w"), 6).alias("w"),
                 F.round(F.max("rate"), 6).alias("rate"))
            .orderBy("source"))


@register(
    "pipe_bpe_word_freqs",
    r"""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(regexp_extract_all(
                     text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 500
    """,
)
def bpe_word_freqs(spark, sf_dir):
    """BPE stage 1, oracle-checked: the corpus → (word, cnt) collapse
    every later merge statistic derives from (pipeline/bpe.py module
    docstring — the ONLY corpus-wide pass of tokenizer training; the
    pre-token regex is portable Java-regex/RE2 so both engines
    tokenize identically). Top-500 under a (cnt, word) total order."""
    d = ldw(spark, sf_dir, "documents")
    return (bpe.word_freqs(d)
            .orderBy(F.desc("cnt"), F.asc("word"))
            .limit(500))


@register("pipe_bpe_train")  # rows-only: iterative merge loop is not
def bpe_train(spark, sf_dir):  # SQL-expressible; value-checked in
    """BPE stage 2 (pytest): learned merge table.  Deterministic —
    count ties break to the lexicographically smallest pair — so the
    rows-only check still sees a stable row count, and
    tests/test_bpe.py value-checks the merges on a hand-computed
    corpus (Sennrich et al. 2016 worked example).
    Reference scope note: the reference engine has no tokenizer; this
    is part of the training-data pipeline surface the brief adds."""
    d = ldw(spark, sf_dir, "documents")
    merges = bpe.train(d, n_merges=120, top_words=50_000)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string")


@register("pipe_bpe_encode")  # rows-only: depends on the learned
def bpe_encode(spark, sf_dir):  # merges (iterative); round-trip and
    """BPE stage 3 (hand examples value-checked in pytest): encode the
    corpus under the learned merges — per-doc BPE token count next to
    the whitespace count, aggregated per source so the result is
    small and stable. The encode UDF is Arrow-batched with per-batch
    word memoization (bpe.py:encode_counts)."""
    d = ldw(spark, sf_dir, "documents")
    merges = bpe.train(d, n_merges=120, top_words=50_000)
    enc = bpe.encode_counts(d, merges)
    return (d.select("doc_id", "source",
                     text.token_count(F.col("text")).alias("n_ws"))
            .join(enc, "doc_id")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_ws").alias("ws_tokens"),
                 F.sum("n_bpe").alias("bpe_tokens"))
            .orderBy("source"))


@register(
    "pipe_ngram_topk",
    r"""
    WITH w AS (SELECT list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  x -> x != '') AS ws
               FROM documents),
    t AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
          FROM w, UNNEST(range(1, len(ws) - 1)) AS u(i)
          WHERE len(ws) >= 3)
    SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM t GROUP BY g
    ORDER BY cnt DESC, g LIMIT 50
    """,
)
def ngram_topk(spark, sf_dir):
    """Exact corpus top-50 trigrams via two-pass bucket-pruned heavy
    hitters (pipeline/text.py:ngram_topk — fixed 2^20-key shuffle +
    candidate-only exact pass, never the full n-gram key space). The
    oracle is the NAIVE exact spelling, so the driver checks the
    pruning argument end-to-end, ties included."""
    d = ldw(spark, sf_dir, "documents")
    return text.ngram_topk(d, n=3, k=50)


@register(
    "pipe_quality_lr_step",
    rf"""
    WITH f AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             1.0 AS f0,
             ROUND(ln(1 + n_tokens), 6) AS f1,
             ROUND(nonspace / n_tokens, 6) AS f2,
             ROUND(n_stop / n_tokens, 6) AS f3,
             ROUND(punct / (1 + len_text), 6) AS f4
      FROM (
        SELECT lang,
               CAST(len(toks) AS DOUBLE) AS n_tokens,
               CAST(length(regexp_replace(text, '\s+', '', 'g'))
                 AS DOUBLE) AS nonspace,
               CAST(len(list_filter(toks,
                        t -> list_contains(['{_STOP_SQL}'], t)))
                 AS DOUBLE) AS n_stop,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '',
                                          'g')) AS DOUBLE) AS punct,
               CAST(length(text) AS DOUBLE) AS len_text
        FROM (SELECT lang, text,
                     string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents)))
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(0.5 * (SUM(CASE WHEN y = 0 THEN f0 ELSE 0 END
                                 ::DECIMAL(38,6))
                           - SUM(CASE WHEN y = 1 THEN f0 ELSE 0 END
                                 ::DECIMAL(38,6))) AS DOUBLE), 6) AS g0,
           ROUND(CAST(0.5 * (SUM(CASE WHEN y = 0 THEN f1 ELSE 0 END
                                 ::DECIMAL(38,6))
                           - SUM(CASE WHEN y = 1 THEN f1 ELSE 0 END
                                 ::DECIMAL(38,6))) AS DOUBLE), 6) AS g1,
           ROUND(CAST(0.5 * (SUM(CASE WHEN y = 0 THEN f2 ELSE 0 END
                                 ::DECIMAL(38,6))
                           - SUM(CASE WHEN y = 1 THEN f2 ELSE 0 END
                                 ::DECIMAL(38,6))) AS DOUBLE), 6) AS g2,
           ROUND(CAST(0.5 * (SUM(CASE WHEN y = 0 THEN f3 ELSE 0 END
                                 ::DECIMAL(38,6))
                           - SUM(CASE WHEN y = 1 THEN f3 ELSE 0 END
                                 ::DECIMAL(38,6))) AS DOUBLE), 6) AS g3,
           ROUND(CAST(0.5 * (SUM(CASE WHEN y = 0 THEN f4 ELSE 0 END
                                 ::DECIMAL(38,6))
                           - SUM(CASE WHEN y = 1 THEN f4 ELSE 0 END
                                 ::DECIMAL(38,6))) AS DOUBLE), 6) AS g4
    FROM f
    """,
)
def quality_lr_step(spark, sf_dir):
    """Model-based quality filtering, oracle-checked slice: the w=0
    logistic-regression gradient over the corpus (exact decimal sums
    — pipeline/classify.py:first_step_gradient). Validates the whole
    feature pipeline + gradient math against an independent SQL
    derivation; the iterated training is pipe_quality_lr_train."""
    d = ldw(spark, sf_dir, "documents")
    return classify.first_step_gradient(classify.features(d))


@register("pipe_quality_lr_train")  # rows-only: iterative GD (float
def quality_lr_train(spark, sf_dir):  # sum order varies at 1e-12);
    """Full distributed GD (30 one-agg-job iterations over the cached
    feature frame) predicting `lang = 'en'` from surface quality
    features, reported with its accuracy vs the majority-class
    baseline; the exact first step is oracle-checked by
    pipe_quality_lr_step, convergence/separability by
    tests/test_classify.py."""
    d = ldw(spark, sf_dir, "documents")
    feats = classify.features(d)
    w = classify.train(feats, n_iter=30, lr=0.5)
    acc = classify.accuracy(feats, w)
    base = feats.agg(F.avg(F.col("y").cast("double"))).collect()[0][0]
    base_acc = max(base, 1 - base)
    return spark.createDataFrame(
        [(30, round(acc, 4), round(base_acc, 4), acc > base_acc,
          *[round(x, 3) for x in w])],
        "n_iter int, acc double, majority_acc double, beats_majority "
        "boolean, w0 double, w1 double, w2 double, w3 double, w4 double")


@register("pipe_image_phash_dedup")  # rows-only: perceptual hashing
def image_phash_dedup(spark, sf_dir):  # needs real pixel decode
    """Multimodal near-dup dedup: REAL PNGs (generated
    deterministically, encoded/decoded by the pure-Python codecs) →
    64-bit dHash via Arrow-batched mapInPandas → pigeonhole-banded
    Hamming self-join (dedup.near_dup_phash — same blocking argument
    as SimHash, no all-pairs). 12 base patterns × 10 brightness/noise
    variants: every within-pattern pair is a near-dup, no
    cross-pattern pair is; the per-pattern pair counts returned here
    make any blocking miss visible as a row-count change. Exactness
    of the banding itself is brute-force-verified in
    tests/test_phash.py."""
    import numpy as np

    from xtdb_spark.pipeline import multimodal
    from xtdb_spark.pipeline.codecs import encode_png
    from xtdb_spark.pipeline.dedup import near_dup_phash

    rows = []
    for pat in range(12):
        # distinct 2-D frequencies: min cross-pattern dHash distance
        # 32 bits (plain gradients would alias — dHash sees gradient
        # SIGN structure, and all monotone ramps share it)
        fx, fy = 1 + pat % 4, 1 + pat // 4
        y, x = np.mgrid[0:32, 0:32]
        base = (128 + 120 * np.sin(2 * np.pi * fx * x / 32)
                * np.cos(2 * np.pi * fy * y / 32)) \
            .clip(0, 255).astype(np.uint8)
        for v in range(10):
            px = base.copy()
            px[v % 32, (v * 7) % 32] ^= 3          # tiny pixel tweak
            img = np.repeat(px[:, :, None], 3, axis=2)
            rows.append((pat * 10 + v, encode_png(img)))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    hashes = multimodal.phash_images(media).filter(F.col("ok"))
    pairs = near_dup_phash(hashes, max_hamming=3, max_band_df=200)
    return (pairs
            .withColumn("pattern", (F.col("id_a") / 10).cast("int"))
            .withColumn("same_pattern",
                        (F.col("id_a") / 10).cast("int")
                        == (F.col("id_b") / 10).cast("int"))
            .groupBy("pattern")
            .agg(F.count("*").alias("n_pairs"),
                 F.count(F.when(F.col("same_pattern"), 1))
                 .alias("n_same"),
                 F.max("hamming").alias("max_ham"))
            .orderBy("pattern"))


@register("pipe_audio_fp_dedup")  # rows-only: needs real WAV decode
def audio_fp_dedup(spark, sf_dir):
    """Audio near-dup dedup: REAL WAVs (deterministic tone sequences
    through the pure-Python codec) → dominant-band contour
    fingerprints (multimodal.audio_fingerprints, Arrow-batched) →
    shared-block pair join with the hot-block df guard
    (dedup.near_dup_audio). 8 melodies × 6 renditions (volume ±,
    mild noise); within-melody pairs are the near-dups —
    value-checked invariances in tests/test_audio_fp.py."""
    import numpy as np

    from xtdb_spark.pipeline import multimodal
    from xtdb_spark.pipeline.codecs import encode_wav
    from xtdb_spark.pipeline.dedup import near_dup_audio

    sr = 8000
    scale = [115, 130, 150, 170, 195, 225, 260, 300, 345, 400,
             465, 540, 625, 720, 830, 960, 1110, 1280]
    # permutation seeds chosen so no two melodies share a consecutive
    # note bigram — a shared run would be a REAL audio near-dup and
    # blur the expected within/cross split (a formulaic note walk was
    # observed doing exactly that)
    seeds = [0, 1, 2, 5, 7, 8, 10, 12]
    rows = []
    for m in range(8):
        rng = np.random.RandomState(100 + m)
        notes = [scale[i]
                 for i in np.random.RandomState(seeds[m])
                 .permutation(18)[:8]]
        t = np.arange(int(sr * 0.25)) / sr
        base = np.concatenate(
            [np.sin(2 * np.pi * f * t) for f in notes])
        for v in range(6):
            amp = 3000.0 + 600.0 * v
            sig = amp * base
            if v >= 4:
                sig = sig + rng.normal(0, 0.02 * amp, sig.shape)
            rows.append((m * 6 + v, encode_wav(
                np.clip(sig, -32768, 32767).astype(np.int16), sr)))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    fps = multimodal.audio_fingerprints(media)
    pairs = near_dup_audio(fps, min_ratio=0.5)
    return (pairs
            .withColumn("melody", (F.col("id_a") / 6).cast("int"))
            .withColumn("same_melody",
                        (F.col("id_a") / 6).cast("int")
                        == (F.col("id_b") / 6).cast("int"))
            .groupBy("melody")
            .agg(F.count("*").alias("n_pairs"),
                 F.count(F.when(F.col("same_melody"), 1)).alias("n_same"),
                 F.round(F.min("ratio"), 3).alias("min_ratio"))
            .orderBy("melody"))


@register("pipe_video_fp_dedup")  # rows-only: needs real frame decode
def video_fp_dedup(spark, sf_dir):
    """Video near-dup dedup, completing the multimodal trio: REAL
    animated GIFs (generated + LZW-encoded by the pure-Python codec)
    → per-sampled-frame dHash (multimodal.video_fingerprints) →
    clip-level shared-frame vote (dedup.near_dup_video). 6 motion
    patterns × 4 renditions (brightness variants); within-pattern
    pairs are the near-dups."""
    import numpy as np

    from xtdb_spark.pipeline import multimodal
    from xtdb_spark.pipeline.codecs import encode_gif
    from xtdb_spark.pipeline.dedup import near_dup_video

    rows = []
    for pat in range(6):
        fx, fy = 1 + pat % 3, 1 + pat // 3
        y, x = np.mgrid[0:32, 0:32]
        for v in range(4):
            frames = []
            for k in range(6):
                px = (128 + 110 * np.sin(2 * np.pi
                                         * (fx * x + 4 * k) / 32)
                      * np.cos(2 * np.pi * fy * y / 32) + 2 * v) \
                    .clip(0, 255).astype(np.uint8)
                frames.append(np.repeat(px[:, :, None], 3, axis=2))
            rows.append((pat * 4 + v,
                         encode_gif(frames, delays_ms=[100] * 6)))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    fps = multimodal.video_fingerprints(media)
    pairs = near_dup_video(fps, min_ratio=0.5, max_band_df=200)
    return (pairs
            .withColumn("pattern", (F.col("id_a") / 4).cast("int"))
            .withColumn("same_pattern",
                        (F.col("id_a") / 4).cast("int")
                        == (F.col("id_b") / 4).cast("int"))
            .groupBy("pattern")
            .agg(F.count("*").alias("n_pairs"),
                 F.count(F.when(F.col("same_pattern"), 1)).alias("n_same"),
                 F.round(F.min("ratio"), 3).alias("min_ratio"))
            .orderBy("pattern"))
