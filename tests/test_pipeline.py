"""Tests for dedup / similarity / text / multimodal pipeline ops."""

import pytest
from pyspark.sql import functions as F

from xtdb_spark.pipeline import dedup, similarity, text
from xtdb_spark.pipeline.multimodal import extract_features, make_fake_media

SF_DIR = "/root/testdata/sf0.001"


def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "THE  quick brown fox jumps over the lazy dog"),  # normalizes to 1
        (4, "completely different content about spark engines"),
        (5, "el gato y el perro en la casa de la abuela"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_duplicates(docs_df(spark))
    groups = {r["keep_id"]: r["n_docs"] for r in out.collect()}
    assert groups[1] == 2  # docs 1 and 3 normalize identically
    assert groups[2] == 1


def test_ngram_jaccard(spark):
    pairs = dedup.ngram_jaccard_pairs(docs_df(spark), n=3, threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 3) in got and got[(1, 3)] == 1.0
    assert (1, 2) in got and 0.4 < got[(1, 2)] < 1.0
    assert (1, 4) not in got


def test_minhash_lsh_finds_near_dups(spark):
    pairs = dedup.minhash_lsh_pairs(docs_df(spark), k=32, bands=8,
                                    threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 3) in got
    assert (1, 2) in got


def test_simhash_near_pairs(spark):
    pairs = dedup.simhash_near_pairs(docs_df(spark), max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 3) in got  # identical after lowering


def test_cosine_topk(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(100, [1.0, 0.05])],
                                    "q_id long, q_vec array<double>")
    out = similarity.cosine_topk(corpus, queries, k=2).collect()
    assert [r["nn_id"] for r in sorted(out, key=lambda r: r["rnk"])] == [1, 3]


def test_lang_id_and_quality(spark):
    d = docs_df(spark)
    out = {r["doc_id"]: (r["lang"], r["q"]) for r in d.select(
        "doc_id",
        text.lang_id(F.col("text")).alias("lang"),
        text.quality_score(F.col("text")).alias("q")).collect()}
    assert out[1][0] == "en"
    assert out[5][0] == "es"
    assert 0.0 <= out[1][1] <= 1.0


def test_fingerprint_normalizes(spark):
    d = docs_df(spark)
    fps = {r["doc_id"]: r["fp"] for r in
           d.select("doc_id", text.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[3]
    assert fps[1] != fps[2]


def test_multimodal_plumbing(spark):
    media = make_fake_media(spark, n=30)
    feats = extract_features(media, batch_size=8, fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 30
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[0]["feat_dim"] == 4
    assert by_id[0]["n_bytes"] > 0
    assert len(by_id[0]["checksum"]) == 32
    # deterministic: same input → same checksum on rerun
    again = {r["media_id"]: r["checksum"] for r in
             extract_features(media, batch_size=8, fake_decode=True).collect()}
    assert again == {k: v["checksum"] for k, v in by_id.items()}


def test_multimodal_decode_gated(spark):
    media = make_fake_media(spark, n=2)
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception):
        extract_features(media).collect()  # NotImplementedError in worker


def test_ann_ivf_kmeans_recovers_neighbors(spark):
    """IVF with the k-means-trained coarse quantizer (the production
    default): two well-separated clusters; querying near one cluster
    must return neighbors from that cluster only."""
    import random

    from xtdb_spark.pipeline import similarity

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [10.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 10.0, 0.0]
        rows.append((i, [b + rng.uniform(-0.5, 0.5) for b in base]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(100, [10.0, 0.1, 0.0])],
                                    "q_id long, q_vec array<double>")
    out = similarity.ann_ivf_topk(corpus, queries, n_cells=2, nprobe=1, k=5,
                                  centroids="kmeans", train_cap=40,
                                  max_iter=5).collect()
    assert len(out) == 5
    assert all(r["nn_id"] % 2 == 0 for r in out)  # cluster-0 members only
    assert all(r["cos_sim"] > 0.99 for r in out)


def test_jaccard_df_filter_blocking_matches_exact(spark):
    """Rare-shingle blocking (max_gram_df) returns the same pairs as
    exact blocking when near-dups share rare shingles."""
    from xtdb_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame([
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "one two three four five six"),
        (4, "totally different words here now folks"),
    ], "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]) for r in
             ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    blocked = {(r["id_a"], r["id_b"]) for r in
               ngram_jaccard_pairs(docs, threshold=0.3,
                                   max_gram_df=3).collect()}
    assert exact == blocked == {(1, 2)}


def test_resize_images_plumbing(spark):
    from xtdb_spark.pipeline.multimodal import make_fake_media, resize_images

    media = make_fake_media(spark, 30)
    out = resize_images(media, target_w=64, target_h=64,
                        fake_decode=True, batch_size=None)
    rows = out.collect()
    # only image rows cross into the UDF
    assert len(rows) == 10 and all(r["kind"] == "image" for r in rows)
    assert all(r["width"] == 64 and r["height"] == 64 for r in rows)
    assert all(r["n_bytes"] == len(r["content"]) == 64 for r in rows)
    # stub gated loudly
    import pytest

    with pytest.raises(Exception, match="NotImplementedError|image library"):
        resize_images(media, fake_decode=False, batch_size=None).collect()


def test_sample_frames_expands_rows(spark):
    from xtdb_spark.pipeline.multimodal import make_fake_media, sample_frames

    media = make_fake_media(spark, 30)
    out = sample_frames(media, n_frames=4, fake_decode=True,
                        batch_size=None)
    rows = out.collect()
    assert len(rows) == 10 * 4  # 1 video row → 4 frame rows
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    for frames in by_id.values():
        assert sorted(f["frame_idx"] for f in frames) == [0, 1, 2, 3]
        assert all(len(f["frame"]) > 0 for f in frames)
        # timestamps strictly increasing with frame index
        ts = [f["ts_ms"] for f in sorted(frames, key=lambda x: x["frame_idx"])]
        assert ts == sorted(ts)


def test_duplicate_clusters_transitive(spark):
    from xtdb_spark.pipeline.dedup import duplicate_clusters

    # chain 1-2-3 (A~B, B~C but never A~C), pair 10-11, and a
    # two-edge star 20-21, 20-22: transitivity must merge chains
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22)],
        ["id_a", "id_b"])
    out = {r["id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_ann_lsh_multiprobe_recall(spark):
    """Multi-probe LSH (smallest-margin bit flips) must find at least
    as many of the true neighbors as single-probe on the same
    hash family, at the same corpus hashing cost."""
    import random

    from xtdb_spark.pipeline import similarity

    rng = random.Random(11)
    dim = 16
    corpus = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(300)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(j, [rng.gauss(0, 1) for _ in range(dim)]) for j in range(8)],
        "q_id long, q_vec array<double>")
    truth = {(r["q_id"], r["nn_id"]) for r in similarity.cosine_topk(
        corpus, queries, k=5).collect()}

    def recall(n_probes):
        got = {(r["q_id"], r["nn_id"]) for r in similarity.ann_lsh_topk(
            corpus, queries, dim=dim, k=5, n_planes=6,
            n_probes=n_probes).collect()}
        return len(got & truth) / len(truth)

    # deterministic (seeded data, hash-derived planes): measured
    # r1 = 0.05, r8 = 0.35 — probing the 7 smallest-margin adjacent
    # buckets multiplies recall 7x at the same corpus hashing cost
    r1, r8 = recall(1), recall(8)
    assert r8 > r1
    assert r8 >= 0.3


def test_repetition_stats_hand_computed(spark):
    from xtdb_spark.pipeline import text

    df = spark.createDataFrame(
        [(1, "a a b"),        # words [a,a,b]; bigrams "a a","a b" tie -> "a a"
         (2, "x y x y x y"),  # top word x (3/6); top bigram "x y" 3x
         (3, "solo")],        # no bigram -> frac 0.0
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            text.repetition_stats(df).collect()}
    r1 = rows[1]
    assert r1["distinct_word_ratio"] == round(2 / 3, 6)
    assert r1["top_word_frac"] == round(2 / 3, 6)
    # tie breaks lexicographically: "a a" (len 3, cnt 1) over "a b";
    # tc = len("a a b") = 5
    assert r1["top_bigram_char_frac"] == 0.6
    r2 = rows[2]
    assert r2["distinct_word_ratio"] == round(2 / 6, 6)
    assert r2["top_word_frac"] == 0.5
    # "x y" cnt 3 of bigrams, len 3, tc = 11 -> 9/11
    assert r2["top_bigram_char_frac"] == round(9 / 11, 6)
    r3 = rows[3]
    assert r3["distinct_word_ratio"] == 1.0
    assert r3["top_word_frac"] == 1.0
    assert r3["top_bigram_char_frac"] == 0.0


def test_kmeans_cluster_recovers_blobs(spark):
    """Three well-separated blobs must come back as three pure
    clusters, every member closest to its own centroid."""
    import random

    from xtdb_spark.pipeline.similarity import kmeans_cluster

    rnd = random.Random(7)
    centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, [x + rnd.uniform(-0.5, 0.5) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_cluster(df, k=3, max_iter=10).collect()
    assert len(out) == 90
    by_true = {}
    for r in out:
        by_true.setdefault(r["id"] % 3, set()).add(r["cluster"])
        assert r["sim"] > 0.99
    # each true blob maps to exactly one k-means cluster, all distinct
    assert all(len(v) == 1 for v in by_true.values())
    assert len({next(iter(v)) for v in by_true.values()}) == 3


def test_sniff_bytes_real_headers():
    """Header parsing against REAL byte layouts (no codec libs):
    hand-assembled but spec-faithful PNG/JPEG/GIF/BMP/WAV headers."""
    from xtdb_spark.pipeline.multimodal import sniff_bytes

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + b"\x08\x06\x00\x00\x00")
    assert sniff_bytes(png) == ("png", 640, 480, None, None)

    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (1080).to_bytes(2, "big") + (1920).to_bytes(2, "big")
            + b"\x03" + b"\x00" * 9
            + b"\xff\xd9")
    assert sniff_bytes(jpeg) == ("jpeg", 1920, 1080, None, None)

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert sniff_bytes(gif) == ("gif", 320, 200, None, None)

    bmp = (b"BM" + b"\x00" * 16
           + (800).to_bytes(4, "little") + (-600).to_bytes(4, "little",
                                                           signed=True))
    assert sniff_bytes(bmp) == ("bmp", 800, 600, None, None)

    wav = (b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
           + (44100).to_bytes(4, "little") + b"\x00" * 8)
    assert sniff_bytes(wav) == ("wav", None, None, 44100, 2)

    assert sniff_bytes(b"")[0] == "empty"
    assert sniff_bytes(None)[0] == "empty"
    assert sniff_bytes(b"\x89PNG\r\n\x1a\n\x00")[0] == "unknown"  # truncated
    assert sniff_bytes(b"random garbage")[0] == "unknown"


def test_sniff_media_distributed(spark):
    """sniff_media end-to-end through mapInPandas: mixed real headers
    in a binary column, nullable metadata round-trips arrow."""
    from xtdb_spark.pipeline.multimodal import sniff_media

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
           + (32).to_bytes(4, "big") + (16).to_bytes(4, "big") + b"\x00" * 5)
    wav = (b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (16000).to_bytes(4, "little") + b"\x00" * 8)
    df = spark.createDataFrame(
        [(1, png), (2, wav), (3, b"junk")],
        "media_id long, content binary")
    out = {r["media_id"]: r for r in sniff_media(df).collect()}
    assert out[1]["format"] == "png" and out[1]["width"] == 32 \
        and out[1]["height"] == 16
    assert out[2]["format"] == "wav" and out[2]["sample_rate"] == 16000 \
        and out[2]["channels"] == 1 and out[2]["width"] is None
    assert out[3]["format"] == "unknown" and out[3]["n_bytes"] == 4


def test_pq_encode_and_adc(spark):
    """PQ unit semantics: argmin encoding against a known codebook,
    and ADC distance = sum of subspace centroid distances."""
    from pyspark.sql import functions as F

    from xtdb_spark.pipeline import similarity

    # dim=4, m=2, two centroids per subspace
    books = [[[0.0, 0.0], [10.0, 10.0]],
             [[5.0, 5.0], [-5.0, -5.0]]]
    corpus = spark.createDataFrame(
        [(1, [0.1, -0.2, 4.0, 6.0]),     # sub0→code0, sub1→code0
         (2, [9.0, 11.0, -4.0, -6.0])],  # sub0→code1, sub1→code1
        "nn_id long, v array<double>")
    enc = {r["nn_id"]: list(r["codes"])
           for r in similarity.pq_encode(corpus, books, dim=4).collect()}
    assert enc == {1: [0, 0], 2: [1, 1]}

    qs = spark.createDataFrame([(0, [0.0, 0.0, 5.0, 5.0])],
                               "q_id long, qv array<double>")
    encoded = similarity.pq_encode(corpus, books, dim=4) \
        .select("nn_id", "codes")
    top = similarity.pq_adc_topk(encoded, qs, books, dim=4, k=2).collect()
    # vec 1 reconstructs to (0,0),(5,5) → d2=0; vec 2 → (10,10),(-5,-5)
    assert [(r["nn_id"], r["approx_d2"]) for r in top] == \
        [(1, 0.0), (2, 400.0)]


def test_duplicate_spans_semantics(spark):
    """Substring dedup: shared passages across docs are found, merged
    into maximal spans, and counted once per token; unique text in
    the same docs is not flagged."""
    from xtdb_spark.pipeline.dedup import duplicate_spans

    shared = " ".join(f"w{i}" for i in range(20))        # 20 tokens
    docs = spark.createDataFrame(
        [(1, shared + " unique one two three four five six"),
         (2, "prefix tokens here then " + shared),
         (3, " ".join(f"u{i}" for i in range(30))),      # all unique
         # internal repetition: the same 12-gram twice in one doc
         (4, " ".join(f"r{i % 12}" for i in range(24)))],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in duplicate_spans(docs, w=12).collect()}
    assert set(got) == {1, 2, 4}
    # doc1: the shared 20-token prefix = 9 overlapping shingles → ONE
    # merged span covering exactly the 20 shared tokens
    assert got[1]["n_dup_spans"] == 1
    assert got[1]["covered_tokens"] == 20
    assert got[1]["n_dup_shingles"] == 9
    assert got[2]["covered_tokens"] == 20
    # doc4: r0..r11 r0..r11 — every window is a rotation that repeats
    assert got[4]["dup_ratio"] == 1.0


def test_global_shuffle_deterministic_and_seeded(spark):
    from xtdb_spark.pipeline.text import global_shuffle

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    o1 = [r["doc_id"] for p in range(1)
          for r in global_shuffle(df, seed=1, partitions=4).collect()]
    o1b = [r["doc_id"] for r in global_shuffle(df, seed=1,
                                               partitions=4).collect()]
    o2 = [r["doc_id"] for r in global_shuffle(df, seed=2,
                                              partitions=4).collect()]
    assert o1 == o1b                      # reproducible
    assert o1 != o2                       # seed changes the epoch
    assert sorted(o1) == list(range(100))  # a permutation
    assert o1 != list(range(100))          # actually shuffled


def test_span_pairs_star_shape(spark):
    """Span-pair attribution: k docs sharing a fingerprint yield k-1
    star edges from the minimum doc, not k^2 pairs."""
    from xtdb_spark.pipeline.dedup import span_pairs

    shared = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, shared), (2, "pre " + shared), (3, shared + " post"),
         (4, " ".join(f"u{i}" for i in range(20)))],
        "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["n_shared_shingles"]
           for r in span_pairs(docs, w=12).collect()}
    assert set(got) == {(1, 2), (1, 3)}        # star from doc 1
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1


def test_normalize_text_unicode_semantics(spark):
    """NFC + casefold on real Unicode: combining sequences compose,
    casefold exceeds lower() (German sharp s)."""
    from xtdb_spark.pipeline.text import normalize_text

    rows = [(1, "Café STRASSE"),     # e + combining acute
            (2, "café straße"),  # precomposed + sharp s
            (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n"]
           for r in df.select("doc_id",
                              normalize_text().alias("n")).collect()}
    assert got[1] == "café strasse"   # composed + casefolded
    assert got[2] == "café strasse"   # ß → ss via casefold
    assert got[3] is None
    assert got[1] == got[2]                # the dedup-relevant point


def test_bigram_lm_xent_hand_computed(spark):
    """Cross-entropy matches an independent pure-Python bigram-LM
    computation (add-k smoothing, k=0.5), and gibberish scores
    strictly worse than text made of corpus-frequent bigrams."""
    import math
    import re
    from collections import Counter

    rows = [(1, "the cat sat on the mat"),
            (2, "the cat ran to the mat"),
            (3, "zq xv wk pj zq")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in text.bigram_lm_xent(df).collect()}

    toks = {i: re.sub(r"[^a-z]+", " ", t.lower()).split() for i, t in rows}
    bgs = {i: list(zip(ts, ts[1:])) for i, ts in toks.items()}
    all_bg = [b for bs in bgs.values() for b in bs]
    cb, c1 = Counter(all_bg), Counter(b[0] for b in all_bg)
    v = len({b[1] for b in all_bg})
    for i, bs in bgs.items():
        lps = [round(math.log((cb[b] + 0.5) / (c1[b[0]] + 0.5 * v)), 6)
               for b in bs]
        want = round(-sum(lps) / len(lps), 4)
        assert got[i]["xent"] == want, (i, got[i]["xent"], want)
        assert got[i]["n_bigrams"] == len(bs)
        assert got[i]["keep"] == (want <= 7.0)
    assert got[3]["xent"] > got[1]["xent"]  # gibberish ranks worse


def test_semantic_dedup_blobs(spark):
    """Three tight blobs + one far outlier: within each blob exactly
    the least-typical member is kept, dropped docs point at a keeper
    in the SAME cluster, and the outlier survives untouched."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for b, center in enumerate(np.eye(3)):
        base = np.concatenate([center * 10, rng.normal(0, 0.1, 5)])
        for i in range(3):
            v = base + rng.normal(0, 0.01, 8)
            rows.append((b * 10 + i, [float(x) for x in v]))
    rows.append((99, [float(x) for x in -np.ones(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup(df, k=4, tau=0.95, train_cap=100)
    got = {r["id"]: r for r in out.collect()}
    assert len(got) == 10
    assert got[99]["keep"] and got[99]["dup_of"] is None
    for b in range(3):
        ids = [b * 10 + i for i in range(3)]
        kept = [i for i in ids if got[i]["keep"]]
        assert len(kept) == 1, (b, kept)
        # the kept one is the blob's least centroid-typical member
        assert got[kept[0]]["centroid_sim"] == min(
            got[i]["centroid_sim"] for i in ids)
        clusters = {got[i]["cluster"] for i in ids}
        assert len(clusters) == 1
        for i in ids:
            if not got[i]["keep"]:
                assert got[i]["dup_of"] in ids


def test_temperature_mix_flattens_sources(spark, tmp_path):
    """Temperature sampling upweights rare sources: the rare source
    keeps a higher fraction than the dominant one, and the overall
    kept volume lands near the 0.5 budget."""
    import xtdb_spark.queries.pipeline as P

    rows = [(i, "crawl") for i in range(900)] + \
           [(900 + i, "books") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r
           for r in P.temperature_mix(spark, str(tmp_path)).collect()}
    crawl, books = out["crawl"], out["books"]
    assert books["rate"] > crawl["rate"]          # rare source upweighted
    assert books["n_kept"] / books["n_total"] > \
        crawl["n_kept"] / crawl["n_total"]
    total_kept = crawl["n_kept"] + books["n_kept"]
    assert 0.35 < total_kept / 1000 < 0.65        # near the 0.5 budget
    assert abs(crawl["w"] + books["w"] - 1.0) < 1e-5


def test_simhash_hot_band_guard(spark):
    # identical docs -> identical fingerprints -> every band hot; the
    # df cap must keep the self-join from going quadratic (exact
    # dedup owns that cluster), and None restores exhaustive mode
    rows = [(i, "same words in every single document") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.simhash_near_pairs(df, max_band_df=5).count() == 0
    assert dedup.simhash_near_pairs(df, max_band_df=None).count() == 66


def test_hot_band_cap_is_observable(spark, caplog):
    """Round-11 ADVICE: capped mode must not drop recall silently —
    a log line announces the cap + opt-out, and the executed plan
    carries an observe() metric with the actually-dropped bucket
    count (visible to any QueryExecutionListener)."""
    import logging

    rows = [(i, "same words in every single document") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dedup._cap_logged.discard("simhash_near_pairs")
    with caplog.at_level(logging.INFO, logger="xtdb_spark.dedup"):
        pairs = dedup.simhash_near_pairs(df, max_band_df=5)
        assert pairs.count() == 0
    assert any("hot-bucket cap active" in r.message for r in caplog.records)
    # the observe node names dropped_buckets in the plan
    assert "dropped_buckets" in pairs._jdf.queryExecution().analyzed().toString()


def test_minhash_hot_bucket_guard(spark):
    # identical docs -> identical signatures -> every LSH bucket hot;
    # the optional df cap drops them (exact dedup owns the cluster)
    rows = [(i, "exactly the same words every time here") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.minhash_lsh_pairs(df, threshold=0.9,
                                   max_bucket_df=5).count() == 0
    assert dedup.minhash_lsh_pairs(df, threshold=0.9).count() == 66


def test_ann_ivfpq_clustered(spark):
    """IVF-PQ finds the right cluster: 4 tight clusters in 16 dims,
    queries at the cluster centers — every top-3 neighbor must come
    from the query's own cluster, and probing ALL cells must rank
    the exact nearest vector first (residual ADC is exact-ADC inside
    a cell)."""
    import random

    from xtdb_spark.pipeline import similarity

    rnd = random.Random(7)
    rows = []
    centers = [[10.0 * (c + 1)] * 16 for c in range(4)]
    for i in range(200):
        c = i % 4
        rows.append((i + 100, [centers[c][d] + rnd.uniform(-0.5, 0.5)
                               for d in range(16)]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(
        [(c, centers[c]) for c in range(4)], "q_id long, q_vec array<double>")
    out = similarity.ann_ivfpq_topk(
        corpus, qs, n_cells=4, nprobe=4, m=4, kcode=8, k=3,
        centroids="kmeans", pq_train_cap=200).collect()
    assert len(out) == 12
    for r in out:
        assert (r["nn_id"] - 100) % 4 == r["q_id"]   # own cluster only


def test_cosine_kernels_identical(spark, monkeypatch):
    """pipe_ann_cosine_topk's size gate swaps similarity.cosine for
    cosine_np, so the two kernels must agree value for value: random
    64-d pairs, then the edges in the same batch — a null array, an
    empty array, a zero vector, a NaN component and unequal lengths
    (each null in both) — and the entry's rows with the gate forced
    both ways."""
    import random

    from xtdb_spark.queries import QUERIES
    from xtdb_spark.queries import pipeline as qp

    rnd = random.Random(11)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(64)],
             [rnd.gauss(0, 1) for _ in range(64)]) for i in range(200)]
    rows += [(200, None, [1.0] * 64), (201, [], []),
             (202, [0.0] * 64, [1.0] * 64),
             (203, [float("nan")] + [1.0] * 63, [1.0] * 64),
             (204, [1.0] * 64, [1.0] * 63)]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>").coalesce(1)
    out = df.select(
        "id", similarity.cosine(F.col("a"), F.col("b")).alias("fold"),
        similarity.cosine_np(F.col("a"), F.col("b")).alias("np")).collect()
    assert len(out) == len(rows)
    assert [r.fold for r in out] == [r.np for r in out]
    assert sum(r.fold is None for r in out) == 5

    def entry_rows(cosine_np_bytes):
        monkeypatch.setattr(qp, "COSINE_NP_BYTES", cosine_np_bytes)
        df = QUERIES["pipe_ann_cosine_topk"].fn(spark, SF_DIR)
        assert ("ArrowEvalPython" in df._jdf.queryExecution()
                .executedPlan().toString()) == (cosine_np_bytes == 0)
        return sorted(map(tuple, df.collect()))

    fold_rows = entry_rows(1 << 64)
    assert len(fold_rows) == 50
    assert entry_rows(0) == fold_rows


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
