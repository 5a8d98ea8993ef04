"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline. The dot product is a
  `zip_with` + `aggregate` fold — JVM-side, no Python. Cost
  O(queries × corpus); fine when queries are broadcast-small.
- LSH-bucketed ANN: random-hyperplane signature (sign of dot with
  deterministic pseudo-random planes derived from xxhash64), bucket
  equi-join, exact re-rank within buckets. The 100 TB path: corpus
  hashed once, queries probe matching buckets only.
- embedding near-dup: pairs with cosine ≥ threshold via LSH blocking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — deterministic double sum."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Null where the cosine is undefined, as `cosine_np` answers: a
    zero-norm input (an empty or all-zero vector; ANSI division would
    raise) and a NaN result (a NaN component)."""
    return F.nanvl(F.try_divide(dot(a, b), norm(a) * norm(b)),
                   F.lit(None).cast("double"))


def cosine_np(a: Column, b: Column, single_eval: bool = False) -> Column:
    """`cosine` as one Arrow-batched pandas UDF (r12, guide §4.2):
    the fold spelling builds three interpreted ~2·dim-step lambda
    folds PER PAIR, which dominates any relation that scores many
    pairs (SemDeDup's within-cluster self-join measured 6×). Results
    are BIT-identical to `cosine`: the numpy loop iterates dimensions
    in order, accumulating `acc += a_d·b_d` across the whole batch —
    the same left-to-right double additions as the fold, then the
    same sqrt/multiply/divide. Edge inputs answer like `cosine`: a
    null input, vectors of unequal length (zip_with pads with null),
    a zero norm (empty or all-zero vector) and a NaN result (Arrow
    hands a NaN back as null) give null. A batch may mix vector
    lengths.

    `single_eval=True` marks the UDF non-deterministic (guide §4.4):
    when a FILTER references the UDF's output column AND the column
    survives into the final projection, Catalyst pushes the filter
    below the projection and DUPLICATES the Arrow eval — every
    surviving row pays the kernel twice. The mark forbids the
    duplication; the function is pure, so results are unchanged. Only
    set it at call sites with that filter-over-kept-column shape —
    it also blocks pushing OTHER filters past the projection."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def cos_series(va, vb):
        import pandas as pd

        def score(rows):
            x = np.array(va[rows].tolist(), dtype="float64")
            y = np.array(vb[rows].tolist(), dtype="float64")
            if x.ndim != 2 or x.shape != y.shape:
                raise ValueError("vector lengths differ")
            ab = np.zeros(len(x))
            aa = np.zeros(len(x))
            bb = np.zeros(len(x))
            for i in range(x.shape[1]):  # dim-ordered: fold-identical sums
                ab += x[:, i] * y[:, i]
                aa += x[:, i] * x[:, i]
                bb += y[:, i] * y[:, i]
            den = np.sqrt(aa) * np.sqrt(bb)
            with np.errstate(divide="ignore", invalid="ignore"):
                out[rows] = ab / den
            ok[rows] = den != 0

        def lengths(vs):
            return np.array([len(v) if ok else -1
                             for v, ok in zip(vs, vs.notna())])

        out = np.full(len(va), np.nan)
        ok = (va.notna() & vb.notna()).to_numpy()
        try:
            score(ok.copy())
        except ValueError:  # lengths differ: score each length alone
            na, nb = lengths(va), lengths(vb)
            ok &= na == nb
            for d in np.unique(na[ok]):
                score(ok & (na == d))
        res = pd.Series(out)
        res[~ok] = None
        return res

    udf = pandas_udf(cos_series, "double")
    if single_eval:
        udf = udf.asNondeterministic()
    return udf(a, b)


def as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Exact top-k neighbors per query vector. Queries broadcast;
    ranking key (cosine DESC, id) is total → deterministic."""
    c = corpus.select(F.col(id_col).alias("nn_id"),
                      as_double_array(F.col(vec_col)).alias("v"))
    q = queries.select(F.col(q_id_col).alias("q_id"),
                       as_double_array(F.col(q_vec_col)).alias("qv"))
    scored = (F.broadcast(q).crossJoin(c)
              .select("q_id", "nn_id",
                      cosine_np(F.col("qv"), F.col("v")).alias("cos_sim")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("nn_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def hyperplane_components(vec: Column, dim: int,
                          n_planes: int = 16) -> Column:
    """Per-plane projection values (array<double>, length n_planes).
    Plane p's component j is a deterministic pseudo-random ±1 derived
    from xxhash64(p, j) — reproducible across runs and engines, no
    driver-side randomness, no data movement."""
    def plane_term(p: int):
        # closure factory, not a default arg: PySpark reads the
        # lambda's arity, so an extra bound parameter breaks zip_with
        return lambda x, j: x * F.when(
            F.pmod(F.xxhash64(F.lit(p), j), F.lit(2)) == 0,
            F.lit(1.0)).otherwise(F.lit(-1.0))

    comps = []
    for p in range(n_planes):
        comps.append(F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.lit(dim - 1)),
                       plane_term(p)),
            F.lit(0.0).cast("double"), lambda acc, x: acc + x))
    return F.array(*comps)


def _sig_of(comps: Column, n_planes: int) -> Column:
    sig = (comps[0] > 0).cast("long")
    for p in range(1, n_planes):
        sig = sig + (comps[p] > 0).cast("long") * (2 ** p)
    return sig


def hyperplane_signature(vec: Column, dim: int, n_planes: int = 16) -> Column:
    """Random-hyperplane LSH signature as a bit-packed long."""
    return _sig_of(hyperplane_components(vec, dim, n_planes), n_planes)


def _probe_signatures(comps: Column, n_planes: int, n_probes: int) -> Column:
    """Multi-probe signature set (array<long>): the base signature
    plus the `n_probes - 1` single-bit flips with the SMALLEST
    projection margin |comps[p]| — the standard multi-probe LSH
    heuristic (Lv et al., VLDB'07): a near-zero margin means the
    neighbor plausibly lies on the other side of that plane, so those
    adjacent buckets are probed first."""
    sig = _sig_of(comps, n_planes)
    pairs = F.array_sort(F.array(*[
        F.struct(F.abs(comps[p]).alias("m"), F.lit(p).alias("p"))
        for p in range(n_planes)]))
    flips = F.slice(pairs, 1, n_probes - 1)
    flipped = F.transform(
        flips, lambda s: sig.bitwiseXOR(
            F.pow(F.lit(2.0), s["p"]).cast("long")))
    return F.concat(F.array(sig), flipped)


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
                 n_planes: int = 12, n_probes: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Approximate top-k: bucket the corpus by hyperplane signature
    ONCE, probe each query's own bucket plus its `n_probes - 1`
    smallest-margin adjacent buckets (multi-probe — recall climbs
    without rehashing the corpus), exact cosine re-rank over the
    deduped candidates. The candidate join stays bucket-local: a
    shuffle on signature, never a cross join; multi-probe multiplies
    only the (tiny) query side by n_probes."""
    c = corpus.select(F.col(id_col).alias("nn_id"),
                      as_double_array(F.col(vec_col)).alias("v"))
    # sig rides through explode(array(...)) — one row out per row in,
    # same values incl. NULLs — so the equi-join's inferred
    # isnotnull(sig) lands on the GENERATED attribute instead of being
    # substituted below the projection, where it re-ran all n_planes
    # hyperplane folds per corpus vector as a Filter condition (the
    # §4.4 duplication trap in join-key form; a plain withColumn paid
    # the signature twice).
    c = c.select("nn_id", "v",
                 F.explode(F.array(
                     hyperplane_signature(F.col("v"), dim, n_planes)))
                 .alias("sig"))
    q = queries.select(F.col(q_id_col).alias("q_id"),
                       as_double_array(F.col(q_vec_col)).alias("qv"))
    q = (q.withColumn("__comps",
                      hyperplane_components(F.col("qv"), dim, n_planes))
         .withColumn("sig", F.explode(_probe_signatures(
             F.col("__comps"), n_planes, max(1, n_probes))))
         .drop("__comps"))
    cand = (q.join(c, "sig")
            .select("q_id", "qv", "nn_id", "v")
            .dropDuplicates(["q_id", "nn_id"]))
    # JVM cosine kept here: the deduped candidate set is bucket-local
    # and small by construction, and the cosine_np swap measured
    # parity (4.25 vs 4.42 s at sf1) while adding 2 exchanges
    scored = cand.select("q_id", "nn_id",
                         cosine(F.col("qv"), F.col("v")).alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("nn_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def ivf_centroids(c: DataFrame, n_cells: int,
                  train_cap: int = 50_000, max_iter: int = 10) -> DataFrame:
    """Coarse-quantizer training: k-means (pyspark.ml, k-means||
    init, fixed seed) on a BOUNDED sample of the corpus — training
    stays O(train_cap) no matter how large the corpus is, which is
    how production IVF indexes are built (train on a sample, assign
    everything). Returns (cell, cv)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = c.select(array_to_vector(F.col("v")).alias("features")) \
        .limit(train_cap)
    k = min(n_cells, train.count())
    model = KMeans(k=k, seed=42, maxIter=max_iter).fit(train)
    spark = c.sparkSession
    rows = [(i + 1, [float(x) for x in ctr])
            for i, ctr in enumerate(model.clusterCenters())]
    return spark.createDataFrame(rows, "cell int, cv array<double>")


def _assign_cells(df: DataFrame, id_name: str, vec_name: str,
                  cents_rows: list, n_keep: int) -> DataFrame:
    """Nearest-cell assignment, vectorized: the (cell, centroid)
    rows broadcast as a numpy matrix and each Arrow batch does one
    X @ Cᵀ matmul + top-n_keep — the input is touched exactly once,
    nothing shuffles, nothing amplifies. Ties (equal cosine) resolve
    to the smallest cell id via a stable argsort, matching the
    windowed (DESC sim, ASC cell) order this replaces. Returns
    (id, vec, cell) with n_keep rows per input row (capped at the
    number of cells)."""
    import numpy as np

    cells = np.array([cl for cl, _ in cents_rows], dtype="int32")
    C = np.array([cv for _, cv in cents_rows], dtype="float64")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    bc = df.sparkSession.sparkContext.broadcast((cells, Cn))

    def gen(batches):
        import pandas as pd

        cells_, cn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(pdf[vec_name].tolist(), dtype="float64")
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
            sims = xn @ cn.T
            if n_keep == 1:
                j = sims.argmax(axis=1)   # first max = smallest cell
                yield pd.DataFrame({id_name: pdf[id_name],
                                    vec_name: pdf[vec_name],
                                    "cell": cells_[j]})
            else:
                # stable sort on -sims: ties keep ascending column
                # index = ascending cell id
                order = np.argsort(-sims, axis=1,
                                   kind="stable")[:, :n_keep]
                reps = np.repeat(np.arange(len(pdf)), order.shape[1])
                yield pd.DataFrame({
                    id_name: pdf[id_name].values[reps],
                    vec_name: pdf[vec_name].values[reps],
                    "cell": cells_[order.ravel()]})

    id_t = df.schema[id_name].dataType.simpleString()
    return df.mapInPandas(
        gen, schema=f"{id_name} {id_t}, {vec_name} array<double>, cell int")


def ann_ivf_topk(corpus: DataFrame, queries: DataFrame, n_cells: int = 16,
                 nprobe: int = 2, k: int = 10, id_col: str = "vec_id",
                 vec_col: str = "embedding", q_id_col: str = "q_id",
                 q_vec_col: str = "q_vec",
                 centroids: str = "kmeans",
                 train_cap: int = 50_000, max_iter: int = 10) -> DataFrame:
    """IVF-flat ANN: a coarse quantizer of `n_cells` centroids
    (k-means-trained on a bounded sample by default; `centroids=
    "head"` = first n_cells corpus vectors, fully deterministic, for
    tests), every corpus vector assigned to its nearest centroid,
    queries probe their `nprobe` nearest cells and re-rank exactly
    inside them.

    Scale shape: the centroid table broadcasts (tiny), assignment is
    a broadcast-numpy argmax over Arrow batches (one X @ Cᵀ matmul
    per batch — NO shuffle, NO row amplification; the crossJoin +
    window spelling it replaces materialized n_cells rows per corpus
    vector and shuffled them, a scale-killer at realistic n_cells),
    and the candidate join shuffles on cell id — corpus rows are
    touched once, queries only touch ~nprobe/n_cells of the corpus."""
    c = corpus.select(F.col(id_col).alias("nn_id"),
                      as_double_array(F.col(vec_col)).alias("v"))
    if centroids == "kmeans":
        cents = ivf_centroids(c, n_cells, train_cap, max_iter)
    else:
        w_id = Window.orderBy("nn_id")
        cents = (c.orderBy("nn_id").limit(n_cells)
                 .select(F.row_number().over(w_id).alias("cell"),
                         F.col("v").alias("cv")))
    crows = sorted((r["cell"], r["cv"]) for r in cents.collect())

    c_cells = _assign_cells(c, "nn_id", "v", crows, 1)
    q = queries.select(F.col(q_id_col).alias("q_id"),
                       as_double_array(F.col(q_vec_col)).alias("qv"))
    q_cells = _assign_cells(q, "q_id", "qv", crows, nprobe)
    scored = (q_cells.join(c_cells, "cell")
              .select("q_id", "nn_id",
                      cosine_np(F.col("qv"), F.col("v")).alias("cos_sim")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("nn_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k).distinct())


def kmeans_cluster(corpus: DataFrame, k: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   train_cap: int = 50_000, max_iter: int = 10) -> DataFrame:
    """Semantic clustering of an embedding corpus — the curation
    primitive behind diversity sampling, per-cluster quota filtering,
    and cluster-level dedup in training-data pipelines. Same scale
    shape as IVF training: k-means fits on a BOUNDED sample
    (O(train_cap) regardless of corpus size), the fitted centroids
    broadcast, and assignment is a narrow argmin over each row —
    corpus touched exactly once, no shuffle beyond the caller's.
    Returns (id, cluster, sim) with `sim` the cosine to the assigned
    centroid (a per-row quality/typicality signal).

    Assignment is a BROADCAST-numpy argmax over Arrow batches, not a
    crossJoin: the join spelling materializes k rows per vector and
    shuffles them through a window — at k ∝ corpus (the SemDeDup
    regime) that's 100M+ rows for 200k vectors and took the sf10
    pass 21 minutes; one X @ Cᵀ matmul per batch does the same argmin
    in seconds, touching the corpus once with no shuffle at all.
    Ties (equal cosine) resolve to the smallest cell id, matching the
    old window's (DESC sim, ASC cell) order."""
    import numpy as np

    c = corpus.select(F.col(id_col).alias("id"),
                      as_double_array(F.col(vec_col)).alias("v"))
    cents = ivf_centroids(c, k, train_cap, max_iter)
    crows = sorted(((r["cell"], r["cv"]) for r in cents.collect()))
    cells = np.array([cl for cl, _ in crows], dtype="int32")
    C = np.array([cv for _, cv in crows], dtype="float64")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True),
                        1e-300)
    bc = corpus.sparkSession.sparkContext.broadcast((cells, Cn))

    def assign(batches):
        import pandas as pd

        cells_, cn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(pdf["v"].tolist(), dtype="float64")
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
            sims = xn @ cn.T
            j = sims.argmax(axis=1)   # first max = smallest cell
            yield pd.DataFrame({
                "id": pdf["id"],
                "cluster": cells_[j],
                "sim": sims[np.arange(len(j)), j]})

    id_type = c.schema["id"].dataType.simpleString()
    return c.mapInPandas(assign,
                         schema=f"id {id_type}, cluster int, sim double")


def semantic_dedup(corpus: DataFrame, k: int = 8, tau: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   train_cap: int = 50_000, max_iter: int = 10) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    dedup by k-means-blocked cosine pruning. Embeddings are clustered
    (bounded-sample fit + broadcast centroids, `kmeans_cluster`), and
    near-duplicate pairs only ever form WITHIN a cluster — the same
    blocking argument as an LSH bucket join, so the quadratic term is
    bounded by the largest cluster, not the corpus.

    Keep policy (deterministic): within each near-dup neighborhood
    the LEAST centroid-typical member survives — the paper's
    keep-low-centroid-similarity choice, which preserves diversity at
    the cluster edge — with ties broken on id. A doc is dropped iff
    some cluster-mate with cosine >= tau precedes it in
    (centroid_sim, id) order; `dup_of` names its first such
    predecessor. In a similarity CHAIN (a~b, b~c, a!~c) that
    predecessor may itself be dropped — follow dup_of to its
    fixpoint for the surviving representative, or feed the implied
    edges to `dedup.duplicate_clusters` for the transitive closure.

    Scale shape (100 TB): one broadcast-assign pass, one
    cluster-keyed self-join (shuffle on cluster id; AQE splits skewed
    mega-clusters), one per-id top-1 window. No driver collect.
    Returns (id, cluster, centroid_sim, keep, dup_of)."""
    c = corpus.select(F.col(id_col).alias("id"),
                      as_double_array(F.col(vec_col)).alias("v"))
    assign = kmeans_cluster(corpus, k, id_col, vec_col, train_cap,
                            max_iter)
    cv = c.join(assign, "id")
    # (r13 negative, kept out: a guide-§8 "ship pair keys, gather
    # vectors from a broadcast dictionary in the kernel" spelling —
    # bit-identical outputs, equality-proven ×4 SFs — measured WORSE
    # on every healthy-window paired round at the sf10 replica:
    # semantic 52-96 s join vs ~100-113 s dict, embedding_cosine
    # 12.4 vs 27.6 s median. The within-cluster join duplicates
    # ~1 KB of vectors per pair, but Arrow moves that at memory
    # bandwidth across 32 tasks, while the dictionary costs a
    # per-run driver toArrow collect + 100 MB broadcast + per-batch
    # gathers. An earlier 3/3-round "win" for the dict spelling
    # reproduced only under a degraded scheduler window where the
    # first-run arm absorbed the stalls.)
    a = cv.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"),
                  "cluster", F.col("sim").alias("sim_a"))
    b = cv.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"),
                  "cluster", F.col("sim").alias("sim_b"))
    better = (a.join(b, "cluster")
              .filter((F.col("sim_b") < F.col("sim_a"))
                      | ((F.col("sim_b") == F.col("sim_a"))
                         & (F.col("id_b") < F.col("id_a"))))
              .withColumn("cos",
                          F.round(cosine_np(F.col("v_a"), F.col("v_b")), 6))
              .filter(F.col("cos") >= tau))
    w = Window.partitionBy("id_a").orderBy("sim_b", "id_b")
    drops = (better.withColumn("__rk", F.row_number().over(w))
             .filter(F.col("__rk") == 1)
             .select(F.col("id_a").alias("id"),
                     F.col("id_b").alias("dup_of")))
    return (cv.join(drops, "id", "left")
            .select("id", "cluster",
                    F.round("sim", 6).alias("centroid_sim"),
                    F.col("dup_of").isNull().alias("keep"), "dup_of"))


# ---- product quantization (PQ) ----------------------------------------------

def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a deterministic fold."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def pq_codebooks(corpus: DataFrame, dim: int, m: int = 8, k: int = 16,
                 vec_col: str = "v", train_cap: int = 2000,
                 max_iter: int = 10) -> list[list[list[float]]]:
    """Train per-subspace codebooks: the vector splits into `m`
    subvectors of dim/m; each subspace gets its own k-means with `k`
    centroids (k=16 → 4-bit codes). Training runs on a BOUNDED
    sample per subspace (O(train_cap·m) regardless of corpus size —
    how FAISS trains PQ); the result is m·k·(dim/m) floats — a few
    KB — returned DRIVER-SIDE so encode/search can inline it as
    literal expressions: codebooks always fit in a task binary, so
    neither encoding nor scanning ever joins."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ds = dim // m
    sample = corpus.select(vec_col).limit(train_cap).cache()
    try:
        n = sample.count()  # one action for all m fits (was m counts)
        kk = min(k, n)

        def fit_one(mi: int) -> list[list[float]]:
            sub = sample.select(array_to_vector(
                F.slice(F.col(vec_col), mi * ds + 1, ds)).alias("features"))
            model = KMeans(k=kk, seed=42 + mi, maxIter=max_iter).fit(sub)
            return [[float(x) for x in ctr]
                    for ctr in model.clusterCenters()]

        # the m per-subspace fits are independent jobs over the same
        # cached sample — run them concurrently so one fit's stage
        # tail back-fills with the next fit's tasks (guide §2.6);
        # each fit keeps its own fixed seed, so the codebooks are
        # bit-identical to the sequential spelling
        with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
            books = list(pool.map(fit_one, range(m)))
    finally:
        sample.unpersist()
    return books


def _sub_dists(vec: Column, books: list, mi: int, ds: int) -> list[Column]:
    sub = F.slice(vec, mi * ds + 1, ds)
    return [l2sq(sub, F.array(*[F.lit(x) for x in cv]))
            for cv in books[mi]]


def pq_encode(corpus: DataFrame, books: list, dim: int,
              vec_col: str = "v") -> DataFrame:
    """Vector → m codes (argmin centroid per subspace), vectorized:
    one Arrow-batched pandas UDF does an m × k distance matrix per
    batch in numpy (r12, guide §4.2 — the previous spelling built
    m·k interpreted higher-order l2sq folds PER ROW, 512 lambda
    trees at m=8,k=64, and measured 6× slower at the sf1 replica).
    Only `vec_col` crosses the Python boundary; every other column
    stays JVM-side (scalar UDF, not mapInPandas). Codes are
    bit-identical to the expression spelling: the (x−c)² sum runs
    left-to-right over the subvector in both (np.add.reduce is
    sequential at this size), and np.argmin picks the FIRST minimum
    exactly like array_position(array_min). 64-dim float64 → 8 bytes
    of codes (64× compression) — the representation that lets a
    100 TB embedding corpus fit a RAM-sized scan."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cents = [np.array(b, dtype="float64") for b in books]
    m = len(books)
    ds = dim // m

    def encode_series(vs):
        import pandas as pd

        if vs.empty:
            return pd.Series([], dtype="object")
        x = np.array(vs.tolist(), dtype="float64")
        codes = np.empty((len(vs), m), dtype="int32")
        for mi in range(m):
            sub = x[:, mi * ds:(mi + 1) * ds]
            d = ((sub[:, None, :] - cents[mi][None, :, :]) ** 2).sum(axis=2)
            codes[:, mi] = d.argmin(axis=1)
        return pd.Series(list(codes))

    encode = pandas_udf(encode_series, "array<int>")
    return corpus.withColumn("codes", encode(F.col(vec_col)))


def pq_adc_topk(encoded: DataFrame, queries: DataFrame, books: list,
                dim: int, k: int = 10, id_col: str = "nn_id",
                q_id_col: str = "q_id", q_vec_col: str = "qv") -> DataFrame:
    """Asymmetric distance computation: approx ||q - x||² = Σ_m
    ||q_sub_m - centroid(code_m)||². Queries broadcast over the
    code table; per pair the codebook lookup is `element_at` into
    literal arrays — JVM-side, no LUT join. (A per-query
    precomputed-LUT spelling — lut[mi][code] carried as an
    array-of-arrays query column — measured 3× SLOWER at the sf1
    replica: the 4 KB nested LUT is copied per joined pair through
    the broadcast join, dwarfing the fold work it saves. Kept the
    fold.) Returns (q_id, nn_id, approx_d2, rnk ≤ k)."""
    pairs = F.broadcast(queries).crossJoin(encoded)
    d2 = _adc_d2(F.col(q_vec_col), F.col("codes"), books, dim)
    w = Window.partitionBy(q_id_col).orderBy(F.round(F.col("approx_d2"), 6),
                                             F.col(id_col))
    return (pairs.select(q_id_col, id_col,
                         F.round(d2, 6).alias("approx_d2"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def _adc_d2(q_vec: Column, codes: Column, books: list, dim: int) -> Column:
    """Asymmetric PQ distance: approx ||q - x||² = Σ_m ||q_sub_m -
    centroid(code_m)||², codebooks inlined as literal arrays
    (element_at lookup — JVM-side, no LUT join). Shared by the flat
    ADC scan and the IVF-PQ probed scan."""
    m = len(books)
    ds = dim // m
    terms = []
    for mi in range(m):
        cents = F.array(*[F.array(*[F.lit(x) for x in cv])
                          for cv in books[mi]])
        cv = F.element_at(cents, F.element_at(codes, mi + 1) + 1)
        terms.append(l2sq(F.slice(q_vec, mi * ds + 1, ds), cv))
    return sum(terms[1:], terms[0])


def ann_ivfpq_topk(corpus: DataFrame, queries: DataFrame,
                   n_cells: int = 16, nprobe: int = 2, m: int = 8,
                   kcode: int = 16, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                   dim: int | None = None, centroids: str = "kmeans",
                   train_cap: int = 50_000, pq_train_cap: int = 2000,
                   max_iter: int = 10,
                   fit_corpus: DataFrame | None = None) -> DataFrame:
    """IVF-PQ — the FAISS-standard composition of the two existing
    primitives (IVF coarse quantizer + product-quantized codes):

    - corpus vectors assign to their nearest of `n_cells` centroids
      (broadcast-numpy argmax, one pass, no shuffle);
    - PQ codebooks train on the RESIDUALS (x − centroid) — the
      identity ||q−x||² = ||(q−c)−(x−c)||² inside a cell means
      residual ADC is exactly flat ADC, but residuals concentrate
      near 0 so the same code budget quantizes finer (why FAISS
      encodes residuals);
    - queries probe `nprobe` cells and ADC-scan ONLY those cells'
      codes via a cell equi-join — the scan is linear in the probed
      fraction (~nprobe/n_cells of the corpus), not in the corpus,
      which is the step that turns the flat-PQ linear scan into a
      sublinear one at 100 TB.

    Scale shape: centroids + codebooks are driver-side literals (a
    few KB); the corpus is touched twice (assign, encode — both
    single-pass, no amplification); search shuffles the code table
    once on cell id. Returns (q_id, nn_id, approx_d2, rnk ≤ k)."""
    c = corpus.select(F.col(id_col).alias("nn_id"),
                      as_double_array(F.col(vec_col)).alias("v"))
    if dim is None:
        dim = c.select(F.size("v").alias("d")).first()["d"]
    if centroids == "kmeans":
        cents = ivf_centroids(c, n_cells, train_cap, max_iter)
    else:
        w_id = Window.orderBy("nn_id")
        cents = (c.orderBy("nn_id").limit(n_cells)
                 .select(F.row_number().over(w_id).alias("cell"),
                         F.col("v").alias("cv")))
    crows = sorted((r["cell"], r["cv"]) for r in cents.collect())
    spark = c.sparkSession
    cents_df = spark.createDataFrame(
        [(cl, [float(x) for x in cv]) for cl, cv in crows],
        "cell int, cv array<double>")

    residual = F.zip_with(F.col("v"), F.col("cv"), lambda x, y: x - y)
    cres = (_assign_cells(c, "nn_id", "v", crows, 1)
            .join(F.broadcast(cents_df), "cell")
            .withColumn("r", residual))
    # The PQ fit samples residuals via limit(pq_train_cap) — the one
    # PARTITION-ORDER-SENSITIVE read in here (centroids="head" is an
    # orderBy().limit, order-insensitive). A caller that repartitions
    # `corpus` for compute parallelism passes the UNTOUCHED scan as
    # `fit_corpus` so the fitted codebooks (and therefore every code
    # and distance) stay bit-identical to the plain-scan spelling.
    if fit_corpus is not None:
        cf = fit_corpus.select(F.col(id_col).alias("nn_id"),
                               as_double_array(F.col(vec_col)).alias("v"))
        cres_fit = (_assign_cells(cf, "nn_id", "v", crows, 1)
                    .join(F.broadcast(cents_df), "cell")
                    .withColumn("r", residual))
    else:
        cres_fit = cres
    books = pq_codebooks(cres_fit, dim, m=m, k=kcode, vec_col="r",
                         train_cap=pq_train_cap, max_iter=max_iter)
    enc = pq_encode(cres, books, dim, vec_col="r") \
        .select("nn_id", "cell", "codes")

    q = queries.select(F.col(q_id_col).alias("q_id"),
                       as_double_array(F.col(q_vec_col)).alias("qv"))
    qres = (_assign_cells(q, "q_id", "qv", crows, nprobe)
            .join(F.broadcast(cents_df), "cell")
            .withColumn("qr", F.zip_with(F.col("qv"), F.col("cv"),
                                         lambda x, y: x - y))
            .select("q_id", "cell", "qr"))
    pairs = qres.join(enc, "cell")
    d2 = _adc_d2(F.col("qr"), F.col("codes"), books, dim)
    w = Window.partitionBy("q_id").orderBy(F.round(F.col("approx_d2"), 6),
                                           F.col("nn_id"))
    return (pairs.select("q_id", "nn_id",
                         F.round(d2, 6).alias("approx_d2"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))
