"""Similarity search over the ``embeddings`` table (array<float> column).

* ``cosine_topk`` — brute-force cosine top-k: the correctness baseline.
  Pure higher-order-function arithmetic (zip_with/aggregate) — JVM-side,
  no UDF.  The candidate join broadcasts the (small) query set; the top-k is
  a per-query window, so the plan is scan + broadcast-join + partial topk.
* ``lsh_bucketed_cosine`` — the scale path: random-hyperplane LSH signs
  bucket vectors; candidates share a bucket; exact cosine re-rank inside
  buckets only.  At 10^12 vectors the bucket join replaces the O(n·q) scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_ids_below: int = 10,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """For each query vector (vec_id < query_ids_below): top-k most similar
    other vectors by cosine.  Returns (query_id, neighbor_id, cosine, rank).

    Norms are MATERIALIZED once per vector before the pair join (the values
    are bit-identical to inline recomputation, so the oracle is unchanged) —
    per pair only the dot product walks the arrays, not three passes."""
    queries = embeddings.filter(F.col("vec_id") < query_ids_below).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    cands = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    joined = cands.crossJoin(F.broadcast(queries)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4)
    scored = joined.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucketed_cosine(
    embeddings: DataFrame,
    n_planes: int = 8,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH bucketing: signature = sign bits against n_planes
    deterministic pseudo-random hyperplanes (hash-derived, seed-free).
    Returns (vec_id, bucket) — the join key for bucketed ANN."""
    # deterministic hyperplanes: plane p, dim d → ±1 from md5 parity (JVM-only)
    def plane(p: int):
        # unary lambda on purpose — binary transform lambdas receive the index
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.when(
                F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(p), d)), 1, 6), 16, 10)
                .cast("long")
                .bitwiseAND(F.lit(1).cast("long"))
                == 1,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )

    planes = [plane(p) for p in range(n_planes)]
    bits = [
        F.when(_dot(F.col(vec_col), pl) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for pl in planes
    ]
    return embeddings.select("vec_id", F.concat(*bits).alias("bucket"))


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_limit: int | None = None,
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the last dedup family in the
    brief): pairs with cosine ≥ threshold.

    The DEFAULT is the scale path: candidates must share a random-hyperplane
    LSH bucket (``n_planes`` sign bits) before the exact cosine — a
    per-bucket equi-join, O(Σ bucket²) not O(n²).  The all-pairs baseline is
    an explicit opt-in (``exact=True``) so nobody points the O(n²) plan at a
    full corpus by accident; it is for bounded verification runs only."""
    emb = embeddings
    if id_limit is not None:
        emb = emb.filter(F.col("vec_id") < id_limit)
    if not exact and n_planes <= 0:
        raise ValueError(
            "embedding_near_duplicates: n_planes must be > 0 for the bucketed "
            "path; pass exact=True (with a bounded input) for the O(n²) baseline"
        )
    # norms materialized once per vector (bit-identical values; the per-pair
    # work is then a single dot-product array pass)
    emb = emb.withColumn("_nrm", _norm(F.col(vec_col)))
    if not exact:
        bucketed = emb.join(lsh_bucketed_cosine(emb, n_planes, vec_col), on="vec_id")
        a, b = bucketed.alias("a"), bucketed.alias("b")
        cond = (F.col("a.bucket") == F.col("b.bucket")) & (
            F.col("a.vec_id") < F.col("b.vec_id")
        )
    else:
        a, b = emb.alias("a"), emb.alias("b")
        cond = F.col("a.vec_id") < F.col("b.vec_id")
    cos = F.round(
        _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
        / (F.col("a._nrm") * F.col("b._nrm")),
        4,
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def bucket_histogram(embeddings: DataFrame, n_planes: int = 8) -> DataFrame:
    """Bucket occupancy — the skew diagnostic for the ANN path."""
    return (
        lsh_bucketed_cosine(embeddings, n_planes)
        .groupBy("bucket")
        .agg(F.count("*").alias("vectors"))
    )


# --- IVF (inverted-file) ANN: the data-dependent counterpart of the
# hyperplane-LSH path.  Coarse quantizer: deterministic seed centroids
# (vec_id < n_centroids — the k-means init), optionally refined by Lloyd
# iterations (``ivf_train``).  Vectors are assigned to their nearest
# centroid (one broadcast join — centroids are tiny); queries probe the
# ``nprobe`` nearest lists and re-rank exactly inside them.  At 10^12
# vectors the probe join replaces the full scan the same way the LSH bucket
# join does, with recall controlled by nprobe.


def seed_centroids(
    embeddings: DataFrame, n_centroids: int = 16, vec_col: str = "embedding"
) -> DataFrame:
    """(cent_id, cv): the deterministic k-means init — the first
    ``n_centroids`` vectors by id (seed vectors, no randomness)."""
    return embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col(vec_col).alias("cv")
    )


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 1,
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of the seed centroids: assign every vector to its
    nearest centroid (cosine), recompute each centroid as the mean of its
    cluster, repeat.  Returns (cent_id, cv) with cv ARRAY<DOUBLE>.

    Scale/determinism notes:
    * each iteration is one broadcast-join assignment + one
      posexplode/groupBy mean — both shuffle-light, no driver loop over data;
    * the per-dimension mean sums through DECIMAL(30,15), which is
      order-independent (shuffle-safe) AND cross-engine exact, so the same
      input yields bit-identical centroids on every run and in the DuckDB
      oracle (the round-2 DECIMAL lesson applied up front);
    * clusters that receive no vectors keep their previous centroid.
    """
    # doubles from the start so refined (double) and kept (seed) centroids
    # stay one type across iterations
    cents = seed_centroids(embeddings, n_centroids, vec_col).select(
        "cent_id", F.transform("cv", lambda x: x.cast("double")).alias("cv")
    )
    for _ in range(n_iters):
        c = cents.select("cent_id", "cv", _norm(F.col("cv")).alias("cvn"))
        sim = _dot(F.col(vec_col), F.col("cv")) / (F.col("_vn") * F.col("cvn"))
        w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cent_id"))
        assigned = (
            embeddings.withColumn("_vn", _norm(F.col(vec_col)))
            .crossJoin(F.broadcast(c))
            .select(
                "vec_id", "cent_id", sim.alias("sim"), F.col(vec_col).alias("_v")
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cent_id", "_v")
        )
        sums = (
            assigned.select("cent_id", F.posexplode("_v").alias("pos", "val"))
            .groupBy("cent_id", "pos")
            .agg(
                F.sum(
                    F.col("val").cast("double").cast("decimal(30,15)")
                ).alias("s"),
                F.count("*").alias("c"),
            )
        )
        refined = (
            sums.withColumn("m", F.col("s").cast("double") / F.col("c"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("ncv")
            )
        )
        cents = cents.join(refined, "cent_id", "left").select(
            "cent_id", F.coalesce("ncv", "cv").alias("cv")
        )
    return cents


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cent_id): each vector's nearest centroid by cosine
    (ties → lowest cent_id).  Norms materialized once per side.
    ``centroids`` (cent_id, cv) overrides the seed quantizer — pass
    ``ivf_train(...)`` output for trained lists."""
    base = (
        centroids
        if centroids is not None
        else seed_centroids(embeddings, n_centroids, vec_col)
    )
    cents = base.select("cent_id", "cv", _norm(F.col("cv")).alias("cvn"))
    sim = _dot(F.col(vec_col), F.col("cv")) / (F.col("_vn") * F.col("cvn"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    return (
        embeddings.withColumn("_vn", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cent_id", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id")
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int = 16,
    train_iters: int = 1,
    threshold: float = 0.35,
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup over
    an embedding corpus — k-means-cluster the vectors, compare pairs ONLY
    inside each cluster, and drop every vector whose cluster holds a
    lower-id vector with cosine ≥ ``threshold``.  Returns
    ``(vec_id, cent_id, kept)`` for every input vector.

    The clustering IS the scale trick (the paper's central point): a 100 TB
    corpus never runs all-pairs cosine.  With k clusters the pair cost is
    O(Σ |cluster|²) and every pair group is a plain equi-join on
    ``cent_id`` — the same bounded-bucket shape as the MinHash bands and
    hyperplane buckets in ``ops/dedup.py``.  Centroids are Lloyd-trained
    with order-independent DECIMAL means (:func:`ivf_train`) and broadcast,
    so training adds no data-sized shuffle; AQE splits any fat cluster at
    the pair join.

    Determinism: cosines round to 4 dp before the threshold compare (every
    engine agrees at the boundary), and the keep policy is "lowest vec_id
    among semantic duplicates survives" — the paper keeps one
    representative per ε-group; min-id is the deterministic choice (no RNG,
    no partition-order dependence).  A chain a~b, b~c (a≁c) keeps only a:
    the drop test is "∃ lower-id duplicate in my cluster", documented
    rather than transitive-closure grouping (for that, feed the pairs to
    ``dedup.near_dup_components``).
    """
    trained = ivf_train(embeddings, n_centroids, train_iters, vec_col)
    assign = ivf_assign(embeddings, n_centroids, vec_col, centroids=trained)
    sides = assign.join(
        embeddings.select(
            "vec_id",
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("vn"),
        ),
        "vec_id",
    )
    a = sides.select(
        "cent_id",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("vn").alias("na"),
    )
    b = sides.select(
        "cent_id",
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("vn").alias("nb"),
    )
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4)
    dropped = (
        a.join(b, "cent_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= F.lit(float(threshold)))
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return assign.join(dropped, "vec_id", "left").select(
        "vec_id", "cent_id", F.col("_dup").isNull().alias("kept")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids_below: int = 5,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest centroid lists per
    query, exact cosine re-rank inside them.  ``nprobe == n_centroids``
    degenerates to exact brute force (tested equivalent to cosine_topk).
    ``train_iters > 0`` runs that many Lloyd refinements over the seed
    centroids first (``ivf_train``) — better-balanced lists, same plan."""
    trained = (
        ivf_train(embeddings, n_centroids, train_iters, vec_col)
        if train_iters > 0
        else seed_centroids(embeddings, n_centroids, vec_col)
    )
    assign = ivf_assign(embeddings, n_centroids, vec_col, centroids=trained)
    cents = trained.select(
        "cent_id", "cv", _norm(F.col("cv")).alias("cvn")
    )
    queries = embeddings.filter(F.col("vec_id") < query_ids_below).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cent_id"))
    csim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cvn"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "qn", "cent_id", csim.alias("csim"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", "cent_id")
    )
    cand = probes.join(assign, "cent_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cv = embeddings.select(
        F.col("vec_id"),
        F.col(vec_col).alias("nv"),
        _norm(F.col(vec_col)).alias("nvn"),
    )
    scored = cand.join(cv, "vec_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nvn")), 4
        ).alias("cosine"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def label_centroids(
    embeddings: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """(label, cv ARRAY<DOUBLE>): per-label mean vector.  The sums pass
    through DECIMAL(30,15) — order-independent (shuffle-safe) AND
    cross-engine exact, the same determinism rule as :func:`ivf_train`'s
    Lloyd means — then divide as DOUBLE.  One posexplode + ONE partial-agg
    groupBy(label, dim); label cardinality is tiny, dims are fixed, so the
    result is a broadcastable dim table at any corpus size."""
    sums = (
        embeddings.select(label_col, F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(label_col, "pos")
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(30,15)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    return (
        sums.withColumn("m", F.col("s").cast("double") / F.col("c"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
    )


def centroid_outliers(
    embeddings: DataFrame,
    k: int = 5,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Prototypicality scoring for data pruning (the SemDeDup-family
    complement: instead of dropping near-duplicate pairs, rank each
    cluster's LEAST prototypical members): cosine distance of every
    vector to its own label's centroid, top-k most distant per label.

    Returns (label, vec_id, centroid_dist, rank) — distance rounded to
    4dp like every cosine in this module, rank ties broken by vec_id.

    Scale shape: centroid table is labels×1 rows → broadcast equi-join
    (never a shuffle of the vectors); the rank<=k filter sits directly on
    the row_number window so Spark rewrites it to WindowGroupLimit
    (map-side top-k per label before the shuffle)."""
    cents = label_centroids(embeddings, label_col, vec_col).select(
        label_col, "cv", _norm(F.col("cv")).alias("cn")
    )
    scored = (
        embeddings.withColumn("_vn", _norm(F.col(vec_col)))
        .join(F.broadcast(cents), label_col)
        .select(
            F.col(label_col).alias("label"),
            "vec_id",
            F.round(
                1
                - _dot(F.col(vec_col), F.col("cv"))
                / (F.col("_vn") * F.col("cn")),
                4,
            ).alias("centroid_dist"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("centroid_dist"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("label", "vec_id", "centroid_dist", "rank")
    )


def bitext_margin_mine(
    embeddings: DataFrame,
    src_ids: DataFrame,
    dst_ids: DataFrame,
    k: int = 4,
    margin_threshold_e4: int = 10500,
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER recipe): a (src, dst) sentence/document pair is mined
    iff each is the other's best match under the MARGIN score — cosine
    relative to the mean of both sides' k-NN cosines — which suppresses
    the hub vectors that raw-cosine mining pairs with everything.

    Exactness discipline: per-pair cosine is a sequential in-row array
    reduction (bit-identical cross-engine), rounded to 4dp and scaled to
    BIGINT ``cos_e4``; every downstream sum/ratio is 64-bit integer
    arithmetic, so shuffle order never moves a result::

        margin_e4(x,y) = (cos_e4 * 2 * kx * ky * 10^4)
                         div (sum_x_e4 * ky + sum_y_e4 * kx)

    where ``sum_x_e4``/``kx`` are the sum and count of x's top-k positive
    candidate cosines (ratio-of-means margin; kx,ky ≤ k cover short
    sides).  Only positive-cosine pairs participate — bitext lives there,
    and it keeps every operand positive so Spark's truncating ``div`` and
    the oracle's flooring ``//`` agree.

    Scale shape: the pair generator is pluggable — default broadcasts the
    (small) src side over dst (correctness baseline, same as
    ``cosine_topk``); at 10^9+ pairs pass ``candidates`` (vec_id_src,
    vec_id_dst) from ``lsh_bucketed_cosine`` buckets or
    ``ops/web.hreflang_pairs`` and the scan becomes an equi-join.  The
    two top-k windows partition by vector id, bounded by the candidate
    fan-out.  Returns (src_id, dst_id, cos_e4, margin_e4) — mutual-best
    pairs over the margin threshold."""
    x = embeddings.join(src_ids, "vec_id").select(
        F.col("vec_id").alias("src_id"),
        F.col(vec_col).alias("xv"),
        _norm(F.col(vec_col)).alias("xn"),
    )
    y = embeddings.join(dst_ids, "vec_id").select(
        F.col("vec_id").alias("dst_id"),
        F.col(vec_col).alias("yv"),
        _norm(F.col(vec_col)).alias("yn"),
    )
    if candidates is not None:
        pairs = (
            candidates.select(
                F.col("src_id").cast("long").alias("src_id"),
                F.col("dst_id").cast("long").alias("dst_id"),
            )
            .join(x, "src_id")
            .join(y, "dst_id")
        )
    else:
        pairs = y.crossJoin(F.broadcast(x))
    cos = _dot(F.col("xv"), F.col("yv")) / (F.col("xn") * F.col("yn"))
    scored = (
        pairs.select(
            "src_id",
            "dst_id",
            F.round(F.round(cos, 4) * 10000).cast("long").alias("cos_e4"),
        )
        .filter(F.col("cos_e4") > 0)
    )
    wx = Window.partitionBy("src_id").orderBy(
        F.col("cos_e4").desc(), F.col("dst_id").asc()
    )
    wy = Window.partitionBy("dst_id").orderBy(
        F.col("cos_e4").desc(), F.col("src_id").asc()
    )
    knn_x = (
        scored.withColumn("_r", F.row_number().over(wx))
        .filter(F.col("_r") <= k)
        .groupBy("src_id")
        .agg(
            F.sum("cos_e4").alias("sum_x_e4"),
            F.count("*").cast("long").alias("kx"),
        )
    )
    knn_y = (
        scored.withColumn("_r", F.row_number().over(wy))
        .filter(F.col("_r") <= k)
        .groupBy("dst_id")
        .agg(
            F.sum("cos_e4").alias("sum_y_e4"),
            F.count("*").cast("long").alias("ky"),
        )
    )
    margins = (
        scored.join(knn_x, "src_id")
        .join(knn_y, "dst_id")
        .select(
            "src_id",
            "dst_id",
            "cos_e4",
            F.expr(
                "(cos_e4 * 2 * kx * ky * 10000)"
                " div (sum_x_e4 * ky + sum_y_e4 * kx)"
            ).cast("long").alias("margin_e4"),
        )
    )
    best_x = Window.partitionBy("src_id").orderBy(
        F.col("margin_e4").desc(), F.col("dst_id").asc()
    )
    best_y = Window.partitionBy("dst_id").orderBy(
        F.col("margin_e4").desc(), F.col("src_id").asc()
    )
    fwd = (
        margins.withColumn("_r", F.row_number().over(best_x))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    bwd = (
        margins.withColumn("_r", F.row_number().over(best_y))
        .filter(F.col("_r") == 1)
        .select("src_id", "dst_id")
    )
    return (
        fwd.join(bwd, ["src_id", "dst_id"])
        .filter(F.col("margin_e4") >= margin_threshold_e4)
        .select("src_id", "dst_id", "cos_e4", "margin_e4")
    )


# --- int8 scalar quantization (the memory-scale path for ANN) -------------
#
# At 10^12 vectors a float32 embedding column is the dominant storage and
# shuffle cost of every similarity pass; symmetric int8 scalar quantization
# (q_i = floor(x_i * 127 / max|x|), one scale per vector) cuts it 4x while
# keeping cosine ranking nearly intact — the standard first rung of the
# FAISS-style SQ8 ladder (public knowledge: Guo 2020 ScaNN §3, FAISS docs).
# Everything below is JVM-side higher-order-function arithmetic: the
# quantized dot/norms are exact BIGINT, so the only float op per pair is the
# final cosine division — bit-reproducible across engines, which is what
# lets quantization_recall's oracle replay it symbolically in DuckDB.


def quantize_embeddings(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: (vec_id, qvec, max_abs).

    q_i = floor(x_i * 127.0 / max|x|) as INT, clamped to [-127, 127]:
    fl(fl(x*127)/max) can land one ulp past 127 in magnitude, and floor
    would then give -128 for x = -max|x|.  All-zero vectors quantize to all-zero with max_abs = 0.  Pure codegen
    projection — no shuffle, no UDF; dequantization is q * max_abs/127,
    and cosine over dequantized vectors equals integer-dot cosine (the
    scales cancel), which is what quantized_topk exploits."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    qvec = F.when(
        max_abs == F.lit(0.0), F.transform(v, lambda x: F.lit(0))
    ).otherwise(
        F.transform(v, lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x * F.lit(127.0) / max_abs).cast("int"))
        ))
    )
    return embeddings.select(
        "vec_id", qvec.alias("qvec"), max_abs.alias("max_abs")
    )


def _qdot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    embeddings: DataFrame,
    query_ids_below: int = 10,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine over the int8-quantized vectors:
    (query_id, neighbor_id, qdot, cosine_q, rank).

    The pair scan carries 4x less data than cosine_topk (int8 vs float32
    payload — at 10^12 vectors that is the difference between a broadcast
    that fits and one that does not); per pair the dot product and both
    squared norms are exact BIGINT, and the sole float op is the final
    division (scales cancel in cosine, so dequantization is implicit).
    Ranking ties break on neighbor_id, mirroring cosine_topk."""
    q = quantize_embeddings(embeddings, vec_col)
    n2 = F.aggregate(
        F.transform(F.col("qvec"), lambda x: x.cast("long") * x.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    queries = q.filter(F.col("vec_id") < query_ids_below).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("qq"),
        n2.alias("qn2"),
    )
    cands = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("cq"),
        n2.alias("cn2"),
    )
    joined = cands.crossJoin(F.broadcast(queries)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    qdot = _qdot(F.col("qq"), F.col("cq"))
    cos = F.when(
        (F.col("qn2") == 0) | (F.col("cn2") == 0), F.lit(0.0)
    ).otherwise(
        F.round(
            qdot / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("cn2"))), 4
        )
    )
    scored = joined.select(
        "query_id", "neighbor_id", qdot.alias("qdot"), cos.alias("cosine_q")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qdot", "cosine_q", "rank")
    )


def quantization_recall(
    embeddings: DataFrame,
    query_ids_below: int = 10,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k audit of the int8 path against exact float cosine:
    (query_id, overlap, recall_ppm) — the release gate you run BEFORE
    switching a 10^12-vector corpus to quantized storage.

    Both top-k sets use the same deterministic tie-break (score desc,
    neighbor asc); recall_ppm = overlap * 10^6 div k (integral divide —
    no float anywhere in the metric).  Queries whose quantized set misses
    everything still appear with overlap 0 (left join from the exact
    side's query ids)."""
    exact = cosine_topk(embeddings, query_ids_below, k, vec_col).select(
        "query_id", "neighbor_id"
    )
    quant = quantized_topk(embeddings, query_ids_below, k, vec_col).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(quant, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("overlap"))
    )
    qids = exact.select("query_id").distinct()
    return (
        qids.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("overlap"), F.lit(0).cast("long")).alias("overlap"),
            F.expr(f"coalesce(overlap, 0L) * 1000000 div {int(k)}").alias(
                "recall_ppm"
            ),
        )
    )
