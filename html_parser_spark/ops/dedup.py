"""Deduplication operators (brief §extras): exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale notes (the part that matters at 100TB):

* exact dedup — hash-groupBy on md5(text): one shuffle on a uniform key; AQE
  coalesces; no skew possible (hashes are uniform).
* MinHash — signatures are computed per-row with higher-order functions
  (``transform``/``array_min``) entirely in the JVM; the LSH band join
  shuffles on (band, band_hash) — tiny keys, uniform — instead of an O(n²)
  crossJoin.  Portable hashing: md5 hex (lexicographic min), identical in
  DuckDB for the oracle.
* SimHash — 64-bit signature via per-token md5→bits majority vote, then
  near-dup candidates by banding on 16-bit chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: fingerprint, count, canonical id."""
    h = F.md5(F.encode(F.col(text_col), "UTF-8"))
    return (
        docs.select(F.col("doc_id"), h.alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("canonical_id"))
    )


def word_shingles(text_col, k: int = 3):
    """k-word shingles as an array<string>, JVM-side: split → slide window via
    transform over index sequence.  Empty/short docs → empty array.

    PERF: callers must bind this to a real column (withColumn) before mapping
    further lambdas over it — Catalyst does no CSE inside higher-order
    function bodies, so an inlined shingle expression re-splits the text once
    per array element per consumer (measured 30× slowdown)."""
    toks = F.split(F.trim(text_col), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    return F.when(n >= k, F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )).otherwise(F.array().cast("array<string>"))


def _with_shingles(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """Two-step materialization: tokens column, then shingles column, so each
    is computed exactly once per row (see word_shingles PERF note)."""
    d = docs.withColumn("_toks", F.split(F.trim(F.col(text_col)), r"\s+"))
    n = F.size(F.col("_toks"))
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    return d.withColumn(
        "_shingles",
        F.when(
            n >= k,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, k))),
        ).otherwise(F.array().cast("array<string>")),
    )


def minhash_signature(docs: DataFrame, text_col: str = "text", num_hashes: int = 8,
                      shingle_k: int = 3) -> DataFrame:
    """MinHash signatures: for seed i, sig_i = min(md5(i || shingle)).
    md5-hex min is portable (same lexicographic order in any engine)."""

    def hasher(seed: int):
        prefix = f"{seed}|"
        # NB: keep the lambda unary — pyspark passes the array INDEX as a
        # second argument to binary lambdas, clobbering default-arg captures
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    sh = F.col("_shingles")
    sig = F.array(
        *[F.array_min(F.transform(sh, hasher(i))) for i in range(num_hashes)]
    )
    return _with_shingles(docs, text_col, shingle_k).select(
        "doc_id", sig.alias("minhash")
    )


def lsh_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding: docs sharing ANY band
    of rows_per_band consecutive minhashes.  Returns (doc_a, doc_b, n_bands).

    The join shuffles on (band_id, band_key) — uniform small keys — never on
    raw text; the self-join explodes only bucket-mates, so cost is
    O(sum bucket²) not O(n²)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(docs, text_col, num_hashes, shingle_k)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|", F.slice("minhash", b * rows_per_band + 1, rows_per_band)
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_bands"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", shingle_k: int = 3, threshold: float = 0.5,
    id_limit: int | None = None, candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard — the verification stage AFTER candidate
    generation, never a full cross-join.  A bound is mandatory: either
    ``candidates`` (a (doc_a, doc_b) pair table, e.g. ``lsh_near_duplicates``
    output — the scale path: two equi-joins, no self-join) or ``id_limit``
    (bounded all-pairs for small verification runs)."""
    if candidates is None and id_limit is None:
        raise ValueError(
            "ngram_jaccard_pairs: unbounded all-pairs self-join refused — pass "
            "candidates= (LSH pair table) or id_limit= (bounded baseline)"
        )
    sh = docs.select(
        "doc_id", F.array_distinct(word_shingles(F.col(text_col), shingle_k)).alias("sh")
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    if candidates is not None:
        scored = (
            candidates.select("doc_a", "doc_b")
            .join(sh.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
            .join(sh.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        )
    else:
        sh = sh.filter(F.col("doc_id") < id_limit)
        a, b = sh.alias("a"), sh.alias("b")
        scored = a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        scored.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_candidates(
    docs: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    max_df: int = 5,
    min_common: int = 2,
) -> DataFrame:
    """Inverted-shingle candidate generation for CONTAINMENT detection
    (Broder 1997 §2 distinguishes *containment* C(A,B)=|S(A)∩S(B)|/|S(A)|
    from *resemblance*; MinHash-LSH estimates only the latter, so quote /
    wrapped-page / sub-document detection needs its own candidate path).

    Plan: distinct (doc_id, shingle) postings → drop stop-shingles whose
    document frequency exceeds ``max_df`` (the boilerplate n-grams that
    would otherwise make the posting self-join quadratic) → equi-join the
    postings list with itself on the shingle → count common shingles per
    ordered pair, keep pairs sharing ≥ ``min_common``.

    Scale shape: every join/agg keys on the shingle hash or the id pair —
    uniform keys, map-side partials everywhere; the df cap bounds each
    posting list at ``max_df`` docs so the per-shingle pair fan-out is at
    most max_df·(max_df−1)/2 regardless of corpus size.  Returns
    (doc_a, doc_b, common)."""
    posting = _with_shingles(docs, text_col, shingle_k).select(
        "doc_id", F.explode(F.array_distinct("_shingles")).alias("g")
    )
    rare = (
        posting.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("g")
    )
    p = posting.join(rare, "g")
    return (
        p.alias("a")
        .join(p.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("common"))
        .filter(F.col("common") >= min_common)
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    min_containment_bp: int = 2500,
    candidates: DataFrame | None = None,
    id_limit: int | None = None,
) -> DataFrame:
    """Exact shingle containment per candidate pair — the asymmetric
    complement of ``ngram_jaccard_pairs``: a 100-word page quoted inside a
    10k-word page has Jaccard ≈ 0.01 (invisible to resemblance dedup) but
    containment ≈ 1.0 in the small→large direction.

    Containment is reported in integer basis points (``common·10⁴ div
    |S(side)|``) so the result is bit-exact across engines — no float
    division anywhere.  A pair survives when EITHER direction reaches
    ``min_containment_bp``.  As with Jaccard, an unbounded all-pairs
    self-join is refused: pass ``candidates`` (``containment_candidates``
    output — the scale path) or ``id_limit`` (bounded baseline).

    Scale shape: two equi-joins of the candidate pair table against the
    per-doc distinct-shingle arrays (shuffle on doc ids, uniform), then a
    pure-codegen projection; nothing quadratic."""
    if candidates is None and id_limit is None:
        raise ValueError(
            "containment_pairs: unbounded all-pairs self-join refused — pass "
            "candidates= (containment_candidates output) or id_limit="
        )
    sh = docs.select(
        "doc_id",
        F.array_distinct(word_shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    if candidates is not None:
        scored = (
            candidates.select("doc_a", "doc_b")
            .join(sh.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
            .join(sh.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        )
    else:
        sh = sh.filter(F.col("doc_id") < id_limit)
        scored = sh.alias("a").join(
            sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id")
        )
    sized = scored.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
        .cast("long")
        .alias("common"),
        F.size(F.col("a.sh")).cast("long").alias("_na"),
        F.size(F.col("b.sh")).cast("long").alias("_nb"),
    )
    out = sized.select(
        "doc_a",
        "doc_b",
        "common",
        F.when(F.col("_na") > 0, F.expr("(common * 10000) div _na"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("cont_a_in_b_bp"),
        F.when(F.col("_nb") > 0, F.expr("(common * 10000) div _nb"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("cont_b_in_a_bp"),
    )
    return out.filter(
        F.greatest("cont_a_in_b_bp", "cont_b_in_a_bp") >= min_containment_bp
    )


SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SimHash from whitespace tokens: per-bit majority vote over token md5
    bits.  Returns (doc_id, simhash STRING of '0'/'1' × 60) — a bit string
    rather than a BIGINT so the representation is portable (no cross-engine
    integer-width traps) and banding/Hamming ops are plain substrings.

    JVM-only: tokens → md5 → 15 hex chars → 60-bit binary string; the
    majority vote scans the materialized bit strings once per bit position."""
    # materialize tokens and per-token bit strings as columns: lambdas below
    # scan them 60× (once per bit) and Catalyst does no CSE in lambda bodies
    docs = docs.withColumn(
        "_toks", F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    ).withColumn(
        "_tok_bits",
        F.transform(
            F.col("_toks"),
            lambda t: F.lpad(
                F.bin(F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")),
                SIMHASH_BITS,
                "0",
            ),
        ),
    )
    half = F.size(F.col("_toks")) / F.lit(2.0)
    positions = F.sequence(F.lit(1), F.lit(SIMHASH_BITS))
    bit_chars = F.transform(
        positions,
        lambda p: F.when(
            F.aggregate(
                F.col("_tok_bits"),
                F.lit(0),
                lambda acc, s: acc + s.substr(p, F.lit(1)).cast("int"),
            )
            >= half,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return docs.select("doc_id", F.concat_ws("", bit_chars).alias("simhash"))


# --- near-dup clustering: the dedup ENDGAME ---------------------------------
# Pairs tell you who matches; keeping one canonical document per cluster
# requires the transitive closure.  Min-label propagation over the pair
# graph: each round every vertex takes the min label among itself and its
# neighbours — one equi-join + one groupBy shuffle per round, converging in
# O(component diameter) rounds.  Near-dup clusters are shallow (stars and
# short chains), so 2-4 rounds is typical; the loop is a synchronous BSP
# iteration driven from the driver, but per round only a ONE-ROW convergence
# count crosses to the driver — the label table itself never leaves the
# executors.  (The classic alternating small-star/large-star optimization
# drops in here unchanged if crawl-scale clusters ever get deep.)


def components_from_pairs(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """(doc_a, doc_b) pairs → (doc_id, cluster_id, cluster_size,
    is_canonical) over every vertex that appears in at least one pair.
    cluster_id = min doc_id reachable in the component (deterministic);
    the canonical representative is the cluster_id holder itself."""
    from pyspark.sql import Window

    sym = pairs.select(
        F.col("doc_a").alias("v"), F.col("doc_b").alias("u")
    ).unionAll(pairs.select(F.col("doc_b").alias("v"), F.col("doc_a").alias("u")))
    sym = sym.persist()
    # localCheckpoint (eager) TRUNCATES the logical plan each round — an
    # iterative self-join otherwise doubles its lineage per round and the
    # plan itself becomes the bottleneck (exponential analyze/explain cost)
    # long before the data does.  Executor-local blocks are fine for
    # iteration-temp state; swap for checkpoint(dir) if executor loss during
    # the loop must be survivable.
    labels = (
        sym.select("v").distinct().withColumn("lbl", F.col("v")).localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        nbr = (
            sym.join(labels.select(F.col("v").alias("u"), "lbl"), "u")
            .groupBy("v")
            .agg(F.min("lbl").alias("nlbl"))
            .persist()
        )
        improved = (
            nbr.join(labels, "v").filter(F.col("nlbl") < F.col("lbl")).count()
        )
        if improved == 0:
            converged = True
            nbr.unpersist()
            break
        labels = (
            labels.join(nbr, "v", "left")
            .select(
                "v",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        nbr.unpersist()
    sym.unpersist()
    if not converged:
        # a partially-propagated labeling silently splits one real cluster
        # into several — dedup would then keep near-duplicate "canonicals".
        # Wrong-but-plausible output is worse than failing loudly.
        raise RuntimeError(
            f"components_from_pairs did not converge in {max_iters} "
            f"iterations (component diameter exceeds max_iters); "
            f"re-run with a larger max_iters"
        )
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
    ).select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def near_dup_components(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_iters: int = 20,
) -> DataFrame:
    """LSH near-dup pairs → connected components → canonical selection.
    The full crawl-dedup composition: band-bucket candidates (O(Σ bucket²)),
    transitive clustering, keep doc_id == cluster_id as the survivor."""
    pairs = lsh_near_duplicates(docs, text_col, num_hashes, bands, shingle_k)
    return components_from_pairs(pairs.select("doc_a", "doc_b"), max_iters)


def band_index(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The PERSISTENT LSH dedup state: one (doc_id, band_id, band_key) row
    per band per document — what a production pipeline materializes
    (partitioned/bucketed by band_key) so that adding a crawl never
    re-signatures the existing corpus.  Exactly the banding
    ``lsh_near_duplicates`` builds internally, factored out so batch N's
    index is batch N+1's input."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(docs, text_col, num_hashes, shingle_k)
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|",
                            F.slice(
                                "minhash", b * rows_per_band + 1, rows_per_band
                            ),
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def incremental_lsh_dedup(
    new_docs: DataFrame,
    existing_index: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup gate for a NEW batch against an already-deduped corpus —
    the operation that keeps 100 TB pipelines incremental: the existing
    corpus is represented ONLY by its ``band_index`` rows (never re-read,
    never re-signatured), and the new batch's bands equi-join against it
    on (band_id, band_key).  Cost is O(new batch) + one uniform-key
    shuffle, independent of corpus size; with the index stored bucketed
    by band_key the join is co-located and shuffle-free on the big side.

    Decisions per new document, all deterministic and SQL-replayable:

    * ``matched_existing`` — shares ≥1 band with any indexed doc;
      ``dup_of`` = the min indexed doc_id among matches; dropped.
    * otherwise ``dup_of`` = min new-batch doc_id among its bucket-mates
      that are themselves unmatched-to-existing (including itself);
      kept iff that min is the doc itself — the same min-id election
      ``semantic_dedup`` uses.  Like any single-pass min-per-bucket rule
      it is not transitive across chained buckets (a kept doc's
      ``dup_of`` always points to a kept doc only within one bucket
      family); pipelines needing full transitivity run
      ``components_from_pairs`` over the within-batch pairs instead.

    Returns (doc_id, keep, matched_existing, dup_of) for EVERY new doc —
    docs too short to shingle have no bands, match nothing, and are kept.
    Append ``band_index(new_docs.where(keep))`` to the store afterwards."""
    new_bands = band_index(new_docs, text_col, num_hashes, bands, shingle_k)
    ex = existing_index.select(
        "band_id", "band_key", F.col("doc_id").alias("ex_id")
    )
    ex_match = (
        new_bands.join(ex, ["band_id", "band_key"])
        .groupBy("doc_id")
        .agg(F.min("ex_id").alias("ex_dup_of"))
    )
    unmatched = new_bands.join(ex_match, "doc_id", "left_anti")
    # min unmatched doc id per bucket, broadcast back over bucket-mates
    bucket_min = unmatched.groupBy("band_id", "band_key").agg(
        F.min("doc_id").alias("bucket_min")
    )
    batch_dup = (
        unmatched.join(bucket_min, ["band_id", "band_key"])
        .groupBy("doc_id")
        .agg(F.min("bucket_min").alias("batch_dup_of"))
    )
    ids = new_docs.select("doc_id")
    return (
        ids.join(ex_match, "doc_id", "left")
        .join(batch_dup, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("ex_dup_of").isNull()
                & (
                    F.col("batch_dup_of").isNull()
                    | (F.col("batch_dup_of") == F.col("doc_id"))
                )
            ).alias("keep"),
            F.col("ex_dup_of").isNotNull().alias("matched_existing"),
            F.coalesce(
                "ex_dup_of",
                F.when(
                    F.col("batch_dup_of") != F.col("doc_id"), F.col("batch_dup_of")
                ),
            ).alias("dup_of"),
        )
    )


def normalized_text_key(col) -> "F.Column":
    """Aggressive normalization key for near-exact dedup (the RefinedWeb /
    CCNet "normalized exact" tier between byte-identical and MinHash):
    lowercase, strip every non-alphanumeric character (punctuation,
    whitespace, markup residue all vanish), md5 the residue.  Two pages
    differing only in casing, punctuation, or re-flowed whitespace —
    the classic syndication/mirror edit distance — collapse to one key;
    plain character classes so Java regex ≡ RE2 and the oracle replays
    the identical key.  Pure codegen."""
    norm = F.regexp_replace(F.lower(col), "[^a-z0-9]+", "")
    return F.md5(F.encode(norm, "UTF-8"))


def normalized_duplicates(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """`exact_duplicates` on the normalized key: ONE pure-codegen
    projection (the shuffle key is 32 bytes regardless of page size) +
    ONE partial-agg groupBy, deterministic min-id survivor election.
    Returns (h, dup_count, canonical_id)."""
    return (
        docs.select(
            F.col("doc_id"),
            normalized_text_key(F.col(text_col)).alias("h"),
        )
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("dup_count"),
            F.min("doc_id").alias("canonical_id"),
        )
    )


def dedup_prf(
    predicted: DataFrame,
    labeled: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Dedup-QA pair-level precision/recall/F1 — the duplicate-DETECTION
    twin of ops/text.token_prf's extraction QA: whenever the dedup
    recipe changes (shingle k, bands, thresholds), score its predicted
    duplicate pairs against a labeled sample before the new config
    touches the corpus.

    Both inputs are pair tables; orientation is canonicalized
    (min, max) and exact duplicates dropped, so metrics count UNORDERED
    distinct pairs.  tp = inner join on the canonical pair; precision =
    tp/|pred|, recall = tp/|labeled|, f1 = 2tp/(|pred|+|labeled|)
    (multiset-Dice identity — no float harmonic mean), all exact BIGINT
    ppm; empty sides degrade to 0, never divide-by-zero.

    Scale shape: two pure-codegen canonicalizations + distincts, ONE
    pair equi-join, three 1-row counts — the labeled sample is small by
    construction, so every join broadcasts.  Returns one row
    (n_pred, n_labeled, tp, precision_ppm, recall_ppm, f1_ppm)."""

    def canon(df):
        lo = F.least(F.col(a_col), F.col(b_col))
        hi = F.greatest(F.col(a_col), F.col(b_col))
        return (
            df.filter(F.col(a_col) != F.col(b_col))
            .select(lo.alias("_a"), hi.alias("_b"))
            .distinct()
        )

    p = canon(predicted)
    l = canon(labeled)
    tp = p.join(l, ["_a", "_b"])
    counts = (
        p.agg(F.count("*").cast("long").alias("n_pred"))
        .crossJoin(l.agg(F.count("*").cast("long").alias("n_labeled")))
        .crossJoin(tp.agg(F.count("*").cast("long").alias("tp")))
    )
    z = F.lit(0).cast("long")
    return counts.select(
        "n_pred",
        "n_labeled",
        "tp",
        F.when(F.col("n_pred") > 0, F.expr("(tp * 1000000) div n_pred"))
        .otherwise(z).alias("precision_ppm"),
        F.when(F.col("n_labeled") > 0, F.expr("(tp * 1000000) div n_labeled"))
        .otherwise(z).alias("recall_ppm"),
        F.when(
            F.col("n_pred") + F.col("n_labeled") > 0,
            F.expr("(2 * tp * 1000000) div (n_pred + n_labeled)"),
        ).otherwise(z).alias("f1_ppm"),
    )


def edit_distance_pairs(
    docs: DataFrame,
    key_col: str = "title",
    id_col: str = "doc_id",
    max_dist: int = 2,
    band: int = 8,
) -> DataFrame:
    """Fuzzy key matching by bounded edit distance with blocking — the
    entity-resolution tier below normalized dedup (titles/headwords that
    differ by a typo or an OCR slip; classic record-linkage blocking,
    public: Christen 2012).  Returns (id_a, id_b, dist), id_a < id_b.

    Blocking key = (first char, length div ``band``): only pairs sharing
    it are compared, so the self-join fans out per block instead of n².
    This is a RECALL HEURISTIC, stated, not hidden: pairs that differ in
    their first character or straddle a length-band boundary are not
    candidates (the standard trade; tighten by unioning a second pass on
    a different key if a release needs it).  Within a block the exact
    Levenshtein filter runs JVM-side; keys longer than ~1e3 chars should
    be pre-truncated by the caller (edit distance is O(len²) per pair).

    Scale shape: ONE distinct projection, ONE self equi-join on the
    block key (AQE skew-splits hot blocks), the id_a < id_b triangle
    filter before the Levenshtein so each unordered pair is scored
    once."""
    keyed = docs.select(
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_key"),
        F.concat(
            F.substring(F.col(key_col), 1, 1),
            F.lit("|"),
            (F.length(F.col(key_col)).cast("long") / F.lit(int(band)))
            .cast("long").cast("string"),
        ).alias("_blk"),
    ).filter(F.col("_key").isNotNull() & (F.length("_key") > 0)).distinct()
    a = keyed.select(
        F.col("_id").alias("id_a"), F.col("_key").alias("_ka"), "_blk"
    )
    b = keyed.select(
        F.col("_id").alias("id_b"), F.col("_key").alias("_kb"), "_blk"
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_ka"), F.col("_kb")).alias("dist"),
        )
        .filter(F.col("dist") <= int(max_dist))
    )


def reordered_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-insensitive duplicate groups: documents whose token MULTISETS
    are identical even though the word order differs — the tier
    normalized_text_key cannot see (it preserves order) and MinHash only
    finds approximately.  Catches listing/feed pages re-rendered with a
    different sort, template pages whose blocks moved, and shuffled
    scraper copies.

    Key = md5 of the SORTED token array (binary string sort — Spark's
    UTF8 comparator and the oracle engine's default binary collation
    agree codepoint-for-codepoint), computed as a pure-codegen
    projection; then ONE partial-agg groupBy on the 32-byte key.
    Returns (h, dup_count, canonical_id) like exact_duplicates."""
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    key = F.md5(F.encode(F.array_join(F.array_sort(toks), " "), "UTF-8"))
    return (
        docs.select(F.col("doc_id"), key.alias("h"))
        .groupBy("h")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("canonical_id"),
        )
    )
