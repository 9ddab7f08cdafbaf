"""Deduplication operators (brief §extras): exact, normalized and
order-insensitive keys, MinHash+LSH near-duplicate pairs and their connected
components, blocked edit-distance pairs.

Scale notes (the part that matters at 100TB):

* exact dedup — hash-groupBy on md5(text): one shuffle on a uniform key; AQE
  coalesces; no skew possible (hashes are uniform).
* MinHash — signatures are computed per-row with higher-order functions
  (``transform``/``array_min``) entirely in the JVM; the LSH band join
  shuffles on (band, band_hash) — tiny keys, uniform — instead of an O(n²)
  crossJoin.  Portable hashing: md5 hex (lexicographic min), identical in
  DuckDB for the oracle.
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


def _with_shingles(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """Two-step materialization: tokens column, then shingles column, so each
    is computed exactly once per row.

    PERF: Catalyst does no CSE inside higher-order function bodies, so a
    shingle expression inlined on the split re-splits the text once per
    array element per consumer (measured 30× slowdown)."""
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
    """Dedup-QA pair-level precision/recall/F1 — duplicate-DETECTION QA:
    whenever the dedup recipe changes (shingle k, bands, thresholds),
    score its predicted duplicate pairs against a labeled sample before
    the new config touches the corpus.

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
