"""Corpus-curation operators for training-data pipelines (brief §extras):
deterministic split assignment, Gopher-style repetition statistics, and
dedup-survivor materialization.

These are the steps BETWEEN extraction and training: once text is extracted
(pipeline.py) and near-dups are identified (ops/dedup.py), a real pipeline
must (a) assign every document to a split reproducibly, (b) drop
pathologically repetitive documents (Rae et al., "Scaling Language Models" /
Gopher §A.1.1 repetition filters), and (c) materialize the deduplicated
corpus itself.

Scale notes (100 TB):

* split assignment — pure per-row hash expression, no shuffle at all; unlike
  ``randomSplit``/``sampleBy`` the assignment is a function of the document
  id alone, so re-runs, repartitions, and different engines all agree —
  documents can never leak across splits between pipeline versions.
* repetition — explode → (doc_id, token) groupBy: partial aggregation
  combines map-side, and doc_id is the natural partition key for every
  downstream agg, so AQE reuses one exchange.
* survivors — the loser set (non-canonical cluster members) is a tiny
  fraction of the corpus; LEFT ANTI join on doc_id lets AQE pick a broadcast
  anti-join when it fits, a shuffle anti-join otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import _with_shingles, near_dup_components


def split_bucket(id_col: Column, *, buckets: int = 256) -> Column:
    """Deterministic bucket in [0, 256): first two md5 hex chars of the id.

    md5 is identical in every engine (the DuckDB oracle reproduces this with
    strpos arithmetic), so the bucket — and therefore the split — is a pure
    function of the id, not of partitioning, sampling seed, or engine.
    """
    if buckets != 256:
        raise ValueError("split_bucket is fixed at 256 md5-prefix buckets")
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 2), 16, 10).cast("int")


def assign_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_hi: int = 205,
    valid_hi: int = 230,
) -> DataFrame:
    """Adds a ``split`` column: bucket <205 → train (~80%), <230 → valid
    (~10%), else test (~10%).  Narrow (no shuffle), reproducible, portable."""
    b = split_bucket(F.col(id_col))
    return docs.withColumn(
        "split",
        F.when(b < train_hi, "train").when(b < valid_hi, "valid").otherwise("test"),
    )


def stratified_sample(
    docs: DataFrame,
    fractions: "dict[str, float]",
    strat_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff its 16-bit
    md5-prefix bucket (of ``salt || id``) falls below ``fraction × 65536``
    for its stratum — the corpus-balancing primitive (downsample the
    over-represented language / domain, keep the rest).

    Unlike ``DataFrame.sampleBy`` the decision is a pure function of the
    document id: re-runs, repartitions, engines, and pipeline versions all
    select the SAME documents (an id sampled in is sampled in forever, so
    incremental re-curation never churns the corpus).  Pure per-row filter
    expression — zero shuffle at any scale."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 4),
        16,
        10,
    ).cast("int")
    thresh = F.lit(int(default_fraction * 65536))
    for k, frac in sorted(fractions.items()):
        thresh = F.when(F.col(strat_col) == k, int(frac * 65536)).otherwise(thresh)
    return docs.filter(bucket < thresh)


def build_vocab(
    docs: DataFrame,
    k: int | None = 10_000,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: (term, term_count, doc_count, rank) — the seed
    table for tokenizer training, OOV audits, and frequency-based filters.

    explode → ONE groupBy(term) carrying both counters (term occurrences
    via count, document frequency via count_distinct — both partial-agg
    friendly).  Ranking is count-desc with term-asc tiebreak, computed
    ONLY for the top-k via distributed orderBy+limit (TakeOrderedAndProject
    — never a single-partition sort of the full vocabulary; at crawl scale
    the vocab itself is 100M+ rows).  ``k=None`` returns the full unranked
    vocabulary."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    vocab = toks.groupBy("term").agg(
        F.count("*").alias("term_count"),
        F.countDistinct("doc_id").alias("doc_count"),
    )
    if min_count > 1:
        vocab = vocab.filter(F.col("term_count") >= min_count)
    if k is None:
        return vocab
    top = vocab.orderBy(F.desc("term_count"), F.asc("term")).limit(k)
    w = Window.orderBy(F.desc("term_count"), F.asc("term"))
    # the global window runs over at most k rows (post-limit) — bounded
    return top.select(
        "term", "term_count", "doc_count", F.row_number().over(w).alias("rank")
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition features per document: the fraction of tokens
    taken by the single most frequent token, and the fraction of bigram
    occurrences whose bigram appears more than once in the document.

    Returns (doc_id, n_tokens, top_word, top_word_frac, dup_bigram_frac).
    Ties on the top word break to the lexicographically smallest token so the
    result is deterministic and engine-portable (min over (-count, token)).
    """
    # n_tokens is recovered as sum(c) AFTER the explode rather than
    # size(_toks) before it.  A pre-explode size() looks equivalent, but any
    # filter later pushed onto n_tokens makes Catalyst re-order the
    # projection to AFTER the Generate, which then has to carry the whole
    # token array in every exploded row — an O(tokens x array_bytes) row
    # copy (~40 GB on 100 half-MB documents, measured) that only shows up
    # at web-page document sizes.  sum(c) is explode-count-exact (split
    # always emits size() elements) and keeps the Generate's output to
    # (doc_id, tok).
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    word_counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    top = word_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("tok").alias("w"))).alias("b"),
    ).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("b.w").alias("top_word"),
        F.round((-F.col("b.nc")) / F.col("n_tokens"), 4).alias("top_word_frac"),
    )
    d2 = _with_shingles(docs, text_col, 2).select(
        "doc_id", F.explode("_shingles").alias("g")
    )
    bigram_counts = d2.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    dup = bigram_counts.groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
            / F.sum("c"),
            4,
        ).alias("dup_bigram_frac")
    )
    return top.join(dup, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "top_word",
        "top_word_frac",
        F.coalesce(F.col("dup_bigram_frac"), F.lit(0.0)).alias("dup_bigram_frac"),
    )


def chunk_plan(
    docs: DataFrame, text_col: str = "text", chunk_tokens: int = 32
) -> DataFrame:
    """Context-window chunking: split every document into fixed-size token
    chunks (one output row per chunk) — the sequence-prep step before
    tokenizer packing.  Pure narrow ops: split → sequence → explode → slice,
    no shuffle at all; at 100 TB this stays a single map stage whose output
    partitioning follows the input.

    Returns (doc_id, chunk_idx, n_chunk_tokens, chunk_text).

    The chunk rows are BUILT before the explode (a ``transform`` over the
    chunk-index sequence producing small (n_chunk_tokens, chunk_text)
    structs, then ``posexplode`` of that struct array).  Exploding the index
    sequence first and slicing afterwards reads the same, but the Generate
    then carries the full token array into every chunk row — an
    O(n_chunks x array_bytes) row-copy amplification (~16x write volume at
    64-token chunks on half-MB web documents).  Here the Generate's output
    is only (doc_id, pos, 2-field struct), so the cost stays O(n_tokens)
    per document regardless of chunk count."""
    d = docs.select(
        "doc_id", F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    )
    # size(NULL) = -1, and sequence(0, -1) is a DESCENDING range in Spark
    # (the 1..0 trap registered_domain_psl also guards) — a NULL-text doc
    # must yield ZERO chunks, not two phantom rows
    n = F.greatest(F.size("_toks").cast("long"), F.lit(0).cast("long"))
    nchunks = F.ceil(n / F.lit(chunk_tokens))
    ct = F.lit(chunk_tokens)
    chunks = F.when(nchunks <= 0, F.array()).otherwise(F.transform(
        F.sequence(F.lit(0).cast("long"), nchunks - 1),
        lambda i: F.struct(
            F.least(ct.cast("long"), n - i * ct).alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("_toks"), (i * ct + 1).cast("int"), chunk_tokens)
            ).alias("chunk_text"),
        ),
    ))
    d = d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "ch"))
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("ch.n_chunk_tokens").alias("n_chunk_tokens"),
        F.col("ch.chunk_text").alias("chunk_text"),
    )


def dedup_survivors(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The deduplicated corpus itself: LSH near-dup pairs → connected
    components → drop every non-canonical cluster member, keep everything
    else.  This is the step the cluster actually ships to training — the
    pair/cluster queries are the audit trail, this is the output table."""
    comp = near_dup_components(docs, text_col, num_hashes, bands, shingle_k)
    losers = comp.where(F.col("is_canonical") == 0).select("doc_id")
    # schema-preserving: every input column survives (text included — this
    # IS the shipped corpus); callers project if they want a slim audit view
    return docs.join(losers, "doc_id", "left_anti")


def span_dedup(
    docs: DataFrame, text_col: str = "text", span_tokens: int = 10
) -> DataFrame:
    """C4-style span-level dedup (Raffel et al. §2.2): remove every
    repeated occurrence of a token span from the corpus, keeping only its
    first occurrence (smallest (doc_id, span index)), then reassemble each
    document from its surviving spans.

    Returns (doc_id, n_spans_kept, n_spans_dropped, clean_text).

    C4 used three-sentence spans; this corpus has no sentence structure, so
    the span is a fixed ``span_tokens`` window (the ``chunk_plan``
    tiling).  The plan is deliberately NOT a window-function rank over the
    span text: web boilerplate makes span frequency zipfian (one cookie
    banner → 10^9 rows in one window partition), and a windowed sort cannot
    partial-aggregate.  Instead:

        spans → groupBy(md5(span)) . min(struct(doc_id, idx))   # map-side
              → join back on the 16-byte hash                    # AQE-skew
              → keep rows equal to their span's minimum
              → groupBy(doc_id) ordered reassembly               # agg only

    The min() collapses hot spans to one row per partition map-side, so the
    shuffle carries |distinct spans| rows; the join is equi on md5 keys
    (AQE splits any residual skew).  md5 equality stands in for span
    equality (collision odds ~n²/2^128 — negligible against 10^12 spans).
    """
    spans = chunk_plan(docs, text_col=text_col, chunk_tokens=span_tokens).select(
        "doc_id", "chunk_idx", "chunk_text", F.md5("chunk_text").alias("h")
    )
    firsts = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("first")
    )
    flagged = spans.join(firsts, "h").withColumn(
        "kept",
        (F.col("first.doc_id") == F.col("doc_id"))
        & (F.col("first.chunk_idx") == F.col("chunk_idx")),
    )
    kept_struct = F.when(F.col("kept"), F.struct("chunk_idx", "chunk_text"))
    return flagged.groupBy("doc_id").agg(
        F.sum(F.col("kept").cast("long")).alias("n_spans_kept"),
        F.sum((~F.col("kept")).cast("long")).alias("n_spans_dropped"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.chunk_text,
            ),
        ).alias("clean_text"),
    )


_IV_T = "array<struct<s:bigint,e:bigint>>"


def exact_substring_dedup(
    docs: DataFrame, text_col: str = "text", window_tokens: int = 8
) -> DataFrame:
    """Exact-substring dedup à la Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"): every duplicated run of ≥
    ``window_tokens`` tokens is removed from all but its FIRST occurrence
    (smallest (doc_id, position)), with overlapping duplicated windows
    merged into maximal intervals before cutting — so a 60-token cloned
    paragraph disappears as one interval, not as 53 ragged window hits.

    Returns (doc_id, n_tokens, n_dropped, n_intervals, clean_text).

    The suffix-array machinery of the paper exists to FIND duplicated
    spans on one big machine; in Spark the equivalent discovery is the
    overlapping k-gram window (the same observation that drives
    MinHash shingles): a duplicated substring of length ≥ k duplicates
    every k-window inside it, and merging the flagged windows recovers
    the maximal span exactly.  Differences vs ``span_dedup`` (C4-style):
    spans there are a disjoint tiling (cheap, but a duplicate straddling
    a tile boundary survives); here windows OVERLAP, so duplicated runs
    are caught at every alignment — strictly stronger, one extra join.

    Plan at 100 TB: windows → groupBy(md5) with map-side partial
    (min-occurrence struct + count — a 10^9-page cookie banner collapses
    to one row per map partition), equi-join back on the 16-byte hash
    (AQE splits residual skew), per-doc interval merge as a JVM
    ``aggregate`` over the sorted interval array (NO window function —
    per-doc arrays, never a corpus-wide sort), and one doc_id equi-join
    to bring intervals to the token arrays.  No O(n²) pair stage exists;
    cost is O(total tokens × window) strings hashed + two key shuffles."""
    k = window_tokens
    toked = docs.select(
        "doc_id", F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    )
    n = F.size("_toks")
    # sequence(0, n-k) DESCENDS when n < k (the 1..0 trap chunk_plan
    # guards): short docs must produce zero windows
    grams = toked.select(
        "doc_id",
        F.explode(
            F.when(n >= k, F.transform(
                F.sequence(F.lit(0), (n - k).cast("long")),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.concat_ws(" ", F.slice("_toks", (i + 1).cast("int"), k))
                    ).alias("h"),
                ),
            )).otherwise(F.array().cast(
                "array<struct<pos:bigint,h:string>>"
            ))
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    firsts = grams.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("c"),
    )
    marked = (
        grams.join(firsts, "h")
        .filter(
            (F.col("c") > 1)
            & ~(
                (F.col("first.doc_id") == F.col("doc_id"))
                & (F.col("first.pos") == F.col("pos"))
            )
        )
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + k).alias("e"),
        )
    )
    ints = marked.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs")
    )

    def _merge_step(acc, iv):
        last = F.element_at(acc, -1)
        return (
            F.when(F.size(acc) == 0, F.array(iv))
            .when(iv["s"] > last["e"], F.concat(acc, F.array(iv)))
            .otherwise(
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            last["s"].alias("s"),
                            F.greatest(last["e"], iv["e"]).alias("e"),
                        )
                    ),
                )
            )
        )

    joined = toked.join(ints, "doc_id", "left")
    merged = F.aggregate(
        F.coalesce(F.col("ivs"), F.array().cast(_IV_T)),
        F.array().cast(_IV_T),
        _merge_step,
    )
    withm = joined.select("doc_id", "_toks", merged.alias("merged"))
    indexed = F.transform(
        F.col("_toks"), lambda t, i: F.struct(t.alias("tok"), i.alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("merged"),
            lambda m: (m["s"] <= s["i"]) & (s["i"] < m["e"]),
        ),
    )
    return withm.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_dropped"),
        F.size("merged").cast("long").alias("n_intervals"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["tok"])).alias(
            "clean_text"
        ),
    )


def host_line_dedup(
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pages: int = 2,
    pct_pages: int = 0,
) -> DataFrame:
    """CCNet-style per-host repeated-line removal (Wenzek et al. 2020 §4.1
    flavor): a non-blank line whose trimmed form recurs across many pages of
    the SAME host is site furniture that survived per-page extraction —
    cookie banners, nav remnants, footers — and is stripped from EVERY page
    it appears on.

    This is the cross-page complement of the per-page density heuristics
    (``ops/boilerplate.py``) and differs from :func:`span_dedup` in both key
    and policy: the key is (host, md5(trim(line))) — a line ubiquitous on
    one site but meaningful elsewhere is only removed on that site — and
    the policy removes ALL occurrences (boilerplate is junk everywhere),
    not keep-first.

    A line is host-boilerplate iff it appears on ``>= min_pages`` distinct
    pages of the host AND ``line_pages * 100 >= host_pages * pct_pages``
    (integer-exact threshold — no float ratio, so every engine agrees).
    Blank/whitespace lines are never counted and never removed (they carry
    the document's paragraph structure).

    Returns (doc_id, n_lines, n_lines_removed, clean_text) with surviving
    lines rejoined by ``\\n`` in original order.

    Scale (100 TB): zipfian hot lines (one cookie banner, 10^9 pages) are
    exactly why the plan is agg + equi-join, never a window over line text:

        lines → groupBy(host, h) count-distinct pages   # partial agg; the
                                                        # expand/dedup stage
                                                        # collapses a doc's
                                                        # repeats map-side
              → filter line_pages >= min_pages          # BEFORE the dim
              → join per-host page counts on host       # moves |repeated
              → pct threshold → boiler (host, h)        # lines| rows only
        lines ⟕ boiler on (host, h)                     # AQE skew-split
              → groupBy(doc_id) ordered reassembly      # partial agg

    The boiler side holds only lines that repeat within a host — orders of
    magnitude smaller than the corpus — and md5 equality stands in for line
    equality (same collision argument as :func:`span_dedup`).
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).withColumn("h", F.md5(F.trim("line")))
    host_pages = docs.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("host_pages")
    )
    line_pages = (
        lines.filter(F.trim("line") != "")
        .groupBy("host", "h")
        .agg(F.count_distinct("doc_id").alias("line_pages"))
    )
    # threshold on min_pages BEFORE touching the host dim: it shrinks the
    # big side to lines that repeat at all, so the host-count join moves
    # |repeated lines| rows, not |distinct lines|.  The host dim is NOT
    # force-broadcast — a web corpus has ~10^8 hosts, past any sane
    # broadcast threshold — AQE downgrades to broadcast when it does fit
    boiler = (
        line_pages.filter(F.col("line_pages") >= F.lit(int(min_pages)))
        .join(host_pages, "host")
        .filter(F.col("line_pages") * 100 >= F.col("host_pages") * int(pct_pages))
        .select("host", "h", F.lit(1).alias("_boiler"))
    )
    flagged = lines.join(boiler, ["host", "h"], "left")
    kept = F.col("_boiler").isNull()
    kept_struct = F.when(kept, F.struct("pos", "line"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum((~kept).cast("long")).alias("n_lines_removed"),
        F.concat_ws(
            "\n",
            F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s.line),
        ).alias("clean_text"),
    )


def paragraph_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """GLOBAL exact paragraph dedup (RefinedWeb, Penedo et al. 2023 §G.2;
    Dolma toolkit's paragraph-level pass): a paragraph — text between blank
    lines, i.e. a ``\\n\\n``-separated block — whose trimmed form occurs
    anywhere else in the corpus keeps only its FIRST occurrence (smallest
    ``(doc_id, pos)``); every other occurrence, in other documents or later
    in the same one, is dropped, and each document is reassembled from its
    surviving paragraphs.

    Completes the three-granularity dedup family, each with a distinct key
    and policy:

    * :func:`span_dedup` — fixed token windows, global keep-first (C4);
    * :func:`host_line_dedup` — per-host line key, remove ALL (CCNet);
    * this — natural paragraph boundaries, global keep-first.

    Returns ``(doc_id, n_paras, n_paras_kept, clean_text)`` with surviving
    paragraphs rejoined by ``\\n\\n`` in original order.  Blank paragraphs
    are dropped (the joiner reintroduces the structure); a document whose
    text has no non-blank paragraph disappears from the output.

    Scale (100 TB): same shape as :func:`span_dedup`, for the same reason —
    paragraph frequency is zipfian (one cookie-consent paragraph → 10^9
    rows), so the plan is NEVER a window over paragraph text:

        paras → groupBy(md5(trim(para))) . min(struct(doc_id, pos))
              → join back on the 16-byte hash (AQE skew-split)
              → keep rows equal to their paragraph's minimum
              → groupBy(doc_id) ordered reassembly (partial agg)

    The map-side partial min collapses hot paragraphs to one row per map
    partition; the shuffle moves |distinct paragraphs| keys; md5 equality
    stands in for paragraph equality (collision odds ~n²/2^128).
    """
    paras = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n\n", -1)).alias("pos", "para"),
        )
        .filter(F.trim("para") != "")
        .withColumn("h", F.md5(F.trim("para")))
    )
    firsts = paras.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    flagged = paras.join(firsts, "h").withColumn(
        "kept",
        (F.col("first.doc_id") == F.col("doc_id"))
        & (F.col("first.pos") == F.col("pos")),
    )
    kept_struct = F.when(F.col("kept"), F.struct("pos", "para"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum(F.col("kept").cast("long")).alias("n_paras_kept"),
        F.concat_ws(
            "\n\n",
            F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s.para),
        ).alias("clean_text"),
    )


def temperature_mix_plan(
    docs: DataFrame,
    alpha_pct: int = 50,
    target_docs: int | None = None,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Temperature-based mixture rebalancing plan: per-stratum sampling
    thresholds that reshape the corpus toward p_k ∝ c_k^α (the multilingual
    data-mixing rule of XLM-R / mT5: α<1 upsamples the tail relative to the
    head so low-resource strata are not drowned; α=1 keeps natural
    proportions, α=0 is uniform).

    Returns one row per stratum: (stratum, n_docs, threshold, kept) where
    ``threshold``/65536 is the keep-fraction and ``kept`` counts the
    documents the deterministic md5-bucket filter (same 16-bit bucket as
    :func:`stratified_sample`) actually keeps.

    **Integer-exact by construction.**  ``alpha_pct`` supports 50 (sqrt
    temperature, the common α=0.5) and 100 (natural): weights are
    ``isqrt(c_k)`` resp. ``c_k`` — floor(sqrt) over a BIGINT is exact below
    2^52 — so the mixture denominator is an integer SUM (order-independent,
    unlike a float sum whose value depends on shuffle order), and

        threshold_k = (65536 · T · w_k) div (S · c_k),  capped at 65536

    is pure integer arithmetic: Spark, DuckDB, and any future engine agree
    bit-for-bit.  T defaults to the full corpus size (pure rebalance).

    Scale shape: ONE partial-agg groupBy over docs (#strata rows out), a
    1-row broadcast crossJoin for S (the PageRank dangling-mass pattern —
    never a driver collect), and a broadcast join of the tiny threshold dim
    back onto docs for the ``kept`` count.  No full-corpus shuffle.
    """
    plan = _temperature_thresholds(docs, alpha_pct, target_docs, strat_col)
    bucket = _mix_bucket(id_col, salt)
    kept = (
        docs.select(F.col(strat_col).alias("stratum"), bucket.alias("_b"))
        .join(F.broadcast(plan), "stratum")
        .filter(F.col("_b") < F.col("threshold"))
        .groupBy("stratum")
        .agg(F.count("*").alias("kept"))
    )
    # both sides are per-stratum aggregates (#strata rows — tiny by
    # construction at any corpus scale), so the reconciliation join must
    # never be a sort-merge: broadcast the kept counts
    return plan.join(F.broadcast(kept), "stratum", "left").select(
        "stratum",
        "n_docs",
        "threshold",
        F.coalesce(F.col("kept"), F.lit(0)).cast("long").alias("kept"),
    )


def _mix_bucket(id_col: str, salt: str) -> Column:
    """The deterministic 16-bit md5 keep-bucket shared by the mixture plan
    audit and the sampler (same bucket as :func:`stratified_sample`)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("int")


def _temperature_thresholds(
    docs: DataFrame, alpha_pct: int, target_docs: int | None, strat_col: str
) -> DataFrame:
    """counts → (stratum, n_docs, threshold): the integer-exact threshold
    computation alone — ONE partial-agg pass over docs.  Factored out so
    :func:`temperature_sample` never pays :func:`temperature_mix_plan`'s
    full-corpus ``kept`` audit pass just to read the thresholds."""
    if alpha_pct not in (50, 100):
        raise ValueError("alpha_pct supports 50 (sqrt) and 100 (natural)")
    counts = docs.groupBy(F.col(strat_col).alias("stratum")).agg(
        F.count("*").alias("n_docs")
    )
    w = (
        F.floor(F.sqrt(F.col("n_docs"))).cast("long")
        if alpha_pct == 50
        else F.col("n_docs").cast("long")
    )
    weighted = counts.withColumn("_w", w)
    denom = weighted.agg(
        F.sum("_w").alias("_s"), F.sum("n_docs").alias("_total")
    )
    t_expr = F.lit(target_docs).cast("long") if target_docs is not None else F.col(
        "_total"
    )
    # decimal(20,0) factors: 65536·T·w_k reaches ~6.5e22 at 10^12 docs —
    # past BIGINT — and float (or scaled-decimal) division would round
    # before a floor; `div` (IntegralDivide) over the decimal products is
    # the exact integer quotient
    return (
        weighted.crossJoin(F.broadcast(denom))
        .select(
            "stratum",
            "n_docs",
            (
                F.lit(65536).cast("decimal(20,0)")
                * t_expr.cast("decimal(20,0)")
                * F.col("_w").cast("decimal(20,0)")
            ).alias("_num"),
            (
                F.col("_s").cast("decimal(20,0)")
                * F.col("n_docs").cast("decimal(20,0)")
            ).alias("_den"),
        )
        .select(
            "stratum",
            "n_docs",
            F.least(
                F.lit(65536).cast("long"), F.expr("_num div _den")
            ).alias("threshold"),
        )
    )


def temperature_sample(
    docs: DataFrame,
    alpha_pct: int = 50,
    target_docs: int | None = None,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """The documents :func:`temperature_mix_plan` keeps: broadcast the tiny
    per-stratum threshold dim onto the corpus and filter on the same
    deterministic md5 bucket — an id kept at α is kept on every re-run.

    Computes thresholds only (one counts pass over docs + the filter pass);
    the mix plan's ``kept`` audit — a third full-corpus pass whose result
    the sampler would discard — is not paid here."""
    plan = _temperature_thresholds(docs, alpha_pct, target_docs, strat_col).select(
        F.col("stratum").alias(strat_col), "threshold"
    )
    return (
        docs.join(F.broadcast(plan), strat_col)
        .filter(_mix_bucket(id_col, salt) < F.col("threshold"))
        .drop("threshold")
    )


def pack_shards(
    docs: DataFrame,
    shard_bytes: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic byte-balanced shard assignment for training export:
    documents ordered by ``id_col``, each assigned to the output shard in
    which its running byte offset STARTS — ``shard_id = start_offset div
    shard_bytes``.  Training readers get shards of ~equal byte size with a
    stable, engine-independent doc→shard map (re-runs, repartitions, and
    the DuckDB oracle all agree exactly: integer running sum, no floats).

    Returns (doc_id, n_bytes, start_offset, shard_id).

    Scale shape — the distributed prefix-sum, NOT a global window: a
    single ``Window.orderBy(id)`` with no partitionBy would drag 10^12
    rows through ONE partition.  Instead:

    1. ``repartitionByRange(id)`` → P sorted, non-overlapping id ranges
       (the exchange a sorted export needs anyway);
    2. per-range LOCAL cumulative sums (window partitioned by the range
       id — every partition works independently);
    3. the P per-range byte totals (a P-row aggregate — tiny at any
       corpus size) roll into exclusive range offsets driver-free via a
       window over that P-row frame, broadcast back onto the ranges.

    Every full-data stage is a plain hash/range exchange; the only
    single-partition window runs over P rows.
    """
    sizes = docs.select(
        F.col(id_col).alias("doc_id"),
        F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias(
            "n_bytes"
        ),
    )
    return _running_offsets(sizes, "n_bytes", num_partitions).select(
        "doc_id",
        "n_bytes",
        "start_offset",
        # `div` (IntegralDivide), not float `/` + cast: at 10^14-byte
        # running offsets float division rounds before the truncation
        F.expr(f"start_offset div {int(shard_bytes)}").alias("shard_id"),
    )


def _running_offsets(
    sizes: DataFrame, size_col: str, num_partitions: int | None
) -> DataFrame:
    """(doc_id, <size_col>) → + exclusive ``start_offset`` in doc_id order
    via the distributed prefix-sum (see :func:`pack_shards` for the scale
    rationale; shared by the byte-sharding and sequence-packing planners)."""
    if num_partitions is None:
        num_partitions = int(
            sizes.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    # Persist the ranged projection: `_p` (spark_partition_id) feeds BOTH
    # the totals branch and the probe side of the offset join, and without
    # a shared materialization each branch would carry its own range
    # exchange whose RangePartitioner samples independently — correctness
    # would silently ride on Catalyst's exchange-reuse rule unifying the
    # two subtrees (a physical-planning optimization that can be disabled,
    # unlike cache substitution, which is semantic and applies to every
    # branch built from this plan).  The projection is 20 bytes/row — the
    # same order as the shuffle files the range exchange writes anyway.
    from pyspark import StorageLevel

    ranged = (
        sizes.repartitionByRange(num_partitions, "doc_id")
        .withColumn("_p", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # exclusive per-range offsets: P rows — the window over them is single
    # partition BY CONSTRUCTION (P ≈ thousands at crawl scale, not 10^12)
    totals = ranged.groupBy("_p").agg(F.sum(size_col).alias("_range_units"))
    w_off = Window.orderBy("_p").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_p",
        F.coalesce(F.sum("_range_units").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_local = (
        Window.partitionBy("_p")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ranged.join(F.broadcast(offsets), "_p").select(
        "doc_id",
        size_col,
        (
            F.col("_offset") + F.coalesce(F.sum(size_col).over(w_local), F.lit(0))
        ).alias("start_offset"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style concat-and-split sequence-packing plan: every document's
    whitespace tokens plus ONE end-of-document slot are laid end-to-end in
    doc_id order, and the resulting global token stream is cut into
    fixed-length training sequences of ``seq_len`` slots.  This is the
    standard LM pretraining packing rule (concatenate with EOD separators,
    split every L tokens — documents may span sequence boundaries), the
    cross-document complement of per-document :func:`chunk_plan`.

    Returns one row per (sequence, document-slice) overlap:
    (seq_id, doc_id, seq_off, doc_off, slice_len, eod) — the loader-side
    recipe: place ``slice_len`` slots of doc ``doc_id`` starting at token
    ``doc_off`` (slot index ``n_tokens`` IS the EOD) into sequence
    ``seq_id`` at position ``seq_off``.  Every sequence except the last
    packs to exactly ``seq_len`` with zero padding.

    Scale shape: the global offsets come from the same distributed
    prefix-sum as :func:`pack_shards` (range partitions → local cumsums →
    P-row rollup, never a single-partition window over the corpus); the
    seq fan-out is a narrow posexplode over ``O(n_slots / L + 1)``
    elements per doc, carrying only three longs through the Generate.
    Deterministic and partition-independent: integer arithmetic only."""
    L = int(seq_len)
    if L <= 0:
        raise ValueError("seq_len must be positive")
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n_tokens = F.size(F.filter(toks, lambda x: F.length(x) > 0)).cast("long")
    sizes = docs.select(
        F.col(id_col).alias("doc_id"), (n_tokens + 1).alias("n_slots")
    )
    offs = _running_offsets(sizes, "n_slots", num_partitions)
    start = F.col("start_offset")
    fanned = offs.select(
        "doc_id",
        "n_slots",
        "start_offset",
        F.explode(
            F.sequence(
                F.expr(f"start_offset div {L}"),
                F.expr(f"(start_offset + n_slots - 1) div {L}"),
            )
        ).alias("seq_id"),
    )
    seg_start = F.greatest(start, F.col("seq_id") * L)
    seg_end = F.least(start + F.col("n_slots"), (F.col("seq_id") + 1) * L)
    return fanned.select(
        "seq_id",
        "doc_id",
        (seg_start - F.col("seq_id") * L).alias("seq_off"),
        (seg_start - start).alias("doc_off"),
        (seg_end - seg_start).alias("slice_len"),
        (seg_end == start + F.col("n_slots")).alias("eod"),
    )


def materialize_sequences(
    docs: DataFrame,
    plan: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eod_token: str = "<|eod|>",
) -> DataFrame:
    """Execute a :func:`pack_sequences` plan: join each (seq, doc-slice)
    row back to its document, slice the doc's slot array (tokens + the EOD
    marker), and assemble every training sequence's token text — the
    packed-dataset writer step.

    Returns (seq_id, n_slots, seq_text); every sequence except the last
    has exactly ``seq_len`` slots.

    Scale shape: ONE equi-join on doc_id (plan rows are tiny — five longs
    — so the join shuffles the corpus text once, co-partitioned with the
    plan) and ONE groupBy(seq_id) whose per-group payload is bounded by
    ``seq_len`` tokens regardless of document sizes; slice assembly
    happens BEFORE the groupBy so no full document ever rides a group.
    Order inside a sequence is reconstructed from ``seq_off`` via
    array_sort over (seq_off, piece) structs — deterministic, never
    dependent on shuffle arrival order."""
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    slots = F.concat(
        F.filter(toks, lambda x: F.length(x) > 0),
        F.array(F.lit(eod_token)),
    )
    d = docs.select(F.col(id_col).alias("doc_id"), slots.alias("_slots"))
    j = plan.join(d, "doc_id").select(
        "seq_id",
        "seq_off",
        "slice_len",
        F.concat_ws(
            " ",
            F.expr("slice(_slots, int(doc_off + 1), int(slice_len))"),
        ).alias("_piece"),
    )
    return (
        j.groupBy("seq_id")
        .agg(
            F.sum("slice_len").alias("n_slots"),
            F.array_sort(
                F.collect_list(F.struct("seq_off", F.col("_piece")))
            ).alias("_pieces"),
        )
        .select(
            "seq_id",
            "n_slots",
            F.concat_ws(
                " ", F.transform(F.col("_pieces"), lambda s: s["_piece"])
            ).alias("seq_text"),
        )
    )


def vocab_growth(
    docs: DataFrame,
    thresholds: "list[int]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: (threshold, n_tokens,
    n_distinct) for each corpus prefix ``doc_id <= threshold``.

    The tokenizer-budget diagnostic: how fast does the vocabulary grow
    as the corpus grows?  A corpus whose distinct-token curve keeps
    climbing linearly is OCR noise / boilerplate-slug heavy (every page
    mints new "words"); clean natural text flattens per Heaps' law
    V ≈ K·nᵝ, β≈0.5.  Curve points also decide when a BPE vocab
    retrain is due as a crawl accumulates.

    Scale shape (the dsir/lm histogram-cumulative discipline — no
    per-threshold pass over the corpus, no window over documents):

    1. first occurrence per token: ONE partial-agg groupBy(tok) min —
       the only corpus-sized shuffle, bounded by distinct tokens;
    2. per-doc aggregates: new-token count by first_doc, occurrence
       count by doc — both ≤ |docs| tiny rows;
    3. each row buckets to the SMALLEST covering threshold via a pure
       array-filter projection (T literals, no join);
    4. cumulative over the ≤ T-row curve frame (a window over T rows,
       never over documents).

    ``thresholds`` must be ascending; docs past the last threshold
    contribute nothing (the curve is only evaluated at its points).
    All BIGINT — bit-identical across engines and shuffle orders.
    """
    if thresholds != sorted(thresholds) or len(set(thresholds)) != len(thresholds):
        raise ValueError("thresholds must be strictly ascending")
    from pyspark.sql import Window

    thr_arr = F.array(*[F.lit(int(t)).cast("long") for t in thresholds])
    toks = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)

    def bucket_of(col):
        # smallest threshold >= value; NULL (dropped) past the curve
        return F.element_at(F.filter(thr_arr, lambda t: t >= F.col(col)), 1)

    new_by_doc = (
        toks.groupBy("tok")
        .agg(F.min("_doc").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("_new"))
        .select(bucket_of("first_doc").alias("threshold"), "_new")
        .where(F.col("threshold").isNotNull())
        .groupBy("threshold")
        .agg(F.sum("_new").alias("_new"))
    )
    occ_by_doc = (
        toks.groupBy("_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("_occ"))
        .select(bucket_of("_doc").alias("threshold"), "_occ")
        .where(F.col("threshold").isNotNull())
        .groupBy("threshold")
        .agg(F.sum("_occ").alias("_occ"))
    )
    # materialize every curve point (a threshold bin can be empty), then
    # the cumulative runs over the ≤ T-row frame only
    spark = docs.sparkSession
    points = spark.createDataFrame(
        [(int(t),) for t in thresholds], "threshold long"
    )
    curve = (
        points.join(new_by_doc, "threshold", "left")
        .join(occ_by_doc, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("_new", F.lit(0)).cast("long").alias("_new"),
            F.coalesce("_occ", F.lit(0)).cast("long").alias("_occ"),
        )
    )
    w = Window.orderBy("threshold").rowsBetween(Window.unboundedPreceding, 0)
    return curve.select(
        "threshold",
        F.sum("_occ").over(w).cast("long").alias("n_tokens"),
        F.sum("_new").over(w).cast("long").alias("n_distinct"),
    )


def distribution_drift(
    a: DataFrame,
    b: DataFrame,
    bucket_col: str = "bucket",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-bucket share drift between two corpus snapshots — the crawl
    monitoring op: did this month's crawl shift its language / length /
    quality-bucket mix versus last month's?  Total-variation distance is
    ``sum(delta_ppm) / (2·scale)`` over the result (the consumer's one
    fold); PSI would need a logarithm, so it stays outside the
    integer-exact contract by the same rule as HLL's linear counting.

    Returns (bucket, n_a, n_b, share_a_ppm, share_b_ppm, delta_ppm), all
    BIGINT: ``share_ppm = (n·scale) div total`` — IntegralDivide over
    non-negative operands, bit-identical across engines and shuffle
    orders.  Empty sides yield 0-ppm shares (never NULL, never a crash).

    Scale shape: ONE partial-agg groupBy per snapshot (the only
    corpus-sized shuffles, each bounded by |buckets| after the map-side
    combine), a full-outer join on the tiny bucket frame, and a 1-row
    broadcast crossJoin for the totals — the package's standing pattern
    for global denominators (classify.py, text.py).  Nothing here grows
    with corpus size past the two first-stage scans.
    """
    ca = a.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_a")
    )
    cb = b.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    joined = ca.join(cb, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
    )
    tot = joined.agg(
        F.sum("n_a").cast("long").alias("_ta"),
        F.sum("n_b").cast("long").alias("_tb"),
    )
    s = int(scale)
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.coalesce(
                F.expr(f"(n_a * {s}) div nullif(_ta, 0)"), F.lit(0)
            ).cast("long").alias("share_a_ppm"),
            F.coalesce(
                F.expr(f"(n_b * {s}) div nullif(_tb, 0)"), F.lit(0)
            ).cast("long").alias("share_b_ppm"),
        )
        .withColumn(
            "delta_ppm",
            F.abs(F.col("share_a_ppm") - F.col("share_b_ppm")).cast("long"),
        )
    )


def freq_spectrum(
    docs: DataFrame,
    max_freq: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Token frequency-of-frequencies spectrum — how many vocabulary
    types occur exactly f times, for f = 1..max_freq.  The Good-Turing
    companion to :func:`vocab_growth`: the f=1 row's ``tokens_ppm`` IS
    the Good-Turing unseen-probability mass N₁/N (×10⁶), and a hapax
    share that climbs with crawl size is the OCR-noise / random-slug
    alarm that decides when the token filter needs retuning.

    Returns (freq, n_types, n_tokens, types_ppm, tokens_ppm), all
    BIGINT; ppm denominators are the FULL vocabulary / token totals
    (not just the spectrum head), via the 1-row broadcast-totals
    pattern.  Tokenization is identical to :func:`vocab_growth`
    (lowercase, split on whitespace, drop empties) so the two
    diagnostics read the same corpus.

    Scale shape: ONE corpus-sized partial-agg groupBy(tok) (bounded by
    distinct tokens after map-side combine), then a groupBy over the
    ≤ max_freq-row spectrum and a 1-row totals crossJoin.  No window,
    no Python, no join against corpus-sized sides.
    """
    toks = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    freqs = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = freqs.agg(
        F.count(F.lit(1)).cast("long").alias("_types"),
        F.sum("cnt").cast("long").alias("_tokens"),
    )
    spec = (
        freqs.where(F.col("cnt") <= int(max_freq))
        .groupBy(F.col("cnt").alias("freq"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    )
    return spec.crossJoin(F.broadcast(tot)).select(
        "freq",
        "n_types",
        (F.col("freq") * F.col("n_types")).cast("long").alias("n_tokens"),
        F.coalesce(
            F.expr("(n_types * 1000000) div _types"), F.lit(0)
        ).cast("long").alias("types_ppm"),
        F.coalesce(
            F.expr("(freq * n_types * 1000000) div _tokens"), F.lit(0)
        ).cast("long").alias("tokens_ppm"),
    )


def shard_manifest(
    docs: DataFrame,
    shard_col: str = "shard",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-shard release-integrity manifest — the reproducibility ledger a
    data release ships next to its training shards: row counts, char
    totals, and two ORDER-INSENSITIVE content digests per shard, so a
    consumer (or a re-run of the pipeline) can verify shard-for-shard that
    the content is identical without re-reading both corpora side by side.

    Per-doc hash ``h = int(md5(doc_id ‖ 0x1f ‖ text)[:15 hex])`` — 60 bits,
    always positive, and portable (Spark ``conv(…,16,10)`` ≡ DuckDB
    ``CAST('0x'||… AS BIGINT)``).  Two digests because each covers the
    other's blind spot: ``xor_digest`` (bit_xor of h) is immune to
    overflow but blind to duplicated PAIRS (x⊕x=0); ``sum_digest``
    (Σh mod 2⁶¹−1, summed in DECIMAL(38,0) so ANSI overflow can never
    fire, reduced once AFTER the aggregate) catches exactly those.  Both
    are commutative+associative, hence bit-identical across partitionings,
    shuffle orders, and engines.

    Scale shape: ONE partial-agg groupBy(shard) — the exchange carries
    ≤ |shards| rows after map-side combine; zero Python, no join, no
    window.  At 10^12 rows this is a single scan.
    """
    _MOD = 2305843009213693951  # 2^61 - 1
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f", F.col(id_col).cast("string"), F.col(text_col)
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    per = docs.select(
        F.col(shard_col).alias("shard"),
        F.length(text_col).cast("long").alias("_n"),
        h.alias("_h"),
    )
    return (
        per.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("n_chars"),
            F.expr("bit_xor(_h)").cast("long").alias("xor_digest"),
            F.sum(F.col("_h").cast("decimal(38,0)")).alias("_sum"),
        )
        .select(
            "shard",
            "n_docs",
            "n_chars",
            "xor_digest",
            (F.col("_sum") % F.lit(_MOD).cast("decimal(38,0)"))
            .cast("long")
            .alias("sum_digest"),
        )
    )


def exact_quantiles(
    docs: DataFrame,
    value_col: str,
    qs_ppm: "tuple[int, ...] | list[int]" = (500_000, 900_000, 990_000),
    group_col: str | None = None,
) -> DataFrame:
    """Exact type-1 (lower discrete) quantiles of an integer column, per
    group — the engine-portable alternative to ``percentile_approx``:
    ``value(q) = min{ v : cum_count(v) · 10⁶ ≥ q_ppm · total }``, the
    classic "smallest value covering the rank" definition, evaluated in
    pure integer arithmetic (cross-multiplied — no division at all), so
    Spark, DuckDB, and a re-run on different partitioning all produce the
    IDENTICAL value.  t-digest sketches are the right call when the value
    domain is unbounded floats; corpus pipelines quantile bounded integer
    measures (token counts, line lengths, scores), where the value
    histogram is small and the exact answer is one partial-agg pass —
    the same histogram-cumulative device as lm.perplexity_buckets /
    classify.dsir_select.

    Returns (group?, q_ppm, value, n_le, total); quantiles of an empty
    group don't exist, so empty inputs yield no rows (never NULL).

    Scale shape: ONE corpus-sized partial-agg groupBy(value) — the
    exchange is bounded by |distinct values| per group, not by rows; the
    cumulative window runs over that bounded histogram (never over
    documents); the qs fan-out joins a |qs|-row broadcast literal frame;
    the per-(group, q) min is a second bounded groupBy.
    """
    gcols = [group_col] if group_col else []
    hist = docs.groupBy(*gcols, F.col(value_col).cast("long").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    w = (
        (Window.partitionBy(group_col) if group_col else Window.partitionBy())
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot_w = (
        Window.partitionBy(group_col) if group_col else Window.partitionBy()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        *gcols,
        "v",
        F.sum("_n").over(w).cast("long").alias("n_le"),
        F.sum("_n").over(tot_w).cast("long").alias("total"),
    )
    qs = sorted(int(q) for q in qs_ppm)
    qdf = F.explode(F.array(*[F.lit(q) for q in qs])).alias("q_ppm")
    fanned = cum.select(*gcols, "v", "n_le", "total", qdf)
    covered = fanned.where(
        F.col("n_le") * F.lit(1_000_000) >= F.col("q_ppm") * F.col("total")
    )
    best = covered.groupBy(*gcols, "q_ppm").agg(
        F.min(F.struct("v", "n_le", "total")).alias("_s")
    )
    return best.select(
        *gcols,
        "q_ppm",
        F.col("_s.v").alias("value"),
        F.col("_s.n_le").alias("n_le"),
        F.col("_s.total").alias("total"),
    )


def concentration_profile(
    df: DataFrame, key_col: str = "host", size_col: str = "n_bytes"
) -> DataFrame:
    """Corpus-concentration (Lorenz) profile by magnitude bucket: how much
    of the corpus sits on how few keys — the "top 1% of hosts hold 60% of
    the bytes" release-audit number that drives domain caps, politeness
    budgets, and skew-salting decisions.

    A true Lorenz curve needs a global rank over keys — a sort over 10^8
    hosts.  This is the scale-shaped substitute: keys bucket by the BIT
    LENGTH of their size total (integer log2 — the same ``length(bin(x))``
    device as DSIR), so the "curve" is at most 63 points regardless of key
    count:

    1. per-key totals (ONE partial-agg groupBy over the corpus);
    2. per-bucket (n_keys, bucket_total) — second groupBy, ≤63 groups;
    3. cumulative-from-the-top window over the ≤63-row bucket histogram
       (the only window, provably bounded — same class as pack_shards'
       P-row offsets) + 1-row broadcast grand totals;
    4. shares in exact integer ppm (IntegralDivide, non-negative).

    Keys with a zero/negative total are excluded (a zero-byte host is not
    a concentration datum, and bit-length is undefined there).  Returns
    (bucket, n_keys, bucket_total, cum_keys, cum_total, cum_keys_ppm,
    cum_total_ppm), one row per occupied magnitude bucket; reading row
    ``bucket=b`` says: "keys of magnitude ≥ 2^(b-1) number ``cum_keys``
    (``cum_keys_ppm`` of all keys) and hold ``cum_total_ppm`` of the
    corpus"."""
    from pyspark.sql import Window

    totals = (
        df.groupBy(F.col(key_col).alias("_key"))
        .agg(F.sum(F.col(size_col).cast("long")).alias("_total"))
        .filter(F.col("_total") > 0)
    )
    buckets = (
        totals.withColumn("bucket", F.expr("length(bin(_total))").cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("_total").alias("bucket_total"),
        )
    )
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = buckets.select(
        "bucket",
        "n_keys",
        "bucket_total",
        F.sum("n_keys").over(w).alias("cum_keys"),
        F.sum("bucket_total").over(w).alias("cum_total"),
    )
    grand = cum.agg(
        F.sum("n_keys").alias("_gk"), F.sum("bucket_total").alias("_gt")
    )
    return cum.crossJoin(F.broadcast(grand)).select(
        "bucket",
        "n_keys",
        "bucket_total",
        "cum_keys",
        "cum_total",
        F.expr("(cum_keys * 1000000) div _gk").alias("cum_keys_ppm"),
        F.expr("(cum_total * 1000000) div _gt").alias("cum_total_ppm"),
    )


def frequent_lines(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    min_hosts: int = 3,
) -> DataFrame:
    """Global boilerplate-line mining — the cross-HOST complement of
    :func:`host_line_dedup`: a line repeated across many pages of ONE
    host is that site's chrome (host_line_dedup removes it), but a line
    appearing on many DIFFERENT hosts ("all rights reserved", cookie
    banners, theme footers shipped with a CMS) is web-wide boilerplate —
    the global blocklist dictionary CCNet-class pipelines mine once per
    crawl and apply everywhere.

    Machinery: explode lines → trim/non-empty filter → DISTINCT
    (host, line) — dedup BEFORE counting so a mega-host cannot vote a
    line into the blocklist alone — → groupBy(line) host count ≥
    ``min_hosts``.  The count after the distinct IS the distinct-host
    count, so no count_distinct shuffle is needed.  At crawl scale the
    output is small by construction (a line on ≥k independent hosts is
    rare), which is what makes :func:`strip_frequent_lines`'s broadcast
    legal.  Returns (line, n_hosts)."""
    lines = docs.select(
        F.col(host_col).alias("_host"),
        F.explode(F.split(F.col(text_col), "\n")).alias("_raw"),
    ).select("_host", F.trim(F.col("_raw")).alias("line")).filter(
        F.col("line") != ""
    )
    return (
        lines.distinct()
        .groupBy("line")
        .agg(F.count("*").cast("long").alias("n_hosts"))
        .filter(F.col("n_hosts") >= int(min_hosts))
    )


def strip_frequent_lines(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a :func:`frequent_lines` blocklist: drop every blocklisted
    line (trim-compared) from every document, preserving the order and
    original (untrimmed) form of surviving lines.

    Scale shape: posexplode keeps (doc_id, pos, line), ONE left-anti
    join against the (small, broadcastable) blocklist, then groupBy
    (doc_id) re-assembly via sort_array over (pos, line) structs — the
    shuffle is keyed by doc_id and the per-group state is one document's
    lines.  Docs whose every line is boilerplate come back with empty
    text, not dropped — the caller's funnel decides their fate.
    Returns (doc_id, text) with ``text`` rebuilt."""
    bl = F.broadcast(blocklist.select(F.col("line").alias("_bad")))
    parts = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "_raw"),
    )
    kept = parts.join(
        bl, F.trim(parts["_raw"]) == bl["_bad"], "left_anti"
    )
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", F.col("_raw")))
                    ),
                    lambda s: s["_raw"],
                ),
                "\n",
            ).alias("text")
        )
    )
    ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(rebuilt, "doc_id", "left").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )


def mixture_plan(
    docs: DataFrame,
    weights_ppm: "dict[str, int]",
    target_total_tokens: int,
    source_col: str = "lang",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Training-mixture epoch planner — given the tokens AVAILABLE per
    source and the mixture weights a training run wants, how many tokens
    does each source contribute and how many EPOCHS of it is that?
    (Public background: repeating a source beyond ~4 epochs stops buying
    loss — Muennighoff 2023 data-constrained scaling; this table is the
    release audit that catches "your 2% source is actually 11 epochs of
    itself" before a run is launched.)

    ``weights_ppm`` maps source → parts-per-million of the target mix
    (callers validate they sum to ≤ 10^6).  Output one row per source
    present in EITHER the corpus or the weight map:
    (source, n_tokens, weight_ppm, planned_tokens, epochs_ppm, repeated)
    with planned_tokens = target · weight div 10^6, epochs_ppm =
    planned · 10^6 div available (0-token sources report NULL epochs —
    a demanded-but-absent source is a loud row, not a crash), repeated =
    epochs_ppm > 10^6.  All integer arithmetic; both products run in
    decimal(38,0), since target · 10^6 passes BIGINT above ~9.2e12
    target tokens (multi-trillion-token runs are the use case).

    Scale shape: ONE partial-agg groupBy over docs (#sources rows out),
    then a full-outer join against the tiny literal weight frame —
    driver-size both sides after the aggregate; nothing else touches
    the corpus."""
    spark = docs.sparkSession
    avail = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(F.col(tokens_col)).cast("long").alias("n_tokens")
    )
    w = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(weights_ppm.items())],
        "source string, weight_ppm long",
    )
    joined = avail.join(w, "source", "full_outer").select(
        "source",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("weight_ppm", F.lit(0)).cast("long").alias("weight_ppm"),
    )
    dec = "decimal(38,0)"
    planned = F.expr(
        f"cast(cast({int(target_total_tokens)} as {dec}) * cast(weight_ppm as {dec})"
        " div 1000000 as long)"
    )
    return (
        joined.withColumn("planned_tokens", planned)
        .withColumn(
            "epochs_ppm",
            F.expr(
                f"cast(cast(planned_tokens as {dec}) * 1000000"
                " div nullif(n_tokens, 0) as long)"
            ),
        )
        .withColumn(
            "repeated",
            F.coalesce(F.col("epochs_ppm") > 1000000, F.lit(False)),
        )
    )
