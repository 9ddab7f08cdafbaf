"""Text-analysis operators for the training-data pipeline (brief §extras):
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure ``pyspark.sql.functions`` column expressions — JVM-side, whole-stage
codegen, no Python in the hot path — except NFC normalization
(:func:`nfc_normalize_udf`), which Spark lacks: one Arrow row UDF.  Each
has an ANSI-SQL twin in ``__spark_entry__.oracle_sql`` (DuckDB-checked),
so regex/semantics here are deliberately restricted to the portable subset
(ASCII classes, md5).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from html_parser_spark.spark.pipeline import row_udf

# deliberately tiny, portable stopword list (the synthetic corpus vocabulary)
STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization; '' → empty array (portable to DuckDB)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens(col))
    )


def stopword_count(col: Column) -> Column:
    c = F.lit(0)
    for w in STOPWORDS:
        # count word-bounded occurrences of each stopword
        c = c + F.size(F.split(F.concat(F.lit(" "), col, F.lit(" ")), f" {w} ")) - 1
    return c


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score (rounded for
    cross-engine comparability)."""
    t = F.col(text_col)
    n_tok = token_count(t)
    n_chars = F.length(t)
    n_stop = stopword_count(t)
    # ASCII punctuation count via strip-and-diff (portable char class)
    n_punct = n_chars - F.length(F.regexp_replace(t, "[.,;:!?'\"()-]", ""))
    punct_ratio = F.when(
        n_chars > 0,
        F.floor(n_punct.cast("double") / n_chars * 10000 + F.lit(0.5)) / 10000,
    ).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tok > 0, F.round((n_chars - (n_tok - 1)) / n_tok, 4)).otherwise(
        F.lit(0.0)
    )
    stop_ratio = F.when(n_tok > 0, F.round(n_stop / n_tok, 4)).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        "lang",
        n_chars.alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        F.round(
            F.least(F.lit(1.0), n_tok / F.lit(100.0)) * (F.lit(1.0) - stop_ratio), 4
        ).alias("quality_score"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized text (the
    rolling-hash analog, portable to any engine)."""
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


def _avg2(sum_col: Column, cnt_col: Column) -> Column:
    """2-decimal half-up average, bit-identical across engines: the integer
    sums are exact and identical everywhere, the double cast/divide/floor are
    IEEE-deterministic, and no engine-specific ``round(double)`` (which ties
    to shortest-repr in Spark but exact-binary in DuckDB) is involved."""
    q = sum_col.cast("double") / cnt_col
    return F.floor(q * 100 + F.lit(0.5)) / 100


def lang_profile(docs: DataFrame) -> DataFrame:
    """Corpus profile per language tag (n-gram language-ID support table).

    Averages are exact-sum ÷ count (integer sums are order-independent), so
    the result is deterministic under any partial-aggregation order.
    """
    t = F.col("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.length(t)).alias("_sum_chars"),
            F.sum(token_count(t)).alias("_sum_tokens"),
            F.sum(F.when(t.rlike("spark"), 1).otherwise(0)).alias("docs_with_spark"),
        )
        .select(
            "lang",
            "docs",
            _avg2(F.col("_sum_chars"), F.col("docs")).alias("avg_chars"),
            _avg2(F.col("_sum_tokens"), F.col("docs")).alias("avg_tokens"),
            "docs_with_spark",
        )
    )


# --- n-gram language identification (brief §extras: "language-ID") ---------


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct lowercase character n-grams of a text column — pure JVM
    (sequence + transform + substr), no Python.  '' / short text → []."""
    t = F.lower(F.regexp_replace(col, r"\s+", " "))
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - (n - 1)),
        lambda i: t.substr(i, F.lit(n)),
    )
    return F.when(F.length(t) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def train_lang_profiles(
    docs: DataFrame, text_col: str = "text", lang_col: str = "lang",
    n: int = 3, top_n: int = 50,
) -> DataFrame:
    """Per-language trigram profile: the ``top_n`` most frequent distinct
    n-grams (by document frequency), weighted ``top_n … 1`` by rank.

    Scale shape: explode is bounded by text length; the profile output is
    tiny (languages × top_n rows) — the classify join broadcasts it."""
    from pyspark.sql import Window

    grams = docs.select(
        F.col(lang_col).alias("lang"),
        F.explode(char_ngrams(F.col(text_col), n)).alias("gram"),
    )
    counts = grams.groupBy("lang", "gram").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "gram")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("lang", "gram", (F.lit(top_n) - F.col("rank") + 1).alias("weight"))
    )


def classify_language(
    docs: DataFrame, profiles: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document language prediction: sum of profile weights over the
    document's distinct n-grams, argmax per doc (ties → lexicographic lang).
    Integer scores — exact and order-independent in any engine.

    Documents with no profile-matching n-gram produce no row (unknown)."""
    from pyspark.sql import Window

    dg = docs.select(
        "doc_id", F.explode(char_ngrams(F.col(text_col), n)).alias("gram")
    )
    scored = (
        dg.join(F.broadcast(profiles), "gram")
        .groupBy("doc_id", "lang")
        .agg(F.sum("weight").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "lang")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )


# BPE-ish pre-tokenizer (brief: "token counting (whitespace + a BPE-ish
# regex)"): GPT-2-style word/number/punct split with the leading-space
# convention, restricted to RE2-compatible syntax (no lookahead) so the
# SAME pattern runs in Spark (Java regex) and the DuckDB oracle (RE2).
BPE_SPLIT_RE = r" ?[A-Za-zА-Яа-яЁё]+| ?[0-9]+| ?[^ A-Za-zА-Яа-яЁё0-9]+"


def bpe_token_count(col: Column) -> Column:
    """Number of BPE-ish pre-tokens (JVM regexp_extract_all, codegen)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_SPLIT_RE), F.lit(0)))


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003): hash
    every character k-gram, take the minimum of each w-length window of
    consecutive hashes, emit the distinct minima.  Guarantees any shared
    substring of length ≥ k+w-1 contributes at least one shared fingerprint
    — the rolling-hash fingerprint family the brief names, robust to edits
    in a way the whole-document digest (``fingerprint``) is not.

    All JVM higher-order functions; hashes are md5-hex strings (lexicographic
    minima are portable to any engine).  Each intermediate array is
    materialized as a column — Catalyst does no CSE inside lambdas (see
    ops/dedup.py PERF note)."""
    t = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    d = docs.withColumn("_t", t).withColumn("_n", F.length("_t"))
    grams = F.when(
        F.col("_n") >= k,
        F.transform(
            F.sequence(F.lit(1), F.col("_n") - (k - 1)),
            lambda i: F.col("_t").substr(i, F.lit(k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.withColumn("_h", F.transform(grams, lambda g: F.md5(g)))
    nh = F.size(F.col("_h"))
    mins = F.when(
        nh >= w,
        F.transform(
            F.sequence(F.lit(1), nh - (w - 1)),
            lambda i: F.array_min(F.slice(F.col("_h"), i, w)),
        ),
    ).otherwise(F.col("_h"))
    return d.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5, text_col: str = "text") -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic training-data relevance
    primitive (term weighting for corpus filtering / topic sampling).

    tf = term count in doc; idf = ln((N+1)/(df+1)) (smoothed, non-negative);
    rank on the ROUNDED score (4 dp) with term as tiebreak so the ordering is
    identical cross-engine (a last-ulp ln() difference cannot flip a rank).
    All JVM expressions: explode → two groupBys (partial-agg friendly) → one
    broadcast of the single-row corpus count — no UDF, scales as a pair of
    shuffles on (doc_id, term)/(term)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n = docs.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 4
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "score", "rank")
    )


# --- PII scanning / scrubbing (brief §extras: what a crawl pipeline must do
# before text ships to training) -------------------------------------------

# Dialect-portable patterns: the same source strings compile identically
# under Java regex (Spark) and RE2 (DuckDB oracle) — no backreferences, no
# lookaround, ASCII \d/\b semantics shared by both engines.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — deliberately permissive (recall over precision;
    # scrubbing a false positive is cheap, leaking a real address is not)
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # dotted-quad IPs (no octet-range check: scrub 999.1.1.1 too)
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    # 9+ digit runs: phone numbers, SSN-ish ids, account numbers
    "longnum": r"\b\d{9,}\b",
}


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII match counts, one column per pattern class plus the
    total.  Pure `regexp_extract_all` + `size` — JVM-side, codegen, no
    shuffle; at crawl scale this is a free rider on any existing scan."""
    cols = [F.col("doc_id")]
    total = F.lit(0).cast("long")
    for name, pat in PII_PATTERNS.items():
        # idx=0 (whole match): Spark defaults to capture group 1, which
        # errors on patterns whose only groups are non-capturing
        c = F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).cast("long")
        cols.append(c.alias(f"n_{name}"))
        total = total + c
    cols.append(total.alias("pii_total"))
    return docs.select(*cols)


def pii_scrub(col: Column) -> Column:
    """Redact every PII class with a typed placeholder (``<EMAIL>`` …) —
    chained `regexp_replace`, order matters: emails first so their digit
    runs and dotted hosts are gone before the broader numeric patterns."""
    out = col
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


# Zero-width and other invisible code points that litter scraped web text
# (copy-paste artifacts, SEO spam, PDF ligature leftovers).  Soft hyphen,
# zero-width space/joiner/non-joiner, word-joiner, BOM/ZWNBSP,
# directional marks.  Kept as an explicit list so the class is auditable.
INVISIBLES_PATTERN = (
    "[\u00ad\u200b\u200c\u200d\u2060\ufeff\u200e\u200f]"
)


def count_invisibles(col: Column) -> Column:
    """How many invisible code points a string carries (JVM, codegen)."""
    return (
        F.length(col) - F.length(F.regexp_replace(col, INVISIBLES_PATTERN, ""))
    ).cast("long")


def strip_invisibles(col: Column) -> Column:
    """Drop invisible code points — ONE regexp_replace, JVM-side."""
    return F.regexp_replace(col, INVISIBLES_PATTERN, "")


def _nfc(s: str) -> str:
    return unicodedata.normalize("NFC", s)


def nfc_normalize_udf():
    """Unicode NFC normalization as ONE Arrow row UDF
    (:func:`~html_parser_spark.spark.pipeline.row_udf`).

    Spark has no built-in normalizer, so this is the one text-cleaning
    step that leaves the JVM: Arrow batches, ``unicodedata.normalize`` per
    string.  DuckDB's `nfc_normalize` is the oracle twin (q_text_clean):
    both engines implement Unicode's canonical composition, so outputs are
    byte-identical."""
    return row_udf(_nfc, T.StringType())


def clean_web_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The standard crawl-text cleanup: count + strip invisibles, then
    NFC-normalize.  One narrow projection + one Arrow stage, no shuffle."""
    stripped = strip_invisibles(F.col(text_col))
    return docs.select(
        "*",
        count_invisibles(F.col(text_col)).alias("n_invisibles"),
    ).withColumn("clean_text", nfc_normalize_udf()(stripped))


def trigram_familiarity(
    docs: DataFrame,
    profiles: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
) -> DataFrame:
    """Perplexity proxy without a language model: how much of a document's
    distinct character-n-gram set appears in its OWN language's profile
    (``train_lang_profiles`` output).  Low familiarity flags domain shift,
    encoding mojibake, or wrong-language tags — the docs a KenLM filter
    would catch, in pure integer counts (exact, oracle-matchable).

    Scale shape: explode bounded by text length; the profile is tiny
    (languages × top_n) and BROADCAST into the semi-join; one map-side
    partial-agg groupBy per side.  Returns (doc_id, lang, n_grams,
    n_known)."""
    dg = docs.select(
        "doc_id",
        F.col(lang_col).alias("lang"),
        F.explode(char_ngrams(F.col(text_col), n)).alias("gram"),
    )
    totals = dg.groupBy("doc_id", "lang").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    known = (
        dg.join(F.broadcast(profiles.select("lang", "gram")), ["lang", "gram"])
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_known"))
    )
    return totals.join(known, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_grams",
        F.coalesce("n_known", F.lit(0)).cast("long").alias("n_known"),
    )


def c4_line_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_kept_lines: int = 5,
) -> DataFrame:
    """C4's line-level cleaning (Raffel et al. 2020 §2.2) — the most-cited
    web-text cleanup recipe, applied per page:

    line rules (a line survives iff ALL hold):
      * ends in a terminal punctuation mark (``.``, ``!``, ``?`` or a
        closing quote);
      * has at least ``min_words_per_line`` whitespace words;
      * does not contain the word "javascript" (case-insensitive — the
        'please enable JavaScript' boilerplate family).

    page rules (the page is dropped outright iff ANY holds):
      * contains the placeholder phrase "lorem ipsum" (case-insensitive);
      * contains a curly brace (code, not prose);
      * fewer than ``min_kept_lines`` lines survive the line rules.

    Returns (doc_id, n_lines_in, n_lines_kept, page_keep, clean_text)
    for EVERY input doc (filtering is the caller's one-liner:
    ``.where("page_keep")``) — keeping dropped pages visible is what lets
    a curation funnel report what each rule cost.

    Scale shape: pure codegen column expressions (split → transform →
    filter → array_join inside one projection) — zero shuffle, zero
    Python, fuses into whatever scan precedes it."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.transform(F.split(text, "\n"), lambda l: F.trim(l))
    kept = F.filter(
        lines,
        lambda l: l.rlike('[.!?"”]$')
        & (F.size(F.split(l, r"\s+")) >= min_words_per_line)
        & ~F.lower(l).contains("javascript"),
    )
    n_in = F.size(lines).cast("long")
    n_kept = F.size(kept).cast("long")
    page_keep = (
        ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
        & (n_kept >= min_kept_lines)
    )
    return docs.select(
        "doc_id",
        n_in.alias("n_lines_in"),
        n_kept.alias("n_lines_kept"),
        page_keep.alias("page_keep"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


# Unicode script classes, ALPHABETICAL — the dominant-script tie-break
# order.  Java regex needs the Is- prefix for script properties; the
# DuckDB oracle uses RE2's bare \p{Script} names — same semantics, two
# independent implementations.
SCRIPT_CLASSES = [
    ("arabic", r"\p{IsArabic}"),
    ("cjk", r"[\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsHangul}]"),
    ("cyrillic", r"\p{IsCyrillic}"),
    ("greek", r"\p{IsGreek}"),
    ("latin", r"\p{IsLatin}"),
]


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode-script histogram + dominant script per document — the
    routing step multilingual pipelines run BEFORE n-gram language ID
    (scripts partition languages into families; a Cyrillic page never
    needs the Latin-language profiles).

    Returns (doc_id, n_arabic, n_cjk, n_cyrillic, n_greek, n_latin,
    n_script_chars, dominant_script) — dominant is the alphabetically
    first script holding the maximum count, NULL when the text has no
    script characters at all (digits/punctuation-only).

    Scale shape: five ``regexp_count`` expressions in ONE codegen
    projection — zero shuffle, zero Python, integer-exact counts that
    the DuckDB oracle reproduces with RE2's script classes."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    d = docs.select(
        "doc_id",
        *[
            F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
            for name, pat in SCRIPT_CLASSES
        ],
    )
    names = [n for n, _ in SCRIPT_CLASSES]
    total = names[0] and sum(
        (F.col(f"n_{n}") for n in names[1:]), F.col(f"n_{names[0]}")
    )
    m = F.greatest(*[F.col(f"n_{n}") for n in names])
    dom = F.when(total == 0, F.lit(None).cast("string"))
    for n in names:
        dom = dom.when(F.col(f"n_{n}") == m, F.lit(n))
    return d.select(
        "doc_id",
        *[f"n_{n}" for n in names],
        total.alias("n_script_chars"),
        dom.alias("dominant_script"),
    )


def sentence_split(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex sentence segmentation: one row per sentence — the unit
    sentence-level dedup / decontamination / packing operate on.

    Rule: a sentence boundary is terminal punctuation (``.!?``) followed
    by whitespace.  Implemented as sentinel injection + split rather than
    a lookbehind, because RE2 (the oracle's engine) has no lookarounds —
    ``regexp_replace('([.!?])\\s+' → '$1␞')`` then split on the sentinel
    works identically in both engines.  Sentences are trimmed; empty
    segments drop; docs with no boundary yield one sentence (the whole
    trimmed text) and NULL/empty docs yield zero rows.

    Returns (doc_id, sent_idx, sentence, n_sent_tokens).  Pure narrow
    ops: replace → split → filter → posexplode; zero shuffle at any
    scale."""
    text = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    marked = F.regexp_replace(text, r"([.!?])\s+", "$1␞")
    sents = F.filter(
        F.transform(F.split(marked, "␞"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    d = docs.select(
        "doc_id", F.posexplode(sents).alias("sent_idx", "sentence")
    )
    return d.select(
        "doc_id",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "sentence",
        F.size(F.split(F.col("sentence"), r"\s+")).cast("long").alias(
            "n_sent_tokens"
        ),
    )


def pmi_bigrams(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 50,
    scale: int = 10**4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level PMI collocation mining, scaled-integer exact.

    The classic corpus-linguistics signal (Church & Hanks 1990) that
    LLM-data work reuses for tokenizer-merge sanity checks and template
    detection: adjacent word pairs whose joint frequency beats the
    independence prediction.  PMI = log p(xy)/(p(x)p(y)); since log is
    monotone we rank by the UNLOGGED ratio as one BIGINT expression,

        pmi_scaled = c_xy * n_tokens * scale div (c_x * c_y)

    which is bit-identical across engines (no float log, no float
    sum).  >scale means positively associated.  Overflow bound:
    ``c_xy * n_tokens * scale < 2^63`` holds to ~3*10^13 corpus tokens
    at scale=10^4 for pairs up to c_xy=3*10^4; larger corpora move the
    products to DECIMAL(38,0), same plan.

    Plan shape: ONE explode for unigram counts, ONE for adjacent
    pairs, each a partial-agg groupBy (the hot words combine map-side);
    the ``min_count`` filter prunes the pair table BEFORE the two
    unigram equi-joins (join input is the collocation candidates, not
    the raw pair stream); top-k is TakeOrderedAndProject.  No step is
    corpus-pairwise; cost is O(total tokens).  Catalyst does not reuse
    the unigram subplan across the two joins, so the token scan runs
    once per side; a production job mining many corpora should
    materialize ``uni`` (one write) and join both sides against the
    table — the expressions here are unchanged by that split.

    Returns ``(w1, w2, c_xy, c_x, c_y, pmi_scaled)``, the k highest-PMI
    pairs (ties broken by the pair itself, total order).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("_t"),
    )
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_tokens = toks.agg(
        F.coalesce(F.sum(F.size("_t")), F.lit(0)).cast("long").alias("n_tokens")
    )
    pairs = (
        toks.select(
            F.explode(
                F.when(
                    F.size("_t") >= 2,
                    F.expr(
                        "transform(sequence(1, size(_t) - 1), i -> struct("
                        "element_at(_t, i) AS w1, element_at(_t, i + 1) AS w2))"
                    ),
                ).otherwise(F.expr("array()"))
            ).alias("p")
        )
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= int(min_count))
    )
    joined = (
        pairs.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_tokens))
    )
    out = joined.select(
        "w1",
        "w2",
        "c_xy",
        "c_x",
        "c_y",
        F.expr(f"c_xy * n_tokens * {int(scale)}L div (c_x * c_y)").alias(
            "pmi_scaled"
        ),
    )
    return out.orderBy(
        F.desc("pmi_scaled"), F.asc("w1"), F.asc("w2")
    ).limit(k)


def readability_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Classic readability / lexical-diversity features, integer-exact.

    The quality-filter family Flesch-Kincaid-style gates use (word and
    sentence counts, syllable-group proxy, type-token ratio) — commonly
    listed alongside Gopher's battery as model-free quality signals.
    Everything is one projection of JVM regexp/array expressions over
    the text column: zero shuffle, zero Python, O(bytes) per row.

    Returned columns (all BIGINT):

    * ``n_words`` — whitespace tokens.
    * ``n_sentences`` — maximal ``[.!?]+`` runs, floored at 1 when the
      doc has words (the standard guard so ratios stay defined).
    * ``n_syllable_groups`` — maximal ``[aeiouyAEIOUY]+`` runs, the
      textbook syllable proxy (exact syllabification needs a
      dictionary; vowel groups are the published cheap estimator).
    * ``ttr_x10000`` — type-token ratio scaled: distinct tokens *
      10000 div n_words (0 for empty docs).
    * ``fk_x100`` — Flesch-Kincaid grade level * 100 with each ratio
      floored: 39*w div s + 1180*sy div w - 1559 (0 for empty docs).
      Floors make the value bit-identical across engines; the <=0.02
      grade-level quantization is irrelevant for thresholding.
    """
    t = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    words = F.size(t).cast("long")
    sents_raw = F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")).cast("long")
    sents = F.when(words > 0, F.greatest(sents_raw, F.lit(1).cast("long"))).otherwise(
        F.lit(0).cast("long")
    )
    syl = F.regexp_count(F.col(text_col), F.lit(r"[aeiouyAEIOUY]+")).cast("long")
    distinct = F.size(F.array_distinct(t)).cast("long")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syl.alias("n_syllable_groups"),
        F.when(words > 0, (distinct * 10000).cast("long"))
        .otherwise(F.lit(0))
        .alias("_ttr_num"),
        F.when(words > 0, F.lit(1)).otherwise(F.lit(0)).alias("_nz"),
    ).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllable_groups",
        F.when(F.col("_nz") == 1, F.expr("_ttr_num div n_words"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ttr_x10000"),
        F.when(
            F.col("_nz") == 1,
            F.expr(
                "39 * n_words div n_sentences"
                " + 1180 * n_syllable_groups div n_words - 1559"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("fk_x100"),
    )


def token_prf(
    pairs: DataFrame,
    id_col: str = "doc_id",
    got_col: str = "got_text",
    ref_col: str = "ref_text",
    scale: int = 1_000_000,
) -> DataFrame:
    """Token-multiset precision/recall/F1 between an extracted text and a
    reference text, per document — the extraction-QA metric a 100 TB
    pipeline runs whenever the kernel changes: the contract is
    byte-identical text per url on the golden fixtures, but against a
    labeled VALIDATION sample (human-cleaned pages, a trafilatura-style
    second opinion, last month's output) you want the drift QUANTIFIED,
    not just flagged — which pages lost content (recall), which gained
    boilerplate (precision), and how much.

    Tokenization matches the corpus diagnostics (lowercase, ``\\s+``
    split, drop empties).  ``overlap = Σ_tok min(c_got, c_ref)`` (true
    multiset intersection — repeated tokens must match per-occurrence,
    so a page that duplicates a paragraph cannot hide behind set
    semantics); ``precision_ppm = overlap·scale div n_got``,
    ``recall_ppm = overlap·scale div n_ref``, ``f1_ppm = 2·overlap·scale
    div (n_got + n_ref)`` (the exact multiset-Dice identity — no float
    harmonic mean).  Empty sides degrade to 0-ppm, never NULL or a
    divide-by-zero.  All BIGINT IntegralDivide over non-negative
    operands: bit-identical across engines, partitionings, and shuffle
    orders.

    Scale shape: two explode → partial-agg groupBy(doc, tok) counts, ONE
    equi-join on (doc, tok) (both sides pre-aggregated, uniform md5-free
    keys co-partition), ONE groupBy(doc) fold.  No window, no Python, no
    corpus-sized broadcast; every shuffle is keyed by doc_id(+tok), so
    skew is bounded by the longest single document.
    """

    def counts(col: str, out: str) -> DataFrame:
        return (
            pairs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(
                    F.split(F.lower(F.col(col)), r"\s+")
                ).alias("tok"),
            )
            .filter(F.length("tok") > 0)
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    g = counts(got_col, "c_got")
    r = counts(ref_col, "c_ref")
    per_tok = g.join(r, ["doc_id", "tok"], "full_outer").select(
        "doc_id",
        F.coalesce("c_got", F.lit(0)).alias("c_got"),
        F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
    )
    folded = per_tok.groupBy("doc_id").agg(
        F.sum("c_got").cast("long").alias("n_got"),
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum(F.least("c_got", "c_ref")).cast("long").alias("overlap"),
    )
    # docs whose BOTH texts tokenize to nothing never reach the join —
    # re-attach them so the metric covers every input row
    base = pairs.select(F.col(id_col).alias("doc_id")).distinct()
    s = int(scale)
    return (
        base.join(folded, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_got", F.lit(0)).cast("long").alias("n_got"),
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("overlap", F.lit(0)).cast("long").alias("overlap"),
        )
        .select(
            "doc_id",
            "n_got",
            "n_ref",
            "overlap",
            F.coalesce(
                F.expr(f"(overlap * {s}) div nullif(n_got, 0)"), F.lit(0)
            ).cast("long").alias("precision_ppm"),
            F.coalesce(
                F.expr(f"(overlap * {s}) div nullif(n_ref, 0)"), F.lit(0)
            ).cast("long").alias("recall_ppm"),
            F.coalesce(
                F.expr(f"(2 * overlap * {s}) div nullif(n_got + n_ref, 0)"),
                F.lit(0),
            ).cast("long").alias("f1_ppm"),
        )
    )


# Code-line signals — three independent, deliberately simple detectors
# (statement terminators, block indentation, declaration keywords).  Plain
# character classes and alternations only: Java regex and RE2 compile the
# identical automaton, so the DuckDB oracle replays them verbatim.
CODE_PUNCT_RE = r"[;{}]\s*$"
CODE_INDENT_RE = r"^(\t|    )"
CODE_KEYWORD_RE = (
    r"^\s*(def |class |function |#include|import |from |return |"
    r"var |const |let |public |private |for \(|while \(|if \()"
)


def code_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-vs-prose routing profile — the signal behind splitting a web
    corpus into natural-language and code streams (separate quality gates,
    separate tokenizers, separate mixing weights; the StarCoder/CodeParrot
    pipelines are entire corpora built from what this flags).

    Per NON-BLANK line, a line is a "code line" iff any of:

    * it ends with a statement terminator / block brace (``;`` ``{`` ``}``);
    * it starts with block indentation (a tab or 4+ spaces);
    * it starts with a declaration keyword (``def``, ``function``,
      ``import``, ``#include``, ``const``, ``for (`` …).

    Returns (doc_id, n_lines, code_lines, code_ppm) with ``code_ppm`` the
    exact integer parts-per-million of non-blank lines flagged (0 for a
    doc with no non-blank lines).  Routing is the caller's threshold
    filter, same contract as ``c4_line_filter``'s ``page_keep``.

    Scale shape: pure codegen (split → filter inside one projection) —
    zero shuffle, zero Python; fuses into the preceding scan."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(
        F.split(text, "\n"), lambda l: F.trim(l) != ""
    )
    code = F.filter(
        lines,
        lambda l: l.rlike(CODE_PUNCT_RE)
        | l.rlike(CODE_INDENT_RE)
        | l.rlike(CODE_KEYWORD_RE),
    )
    n_lines = F.size(lines).cast("long")
    n_code = F.size(code).cast("long")
    base = docs.select(
        "doc_id", n_lines.alias("n_lines"), n_code.alias("code_lines")
    )
    return base.select(
        "doc_id",
        "n_lines",
        "code_lines",
        F.when(
            F.col("n_lines") > 0,
            F.expr("(code_lines * 1000000) div n_lines"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("code_ppm"),
    )


def term_blocklist_flags(
    docs: DataFrame, terms: "list[str]", text_col: str = "text"
) -> DataFrame:
    """C4-style document-level term-blocklist gate (Raffel 2020 §2.2 drops
    any page containing a word from a public blocklist): per doc,
    ``blocked`` plus the first offending term (sorted — deterministic) for
    gate-audit explainability.  Returns (doc_id, blocked, blocked_term
    '' when clean).

    Matching is TOKEN-level: lowercase, split on runs of characters that
    are neither Unicode letters nor digits (``[^\\p{L}\\p{N}]+`` — the same
    pattern in Java regex and DuckDB's RE2, so Cyrillic terms match too)
    — so 'badWord.' matches 'badword' but 'embadwordded' does not (the
    substring false-positive C4's word-boundary matching avoids).  A term
    that still contains a separator (a phrase, 'bad-word') could never
    match one token, so it raises ValueError instead of being silently
    ignored; an empty term list blocks nothing.  The term list rides the
    plan as ONE array literal (hundreds of terms — C4's list is ~400 —
    cost nothing as codegen); for a 10^6-term lexicon, switch to the
    explode + broadcast semi-join form instead of growing the literal.
    Pure projection: zero shuffle, zero Python."""
    import unicodedata

    tl = sorted({t.lower() for t in terms})
    for t in tl:
        if any(unicodedata.category(c)[0] not in "LN" for c in t):
            raise ValueError(
                f"blocklist term {t!r} contains a separator and can never "
                "match a single token"
            )
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"[^\p{L}\p{N}]+"),
        lambda x: F.length(x) > 0,
    )
    hits = F.array_sort(F.array_intersect(F.array_distinct(toks), F.lit(tl)))
    return docs.select(
        "doc_id",
        (F.size(hits) > 0).alias("blocked"),
        F.coalesce(F.try_element_at(hits, F.lit(1)), F.lit("")).alias("blocked_term"),
    )
