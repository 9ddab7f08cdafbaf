"""Text-analysis operators for the training-data pipeline (brief §extras):
fingerprinting, winnowing, PII scan/scrub, web-text cleaning, sentence
split, readability, C4 line cleaning, code routing and the term blocklist.

All pure ``pyspark.sql.functions`` column expressions — JVM-side, whole-stage
codegen, no Python in the hot path — except NFC normalization
(:func:`nfc_normalize_udf`), which Spark lacks: one Arrow row UDF.  Each
has an ANSI-SQL twin in ``__spark_entry__.oracle_sql`` (DuckDB-checked),
so regex/semantics here are deliberately restricted to the portable subset
(ASCII classes, md5).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column, DataFrame, functions as F, types as T

from html_parser_spark.spark.pipeline import row_udf


def tokens(col: Column) -> Column:
    """Whitespace tokenization; '' → empty array (portable to DuckDB)."""
    return F.split(F.trim(col), r"\s+")


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized text (the
    rolling-hash analog, portable to any engine)."""
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


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
