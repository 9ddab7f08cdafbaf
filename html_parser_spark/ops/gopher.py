"""Gopher-style document quality rules (Rae et al. 2021, §A.1.1).

The full published filter battery over a text column, complementing
``ops/corpus.repetition_stats`` (which covers the repetition subfamily):

* word count within [min_words, max_words]
* mean word length within [min_mean_len, max_mean_len]
* symbol-to-word ratio (``#`` and ellipsis) at most max_symbol_ratio
* at most max_bullet_frac of lines starting with a bullet
* at most max_ellipsis_frac of lines ending with an ellipsis
* at least min_alpha_frac of words containing an alphabetic character
* at least min_stop_hits distinct common English stop words present

Every rule is evaluated in INTEGER arithmetic (``10*symbols <= n_words``
instead of ``symbols/n_words <= 0.1``): no float ratio ever exists, so
the booleans are bit-exact across engines, partitionings, and re-runs —
a document can never flip keep/drop because of a last-ulp division.

Scale: pure ``pyspark.sql.functions`` column expressions — whole-stage
codegen, zero Python, zero shuffle; a straight map over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _count_occurrences(col, needle: str, width: int):
    """Exact non-overlapping occurrence count via length difference —
    identical left-to-right greedy semantics in Spark and DuckDB."""
    raw = F.length(col) - F.length(F.replace(col, F.lit(needle)))
    return raw if width == 1 else (raw / width).cast("long")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
) -> DataFrame:
    """docs → per-doc Gopher rule flags + the combined ``keep`` verdict.

    Returns every input column plus (n_words, word_chars, n_lines,
    keep_word_count, keep_mean_len, keep_symbol_ratio, keep_bullets,
    keep_ellipsis_lines, keep_alpha, keep_stopwords, keep)."""
    t = F.col(text_col)
    toks = F.split(F.trim(t), r"\s+")
    lines = F.split(t, "\n")
    n_words = F.size(toks).cast("long")
    # total non-whitespace chars == total chars across words
    word_chars = F.length(F.regexp_replace(t, r"\s+", "")).cast("long")
    n_lines = F.size(lines).cast("long")
    symbols = (
        _count_occurrences(t, "#", 1)
        + _count_occurrences(t, "…", 1)
        + _count_occurrences(t, "...", 3)
    ).cast("long")
    bullet_lines = F.size(
        F.filter(lines, lambda x: F.ltrim(x).rlike("^[•*-]"))
    ).cast("long")
    ellipsis_lines = F.size(
        F.filter(lines, lambda x: F.rtrim(x).rlike("(\\.\\.\\.|…)$"))
    ).cast("long")
    alpha_words = F.size(
        F.filter(toks, lambda x: x.rlike("[A-Za-z]"))
    ).cast("long")
    low = F.transform(toks, F.lower)
    stop_hits = sum(
        (F.array_contains(low, w).cast("long") for w in STOP_WORDS),
        F.lit(0).cast("long"),
    )
    flags = {
        "keep_word_count": (n_words >= min_words) & (n_words <= max_words),
        # mean word length in [3, 10]: 3*n <= chars <= 10*n, integer-exact
        "keep_mean_len": (word_chars >= min_mean_len * n_words)
        & (word_chars <= max_mean_len * n_words),
        # symbol-to-word ratio <= 0.1
        "keep_symbol_ratio": 10 * symbols <= n_words,
        # <= 90% of lines bullet-started
        "keep_bullets": 10 * bullet_lines <= 9 * n_lines,
        # <= 30% of lines ellipsis-terminated
        "keep_ellipsis_lines": 10 * ellipsis_lines <= 3 * n_lines,
        # >= 80% of words contain an alphabetic char
        "keep_alpha": 5 * alpha_words >= 4 * n_words,
        "keep_stopwords": stop_hits >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return docs.select(
        "*",
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_lines.alias("n_lines"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )
