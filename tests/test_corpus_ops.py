"""Corpus-curation operators (ops/corpus.py): deterministic splits,
contamination audit, repetition features, dedup-survivor materialization."""

import hashlib

from pyspark.sql import functions as F


def _bucket(i: int) -> int:
    return int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)


def _split_of(i: int) -> str:
    b = _bucket(i)
    return "train" if b < 205 else ("valid" if b < 230 else "test")


def test_assign_split_deterministic_and_proportional(spark):
    from html_parser_spark.ops.corpus import assign_split

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: r.split for r in assign_split(docs).collect()}
    # pure function of the id: matches an independent python md5, so the
    # assignment is engine- and partitioning-independent
    for i in (0, 1, 17, 999, 1999):
        assert got[i] == _split_of(i)
    # repartitioning cannot move a document across splits
    got2 = {
        r.doc_id: r.split
        for r in assign_split(docs.repartition(13)).collect()
    }
    assert got == got2
    from collections import Counter

    c = Counter(got.values())
    assert 0.74 <= c["train"] / 2000 <= 0.86
    assert 0.06 <= c["valid"] / 2000 <= 0.14
    assert 0.06 <= c["test"] / 2000 <= 0.14


def test_repetition_stats_hand_checked(spark):
    from html_parser_spark.ops.corpus import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),      # top a 3/4; bigrams [a a, a a, a b] → dup 2/3
            (2, "b a b a"),      # tie a=2 b=2 → min token wins: a
            (3, "x"),            # no bigrams → dup frac 0.0
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert got[1].n_tokens == 4 and got[1].top_word == "a"
    assert abs(got[1].top_word_frac - 0.75) < 1e-9
    assert abs(got[1].dup_bigram_frac - round(2 / 3, 4)) < 1e-9
    assert got[2].top_word == "a" and abs(got[2].top_word_frac - 0.5) < 1e-9
    assert got[3].n_tokens == 1 and got[3].top_word == "x"
    assert got[3].top_word_frac == 1.0 and got[3].dup_bigram_frac == 0.0


def test_dedup_survivors_keeps_canonical_only(spark):
    from html_parser_spark.ops.corpus import dedup_survivors

    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, dup_text, "en", len(dup_text)),
        (2, dup_text, "en", len(dup_text)),          # exact near-dup of 1
        (3, dup_text + " iota", "en", len(dup_text) + 5),
        (10, "one unique sentence about nothing shared", "en", 41),
        (11, "another totally different document body here", "de", 45),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars long")
    kept = sorted(r.doc_id for r in dedup_survivors(docs, num_hashes=4, bands=2).collect())
    # 1 survives as canonical; 2 (and 3 if banded together) drop; 10/11 never
    # appear in any pair so they pass through the anti-join untouched
    assert 1 in kept and 2 not in kept
    assert 10 in kept and 11 in kept
    langs = {r.doc_id: r.lang for r in dedup_survivors(docs, num_hashes=4, bands=2).collect()}
    assert langs[11] == "de"


def test_chunk_plan_hand_checked(spark):
    from html_parser_spark.ops.corpus import chunk_plan

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(7))), (2, "solo")],
        "doc_id long, text string",
    )
    rows = chunk_plan(docs, chunk_tokens=3).collect()
    by_key = {(r.doc_id, r.chunk_idx): r for r in rows}
    assert len(by_key) == 4  # ceil(7/3)=3 chunks + 1
    assert by_key[(1, 0)].chunk_text == "t0 t1 t2"
    assert by_key[(1, 2)].chunk_text == "t6"
    assert by_key[(1, 2)].n_chunk_tokens == 1
    assert by_key[(2, 0)].n_chunk_tokens == 1
    # chunks reassemble the document exactly (no token lost or duplicated)
    joined = " ".join(
        by_key[(1, i)].chunk_text for i in range(3)
    )
    assert joined == " ".join(f"t{i}" for i in range(7))


def test_pii_scan_and_scrub(spark):
    from html_parser_spark.ops.text import pii_scan, pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@mail.example.com or 10.0.0.1 id 123456789"),
            (2, "clean text with short 12345 number and a.b"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert got[1].n_email == 1 and got[1].n_ipv4 == 1 and got[1].n_longnum == 1
    assert got[1].pii_total == 3
    assert got[2].pii_total == 0
    scrubbed = {
        r.doc_id: r.s
        for r in docs.select("doc_id", pii_scrub(F.col("text")).alias("s")).collect()
    }
    assert scrubbed[1] == "contact <EMAIL> or <IPV4> id <LONGNUM>"
    assert scrubbed[2] == "clean text with short 12345 number and a.b"


def test_span_dedup_keeps_first_occurrence(spark):
    from html_parser_spark.ops.corpus import span_dedup

    boiler = "cookie notice accept all"  # 4 tokens = one span at span_tokens=4
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"{boiler} epsilon zeta eta theta"),
            (3, "iota kappa lambda mu " + boiler),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in span_dedup(docs, span_tokens=4).collect()}
    # doc 1 holds the first occurrence of the boilerplate span -> keeps both
    assert out[1]["n_spans_dropped"] == 0
    assert out[1]["clean_text"] == f"{boiler} alpha beta gamma delta"
    # docs 2 and 3 lose exactly the boilerplate span, keep their own content
    assert out[2]["n_spans_dropped"] == 1
    assert out[2]["clean_text"] == "epsilon zeta eta theta"
    assert out[3]["n_spans_dropped"] == 1
    assert out[3]["clean_text"] == "iota kappa lambda mu"


def test_span_dedup_plan_has_no_window_sort(spark):
    """The dedup must be groupBy-min + join (map-side partials collapse hot
    boilerplate spans), never a window rank over the span text — a windowed
    sort cannot partial-aggregate and melts on zipfian span frequencies."""
    from html_parser_spark.ops.corpus import span_dedup

    docs = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    plan = span_dedup(docs, span_tokens=3)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_invisibles_strip_and_count(spark):
    from html_parser_spark.ops.text import (
        count_invisibles,
        strip_invisibles,
    )

    dirty = "soft­hyphen zero​width joi‍ner bom﻿ end"
    df = spark.createDataFrame([(dirty,)], ["text"])
    r = df.select(
        count_invisibles(F.col("text")).alias("n"),
        strip_invisibles(F.col("text")).alias("t"),
    ).collect()[0]
    assert r["n"] == 4
    assert r["t"] == "softhyphen zerowidth joiner bom end"


def test_clean_web_text_nfc(spark):
    from html_parser_spark.ops.text import clean_web_text

    # decomposed e + combining acute, plus a zero-width space
    df = spark.createDataFrame(
        [(1, "café zero​width")], ["doc_id", "text"]
    )
    r = clean_web_text(df).collect()[0]
    assert r["n_invisibles"] == 1
    assert r["clean_text"] == "café zerowidth"  # composed é, ZWSP gone
    plan = clean_web_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and plan.count("ArrowEvalPython") == 1


def test_chunk_plan_null_text_yields_no_rows(spark):
    """size(NULL)=-1 + sequence(0,-1) is a DESCENDING range: NULL-text docs
    must produce zero chunks, not phantom rows."""
    from html_parser_spark.ops.corpus import chunk_plan

    df = spark.createDataFrame(
        [(1, "one two three four"), (2, None)], "doc_id int, text string"
    )
    rows = chunk_plan(df, chunk_tokens=2).collect()
    assert {r["doc_id"] for r in rows} == {1}
    assert all(r["n_chunk_tokens"] > 0 for r in rows)


def test_blocklist_empty_is_noop(spark):
    from html_parser_spark.ops.web import host_blocklist_filter

    df = spark.createDataFrame([("a.com",), ("b.com",)], ["host"])
    assert host_blocklist_filter(df, []).count() == 2


def test_components_raise_on_nonconvergence(spark):
    """A chain longer than max_iters must fail loudly, not return split
    clusters as if they were real."""
    import pytest

    from html_parser_spark.ops.dedup import components_from_pairs

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        components_from_pairs(chain, max_iters=2)
    ok = components_from_pairs(chain, max_iters=10)
    assert ok.where("cluster_id = 0").count() == 7


def test_stratified_sample_deterministic(spark):
    """Per-stratum hash sampling: the selected ids equal the pure-Python
    md5 oracle, absent strata drop entirely, and re-running (or
    repartitioning) picks the SAME ids."""
    from html_parser_spark.ops.corpus import stratified_sample

    rows = [(i, ["en", "zh", "fr"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    fr = {"en": 0.3, "zh": 0.9}
    got = {
        r["doc_id"]
        for r in stratified_sample(df, fr).collect()
    }

    def bucket(i: int) -> int:
        return int(hashlib.md5(f"strat{i}".encode()).hexdigest()[:4], 16)

    want = {
        i for i, lang in rows
        if lang in fr and bucket(i) < int(fr[lang] * 65536)
    }
    assert got == want and want  # nonempty, exact id agreement
    assert not any(i % 3 == 2 for i in got)  # fr: no fraction -> dropped
    again = {
        r["doc_id"]
        for r in stratified_sample(df.repartition(7), fr).collect()
    }
    assert again == got
    # zero shuffle: a pure filter
    plan = stratified_sample(df, fr)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_build_vocab_counts_and_rank(spark):
    from html_parser_spark.ops.corpus import build_vocab

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "a cat  and a dog"),  # double space: empty token filtered
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["term"]: r for r in build_vocab(df, k=4).collect()}
    assert got["the"]["term_count"] == 3 and got["the"]["doc_count"] == 2
    assert got["the"]["rank"] == 1
    # ties on count=2 break alphabetically: a < cat < dog < sat
    assert [t for t, r in sorted(got.items(), key=lambda kv: kv[1]["rank"])] == [
        "the", "a", "cat", "dog"
    ]
    assert got["a"]["term_count"] == 2 and got["a"]["doc_count"] == 1
    # min_count prunes the long tail; k=None returns unranked full vocab
    full = build_vocab(df, k=None, min_count=2)
    assert set(full.columns) == {"term", "term_count", "doc_count"}
    assert {r["term"] for r in full.collect()} == {"the", "a", "cat", "dog", "sat"}


def test_host_line_dedup_strips_per_host_repeated_lines(spark):
    """CCNet-style: the nav/cookie lines shared across a host's pages vanish
    from EVERY page (all occurrences, not keep-first); unique content lines,
    blank separators, and the same line on a DIFFERENT host all survive."""
    from html_parser_spark.ops.corpus import host_line_dedup

    nav = "Home | About | Contact"
    cookie = "We use cookies"
    rows = [
        (1, "a.com", f"{nav}\nAlpha article body\n\n{cookie}"),
        (2, "a.com", f"{nav}\nBeta article body\n{cookie}"),
        (3, "a.com", f"{nav}\nGamma article body"),
        # same nav line, different host with ONE page: never boilerplate
        (4, "b.com", f"{nav}\nDelta article body"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r["doc_id"]: r for r in host_line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "Alpha article body\n"
    assert out[1]["n_lines"] == 4 and out[1]["n_lines_removed"] == 2
    assert out[2]["clean_text"] == "Beta article body"
    assert out[3]["clean_text"] == "Gamma article body"
    assert out[4]["clean_text"] == f"{nav}\nDelta article body"
    assert out[4]["n_lines_removed"] == 0


def test_host_line_dedup_pct_threshold_and_trim_key(spark):
    """pct_pages gates on the integer-exact share of the host's pages, and
    the line key is the TRIMMED form (indented copies still count)."""
    from html_parser_spark.ops.corpus import host_line_dedup

    rows = [
        (1, "a.com", "shared line\nunique one"),
        (2, "a.com", "  shared line  \nunique two"),
        (3, "a.com", "unique three"),
        (4, "a.com", "unique four"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    # 2/4 pages = 50%: stripped at pct<=50 (trim-keyed, both spellings go)
    out = {r["doc_id"]: r["clean_text"]
           for r in host_line_dedup(docs, pct_pages=50).collect()}
    assert out[1] == "unique one" and out[2] == "unique two"
    # at pct=51 the 50% share no longer qualifies
    out = {r["doc_id"]: r["clean_text"]
           for r in host_line_dedup(docs, pct_pages=51).collect()}
    assert out[1] == "shared line\nunique one"
    assert out[2] == "  shared line  \nunique two"


def test_host_line_dedup_plan_no_window_no_forced_broadcast(spark):
    """Hot lines are zipfian: the plan must be partial-agg + equi-join —
    never a Window over line text — and must not force-broadcast the
    per-host dim (a web corpus has ~10^8 hosts)."""
    from html_parser_spark.ops.corpus import host_line_dedup

    docs = spark.createDataFrame(
        [(1, "a.com", "x\ny"), (2, "a.com", "x\nz")],
        ["doc_id", "source", "text"],
    )
    plan = (
        host_line_dedup(docs)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Window" not in plan
    # ResolvedHint would mark a forced broadcast surviving to the optimized plan
    assert "broadcast" not in plan.lower()


def test_paragraph_dedup_global_keep_first(spark):
    """A paragraph keeps only its global first (doc_id, pos) occurrence —
    later copies in other docs AND later in the same doc are dropped; blank
    paragraphs never count; a fully-deduped doc keeps an empty row."""
    from html_parser_spark.ops.corpus import paragraph_dedup

    dup = "cookie consent banner"
    docs = spark.createDataFrame(
        [
            (1, f"{dup}\n\nunique alpha"),
            (2, f"intro beta\n\n{dup}\n\n{dup}"),
            (3, "   \n\nmiddle gamma"),
            (4, dup),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[1]["n_paras_kept"] == 2
    assert out[1]["clean_text"] == f"{dup}\n\nunique alpha"
    # cross-doc copy AND the within-doc repeat both go
    assert (out[2]["n_paras"], out[2]["n_paras_kept"]) == (3, 1)
    assert out[2]["clean_text"] == "intro beta"
    # the blank paragraph is neither counted nor kept
    assert (out[3]["n_paras"], out[3]["n_paras_kept"]) == (1, 1)
    assert out[3]["clean_text"] == "middle gamma"
    # every paragraph deduped away -> row survives with empty text
    assert (out[4]["n_paras"], out[4]["n_paras_kept"]) == (1, 0)
    assert out[4]["clean_text"] == ""


def test_paragraph_dedup_plan_no_window(spark):
    """Paragraph frequency is zipfian (one consent banner, 10^9 pages):
    the plan must be groupBy-min + equi-join, never a window over text."""
    from html_parser_spark.ops.corpus import paragraph_dedup

    docs = spark.createDataFrame([(1, "a\n\nb")], ["doc_id", "text"])
    plan = (
        paragraph_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


# --- exact-substring dedup (Lee et al. 2022 shape) -------------------------


def _esd(spark, rows, k=4):
    from html_parser_spark.ops.corpus import exact_substring_dedup

    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    return {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, window_tokens=k).collect()
    }


def test_exact_substring_keep_first_and_cut(spark):
    # doc 0 and doc 1 share a 6-token run; k=4 -> windows at 3 alignments
    # merge into ONE maximal interval, removed from doc 1 only
    shared = "alpha beta gamma delta epsilon zeta"
    out = _esd(
        spark,
        [(0, shared + " tail0 unique0"), (1, "head1 " + shared + " tail1")],
    )
    assert out[0]["n_dropped"] == 0
    assert out[0]["clean_text"] == shared + " tail0 unique0"
    assert out[1]["n_dropped"] == 6
    assert out[1]["n_intervals"] == 1
    assert out[1]["clean_text"] == "head1 tail1"


def test_exact_substring_short_docs_and_no_dups(spark):
    out = _esd(
        spark,
        [(0, "one two three"), (1, "totally different words here now")],
    )
    assert out[0]["n_dropped"] == 0 and out[0]["n_intervals"] == 0
    assert out[1]["n_dropped"] == 0
    assert out[1]["clean_text"] == "totally different words here now"


def test_exact_substring_within_doc_repeat(spark):
    # the same 4-token phrase twice in ONE doc: second occurrence cut
    t = "a b c d XX a b c d"
    out = _esd(spark, [(7, t)])
    assert out[7]["n_dropped"] == 4
    assert out[7]["clean_text"] == "a b c d XX"


def test_exact_substring_multiple_intervals(spark):
    # two separate shared runs in doc 1 -> two merged intervals
    out = _esd(
        spark,
        [
            (0, "p q r s MID1 w x y z"),
            (1, "p q r s OTHER w x y z"),
        ],
    )
    assert out[1]["n_intervals"] == 2
    assert out[1]["n_dropped"] == 8
    assert out[1]["clean_text"] == "OTHER"
    assert out[0]["n_dropped"] == 0


def test_exact_substring_plan_no_window_no_python(spark):
    from html_parser_spark.ops.corpus import exact_substring_dedup

    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = (
        exact_substring_dedup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_c4_line_filter_rules(spark):
    """Every published C4 rule on one hand-built page: terminal
    punctuation, >=3 words, javascript lines, lorem-ipsum pages, brace
    pages, min-kept-lines."""
    from html_parser_spark.ops.text import c4_line_filter

    good = "This sentence is perfectly fine."
    rows = [
        # 4 good lines -> kept page
        (0, "\n".join([good, "Another good line here!", 'A quoted ending works too."',
                       "Questions are sentences as well?"])),
        # line rules: short / javascript / no-terminal all drop
        (1, "\n".join([good, "too short.", "Please enable JavaScript now.",
                       "no terminal punctuation", good, good])),
        # page rules: lorem ipsum and braces kill the page outright
        (2, "\n".join([good, good, good, "We include lorem ipsum text here."])),
        (3, "\n".join([good, good, good, "if (x) { return; }"])),
        # too few surviving lines
        (4, "\n".join([good, "tiny."])),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           c4_line_filter(df, min_kept_lines=3).collect()}
    assert got[0]["page_keep"] and got[0]["n_lines_kept"] == 4
    assert got[1]["page_keep"] and got[1]["n_lines_kept"] == 3
    assert got[1]["clean_text"] == "\n".join([good, good, good])
    assert not got[2]["page_keep"] and got[2]["n_lines_kept"] == 4
    assert not got[3]["page_keep"]   # brace page; the brace line also fails
    assert not got[4]["page_keep"] and got[4]["n_lines_kept"] == 1
    assert not got[5]["page_keep"] and got[5]["n_lines_in"] == 1


def test_sentence_split(spark):
    from html_parser_spark.ops.text import sentence_split

    rows = [
        (0, "One two.  Three four five!   Six? Last one no terminal"),
        (1, "no boundary at all"),
        (2, "   "),
        (3, None),
        (4, "Trailing period."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in sentence_split(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["sent_idx"], r["sentence"], r["n_sent_tokens"])
        )
    assert got[0] == [
        (0, "One two.", 2),
        (1, "Three four five!", 3),
        (2, "Six?", 1),
        (3, "Last one no terminal", 4),
    ]
    assert got[1] == [(0, "no boundary at all", 4)]
    assert 2 not in got and 3 not in got  # blank/NULL docs yield no rows
    assert got[4] == [(0, "Trailing period.", 2)]


# ---------------------------------------------------------------------------
# distribution drift + frequency spectrum — the crawl-monitoring diagnostics
# ---------------------------------------------------------------------------
def test_distribution_drift_hand_computed(spark):
    from html_parser_spark.ops.corpus import distribution_drift

    a = spark.createDataFrame(
        [("en",)] * 6 + [("de",)] * 3 + [("fr",)] * 1, "lang string"
    )
    b = spark.createDataFrame(
        [("en",)] * 2 + [("de",)] * 2 + [("ru",)] * 1, "lang string"
    )
    got = {
        r["bucket"]: r.asDict()
        for r in distribution_drift(a, b, "lang").collect()
    }
    assert got["en"]["share_a_ppm"] == 600000   # 6/10
    assert got["en"]["share_b_ppm"] == 400000   # 2/5
    assert got["en"]["delta_ppm"] == 200000
    # one-sided buckets: 0-count, 0-share on the missing side
    assert got["fr"]["n_b"] == 0 and got["fr"]["share_b_ppm"] == 0
    assert got["ru"]["n_a"] == 0 and got["ru"]["share_a_ppm"] == 0
    assert got["ru"]["delta_ppm"] == 200000     # 1/5 vs nothing
    # TVD fold over the result: identical mix would read 0
    tvd_ppm = sum(r["delta_ppm"] for r in got.values()) / 2
    assert tvd_ppm == (200000 + 100000 + 100000 + 200000) / 2


def test_distribution_drift_empty_side_never_nulls(spark):
    from html_parser_spark.ops.corpus import distribution_drift

    a = spark.createDataFrame([("en",)], "lang string")
    b = a.where(F.lit(False))
    rows = distribution_drift(a, b, "lang").collect()
    assert [r.asDict() for r in rows] == [
        {"bucket": "en", "n_a": 1, "n_b": 0,
         "share_a_ppm": 1000000, "share_b_ppm": 0, "delta_ppm": 1000000}
    ]


def test_freq_spectrum_hand_computed(spark):
    from html_parser_spark.ops.corpus import freq_spectrum

    # corpus: a×4 b×2 c×2 d×1 e×1 f×1  → 11 tokens, 6 types
    docs = spark.createDataFrame(
        [("a b a c d",), ("A b c e F a",)], "text string"
    )
    got = {r["freq"]: r.asDict() for r in freq_spectrum(docs, max_freq=3).collect()}
    assert got[1]["n_types"] == 3 and got[1]["n_tokens"] == 3
    assert got[2]["n_types"] == 2 and got[2]["n_tokens"] == 4
    assert 4 not in got                      # past max_freq: excluded
    # ppm denominators are the FULL totals (6 types, 11 tokens), not the
    # spectrum head — the Good-Turing mass is hapax tokens over ALL tokens
    assert got[1]["types_ppm"] == 3 * 1000000 // 6
    assert got[1]["tokens_ppm"] == 3 * 1000000 // 11
    assert got[2]["tokens_ppm"] == 4 * 1000000 // 11


def test_freq_spectrum_partition_independent(spark):
    from html_parser_spark.ops.corpus import freq_spectrum

    docs = spark.range(200).select(
        F.concat(F.lit("tok"), (F.col("id") % 37).cast("string"),
                 F.lit(" filler")).alias("text")
    )
    one = sorted(map(tuple, freq_spectrum(docs, max_freq=8).collect()))
    many = sorted(map(tuple, freq_spectrum(docs.repartition(17), max_freq=8).collect()))
    assert one == many


# ---------------------------------------------------------------------------
# shard manifest — release-integrity digests (ops/corpus.shard_manifest)
# ---------------------------------------------------------------------------
def _manifest_h(doc_id, text):
    import hashlib

    m = hashlib.md5(f"{doc_id}\x1f{text}".encode()).hexdigest()
    return int(m[:15], 16)


def test_shard_manifest_hand_computed(spark):
    from html_parser_spark.ops.corpus import shard_manifest

    rows = [(0, 0, "alpha"), (1, 0, "beta"), (2, 1, "gamma")]
    got = {
        r["shard"]: r.asDict()
        for r in shard_manifest(
            spark.createDataFrame(rows, "doc_id long, shard int, text string")
        ).collect()
    }
    MOD = 2305843009213693951
    h0, h1, h2 = (_manifest_h(i, t) for i, _, t in rows)
    assert got[0]["n_docs"] == 2 and got[0]["n_chars"] == 9
    assert got[0]["xor_digest"] == h0 ^ h1
    assert got[0]["sum_digest"] == (h0 + h1) % MOD
    assert got[1]["xor_digest"] == h2 and got[1]["sum_digest"] == h2 % MOD


def test_shard_manifest_partition_independent_and_dup_sensitive(spark):
    from html_parser_spark.ops.corpus import shard_manifest

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("int").alias("shard"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
    )
    one = sorted(map(tuple, shard_manifest(docs).collect()))
    many = sorted(map(tuple, shard_manifest(docs.repartition(19)).collect()))
    assert one == many

    # a duplicated PAIR of rows is invisible to xor (x^x=0) but must move
    # the sum digest — the reason the manifest carries both
    dup = docs.union(docs.where(F.col("doc_id") == 3))\
              .union(docs.where(F.col("doc_id") == 3))
    base = {r["shard"]: r.asDict() for r in shard_manifest(docs).collect()}
    dupd = {r["shard"]: r.asDict() for r in shard_manifest(dup).collect()}
    s = 3 % 7
    assert dupd[s]["xor_digest"] == base[s]["xor_digest"]
    assert dupd[s]["sum_digest"] != base[s]["sum_digest"]
    assert dupd[s]["n_docs"] == base[s]["n_docs"] + 2


# ---------------------------------------------------------------------------
# exact type-1 quantiles — ops/corpus.exact_quantiles
# ---------------------------------------------------------------------------
def test_exact_quantiles_hand_computed(spark):
    from html_parser_spark.ops.corpus import exact_quantiles

    docs = spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], "x long")
    got = {
        r["q_ppm"]: r.asDict()
        for r in exact_quantiles(
            docs, "x", (500_000, 900_000, 990_000)
        ).collect()
    }
    # type-1 lower discrete: smallest v whose cum count covers q·N
    assert got[500000]["value"] == 2 and got[500000]["n_le"] == 2
    assert got[900000]["value"] == 4   # needs cum ≥ 3.6
    assert got[990000]["value"] == 4
    assert all(r["total"] == 4 for r in got.values())

    # duplicates shift the histogram, not the definition
    docs2 = spark.createDataFrame([(v,) for v in [1, 1, 1, 10]], "x long")
    got2 = {
        r["q_ppm"]: r["value"]
        for r in exact_quantiles(docs2, "x", (500_000, 750_000, 760_000)).collect()
    }
    assert got2[500000] == 1 and got2[750000] == 1 and got2[760000] == 10


def test_exact_quantiles_grouped_empty_and_partition_independent(spark):
    from html_parser_spark.ops.corpus import exact_quantiles

    docs = spark.createDataFrame(
        [("a", v) for v in range(1, 101)] + [("b", 7)],
        "g string, x long",
    )
    got = {
        (r["g"], r["q_ppm"]): r["value"]
        for r in exact_quantiles(
            docs, "x", (500_000, 990_000), group_col="g"
        ).collect()
    }
    assert got[("a", 500000)] == 50 and got[("a", 990000)] == 99
    assert got[("b", 500000)] == 7 and got[("b", 990000)] == 7

    # empty input: no rows, never NULL
    assert exact_quantiles(docs.where(F.lit(False)), "x").count() == 0

    one = sorted(map(tuple, exact_quantiles(docs, "x", group_col="g").collect()))
    many = sorted(
        map(tuple, exact_quantiles(docs.repartition(13), "x", group_col="g").collect())
    )
    assert one == many


def test_concentration_profile_exact_shares(spark):
    from html_parser_spark.ops.corpus import concentration_profile

    # 3 keys: totals 12 (bucket 4), 5 and 6 (bucket 3), 1 (bucket 1);
    # zero-total key dropped
    df = spark.createDataFrame(
        [("a", 7), ("a", 5), ("b", 5), ("c", 6), ("d", 1), ("z", 0)],
        ["host", "n_bytes"],
    )
    rows = {
        r["bucket"]: r
        for r in concentration_profile(df, "host", "n_bytes").collect()
    }
    assert set(rows) == {4, 3, 1}
    top = rows[4]
    assert (top["n_keys"], top["bucket_total"]) == (1, 12)
    assert (top["cum_keys"], top["cum_total"]) == (1, 12)
    assert top["cum_keys_ppm"] == 250000  # 1 of 4 keys
    assert top["cum_total_ppm"] == 500000  # 12 of 24 bytes
    mid = rows[3]
    assert (mid["n_keys"], mid["cum_keys"], mid["cum_total"]) == (2, 3, 23)
    assert mid["cum_total_ppm"] == (23 * 1000000) // 24
    bot = rows[1]
    assert (bot["cum_keys_ppm"], bot["cum_total_ppm"]) == (1000000, 1000000)


def test_concentration_profile_partition_invariant(spark):
    from html_parser_spark.ops.corpus import concentration_profile

    df = spark.range(500).select(
        (F.col("id") % 41).cast("string").alias("host"),
        (F.col("id") % 97 + 1).alias("n_bytes"),
    )
    a = sorted(
        tuple(r) for r in concentration_profile(df, "host", "n_bytes").collect()
    )
    b = sorted(
        tuple(r)
        for r in concentration_profile(
            df.repartition(13), "host", "n_bytes"
        ).collect()
    )
    assert a == b and len(a) >= 2


def test_code_profile_detectors_and_ppm(spark):
    from html_parser_spark.ops.text import code_profile

    text = "\n".join(
        [
            "A normal prose sentence here.",
            "x = compute(y);",          # terminator
            "    indented block line",  # indentation
            "import os",                # keyword
            "",                         # blank: not counted at all
            "\t",                       # whitespace-only tab line: trim('\t')
            "another prose line",
        ]
    )
    # '\t' survives Spark/DuckDB space-only trim as non-blank AND matches
    # the indent detector — pinned so both engines count it the same way
    df = spark.createDataFrame([(1, text), (2, ""), (3, "just prose")],
                               ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in code_profile(df).collect()}
    assert (rows[1]["n_lines"], rows[1]["code_lines"]) == (6, 4)
    assert rows[1]["code_ppm"] == (4 * 1000000) // 6
    assert (rows[2]["n_lines"], rows[2]["code_lines"], rows[2]["code_ppm"]) == (
        0, 0, 0)
    assert (rows[3]["n_lines"], rows[3]["code_lines"], rows[3]["code_ppm"]) == (
        1, 0, 0)


def test_code_profile_pure_codegen(spark):
    from html_parser_spark.ops.text import code_profile

    out = code_profile(
        spark.createDataFrame([(1, "a;\nb")], ["doc_id", "text"])
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, plan


def test_normalized_duplicates_collapse_and_canonical(spark):
    from html_parser_spark.ops.dedup import normalized_duplicates

    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello world"),        # same normalized key as 1
            (3, "HELLO---WORLD..."),   # and as 1/2
            (4, "hello worlds"),       # different residue
        ],
        ["doc_id", "text"],
    )
    rows = normalized_duplicates(df).collect()
    by_canon = {r["canonical_id"]: r["dup_count"] for r in rows}
    assert by_canon == {1: 3, 4: 1}


def test_dedup_prf_exact_metrics(spark):
    from html_parser_spark.ops.dedup import dedup_prf

    labeled = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], ["a", "b"]
    )
    predicted = spark.createDataFrame(
        [
            (2, 1),   # hit, reversed orientation
            (1, 2),   # duplicate of the same unordered pair
            (3, 4),   # hit
            (9, 10),  # false positive
            (5, 5),   # self pair: dropped entirely
        ],
        ["a", "b"],
    )
    r = dedup_prf(predicted, labeled).collect()[0]
    assert (r["n_pred"], r["n_labeled"], r["tp"]) == (3, 4, 2)
    assert r["precision_ppm"] == (2 * 1000000) // 3
    assert r["recall_ppm"] == 500000
    assert r["f1_ppm"] == (2 * 2 * 1000000) // 7


def test_dedup_prf_empty_sides_no_divide_by_zero(spark):
    from html_parser_spark.ops.dedup import dedup_prf

    empty = spark.createDataFrame([], "a long, b long")
    some = spark.createDataFrame([(1, 2)], ["a", "b"])
    r = dedup_prf(empty, some).collect()[0]
    assert (r["tp"], r["precision_ppm"], r["recall_ppm"], r["f1_ppm"]) == (
        0, 0, 0, 0)


def test_frequent_lines_distinct_hosts_vote_once(spark):
    from html_parser_spark.ops.corpus import frequent_lines

    rows = [
        # mega-host h0 repeats the banner on 3 pages: still ONE vote
        ("h0", "a\nBanner Text\nb"),
        ("h0", "c\nBanner Text"),
        ("h0", "Banner Text\nd"),
        ("h1", "e\n  Banner Text  "),   # trim-matched
        ("h2", "f\nBanner Text"),
        ("h1", "only here"),
    ]
    df = spark.createDataFrame(rows, ["host", "text"])
    got = {r["line"]: r["n_hosts"]
           for r in frequent_lines(df, min_hosts=3).collect()}
    assert got == {"Banner Text": 3}


def test_strip_frequent_lines_order_raw_form_and_empty_doc(spark):
    from html_parser_spark.ops.corpus import strip_frequent_lines

    docs = spark.createDataFrame(
        [
            (1, "keep one\n  Banner  \n\nkeep two"),
            (2, "Banner"),               # all-boilerplate -> empty text
            (3, "untouched\n\nlines"),
        ],
        ["doc_id", "text"],
    )
    bl = spark.createDataFrame([("Banner",)], ["line"])
    got = {r["doc_id"]: r["text"]
           for r in strip_frequent_lines(docs, bl).collect()}
    # raw form ('  Banner  ' trims to a blocklist hit) removed; empty
    # lines and order preserved; doc 2 comes back empty, not dropped
    assert got[1] == "keep one\n\nkeep two"
    assert got[2] == ""
    assert got[3] == "untouched\n\nlines"


# ---------------------------------------------------------------------------
# Training-mixture epoch planner — ops/corpus.mixture_plan
# ---------------------------------------------------------------------------
def test_mixture_plan_epochs_and_repeat_flag(spark):
    from html_parser_spark.ops.corpus import mixture_plan

    docs = spark.createDataFrame(
        [("web", 800), ("web", 200), ("books", 100), ("code", 400)],
        "lang string, n_tokens long",
    )
    out = {r["source"]: r for r in mixture_plan(
        docs,
        {"web": 500000, "books": 400000, "wiki": 100000},
        target_total_tokens=1000,
    ).collect()}
    web = out["web"]
    assert (web["n_tokens"], web["planned_tokens"]) == (1000, 500)
    assert web["epochs_ppm"] == 500000 and web["repeated"] is False
    books = out["books"]
    # demands 400 tokens of a 100-token source: 4 epochs -> flagged
    assert (books["planned_tokens"], books["epochs_ppm"]) == (400, 4000000)
    assert books["repeated"] is True
    # demanded but absent: loud NULL-epochs row
    wiki = out["wiki"]
    assert (wiki["n_tokens"], wiki["planned_tokens"]) == (0, 100)
    assert wiki["epochs_ppm"] is None and wiki["repeated"] is False
    # present but unweighted: zero plan
    code = out["code"]
    assert (code["weight_ppm"], code["planned_tokens"], code["epochs_ppm"]) == (
        0, 0, 0,
    )


def test_mixture_plan_multi_trillion_target_no_overflow(spark):
    """target · weight_ppm passes BIGINT above ~9.2e12 target tokens; the
    plan must still equal exact integer arithmetic."""
    from html_parser_spark.ops.corpus import mixture_plan

    target = 10**13
    avail = {"web": 3 * 10**12, "books": 7 * 10**9}
    weights = {"web": 950000, "books": 50000}
    docs = spark.createDataFrame(list(avail.items()), "lang string, n_tokens long")
    out = {r["source"]: r for r in mixture_plan(docs, weights, target).collect()}
    for src, w in weights.items():
        planned = target * w // 10**6
        epochs = planned * 10**6 // avail[src]
        assert out[src]["planned_tokens"] == planned
        assert out[src]["epochs_ppm"] == epochs
        assert out[src]["repeated"] is (epochs > 10**6)
