"""Round-5 operators: integer-exact HITS, fuzzy and reordered dedup, text
outlinks, URL survival, term blocklist.  Each op's oracle query (q_hits /
q_fuzzy_pairs / ...) does the cross-engine value-hash check; these tests
pin the hand-checkable semantics and the scale-shape invariants.
"""

import pytest

TOTAL = 10**12


# ---------------------------------------------------------------------------
# HITS hubs/authorities — ops/linkgraph.hits_fixed_point
# ---------------------------------------------------------------------------
def _star_edges(spark):
    # hub 'h' links to three authorities; 'a1' also links back to 'h'
    return spark.createDataFrame(
        [("h", "a1", 1), ("h", "a2", 1), ("h", "a3", 1), ("a1", "h", 1)],
        "src string, dst string, weight long",
    )


def test_hits_star_graph_roles(spark):
    from html_parser_spark.ops.linkgraph import hits_fixed_point

    out = {
        r["node"]: r
        for r in hits_fixed_point(
            _star_edges(spark), iterations=3, checkpoint=False
        ).collect()
    }
    # h is the dominant hub; a1..a3 are the authorities
    assert out["h"]["hub"] > out["a1"]["hub"]
    assert min(out[a]["auth"] for a in ("a1", "a2", "a3")) > out["h"]["auth"] or (
        out["h"]["auth"] > 0  # a1→h gives h some authority, but never the max
        and max(out[a]["auth"] for a in ("a1", "a2", "a3")) > out["h"]["auth"]
    )
    # mass conservation up to floor losses: each rescaled column sums to
    # TOTAL minus at most (n_nodes - 1) floor units
    n = len(out)
    for col in ("auth", "hub"):
        s = sum(r[col] for r in out.values())
        assert TOTAL - (n - 1) <= s <= TOTAL


def test_hits_sink_and_source_zeroes(spark):
    from html_parser_spark.ops.linkgraph import hits_fixed_point

    out = {
        r["node"]: r
        for r in hits_fixed_point(
            spark.createDataFrame(
                [("s", "t", 5)], "src string, dst string, weight long"
            ),
            iterations=2,
            checkpoint=False,
        ).collect()
    }
    # pure source: no in-edges → auth 0; pure sink: no out-edges → hub 0
    assert out["s"]["auth"] == 0 and out["t"]["hub"] == 0
    assert out["s"]["hub"] == TOTAL and out["t"]["auth"] == TOTAL


def test_hits_weight_dominance_and_partition_independence(spark):
    from html_parser_spark.ops.linkgraph import hits_fixed_point

    edges = spark.createDataFrame(
        [("u", "big", 9), ("u", "small", 1), ("v", "big", 3), ("v", "small", 2)],
        "src string, dst string, weight long",
    )
    one = {
        (r["node"]): (r["auth"], r["hub"])
        for r in hits_fixed_point(edges, iterations=3, checkpoint=False).collect()
    }
    assert one["big"][0] > one["small"][0]
    many = {
        (r["node"]): (r["auth"], r["hub"])
        for r in hits_fixed_point(
            edges.repartition(7), iterations=3, checkpoint=False
        ).collect()
    }
    # integer fixed-point: bit-identical across partitionings
    assert one == many


def test_hits_empty_graph(spark):
    from html_parser_spark.ops.linkgraph import hits_fixed_point

    empty = spark.createDataFrame([], "src string, dst string, weight long")
    assert hits_fixed_point(empty, iterations=1, checkpoint=False).count() == 0


# ---------------------------------------------------------------------------
# hreflang extraction + clustering — ops/web.py
# ---------------------------------------------------------------------------
_HTML = (
    "<html><head>"
    '<link rel="alternate" hreflang="en" href="https://e.com/en/1">'
    "<link href='https://e.com/de/1' hreflang='DE' rel='alternate'>"
    "<link rel=alternate hreflang=fr href=https://e.com/fr/1>"
    '<link rel="alternate" hreflang="x-default" href="https://e.com/en/1">'
    '<link rel="alternate stylesheet" href="/s.css">'
    '<link rel="alternate" type="application/rss+xml" href="/feed.xml">'
    '<link rel="stylesheet" href="/m.css">'
    "</head><body>b</body></html>"
)


def _pages(spark):
    return spark.createDataFrame(
        [
            ("https://e.com/en/1", "en", _HTML.encode()),
            ("https://e.com/de/1", "de", _HTML.encode()),
        ],
        "url string, lang string, html binary",
    )


# ---------------------------------------------------------------------------
# incremental LSH dedup against a persisted band index — ops/dedup.py
# ---------------------------------------------------------------------------
_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill nearby every single morning"
)


def _corpus(spark):
    rows = [
        (0, _BASE),                              # existing
        (1, "completely different text about spark shuffles and joins "
            "partitioned across many executors for scale testing today"),
        # -- new batch --
        (10, _BASE),                             # dup of existing 0
        (11, "an entirely novel document with its own vocabulary chosen "
             "so that no shingle overlaps anything else in this corpus"),
        (12, "repeated batch text lorem alpha beta gamma delta epsilon "
             "zeta eta theta iota kappa lambda mu nu xi omicron pi rho"),
        (13, "repeated batch text lorem alpha beta gamma delta epsilon "
             "zeta eta theta iota kappa lambda mu nu xi omicron pi rho"),
        (14, "tiny"),                            # too short to shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# Blocked edit-distance fuzzy matching — ops/dedup.edit_distance_pairs
# ---------------------------------------------------------------------------
def test_edit_distance_pairs_within_block(spark):
    from html_parser_spark.ops.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "kittens"), (4, "kitchen"),
         (5, "zebra")],
        "doc_id long, title string",
    )
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in edit_distance_pairs(docs, max_dist=2).collect()}
    # same first char + same length band: kitten/kittens/kitchen compare
    assert out[(1, 3)] == 1          # kitten -> kittens (insert)
    assert out[(1, 4)] == 2          # kitten -> kitchen (sub+insert)
    assert (3, 4) not in out         # kittens -> kitchen is dist 3: filtered
    # sitten differs in FIRST CHAR: blocked away even though dist 1 —
    # the stated recall heuristic
    assert (1, 2) not in out
    # zebra: different block entirely
    assert all(5 not in p for p in out)


def test_edit_distance_pairs_triangle_and_threshold(spark):
    from html_parser_spark.ops.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaab"), (3, "abbb")], "doc_id long, title string"
    )
    rows = edit_distance_pairs(docs, max_dist=1).collect()
    # each unordered pair once, id_a < id_b; dist(aaaa,abbb)=3 filtered
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(1, 2)}
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_edit_distance_pairs_skips_empty_keys(spark):
    from html_parser_spark.ops.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, None)], "doc_id long, title string"
    )
    assert edit_distance_pairs(docs, max_dist=2).count() == 0


# ---------------------------------------------------------------------------
# Plain-text URL mining — ops/html_meta.text_outlinks
# ---------------------------------------------------------------------------
def test_text_outlinks_trim_and_floor(spark):
    from html_parser_spark.ops.html_meta import text_outlinks

    docs = spark.createDataFrame(
        [(1, "see https://a.com/x. then (http://b.org/y), done"),
         (2, "bare http://c.io!? end"),
         (3, "no urls here"),
         (4, "scheme only https:// nothing")],
        "doc_id long, text string",
    )
    rows = {(r["doc_id"], r["url"]) for r in text_outlinks(docs).collect()}
    assert (1, "https://a.com/x") in rows       # trailing '.' trimmed
    assert (1, "http://b.org/y") in rows        # ')' excluded by the class
    assert (2, "http://c.io") in rows           # '!?' trimmed
    assert all(d != 3 for d, _ in rows)
    # 'https://' alone is 8 chars: fails the > 8 floor
    assert all(d != 4 for d, _ in rows)


# ---------------------------------------------------------------------------
# Order-insensitive (multiset) dedup — ops/dedup.reordered_duplicates
# ---------------------------------------------------------------------------
def test_reordered_duplicates_groups_shuffled_copies(spark):
    from html_parser_spark.ops.dedup import reordered_duplicates

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "fox brown the quick"),       # same multiset: groups with 1
            (3, "the quick brown foxes"),     # different token: own group
            (4, "the the quick brown fox"),   # different MULTIPLICITY: own group
            (5, "  the   quick brown fox  "), # whitespace runs collapse: with 1
        ],
        "doc_id long, text string",
    )
    groups = {r["canonical_id"]: r["dup_count"]
              for r in reordered_duplicates(docs).collect()}
    assert groups[1] == 3      # docs 1, 2, 5
    assert groups[3] == 1 and groups[4] == 1


def test_reordered_duplicates_empty_and_null(spark):
    from html_parser_spark.ops.dedup import reordered_duplicates

    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   ")], "doc_id long, text string"
    )
    rows = reordered_duplicates(docs).collect()
    # all three normalize to the empty multiset: one group, canonical 1
    assert len(rows) == 1
    assert rows[0]["dup_count"] == 3 and rows[0]["canonical_id"] == 1


# ---------------------------------------------------------------------------
# Partition-independence of the session ops (the 10^12-row invariant: the
# answer must not depend on how the input happens to be partitioned)
# ---------------------------------------------------------------------------
def test_session_ops_partition_independence(spark):
    from html_parser_spark.ops.dedup import reordered_duplicates
    from html_parser_spark.ops.linkgraph import reciprocity
    from html_parser_spark.ops.web import url_survival

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i * 3) % 7} tok{(i * 5) % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, reordered_duplicates(docs).collect()))
    b = sorted(map(tuple, reordered_duplicates(docs.repartition(11)).collect()))
    assert a == b

    caps = spark.createDataFrame(
        [(f"u{i}", s) for i in range(30) for s in range(i % 3, i % 3 + i % 4 + 1)],
        "url string, snap long",
    )
    a = sorted(map(tuple, url_survival(caps).collect()))
    b = sorted(map(tuple, url_survival(caps.repartition(13)).collect()))
    assert a == b

    edges = spark.createDataFrame(
        [(f"h{i % 6}", f"h{(i + 1) % 6}") for i in range(24)]
        + [(f"h{(i + 1) % 6}", f"h{i % 6}") for i in range(0, 24, 2)],
        "src string, dst string",
    )
    a = sorted(map(tuple, reciprocity(edges).collect()))
    b = sorted(map(tuple, reciprocity(edges.repartition(9)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# C4-style term blocklist — ops/text.term_blocklist_flags
# ---------------------------------------------------------------------------
def test_term_blocklist_word_boundaries(spark):
    from html_parser_spark.ops.text import term_blocklist_flags

    docs = spark.createDataFrame(
        [(1, "totally clean"), (2, "has badWord. here"),
         (3, "embadwordded is a substring, not a word"),
         (4, "BADWORD2 too"), (5, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            term_blocklist_flags(docs, ["BadWord", "badword2"]).collect()}
    assert rows[1]["blocked"] is False and rows[1]["blocked_term"] == ""
    assert rows[2]["blocked"] is True and rows[2]["blocked_term"] == "badword"
    assert rows[3]["blocked"] is False        # substring must NOT match
    assert rows[4]["blocked"] is True and rows[4]["blocked_term"] == "badword2"
    assert rows[5]["blocked"] is False        # NULL text degrades to clean


def test_term_blocklist_first_hit_deterministic(spark):
    from html_parser_spark.ops.text import term_blocklist_flags

    docs = spark.createDataFrame(
        [(1, "zzz aaa both present")], "doc_id long, text string"
    )
    r = term_blocklist_flags(docs, ["zzz", "aaa"]).collect()[0]
    # sorted intersection: the lexicographically first hit, not list order
    assert r["blocked_term"] == "aaa"


def test_term_blocklist_empty_list_blocks_nothing(spark):
    from html_parser_spark.ops.text import term_blocklist_flags

    docs = spark.createDataFrame(
        [(1, "anything at all"), (2, None)], "doc_id long, text string"
    )
    rows = term_blocklist_flags(docs, []).collect()
    assert sorted((r["doc_id"], r["blocked"], r["blocked_term"]) for r in rows) == [
        (1, False, ""), (2, False, ""),
    ]


def test_term_blocklist_matches_cyrillic_terms(spark):
    from html_parser_spark.ops.text import term_blocklist_flags

    docs = spark.createDataFrame(
        [(1, "Это ПЛОХОЕ слово."), (2, "это хорошее слово"),
         (3, "неплохоеслово в одну строку")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            term_blocklist_flags(docs, ["плохое"]).collect()}
    assert rows[1]["blocked"] is True and rows[1]["blocked_term"] == "плохое"
    assert rows[2]["blocked"] is False
    assert rows[3]["blocked"] is False        # substring must NOT match


@pytest.mark.parametrize("term", ["two words", "bad-word", "a.b"])
def test_term_blocklist_rejects_terms_with_separators(spark, term):
    from html_parser_spark.ops.text import term_blocklist_flags

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match=repr(term)):
        term_blocklist_flags(docs, ["fine", term])
