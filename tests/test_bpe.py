"""BPE tokenizer training + corpus encoding (ops/bpe.py).

Pins the classic Sennrich et al. 2016 behavior (the low/lower/newest/widest
corpus), training determinism, the sequential-vs-priority encode
equivalence the DuckDB oracle relies on, and the Spark corpus paths
(word_freqs reduction, mapInArrow encode)."""

import random
from collections import Counter

from html_parser_spark.ops.bpe import (
    EOW,
    _merge_word,
    bpe_encode,
    encode_word,
    train_bpe,
    word_freqs,
)

CLASSIC = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]


def test_train_classic_corpus_pinned():
    # Sennrich's worked example: 'es' (9) wins first, then 'est' (9),
    # 'est</w>' (9), then the 'lo'/'low' family (7)...
    merges = train_bpe(CLASSIC, n_merges=10)
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),
        ("lo", "w"),
        ("e", "w"),
        ("ew", "est</w>"),
        ("n", "ewest</w>"),
        ("low", "</w>"),
        ("d", "est</w>"),
    ]


def test_encode_word_classic():
    ranks = {p: i for i, p in enumerate(train_bpe(CLASSIC, n_merges=10))}
    # OOV composition: 'lowest' was never a training word but its pieces
    # were — the canonical BPE selling point
    assert encode_word("lowest", ranks) == ["low", "est</w>"]
    assert encode_word("newest", ranks) == ["newest</w>"]
    # fully unknown word falls back to characters + EOW
    assert encode_word("zzq", ranks) == ["z", "z", "q", EOW]
    assert encode_word("", ranks) == [EOW]


def test_train_input_order_invariant():
    # merges are a pure function of the COUNTS (ties break to the
    # lexicographically smallest pair), not of input order
    base = train_bpe(CLASSIC, n_merges=10)
    assert train_bpe(list(reversed(CLASSIC)), n_merges=10) == base
    shuffled = CLASSIC[:]
    random.Random(7).shuffle(shuffled)
    assert train_bpe(shuffled, n_merges=10) == base


def test_train_stops_below_count_two():
    # every pair occurs once -> merging would learn noise -> no merges
    assert train_bpe([("abc", 1)], n_merges=5) == []
    # and the n_merges cap is honored
    assert len(train_bpe(CLASSIC, n_merges=3)) == 3


def test_merge_word_left_to_right_non_overlapping():
    assert _merge_word(("a", "a", "a"), ("a", "a")) == ("aa", "a")
    assert _merge_word(("a", "b", "a", "b"), ("a", "b")) == ("ab", "ab")


def _encode_sequential(word, merges):
    """Apply merges in rank order, each exhaustively — the DuckDB oracle's
    replace-chain semantics."""
    syms = tuple(word) + (EOW,)
    for pair in merges:
        syms = _merge_word(syms, pair)
    return list(syms)


def test_sequential_equals_priority_encoding():
    # The oracle's rank-ordered replace chain must equal the kernel's
    # priority encode for any BPE-trained merge list: components of merge
    # r are created only by merges < r, and merging never creates an
    # adjacency an earlier pair could consume.  Exercise it over every
    # substring-ish probe word the seed alphabet can produce.
    from __spark_entry__ import _bpe_seed_merges

    merges = _bpe_seed_merges()
    ranks = {p: i for i, p in enumerate(merges)}
    rng = random.Random(42)
    alphabet = sorted({c for pair in merges for c in "".join(pair) if c != "<"})
    probes = [w for w, _ in CLASSIC] + ["table", "tables", "datatable", "valuable"]
    for _ in range(300):
        probes.append("".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12))))
    for w in probes:
        assert _encode_sequential(w, merges) == encode_word(w, ranks), w


def test_word_freqs_spark(spark):
    df = spark.createDataFrame(
        [(1, "the table  The TABLE\tvalue"), (2, "value the"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = {r["word"]: r["freq"] for r in word_freqs(df).collect()}
    assert got == {"the": 3, "table": 2, "value": 2}


def test_bpe_encode_spark_matches_kernel(spark):
    texts = [
        "the table value",
        "datatable query  stream",
        "",
        "customer partition merge the the",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    from __spark_entry__ import _bpe_seed_merges

    merges = _bpe_seed_merges()
    ranks = {p: i for i, p in enumerate(merges)}
    rows = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert len(rows) == len(texts)
    for i, text in enumerate(texts):
        words = text.lower().split()
        toks = [t for w in words for t in encode_word(w, ranks)]
        assert rows[i]["n_words"] == len(words)
        assert rows[i]["n_tokens"] == len(toks)
        assert rows[i]["bpe_text"] == " ".join(toks)


def test_corpus_trained_end_to_end(spark):
    # the production composition: word_freqs (Spark reduction) ->
    # train_bpe (driver, bounded) -> bpe_encode (Spark map) — token count
    # must strictly shrink vs the 0-merge char baseline
    df = spark.createDataFrame(
        [(i, "streaming tables hold streaming values " * 3) for i in range(8)],
        "doc_id long, text string",
    )
    merges = train_bpe(word_freqs(df), n_merges=12)
    assert merges, "corpus training learned no merges"
    out = bpe_encode(df, merges).collect()
    base = bpe_encode(df, []).collect()
    assert sum(r["n_tokens"] for r in out) < sum(r["n_tokens"] for r in base)
    assert all(r["n_words"] == 15 for r in out)


def test_bpe_decode_roundtrip_identity(spark):
    from html_parser_spark.ops.bpe import (
        bpe_encode,
        bpe_roundtrip_check,
        train_bpe,
    )

    merges = train_bpe(
        [("lower", 9), ("low", 7), ("newest", 6), ("widest", 3)], n_merges=8
    )
    docs = spark.createDataFrame(
        [
            (1, "  Low lower LOWEST\nnewest   widest  "),
            (2, "unseen synergy tokens"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    enc = bpe_encode(docs, merges)
    got = {r["doc_id"]: r["ok"]
           for r in bpe_roundtrip_check(docs, enc).collect()}
    assert got == {1: True, 2: True, 3: True}


def test_bpe_decode_detects_damage(spark):
    from pyspark.sql import functions as F

    from html_parser_spark.ops.bpe import (
        bpe_encode,
        bpe_roundtrip_check,
        train_bpe,
    )

    merges = train_bpe([("ab", 5)], n_merges=2)
    docs = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    enc = bpe_encode(docs, merges).withColumn(
        "bpe_text", F.concat(F.col("bpe_text"), F.lit(" x</w>"))
    )
    assert bpe_roundtrip_check(docs, enc).collect()[0]["ok"] is False


def test_bpe_decode_pure_codegen(spark):
    from html_parser_spark.ops.bpe import bpe_decode

    df = spark.createDataFrame([("a b</w>",)], ["bpe_text"])
    plan = bpe_decode(df)._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, plan
