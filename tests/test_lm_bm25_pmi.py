"""Round-5 ops: stupid-backoff n-gram LM + CCNet perplexity buckets
(ops/lm.py) and the readability profile."""


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c a b c", "en"),
            (2, "a b x", "en"),
            (3, "z", "en"),
            (4, "", "en"),
            (5, "c a b", "fr"),
        ],
        ["doc_id", "text", "lang"],
    )


def test_lm_train_counts(spark):
    from html_parser_spark.ops.lm import train_stupid_backoff

    m = {
        (r["order"], r["ctx"], r["tok"]): (r["cnt"], r["ctx_total"])
        for r in train_stupid_backoff(_docs(spark)).collect()
    }
    # unigrams: N = 13 tokens total
    assert m[(1, "", "a")] == (4, 13)
    assert m[(1, "", "z")] == (1, 13)
    # bigram 'a b' appears 4 times; context 'a' always continues with b
    assert m[(2, "a", "b")] == (4, 4)
    # context 'b' continues c twice, x once
    assert m[(2, "b", "c")] == (2, 3)
    assert m[(2, "b", "x")] == (1, 3)
    # trigrams
    assert m[(3, "a b", "c")] == (2, 3)
    assert m[(3, "a b", "x")] == (1, 3)
    assert m[(3, "c a", "b")] == (2, 2)
    # empty doc contributes no grams
    assert sum(c for c, _ in (m[k] for k in m if k[0] == 1)) == 13


def test_lm_score_hand_computed(spark):
    """doc1 'a b c a b c' scored against the self-trained model, by hand:
    pos1 unigram (no ctx, no penalty) 4*10^6 div 13 = 307692;
    pos2 bigram hit 4/4 = 10^6; pos3/6 trigram 2/3 = 666666;
    pos4/5 trigram 1/1, 2/2 = 10^6."""
    from html_parser_spark.ops.lm import score_stupid_backoff, train_stupid_backoff

    docs = _docs(spark)
    m = train_stupid_backoff(docs)
    out = {r["doc_id"]: r for r in score_stupid_backoff(docs, m).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 6
    assert r1["sum_score"] == 307692 + 1000000 + 666666 + 1000000 + 1000000 + 666666
    assert (r1["hits3"], r1["hits2"], r1["hits1"], r1["oov"]) == (4, 1, 1, 0)
    assert r1["avg_score"] == r1["sum_score"] // 6
    # empty doc survives with a zero row (never dropped)
    r4 = out[4]
    assert r4["n_tokens"] == 0 and r4["sum_score"] == 0 and r4["avg_score"] == 0


def test_lm_backoff_penalty_and_oov(spark):
    """A doc whose trigram is unseen must back off with the 2/5 penalty;
    a token unseen even as a unigram is OOV and scores 0."""
    from html_parser_spark.ops.lm import score_stupid_backoff, train_stupid_backoff

    train = spark.createDataFrame(
        [(1, "a b c a b c")], ["doc_id", "text"]
    )
    m = train_stupid_backoff(train)
    test = spark.createDataFrame([(9, "c b q")], ["doc_id", "text"])
    r = score_stupid_backoff(test, m).collect()[0]
    # pos1 'c': unigram, full ctx unavailable, k=0: 2*10^6 div 6 = 333333
    # pos2 'b' ctx 'c': bigram (c,b) unseen, unigram backoff k=1:
    #   2 * 10^6 * 2 div (6 * 5) = 133333
    # pos3 'q' ctx2 'c b': OOV -> 0
    assert r["sum_score"] == 333333 + 133333 + 0
    assert (r["hits3"], r["hits2"], r["hits1"], r["oov"]) == (0, 0, 2, 1)


def test_lm_buckets_per_lang_thirds_and_tie_stability(spark):
    from html_parser_spark.ops.lm import (
        perplexity_buckets,
        score_stupid_backoff,
        train_stupid_backoff,
    )

    docs = _docs(spark)
    m = train_stupid_backoff(docs)
    sc = score_stupid_backoff(docs, m)
    out = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(sc, docs.select("doc_id", "lang")).collect()
    }
    # en: 4 docs ranked by avg desc -> better*3 div 4 = 0,0,1,2
    assert out[1] == "head" and out[2] == "head"
    assert out[3] == "middle" and out[4] == "tail"
    # fr: a single doc is its own head
    assert out[5] == "head"
    # ties share a bucket: duplicate docs => identical avg => same bucket
    dup = spark.createDataFrame(
        [(i, "m m m", "de") for i in range(6)], ["doc_id", "text", "lang"]
    )
    m2 = train_stupid_backoff(dup)
    sc2 = score_stupid_backoff(dup, m2)
    b2 = {
        r["bucket"]
        for r in perplexity_buckets(sc2, dup.select("doc_id", "lang")).collect()
    }
    assert b2 == {"head"}


def test_readability_profile_hand_computed(spark):
    from html_parser_spark.ops.text import readability_profile

    docs = spark.createDataFrame(
        [
            # 6 words, 2 sentences, vowel groups: hello(2: e,o) world(1: o)
            # it(1) is(1) a(1) test(1) = 7; distinct 6/6
            (1, "Hello world. It is a test!"),
            # no terminal punct -> sentences floored to 1
            (2, "no punctuation here"),
            (3, ""),
            # repeated token -> ttr 2/3 ('dup.' keeps its period, so the
            # whitespace types are {dup, dup.})
            (4, "dup dup dup."),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in readability_profile(docs).collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllable_groups"]) == (6, 2, 7)
    assert r1["ttr_x10000"] == 10000
    # fk_x100 = 39*6//2 + 1180*7//6 - 1559 = 117 + 1376 - 1559 = -66
    assert r1["fk_x100"] == 117 + 1376 - 1559
    assert out[2]["n_sentences"] == 1
    r3 = out[3]
    assert (r3["n_words"], r3["n_sentences"], r3["ttr_x10000"], r3["fk_x100"]) == (
        0, 0, 0, 0,
    )
    assert out[4]["ttr_x10000"] == 6666


def test_readability_plan_no_shuffle(spark):
    import io
    from contextlib import redirect_stdout

    from html_parser_spark.ops.text import readability_profile

    docs = spark.createDataFrame([(1, "a b."), (2, "c d!")], ["doc_id", "text"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        readability_profile(docs).explain(mode="simple")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def _py_stupid_backoff(corpus, scale=10**6):
    """Pure-Python reference for train+score on the same corpus: the
    differential oracle for the Spark join formulation."""
    from collections import Counter

    toks = {d: t.split() for d, t in corpus}
    uni, bi, tri = Counter(), Counter(), Counter()
    for t in toks.values():
        for i, w in enumerate(t):
            uni[w] += 1
            if i >= 1:
                bi[(t[i - 1], w)] += 1
            if i >= 2:
                tri[(t[i - 2] + " " + t[i - 1], w)] += 1
    tot1 = sum(uni.values())
    tot2 = Counter()
    for (c, _), n in bi.items():
        tot2[c] += n
    tot3 = Counter()
    for (c, _), n in tri.items():
        tot3[c] += n
    out = {}
    for d, t in toks.items():
        s = h3 = h2 = h1 = oov = 0
        for i, w in enumerate(t):
            c2 = t[i - 2] + " " + t[i - 1] if i >= 2 else None
            c1 = t[i - 1] if i >= 1 else None
            if c2 is not None and tri[(c2, w)]:
                s += tri[(c2, w)] * scale // tot3[c2]; h3 += 1
            elif c1 is not None and bi[(c1, w)]:
                k = 1 if c2 is not None else 0
                s += bi[(c1, w)] * scale * 2**k // (tot2[c1] * 5**k); h2 += 1
            elif uni[w]:
                k = 2 if c2 is not None else (1 if c1 is not None else 0)
                s += uni[w] * scale * 2**k // (tot1 * 5**k); h1 += 1
            else:
                oov += 1
        out[d] = (len(t), s, h3, h2, h1, oov, s // len(t) if t else 0)
    return out


def test_lm_score_differential_vs_python_reference(spark):
    """Seeded pseudo-random corpora: the Spark three-join scorer must
    agree row-for-row with the sequential Python reference."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    corpus = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for d in range(60)
    ]
    expect = _py_stupid_backoff(corpus)
    from html_parser_spark.ops.lm import score_stupid_backoff, train_stupid_backoff

    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    m = train_stupid_backoff(docs)
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["sum_score"], r["hits3"], r["hits2"],
            r["hits1"], r["oov"], r["avg_score"],
        )
        for r in score_stupid_backoff(docs, m).collect()
    }
    assert got == expect
