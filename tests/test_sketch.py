"""Mergeable sketches + deterministic corpus shuffle — ops/sketch.py.

The contract queries (q_hll_distinct / q_corpus_shuffle) do the
cross-engine value-hash check; these tests pin the hand-checkable sketch
guarantees (HLL merge losslessness + accuracy band, shuffle permutation +
partition independence).
"""

import pytest
from pyspark.sql import functions as F


def _keys(spark, n, tag=""):
    return spark.range(n).select(
        F.concat(F.lit(f"k{tag}"), F.col("id").cast("string")).alias("key")
    )


# ---------------------------------------------------------------------------
# HLL registers / merge / estimate — ops/sketch.hll_*
# ---------------------------------------------------------------------------
def test_hll_estimate_accuracy_band(spark):
    from html_parser_spark.ops.sketch import hll_estimate, hll_registers

    # raw-HLL standard error is 1.04/sqrt(m) ≈ 13% at m=64; assert a 3-sigma
    # band on a cardinality big enough to sit in the raw estimator's regime
    n = 5000
    est = hll_estimate(
        hll_registers(_keys(spark, n), "key", (), m=64), (), m=64
    ).collect()[0]
    assert abs(est["est_distinct"] - n) < 0.4 * n
    assert est["zero_registers"] == 0  # 5000 keys over 64 buckets: all hit


def test_hll_duplicates_do_not_move_registers(spark):
    from html_parser_spark.ops.sketch import hll_estimate, hll_registers

    once = _keys(spark, 800)
    tripled = once.union(once).union(once)
    a = hll_estimate(hll_registers(once, "key", (), m=64), (), m=64).collect()[0]
    b = hll_estimate(hll_registers(tripled, "key", (), m=64), (), m=64).collect()[0]
    assert a["est_distinct"] == b["est_distinct"]  # max() is duplicate-blind


def test_hll_merge_equals_rebuild(spark):
    from html_parser_spark.ops.sketch import hll_estimate, hll_merge, hll_registers

    left = _keys(spark, 1500)  # k0..k1499
    right = _keys(spark, 3000).where(F.col("key") >= "k1")  # overlapping slice
    merged = hll_estimate(
        hll_merge(
            hll_registers(left, "key", (), m=64),
            hll_registers(right, "key", (), m=64),
            (),
        ),
        (),
        m=64,
    ).toPandas()
    rebuilt = hll_estimate(
        hll_registers(left.union(right), "key", (), m=64), (), m=64
    ).toPandas()
    assert merged.equals(rebuilt)  # lossless merge: sketch(A)⊔sketch(B) == sketch(A∪B)


def test_hll_grouped_and_m_validation(spark):
    from html_parser_spark.ops.sketch import hll_estimate, hll_registers

    df = spark.range(600).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("string").alias("key")
    )
    out = hll_estimate(hll_registers(df, "key", ("g",), m=32), ("g",), m=32)
    rows = {r["g"]: r["est_distinct"] for r in out.collect()}
    assert set(rows) == {0, 1, 2}
    for v in rows.values():
        assert abs(v - 200) < 0.6 * 200  # 3-sigma at m=32 (~18% sigma)
    with pytest.raises(ValueError):
        hll_registers(df, "key", (), m=48)  # 48 does not divide 256


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle — ops/sketch.corpus_shuffle
# ---------------------------------------------------------------------------
def test_corpus_shuffle_is_sharded_permutation(spark):
    from html_parser_spark.ops.sketch import corpus_shuffle

    docs = spark.range(300).select(F.col("id").alias("doc_id"))
    out = corpus_shuffle(docs, "doc_id", n_shards=8, seed="s1").toPandas()
    assert len(out) == 300 and out["doc_id"].nunique() == 300
    for _, grp in out.groupby("shard"):
        # within every shard, pos is exactly 1..|shard|
        assert sorted(grp["pos"]) == list(range(1, len(grp) + 1))


def test_corpus_shuffle_partition_independent_and_seeded(spark):
    from html_parser_spark.ops.sketch import corpus_shuffle

    docs = spark.range(300).select(F.col("id").alias("doc_id"))
    a = corpus_shuffle(docs, "doc_id", n_shards=8, seed="s1").toPandas()
    b = (
        corpus_shuffle(docs.repartition(7), "doc_id", n_shards=8, seed="s1")
        .toPandas()
    )
    key = lambda d: d.sort_values("doc_id").reset_index(drop=True)
    assert key(a).equals(key(b))  # md5 total order: partitioning-independent
    c = corpus_shuffle(docs, "doc_id", n_shards=8, seed="s2").toPandas()
    assert not key(a).equals(key(c))  # a different seed reorders


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth — ops/corpus.vocab_growth
# ---------------------------------------------------------------------------
def test_vocab_growth_hand_computed(spark):
    from html_parser_spark.ops.corpus import vocab_growth

    docs = spark.createDataFrame(
        [
            (0, "a b a"),        # 3 occ, new: a b
            (1, "b c"),          # 2 occ, new: c
            (2, "c c d"),        # 3 occ, new: d
            (5, "e"),            # past threshold 3, inside 9
        ],
        "doc_id long, text string",
    )
    out = {
        r["threshold"]: (r["n_tokens"], r["n_distinct"])
        for r in vocab_growth(docs, thresholds=[0, 1, 3, 9]).collect()
    }
    assert out == {0: (3, 2), 1: (5, 3), 3: (8, 4), 9: (9, 5)}


def test_vocab_growth_monotone_and_validation(spark):
    import pytest as _pytest

    from html_parser_spark.ops.corpus import vocab_growth

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 17).cast("string"), F.lit(" common")).alias(
            "text"
        ),
    )
    rows = vocab_growth(docs, thresholds=[9, 29, 59]).orderBy("threshold").collect()
    for a, b in zip(rows, rows[1:]):
        assert b["n_tokens"] >= a["n_tokens"]
        assert b["n_distinct"] >= a["n_distinct"]
    # full prefix sees every token twice per doc, 17 w-words + 'common'
    assert rows[-1]["n_tokens"] == 120 and rows[-1]["n_distinct"] == 18
    with _pytest.raises(ValueError):
        vocab_growth(docs, thresholds=[10, 5])


def test_hll_linear_correction_small_range(spark):
    from html_parser_spark.ops.sketch import (
        hll_estimate,
        hll_linear_corrected,
        hll_registers,
    )

    # 8 keys at m=256: raw HLL reads ~0.72*m (the documented small-range
    # bias); linear counting recovers the true count within ±2
    small = hll_linear_corrected(
        hll_estimate(hll_registers(_keys(spark, 8), "key", (), m=256), (), m=256),
        m=256,
    ).collect()[0]
    assert abs(small["est_distinct"] - 8) <= 2
    # large cardinality (raw estimate > 5m/2): the raw path is untouched
    raw = hll_estimate(
        hll_registers(_keys(spark, 5000), "key", (), m=256), (), m=256
    ).collect()[0]
    corrected = hll_linear_corrected(
        hll_estimate(hll_registers(_keys(spark, 5000), "key", (), m=256), (), m=256),
        m=256,
    ).collect()[0]
    assert corrected["est_distinct"] == raw["est_distinct"]
