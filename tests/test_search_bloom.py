"""The Bloom-filter seen-set (ops/bloom.py)."""


def test_bloom_no_false_negatives(spark):
    from html_parser_spark.ops.bloom import bloom_build, bloom_probe

    seen = spark.createDataFrame(
        [(f"https://h{i}.com/p",) for i in range(50)], ["url"]
    )
    novel = spark.createDataFrame(
        [(f"https://novel{i}.org/x",) for i in range(50)], ["url"]
    )
    bits = bloom_build(seen, m_bits=1 << 14, k_hashes=5)
    out = {
        r["url"]: r["maybe_seen"]
        for r in bloom_probe(bits, seen.union(novel), m_bits=1 << 14, k_hashes=5).collect()
    }
    # the contract: every seen key MUST probe true
    assert all(out[f"https://h{i}.com/p"] for i in range(50))
    # and at 2k set bits / 16k the novel keys overwhelmingly probe false
    novel_hits = sum(out[f"https://novel{i}.org/x"] for i in range(50))
    assert novel_hits <= 2


def test_bloom_words_stay_non_negative(spark):
    """62-bit words keep every word >= 0 in both engines (1<<63 overflows
    DuckDB's signed BIGINT and flips Spark's sign)."""
    from html_parser_spark.ops.bloom import bloom_build

    seen = spark.createDataFrame(
        [(f"k{i}",) for i in range(2000)], ["url"]
    )
    bits = bloom_build(seen, m_bits=620, k_hashes=3)  # dense: all words hit
    rows = bits.collect()
    assert rows and all(r["word"] >= 0 for r in rows)
    assert all(0 <= r["word_idx"] < 10 for r in rows)
