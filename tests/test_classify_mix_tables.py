"""Round-4 extras: temperature mixing and corpus packing (shards, sequences)
— semantics + plan-shape assertions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------- temperature mix
def test_temperature_mix_plan_exact_small_case(spark):
    """Closed-form check: strata of 100/400 docs at α=0.5 →
    w=(10,20), S=30, T=500; thresholds floor(65536·500·w/(30·c)):
    head (400): floor(65536·500·20/(30·400)) = 54613; tail (100):
    capped at 65536 (keep everything — α<1 upsamples the tail)."""
    from html_parser_spark.ops.corpus import temperature_mix_plan

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, "tail").otherwise("head").alias("lang"),
    )
    got = {r["stratum"]: r for r in temperature_mix_plan(docs).collect()}
    assert got["tail"]["threshold"] == 65536
    assert got["tail"]["kept"] == 100
    assert got["head"]["threshold"] == (65536 * 500 * 20) // (30 * 400)
    assert 0 < got["head"]["kept"] < 400


def test_temperature_sample_deterministic_and_matches_plan(spark):
    """Sampling twice selects the same ids, and per-stratum counts equal
    the plan's `kept`."""
    from html_parser_spark.ops.corpus import (
        temperature_mix_plan,
        temperature_sample,
    )

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("lang"),
    )
    s1 = sorted(r["doc_id"] for r in temperature_sample(docs).collect())
    s2 = sorted(r["doc_id"] for r in temperature_sample(docs).collect())
    assert s1 == s2
    plan = {r["stratum"]: r["kept"] for r in temperature_mix_plan(docs).collect()}
    got = {
        r["lang"]: r["n"]
        for r in temperature_sample(docs)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == plan


def test_temperature_mix_natural_alpha_keeps_everything(spark):
    """α=1 with T=corpus size is the identity mixture: every threshold is
    65536 and every doc is kept."""
    from html_parser_spark.ops.corpus import temperature_mix_plan

    docs = spark.range(120).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("lang")
    )
    rows = temperature_mix_plan(docs, alpha_pct=100).collect()
    assert all(r["threshold"] == 65536 and r["kept"] == r["n_docs"] for r in rows)


def test_temperature_mix_rejects_other_alpha(spark):
    from html_parser_spark.ops.corpus import temperature_mix_plan

    with pytest.raises(ValueError):
        temperature_mix_plan(
            spark.createDataFrame([(1, "a")], ["doc_id", "lang"]), alpha_pct=30
        )


# ---------------------------------------------------------- corpus packing
def test_pack_shards_matches_sequential_and_is_partition_independent(spark):
    """The distributed prefix-sum equals the sequential running sum for
    ANY partition count (1, 3, 8) — including a NULL-text doc (0 bytes)."""
    from html_parser_spark.ops.corpus import pack_shards

    rows = [(i, "x" * ((i * 37) % 200)) for i in range(50)]
    rows[7] = (7, None)
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # sequential reference
    sizes = {i: len(t.encode()) if t else 0 for i, t in rows}
    expect, off = {}, 0
    for i in sorted(sizes):
        expect[i] = (sizes[i], off, off // 500)
        off += sizes[i]

    for p in (1, 3, 8):
        got = {
            r["doc_id"]: (r["n_bytes"], r["start_offset"], r["shard_id"])
            for r in pack_shards(df, shard_bytes=500, num_partitions=p).collect()
        }
        assert got == expect, f"num_partitions={p}"


def test_pack_shards_correct_without_exchange_reuse(spark):
    """`_p` (spark_partition_id) feeds both the totals branch and the probe
    join; correctness must come from the shared persisted materialization,
    NOT from Catalyst's exchange-reuse rule unifying two independently
    sampled range exchanges — so the result must hold with reuse disabled."""
    from html_parser_spark.ops.corpus import pack_shards

    rows = [(i, "y" * ((i * 53) % 300)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    sizes = {i: len(t.encode()) for i, t in rows}
    expect, off = {}, 0
    for i in sorted(sizes):
        expect[i] = (sizes[i], off, off // 777)
        off += sizes[i]
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        got = {
            r["doc_id"]: (r["n_bytes"], r["start_offset"], r["shard_id"])
            for r in pack_shards(df, shard_bytes=777, num_partitions=5).collect()
        }
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    assert got == expect


def test_pack_shards_no_global_single_partition_window(spark):
    """The full-data window must be partitioned (by the range id); the only
    unpartitioned window may run over the P-row offsets frame."""
    from html_parser_spark.ops.corpus import pack_shards

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("abc").alias("text")
    )
    plan = pack_shards(df, shard_bytes=100, num_partitions=4)
    plan.collect()
    s = plan._jdf.queryExecution().executedPlan().toString()
    import re

    # every Window over n_bytes/doc_id (the full-data cumsum) must carry a
    # partition spec; the offsets window (over _range_bytes) may be global
    for m in re.finditer(r"Window \[(.*?)\]", s):
        spec = m.group(0)
        if "_range_bytes" in spec:
            continue
        assert "partitionBy" in s or "_p" in spec, spec


def _sequential_pack(token_counts, L):
    """Pure-Python packing reference: doc tokens + 1 EOD slot concatenated
    in id order, cut every L slots."""
    out, off = [], 0
    for did in sorted(token_counts):
        n_slots = token_counts[did] + 1
        start, end = off, off + n_slots
        s = start // L
        while s * L < end:
            seg_start = max(start, s * L)
            seg_end = min(end, (s + 1) * L)
            out.append(
                (s, did, seg_start - s * L, seg_start - start,
                 seg_end - seg_start, seg_end == end)
            )
            s += 1
        off = end
    return sorted(out)


def test_pack_sequences_hand_example(spark):
    """L=4, docs of 3/4/0 tokens: doc0 fills seq0 exactly (eod at slot 3),
    doc1 (5 slots) spans seq1+seq2, the empty doc is a lone EOD slot."""
    from html_parser_spark.ops.corpus import pack_sequences

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f g"), (2, None)],
        "doc_id long, text string",
    )
    got = sorted(
        (r["seq_id"], r["doc_id"], r["seq_off"], r["doc_off"],
         r["slice_len"], r["eod"])
        for r in pack_sequences(df, seq_len=4, num_partitions=2).collect()
    )
    assert got == [
        (0, 0, 0, 0, 4, True),   # 3 tokens + EOD == one full sequence
        (1, 1, 0, 0, 4, False),  # first 4 of doc1's 5 slots
        (2, 1, 0, 4, 1, True),   # doc1's EOD spills into seq2
        (2, 2, 1, 0, 1, True),   # empty doc == a lone EOD slot
    ]


def test_pack_sequences_matches_sequential_and_partition_independent(spark):
    from html_parser_spark.ops.corpus import pack_sequences

    rows = [(i, " ".join(f"t{j}" for j in range((i * 13) % 40))) for i in range(60)]
    rows[5] = (5, None)
    rows[11] = (11, "   ")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = {i: (len(t.split()) if t else 0) for i, t in rows}
    expect = _sequential_pack(counts, 16)
    for p in (1, 3, 8):
        got = sorted(
            (r["seq_id"], r["doc_id"], r["seq_off"], r["doc_off"],
             r["slice_len"], r["eod"])
            for r in pack_sequences(df, seq_len=16, num_partitions=p).collect()
        )
        assert got == expect, f"num_partitions={p}"


def test_pack_sequences_invariants(spark):
    """Every sequence except the last holds exactly L slots with no gaps;
    each doc's slices cover [0, n_tokens+1) contiguously and flag eod on
    the final slice only."""
    from collections import defaultdict

    from html_parser_spark.ops.corpus import pack_sequences

    rows = [(i, "w " * ((i * 7) % 23)) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    L = 32
    recs = pack_sequences(df, seq_len=L, num_partitions=4).collect()
    per_seq = defaultdict(list)
    per_doc = defaultdict(list)
    for r in recs:
        assert r["slice_len"] > 0
        per_seq[r["seq_id"]].append((r["seq_off"], r["slice_len"]))
        per_doc[r["doc_id"]].append((r["doc_off"], r["slice_len"], r["eod"]))
    last = max(per_seq)
    for sid, segs in per_seq.items():
        segs.sort()
        pos = 0
        for o, ln in segs:
            assert o == pos, (sid, segs)
            pos += ln
        if sid != last:
            assert pos == L, (sid, pos)
    for did, segs in per_doc.items():
        segs.sort()
        n_slots = ((did * 7) % 23) + 1
        pos = 0
        for o, ln, eod in segs:
            assert o == pos
            pos += ln
            assert eod == (pos == n_slots)
        assert pos == n_slots


def test_materialize_sequences_hand_example(spark):
    from html_parser_spark.ops.corpus import materialize_sequences, pack_sequences

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f g"), (2, None)],
        "doc_id long, text string",
    )
    plan = pack_sequences(df, seq_len=4, num_partitions=2)
    got = {
        r["seq_id"]: (r["n_slots"], r["seq_text"])
        for r in materialize_sequences(df, plan).collect()
    }
    assert got == {
        0: (4, "a b c <|eod|>"),
        1: (4, "d e f g"),
        2: (2, "<|eod|> <|eod|>"),  # doc1's EOD then empty doc2's EOD
    }


def test_materialize_sequences_reconstructs_stream(spark):
    """Concatenating all sequences in seq_id order must reproduce the
    sequential token+EOD stream exactly, with every non-final sequence
    packed to exactly L slots."""
    from html_parser_spark.ops.corpus import materialize_sequences, pack_sequences

    rows = [(i, " ".join(f"d{i}t{j}" for j in range((i * 11) % 29))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    L = 16
    plan = pack_sequences(df, seq_len=L, num_partitions=3)
    seqs = sorted(
        (r["seq_id"], r["n_slots"], r["seq_text"])
        for r in materialize_sequences(df, plan).collect()
    )
    expect_stream = []
    for i, t in rows:
        expect_stream.extend(t.split())
        expect_stream.append("<|eod|>")
    got_stream = [tok for _, _, text in seqs for tok in text.split()]
    assert got_stream == expect_stream
    assert [s for s, _, _ in seqs] == list(range(len(seqs)))
    for sid, n, text in seqs[:-1]:
        assert n == L and len(text.split()) == L
    assert seqs[-1][1] == len(expect_stream) - (len(seqs) - 1) * L
