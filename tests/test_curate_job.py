"""End-to-end curation job: filter → scrub → dedup → split → chunks."""

import json
import os


def test_curate_job_end_to_end(spark, tmp_path, capsys):
    import jobs.curate_job as cj

    out = str(tmp_path / "curated")
    cj.main([
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--output", out,
        "--min-tokens", "5",
        "--scrub-pii",
        "--chunk-tokens", "16",
        "--num-hashes", "4",
        "--bands", "2",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["job"] == "curate"
    assert stats["docs_in"] >= stats["after_quality_filter"] >= stats["after_dedup"]
    assert stats["after_dedup"] > 0
    assert sum(stats["splits"].values()) == stats["after_dedup"]
    assert stats["chunks"] >= stats["after_dedup"]  # every doc ≥1 chunk

    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert set(docs.columns) >= {"doc_id", "text", "lang", "n_chars", "split"}
    # split column is materialized as a partition directory (pruned reads)
    assert any(p.startswith("split=") for p in os.listdir(os.path.join(out, "docs")))
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    assert chunks.columns == ["doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text"]
    # chunk layout is consistent: per-doc token totals match the doc text
    from pyspark.sql import functions as F

    tot = (
        chunks.groupBy("doc_id").agg(F.sum("n_chunk_tokens").alias("n"))
        .join(
            docs.select(
                "doc_id",
                F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("expect"),
            ),
            "doc_id",
        )
    )
    assert tot.where(F.col("n") != F.col("expect")).count() == 0


def test_curate_job_from_extract_with_span_dedup(spark, tmp_path, capsys):
    """extract -> curate chain: url canon + latest-capture + blocklist +
    span dedup all wired through the production job."""
    import jobs.curate_job as cj
    import jobs.extract_job as ej

    ex_out = str(tmp_path / "extract")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", ex_out,
        "--limit", "40",
        "--partitions", "4",
    ])
    capsys.readouterr()
    cur_out = str(tmp_path / "curated")
    cj.main([
        "--from-extract", ex_out,
        "--output", cur_out,
        "--min-tokens", "1",
        "--span-dedup-tokens", "8",
        "--blocklist-hosts", "spam.example,ads.example",
        "--num-hashes", "4",
        "--bands", "2",
        # the synthetic pages repeat one vocabulary (duplicate-bigram
        # fraction ~0.997): open the Gopher gate so span dedup sees them
        "--max-dup-bigram-frac", "1.0",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["captures_in"] == 40
    # synthetic urls are unique per capture and none match the blocklist
    assert stats["docs_in"] == 40
    assert stats["after_quality_filter"] == 40
    assert stats["spans_dropped"] > 0
    assert stats["after_dedup"] > 0
    docs = spark.read.parquet(os.path.join(cur_out, "docs"))
    assert docs.count() == stats["after_dedup"]


def test_curate_from_main_content_output(spark, tmp_path, capsys):
    """WARC-style chain: extract_job --main-content output curates directly
    (text column is main_text, not extracted_text)."""
    import json

    import jobs.curate_job as cj
    import jobs.extract_job as ej

    mc = str(tmp_path / "mc")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", mc, "--partitions", "4", "--limit", "40",
        "--main-content",
    ])
    capsys.readouterr()
    out = str(tmp_path / "curated")
    cj.main(["--from-extract", mc, "--output", out, "--min-tokens", "3"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["captures_in"] == 40
    assert stats["docs_in"] > 0
    assert sum(stats["splits"].values()) == stats["after_dedup"]


def test_curate_job_mix_alpha_rebalances_languages(spark, tmp_path, capsys):
    """--mix-alpha 50 runs temperature sampling after dedup: the funnel
    reports after_mix <= after_dedup, the kept set matches an independent
    temperature_sample over the same survivors (determinism), and the
    majority language's share shrinks toward the sqrt mixture."""
    import jobs.curate_job as cj

    out = str(tmp_path / "curated-mix")
    cj.main([
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--output", out,
        "--min-tokens", "5",
        "--num-hashes", "4",
        "--bands", "2",
        "--mix-alpha", "50",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["after_mix"] <= stats["after_dedup"]
    assert stats["after_mix"] > 0
    assert sum(stats["splits"].values()) == stats["after_mix"]

    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(out, "docs"))
    # α=0.5 can only DOWN-sample over-represented languages (thresholds
    # cap at 65536 = keep-all), so every language's kept count is bounded
    # by its survivor count and the dominant language loses share
    by_lang = {r["lang"]: r["n"] for r in
               docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert len(by_lang) >= 2


def test_curate_job_domain_cap(spark, tmp_path, capsys):
    """--domain-cap caps docs per host BEFORE curation: all synthetic urls
    share host synth.example, so a cap of 5 admits exactly 5 docs."""
    import jobs.curate_job as cj
    import jobs.extract_job as ej

    ex_out = str(tmp_path / "extract")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", ex_out,
        "--limit", "40",
        "--partitions", "4",
    ])
    capsys.readouterr()
    out = str(tmp_path / "curated")
    cj.main([
        "--from-extract", ex_out,
        "--output", out,
        "--min-tokens", "1",
        "--domain-cap", "5",
        "--num-hashes", "4",
        "--bands", "2",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["captures_in"] == 40
    assert stats["docs_in"] == 5
    assert stats["after_dedup"] <= 5


def test_curate_job_canonical_dedup(spark, tmp_path, capsys):
    """extract --main-content emits the page's rel=canonical; curate
    --canonical-dedup elects per canonical group.  Synthetic pages declare
    no canonical, so every page is its own group and the funnel matches
    the latest-capture path exactly."""
    import jobs.curate_job as cj
    import jobs.extract_job as ej

    mc = str(tmp_path / "mc")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", mc, "--partitions", "4", "--limit", "30",
        "--main-content",
    ])
    capsys.readouterr()
    raw = spark.read.parquet(os.path.join(mc, "data"))
    assert "canonical" in raw.columns

    out_a = str(tmp_path / "canon")
    cj.main([
        "--from-extract", mc, "--output", out_a,
        "--min-tokens", "1", "--canonical-dedup",
        "--num-hashes", "4", "--bands", "2",
    ])
    stats_a = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out_b = str(tmp_path / "latest")
    cj.main([
        "--from-extract", mc, "--output", out_b,
        "--min-tokens", "1",
        "--num-hashes", "4", "--bands", "2",
    ])
    stats_b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats_a["captures_in"] == stats_b["captures_in"] == 30
    assert stats_a["docs_in"] == stats_b["docs_in"]
    assert stats_a["after_dedup"] == stats_b["after_dedup"]


def test_curate_job_canonical_dedup_requires_column(spark, tmp_path, capsys):
    """--canonical-dedup on a dictionary-extract output (no canonical
    column) must fail loudly, not silently fall back."""
    import pytest

    import jobs.curate_job as cj
    import jobs.extract_job as ej

    ex = str(tmp_path / "dict")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", ex, "--partitions", "4", "--limit", "10",
    ])
    capsys.readouterr()
    with pytest.raises(SystemExit, match="canonical"):
        cj.main([
            "--from-extract", ex,
            "--output", str(tmp_path / "x"),
            "--canonical-dedup",
        ])


def test_curate_job_pack_sequences(spark, tmp_path, capsys):
    """--pack-seq-len writes the packed-sequence export per split: total
    slots = per-split tokens + one EOD per doc, every non-final sequence
    of a split is exactly L slots."""
    from pyspark.sql import functions as F

    import jobs.curate_job as cj

    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (i, " ".join(f"w{i}x{j}" for j in range((i % 9) + 3)), "en")
            for i in range(30)
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_dir)
    out = str(tmp_path / "curated")
    cj.main([
        "--docs", docs_dir,
        "--output", out,
        "--min-tokens", "1",
        "--num-hashes", "4",
        "--bands", "2",
        "--pack-seq-len", "16",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["sequences"] > 0
    seqs = spark.read.parquet(os.path.join(out, "sequences"))
    assert stats["sequences"] == seqs.count()
    final = spark.read.parquet(os.path.join(out, "docs"))
    for split_name in stats["splits"]:
        part = final.where(F.col("split") == split_name)
        n_docs = part.count()
        n_toks = part.select(
            F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("t")
        ).collect()[0]["t"] or 0
        got = seqs.where(F.col("split") == split_name)
        total_slots = got.select(F.sum("n_slots").alias("s")).collect()[0]["s"]
        assert total_slots == n_toks + n_docs  # tokens + one EOD per doc
        # every sequence but the last is exactly L
        sizes = [r["n_slots"] for r in got.orderBy("seq_id").collect()]
        assert all(s == 16 for s in sizes[:-1])


def test_curate_job_shuffle_shards(spark, tmp_path, capsys):
    """--shuffle-shards writes the deterministic training-shuffle sidecar:
    every surviving doc gets exactly one (shard, pos) per split, shards in
    range, positions dense from 1 within each (split, shard)."""
    from pyspark.sql import functions as F

    import jobs.curate_job as cj

    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (i, " ".join(f"w{i}x{j}" for j in range((i % 9) + 3)), "en")
            for i in range(40)
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_dir)
    out = str(tmp_path / "curated")
    cj.main([
        "--docs", docs_dir,
        "--output", out,
        "--min-tokens", "1",
        "--num-hashes", "4",
        "--bands", "2",
        "--shuffle-shards", "4",
        "--shuffle-seed", "e2e",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    final = spark.read.parquet(os.path.join(out, "docs"))
    shuf = spark.read.parquet(os.path.join(out, "shuffle"))
    assert stats["shuffled"] == shuf.count() == final.count()
    # one sidecar row per surviving doc, per split
    assert (
        shuf.join(final.select("doc_id", "split"), ["doc_id", "split"]).count()
        == final.count()
    )
    assert shuf.where((F.col("shard") < 0) | (F.col("shard") >= 4)).count() == 0
    # positions dense from 1 within each (split, shard)
    for r in (
        shuf.groupBy("split", "shard")
        .agg(F.count("*").alias("n"), F.min("pos").alias("lo"),
             F.max("pos").alias("hi"))
        .collect()
    ):
        assert (r["lo"], r["hi"]) == (1, r["n"])


def test_curate_job_bpe_training(spark, tmp_path, capsys):
    """--bpe-merges trains on the TRAIN split only and writes a merge
    list that bpe_encode can consume (a learned merge shrinks tokens vs
    the 0-merge char baseline)."""
    import jobs.curate_job as cj
    from html_parser_spark.ops.bpe import bpe_encode

    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (i, " ".join(f"w{i}x{j} streaming tables" for j in range(3)), "en")
            for i in range(40)
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_dir)
    out = str(tmp_path / "curated")
    cj.main([
        "--docs", docs_dir,
        "--output", out,
        "--min-tokens", "1",
        "--max-top-word-frac", "0.9",
        "--num-hashes", "4",
        "--bands", "2",
        "--bpe-merges", "8",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["bpe_merges"] > 0
    merges = [
        tuple(p)
        for p in json.load(open(os.path.join(out, "bpe", "merges.json")))
    ]
    assert len(merges) == stats["bpe_merges"]
    df = spark.createDataFrame([(0, "streaming tables")], "doc_id long, text string")
    enc = bpe_encode(df, merges).collect()[0]
    base = bpe_encode(df, []).collect()[0]
    assert enc["n_tokens"] < base["n_tokens"]


def test_curate_job_c4_lines(spark, tmp_path, capsys):
    """--c4-lines strips failing lines and drops failing pages before the
    doc-level gates."""
    import jobs.curate_job as cj

    good = "This body sentence is perfectly fine and long enough."
    docs_dir = str(tmp_path / "docs")
    rows = (
        # 20 clean multi-line pages (unique body word beats the dedup)
        [(i, "\n".join([f"Unique page {i} body sentence here w{i}.",
                        good, good, good, good, "no terminal punct line"]),
          "en")
         for i in range(20)]
        # 5 lorem pages -> dropped by the page rule
        + [(100 + i, "\n".join([good] * 5 + ["plus lorem ipsum filler."]),
            "en") for i in range(5)]
    )
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(docs_dir)
    out = str(tmp_path / "curated")
    cj.main([
        "--docs", docs_dir, "--output", out,
        "--min-tokens", "1", "--max-top-word-frac", "0.9",
        "--num-hashes", "4", "--bands", "2",
        "--c4-lines",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["before_c4_lines"] == 25
    assert stats["docs_in"] == 20          # lorem pages gone
    final = spark.read.parquet(os.path.join(out, "docs"))
    # the no-terminal-punct line was stripped from every surviving text
    assert final.where(final.text.contains("no terminal punct")).count() == 0


def test_datacard_job(spark, tmp_path, capsys):
    """Datacard over a curated-style table: exact counts and shares per
    (split, lang), percentile dict per split, files on disk."""
    import jobs.datacard_job as dj
    from pyspark.sql import functions as F

    rows = [
        (1, "a b c", "en", "train"),
        (2, "d e f g h", "en", "train"),
        (3, "x y", "de", "train"),
        (4, "one two three four", "en", "valid"),
        (5, None, None, "valid"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, split string"
    ).write.parquet(docs_dir)
    out = str(tmp_path / "card")
    dj.main(["--docs", docs_dir, "--output", out])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs"] == 5 and stats["tokens"] == 14
    card = json.load(open(os.path.join(out, "datacard.json")))
    by = {(r["split"], r["lang"]): r for r in card["rows"]}
    assert by[("train", "en")]["n_docs"] == 2
    assert by[("train", "en")]["n_tokens"] == 8
    assert by[("train", "de")]["n_tokens"] == 2
    assert by[("valid", "und")]["n_tokens"] == 0   # NULL text/lang row
    assert abs(by[("train", "en")]["token_share"] - 8 / 14) < 1e-6
    # HLL+linear-counting vocab estimate: tiny exact-regime cardinalities
    assert by[("train", "en")]["vocab_est"] == 8      # a..h, all distinct
    assert by[("train", "de")]["vocab_est"] == 2      # x y
    assert by[("valid", "und")]["vocab_est"] == 0     # NULL text
    assert set(card["token_length_percentiles"]) == {"train", "valid"}
    tbl = spark.read.parquet(os.path.join(out, "card_rows"))
    assert tbl.count() == len(card["rows"])
    # no-split input defaults to one 'all' split
    nosplit = str(tmp_path / "nosplit")
    spark.createDataFrame(
        [(1, "a b", "en")], "doc_id long, text string, lang string"
    ).write.parquet(nosplit)
    dj.main(["--docs", nosplit, "--output", str(tmp_path / "card2")])
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["splits"] == ["all"] and stats2["tokens"] == 2


def test_extract_job_resume_config_guard(spark, tmp_path, capsys):
    """Resuming an output dir with different kernel flags must fail
    loudly — the anti-join would otherwise keep rows produced under the
    old config."""
    import pytest

    import jobs.extract_job as ej

    out = str(tmp_path / "ex")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", out, "--limit", "10", "--partitions", "2", "--resume",
    ])
    capsys.readouterr()
    # same flags resume fine
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", out, "--limit", "10", "--partitions", "2", "--resume",
    ])
    capsys.readouterr()
    with pytest.raises(SystemExit, match="config mismatch"):
        ej.main([
            "--pages", "synth:/root/testdata/sf0.001",
            "--output", out, "--limit", "10", "--partitions", "2",
            "--resume", "--main-content",
        ])


def test_curate_job_lm_buckets(spark, tmp_path, capsys):
    """--lm-buckets: trigram LM trains on the train split only, then
    every surviving doc (all splits) gets a per-lang head/middle/tail
    tag in the lm_buckets/ sidecar."""
    import jobs.curate_job as cj

    out = str(tmp_path / "curated")
    cj.main([
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--output", out,
        "--min-tokens", "5",
        "--num-hashes", "4",
        "--bands", "2",
        "--lm-buckets",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["after_dedup"] > 0
    assert sum(stats["lm_buckets"].values()) == stats["after_dedup"]
    assert set(stats["lm_buckets"]) <= {"head", "middle", "tail"}
    # the en cohort is large enough that all three buckets appear
    assert len(stats["lm_buckets"]) == 3

    lm = spark.read.parquet(os.path.join(out, "lm_buckets"))
    assert set(lm.columns) == {"doc_id", "lang", "avg_score", "bucket"}
    docs = spark.read.parquet(os.path.join(out, "docs"))
    # exactly one bucket row per surviving doc, never a stray id
    assert lm.count() == docs.count()
    assert lm.join(docs, "doc_id", "left_anti").count() == 0
    from pyspark.sql import functions as F

    # per-lang thirds: within each language, no bucket exceeds
    # ceil(n/3) + ties (sanity: head never exceeds 2/3 of the cohort)
    per = {
        (r["lang"], r["bucket"]): r["n"]
        for r in lm.groupBy("lang", "bucket").agg(F.count("*").alias("n")).collect()
    }
    tot_en = sum(n for (l, _), n in per.items() if l == "en")
    if tot_en >= 3:
        assert per.get(("en", "head"), 0) <= 2 * tot_en / 3 + 1


def test_curate_job_mojibake_gate(spark, tmp_path, capsys):
    """--mojibake-max-ppm drops encoding-damaged docs BEFORE the quality
    battery; clean docs are untouched and the funnel reports the gate."""
    import jobs.curate_job as cj

    clean = [
        (i, " ".join(f"w{i}{j} word{j} token{j}" for j in range(6)), "en")
        for i in range(4)
    ]
    poisoned = [(99, "Ã©x â€™y " * 10 + "filler words here for length", "en")]
    docs_dir = str(tmp_path / "docs_in")
    spark.createDataFrame(
        clean + poisoned, "doc_id long, text string, lang string"
    ).write.parquet(docs_dir)

    out = str(tmp_path / "curated")
    cj.main([
        "--docs", docs_dir,
        "--output", out,
        "--min-tokens", "3",
        "--mojibake-max-ppm", "10000",
        "--num-hashes", "4",
        "--bands", "2",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["before_mojibake"] == 5
    assert stats["docs_in"] == 4          # the gate ran before the funnel
    surv = spark.read.parquet(os.path.join(out, "docs"))
    ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert 99 not in ids and len(ids) == 4


def test_datacard_job_manifest_and_drift(spark, tmp_path, capsys):
    """--manifest-shards writes the release-integrity manifest (matching a
    direct shard_manifest call), --compare writes the per-lang drift table
    and reports the integer TVD."""
    import jobs.datacard_job as dj
    from pyspark.sql import functions as F

    from html_parser_spark.ops.corpus import shard_manifest

    new_rows = [(i, f"text number {i}", "en" if i < 8 else "de")
                for i in range(10)]
    old_rows = [(i, f"old text {i}", "en" if i < 5 else "de")
                for i in range(10)]
    new_dir, old_dir = str(tmp_path / "new"), str(tmp_path / "old")
    spark.createDataFrame(
        new_rows, "doc_id long, text string, lang string"
    ).write.parquet(new_dir)
    spark.createDataFrame(
        old_rows, "doc_id long, text string, lang string"
    ).write.parquet(old_dir)

    out = str(tmp_path / "card")
    dj.main(["--docs", new_dir, "--output", out,
             "--manifest-shards", "3", "--compare", old_dir])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    assert stats["manifest_shards"] == manifest.count() <= 3
    expected = shard_manifest(
        spark.read.parquet(new_dir).withColumn(
            "shard",
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                   16, 10).cast("long") % 3,
        )
    )
    assert sorted(map(tuple, manifest.collect())) == sorted(
        map(tuple, expected.collect())
    )

    # old mix en/de = 50/50, new = 80/20 → TVD = 30% = 300000 ppm
    drift = {r["bucket"]: r.asDict()
             for r in spark.read.parquet(os.path.join(out, "drift")).collect()}
    assert drift["en"]["delta_ppm"] == 300000
    assert drift["de"]["delta_ppm"] == 300000
    assert stats["drift_tvd_ppm"] == 300000
    card = json.load(open(os.path.join(out, "datacard.json")))
    assert card["drift_tvd_ppm"] == 300000


def test_curate_job_code_route(spark, tmp_path, capsys):
    """--code-route splits code-heavy docs out of the NL stream BEFORE the
    quality battery: they land in their own parquet, the survivors table
    never sees them, and the funnel reports the routing."""
    import jobs.curate_job as cj

    prose = [
        (i, " ".join(f"w{i}{j} word{j} token{j}" for j in range(6)), "en")
        for i in range(4)
    ]
    code = [
        (77,
         "import os\nimport sys\n    x = 1;\n    y = 2;\nreturn x;\n"
         "def f():\n    pass\nz = {\n}\n",
         "en"),
    ]
    docs_dir = str(tmp_path / "docs_in")
    spark.createDataFrame(
        prose + code, "doc_id long, text string, lang string"
    ).write.parquet(docs_dir)

    out = str(tmp_path / "curated")
    code_dir = str(tmp_path / "code_stream")
    cj.main([
        "--docs", docs_dir,
        "--output", out,
        "--min-tokens", "3",
        "--code-route", code_dir,
        "--code-max-ppm", "500000",
        "--num-hashes", "4",
        "--bands", "2",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["code_routed"] == 1
    assert stats["docs_in"] == 4  # routing ran before the funnel counted
    routed = spark.read.parquet(code_dir)
    assert {r["doc_id"] for r in routed.collect()} == {77}
    surv = spark.read.parquet(os.path.join(out, "docs"))
    assert 77 not in {r["doc_id"] for r in surv.select("doc_id").collect()}


def test_datacard_job_concentration(spark, tmp_path, capsys):
    """--concentration writes the magnitude-bucket Lorenz table over the
    chosen key and reports the heaviest bucket's cumulative ppm share."""
    import jobs.datacard_job as dj

    # host h0 carries one 80-char doc; h1/h2 carry 10-char docs
    rows = [(0, "x" * 80, "en", "h0"),
            (1, "y" * 10, "en", "h1"),
            (2, "z" * 10, "en", "h2")]
    docs_dir = str(tmp_path / "docs_in")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, host string"
    ).write.parquet(docs_dir)
    out = str(tmp_path / "card")
    dj.main(["--docs", docs_dir, "--output", out,
             "--concentration", "host"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # top bucket: h0's 80 chars of 100 total -> 800000 ppm
    assert stats["concentration_top_ppm"] == 800000
    conc = {r["bucket"]: r for r in
            spark.read.parquet(os.path.join(out, "concentration")).collect()}
    assert conc[7]["cum_keys"] == 1          # 80 -> bit length 7
    assert conc[4]["cum_total_ppm"] == 1000000  # 10 -> bit length 4

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        dj.main(["--docs", docs_dir, "--output", out,
                 "--concentration", "nope"])


def test_datacard_job_mixture_plan(spark, tmp_path, capsys):
    """--mix-weights/--mix-target: epoch-plan sidecar + repeated_sources."""
    import jobs.datacard_job as dj

    rows = [
        (1, "a b c d e f g h i j", "en", "train"),   # en: 10 tokens
        (2, "x y", "de", "train"),                    # de: 2 tokens
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, split string"
    ).write.parquet(docs_dir)
    out = str(tmp_path / "card")
    dj.main([
        "--docs", docs_dir, "--output", out,
        "--mix-weights", "en:500000,de:400000,fr:100000",
        "--mix-target", "20",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # de: planned 8 of 2 available = 4 epochs -> the one repeated source
    assert stats["repeated_sources"] == 1
    plan = {r["source"]: r for r in
            spark.read.parquet(os.path.join(out, "mixture")).collect()}
    assert plan["en"]["planned_tokens"] == 10 and plan["en"]["repeated"] is False
    assert plan["de"]["epochs_ppm"] == 4000000 and plan["de"]["repeated"] is True
    # demanded-but-absent source: loud NULL-epochs row
    assert plan["fr"]["n_tokens"] == 0 and plan["fr"]["epochs_ppm"] is None

    # missing --mix-target fails loudly
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        dj.main(["--docs", docs_dir, "--output", out,
                 "--mix-weights", "en:1000000"])


def test_curate_job_block_terms(spark, tmp_path, capsys):
    """--block-terms: the C4 bad-word gate drops docs containing a
    blocklisted WORD (not substring) and reports term_blocked."""
    import jobs.curate_job as cj

    rows = [
        (1, "a perfectly clean document with plenty of words here", "en"),
        (2, "this one mentions forbiddenword right in the text body", "en"),
        (3, "embforbiddenwordded is only a substring so it stays fine", "en"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(docs_dir)
    out = str(tmp_path / "curated")
    cj.main([
        "--docs", docs_dir, "--output", out,
        "--block-terms", "ForbiddenWord,otherterm",
        "--min-tokens", "1",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["term_blocked"] == 1
    kept = {r["doc_id"] for r in
            spark.read.parquet(os.path.join(out, "docs")).collect()}
    assert 2 not in kept and {1, 3} <= kept
