"""Composed flagship pipeline (jobs/flagship_job.py): extract → graph →
curate → chunks as ONE job with cross-stage resume.

The per-stage chunk-level resume is covered by test_spark_pipeline.py's
test_checkpoint_resume; here the subject is the STAGE-BOUNDARY contract:
a run killed between stages (simulated with --stop-after) must, on
re-run, skip every completed stage (marker + input fingerprint) and
produce outputs identical to an uninterrupted run.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _run(spark, tmp_path, capsys, out_name, extra=()):
    import jobs.flagship_job as fj

    src = str(tmp_path / "pages")
    if not os.path.isdir(src):
        from html_parser_spark.data.pages import synthetic_pages_df

        synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(30).write.parquet(src)
    out = str(tmp_path / out_name)
    fj.main([
        "--pages", src, "--output", out, "--partitions", "4",
        "--min-tokens", "5", "--chunk-tokens", "64", "--iterations", "2",
        *extra,
    ])
    return out, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _write_linked_pages(spark, path):
    """The 30 synthetic pages of ``_run``, each also linking to one of
    three other hosts, so the graph stage has hosts to rank."""
    from html_parser_spark.data.pages import synthetic_pages_df

    link = F.concat(
        F.lit('<body><p><a href="https://ref'),
        (F.crc32("url") % 3).cast("string"),
        F.lit('.example/">ref</a></p>'),
    )
    synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(30).select(
        "url", "warc_ts",
        F.to_binary(
            F.regexp_replace(F.decode("html", "UTF-8"), F.lit("<body>"), link),
            F.lit("utf8"),
        ).alias("html"),
        "lang",
    ).write.parquet(path)


def test_cross_stage_resume_after_kill(spark, tmp_path, capsys):
    _write_linked_pages(spark, str(tmp_path / "pages"))
    # uninterrupted reference run
    ref_out, ref = _run(spark, tmp_path, capsys, "ref")
    assert ref["stages"]["extract"]["action"] == "ran"
    assert ref["stages"]["curate"]["action"] == "ran"
    assert ref["stages"]["chunks"]["chunks"] > 0

    # killed run: stops at the extract/graph boundary...
    k_out, killed = _run(spark, tmp_path, capsys, "killed",
                         extra=("--stop-after", "extract"))
    assert killed["stages"]["extract"]["action"] == "ran"
    assert "curate" not in killed["stages"]

    # ...then resumes: extract must be SKIPPED (fingerprint match), the
    # rest runs, and the final corpus equals the uninterrupted run's
    chunks_before = sorted(
        d for d in os.listdir(os.path.join(k_out, "extract", "data"))
        if d.startswith("chunk=")
    )
    _, resumed = _run(spark, tmp_path, capsys, "killed")
    assert resumed["stages"]["extract"]["action"] == "skipped"
    assert resumed["stages"]["graph"]["action"] == "ran"
    assert resumed["stages"]["curate"]["action"] == "ran"
    chunks_after = sorted(
        d for d in os.listdir(os.path.join(k_out, "extract", "data"))
        if d.startswith("chunk=")
    )
    assert chunks_before == chunks_after  # no re-extraction, no new chunk

    ref_docs = spark.read.parquet(os.path.join(ref_out, "curate", "docs"))
    res_docs = spark.read.parquet(os.path.join(k_out, "curate", "docs"))
    assert ref_docs.exceptAll(res_docs).count() == 0
    assert res_docs.exceptAll(ref_docs).count() == 0

    # full idempotent re-run: every stage skips, outputs untouched
    _, again = _run(spark, tmp_path, capsys, "killed")
    assert all(s["action"] == "skipped" for n, s in again["stages"].items()
               if n in ("extract", "graph", "curate"))

    # stage lineage records the whole history: ran rows + skipped rows
    lin = spark.read.parquet(os.path.join(k_out, "_stage_lineage"))
    acts = {
        (r["stage"], r["action"]): r
        for r in lin.collect()
    }
    assert ("extract", "ran") in acts and ("extract", "skipped") in acts
    assert ("curate", "ran") in acts
    assert acts[("extract", "ran")]["rows_out"] == 30
    # a skipped stage logs (and reports) the counts its marker stored
    assert acts[("graph", "ran")]["rows_out"] > 0
    assert acts[("graph", "skipped")]["rows_out"] == acts[("graph", "ran")]["rows_out"]
    assert again["stages"]["graph"]["hosts"] == resumed["stages"]["graph"]["hosts"]
    assert again["stages"]["curate"]["docs"] == resumed["stages"]["curate"]["docs"]


def test_source_growth_invalidates_downstream(spark, tmp_path, capsys):
    """Adding pages to the source re-runs extract INCREMENTALLY (chunked
    checkpoint processes only the new urls) and recomputes downstream
    stages whose input fingerprint changed."""
    import jobs.flagship_job as fj

    from html_parser_spark.data.pages import synthetic_pages_df

    pages = synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(24).persist()
    src = str(tmp_path / "pages")
    pages.limit(12).write.parquet(src)
    out = str(tmp_path / "out")
    argv = ["--pages", src, "--output", out, "--partitions", "4",
            "--min-tokens", "5"]
    fj.main(argv)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["stages"]["extract"]["docs"] == 12

    pages.write.mode("overwrite").parquet(src)  # source grows to 24
    fj.main(argv)
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ex = second["stages"]["extract"]
    assert ex["action"] == "ran"
    assert ex["docs"] == 24
    assert ex["docs_new"] == 12  # chunked resume: only the delta parsed
    assert second["stages"]["curate"]["action"] == "ran"
    pages.unpersist()


def test_host_line_dedup_stage(spark, tmp_path, capsys):
    """--host-line-dedup strips cross-page host furniture from the curated
    corpus: a banner injected into every page of the synthetic host
    vanishes from the final docs, and the report counts the removals."""
    import jobs.flagship_job as fj

    from html_parser_spark.data.pages import synthetic_pages_df

    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    pages = synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(20).select(
        "url", "warc_ts",
        # inject the banner as a real DOM paragraph long enough for the
        # extractor to keep it, on EVERY page of the (single-host) corpus
        F.to_binary(
            F.regexp_replace(
                F.decode("html", "UTF-8"),
                "<body>",
                f"<body><p>{banner} {banner.lower()} please</p>",
            ),
            F.lit("utf8"),
        ).alias("html"),
        "lang",
    )
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    out = str(tmp_path / "out")
    fj.main([
        "--pages", src, "--output", out, "--partitions", "4",
        "--min-tokens", "5", "--host-line-dedup", "--host-line-pct", "50",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["stages"]["curate"]["host_lines_removed"] >= 20
    docs = spark.read.parquet(os.path.join(out, "curate", "docs"))
    assert docs.filter(F.col("text").contains(banner)).count() == 0
    assert docs.count() > 0  # the real content survived


def test_sequences_stage_runs_and_resumes(spark, tmp_path, capsys):
    """--pack-seq-len adds the packed-sequence export as a marker-gated
    stage: first run packs per split, rerun skips on the unchanged
    fingerprint, and per-split slot totals equal tokens + one EOD/doc."""
    out, rep = _run(
        spark, tmp_path, capsys, "flag-seq", extra=("--pack-seq-len", "32"),
    )
    st = rep["stages"]["sequences"]
    assert st["action"] == "ran" and st["sequences"] > 0
    seqs = spark.read.parquet(os.path.join(out, "curate", "sequences"))
    final = spark.read.parquet(os.path.join(out, "curate", "docs"))
    for split_name in [r["split"] for r in final.select("split").distinct().collect()]:
        part = final.where(F.col("split") == split_name)
        n_docs = part.count()
        n_toks = part.select(
            F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("t")
        ).collect()[0]["t"] or 0
        tot = (
            seqs.where(F.col("split") == split_name)
            .select(F.sum("n_slots").alias("s")).collect()[0]["s"]
        )
        assert tot == n_toks + n_docs

    out2, rep2 = _run(
        spark, tmp_path, capsys, "flag-seq", extra=("--pack-seq-len", "32"),
    )
    assert rep2["stages"]["sequences"]["action"] == "skipped"
    assert rep2["stages"]["sequences"]["sequences"] == st["sequences"]


def test_stop_after_chunks_skips_sequences(spark, tmp_path, capsys):
    """--stop-after chunks ends the run at the chunks boundary: the
    sequences stage after it neither writes nor reports."""
    out, rep = _run(
        spark, tmp_path, capsys, "flag-stop",
        extra=("--pack-seq-len", "32", "--stop-after", "chunks"),
    )
    assert rep["stages"]["chunks"]["action"] == "ran"
    assert "sequences" not in rep["stages"]
    assert not os.path.exists(os.path.join(out, "curate", "sequences"))


def test_changed_stage_option_invalidates_marker(spark, tmp_path, capsys):
    """Markers bind input AND config: rerunning with a different chunk
    size must re-run the chunks stage, not skip it on the content
    fingerprint alone."""
    _, rep1 = _run(spark, tmp_path, capsys, "flag-cfg")
    assert rep1["stages"]["chunks"]["action"] == "ran"
    # same config -> skip
    _, rep2 = _run(spark, tmp_path, capsys, "flag-cfg")
    assert rep2["stages"]["chunks"]["action"] == "skipped"
    # different chunk size -> re-run with different chunk count
    import jobs.flagship_job as fj

    src = str(tmp_path / "pages")
    out = str(tmp_path / "flag-cfg")
    fj.main([
        "--pages", src, "--output", out, "--partitions", "4",
        "--min-tokens", "5", "--chunk-tokens", "16", "--iterations", "2",
    ])
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3["stages"]["chunks"]["action"] == "ran"
    assert rep3["stages"]["chunks"]["chunks"] > rep1["stages"]["chunks"]["chunks"]


def test_extract_config_change_clears_inner_checkpoint(spark, tmp_path, capsys):
    """Changing an extract-stage option must fully redo the stage — the
    inner chunked checkpoint may not anti-join away pages that were
    'done' under the OLD config.  (Content growth, by contrast, stays
    incremental — pinned by test_source_growth_invalidates_downstream.)"""
    import jobs.flagship_job as fj

    _, rep1 = _run(spark, tmp_path, capsys, "flag-excfg")
    n = rep1["stages"]["extract"]["docs"]
    assert rep1["stages"]["extract"]["docs_new"] == n
    src = str(tmp_path / "pages")
    out = str(tmp_path / "flag-excfg")
    fj.main([
        "--pages", src, "--output", out, "--partitions", "4",
        "--min-tokens", "5", "--chunk-tokens", "64", "--iterations", "2",
        "--max-html-bytes", str(4 * 1024 * 1024),
    ])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["stages"]["extract"]["action"] == "ran"
    # full redo: every page re-extracted, none skipped by the stale
    # done-set
    assert rep2["stages"]["extract"]["docs_new"] == n
    assert rep2["stages"]["extract"]["docs"] == n


def test_zero_doc_curate_rerun(spark, tmp_path, capsys):
    """A curate stage that keeps no doc writes no parquet file; the re-run
    that skips it must still read its output (with the written schema)
    and skip the chunks stage after it."""
    gate = ("--min-tokens", "100000")
    _, rep1 = _run(spark, tmp_path, capsys, "flag-zero", extra=gate)
    assert rep1["stages"]["curate"]["docs"] == 0
    assert rep1["stages"]["chunks"]["chunks"] == 0
    _, rep2 = _run(spark, tmp_path, capsys, "flag-zero", extra=gate)
    assert rep2["stages"]["curate"]["action"] == "skipped"
    assert rep2["stages"]["chunks"] == {**rep1["stages"]["chunks"], "action": "skipped"}
