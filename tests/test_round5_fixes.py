"""Round-5 hardening: the ADVICE.md items — mid-extract config wipe
(flagship), legacy-dir resume refusal (extract_job), stale split sweep
(curate/flagship sequences), and ill-typed PDF payload degradation.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# flagship extract stage: config pinned at stage START.  A run killed
# mid-extract leaves chunks but no completion marker; re-running with a
# changed kernel config must WIPE those chunks (anti-join resume would
# silently mix rows produced under two configs in one results table).
# ---------------------------------------------------------------------------
def test_flagship_midkill_config_change_wipes_extract(spark, tmp_path, capsys):
    import jobs.flagship_job as fj

    src = str(tmp_path / "pages")
    from html_parser_spark.data.pages import synthetic_pages_df

    synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(20).write.parquet(src)
    out = str(tmp_path / "out")

    def run(max_html_bytes):
        fj.main([
            "--pages", src, "--output", out, "--partitions", "2",
            "--min-tokens", "5", "--stop-after", "extract",
            "--max-html-bytes", str(max_html_bytes),
        ])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = run(8 * 1024 * 1024)
    n_docs = first["stages"]["extract"]["docs"]
    assert n_docs > 0

    # simulate the mid-stage kill: chunks + _STAGE_CONFIG.json exist, the
    # completion marker does not
    ex_dir = os.path.join(out, "extract")
    os.remove(os.path.join(ex_dir, "_STAGE_DONE.json"))
    assert os.path.exists(os.path.join(ex_dir, "_STAGE_CONFIG.json"))

    # re-run with a CHANGED kernel config: the start-pinned config must
    # force a wipe, so every doc re-extracts (docs_new == full count) and
    # the dir holds exactly the fresh chunk — no two-config mixing
    second = run(4 * 1024 * 1024)
    assert second["stages"]["extract"]["docs_new"] == n_docs
    chunks = [d for d in os.listdir(os.path.join(ex_dir, "data"))
              if d.startswith("chunk=")]
    assert chunks == ["chunk=0"], chunks

    # same kill with an UNCHANGED config must keep the incremental resume
    # (nothing to redo: the anti-join skips every done url)
    os.remove(os.path.join(ex_dir, "_STAGE_DONE.json"))
    third = run(4 * 1024 * 1024)
    assert third["stages"]["extract"]["docs_new"] == 0


# ---------------------------------------------------------------------------
# extract_job --resume into a dir that has data but no _RESUME_CONFIG.json
# (legacy/foreign dir): must fail loudly, not silently mix schemas/configs.
# ---------------------------------------------------------------------------
def test_extract_job_resume_legacy_dir_fails_loudly(spark, tmp_path):
    import jobs.extract_job as ej

    out = str(tmp_path / "legacy_out")
    os.makedirs(os.path.join(out, "data"), exist_ok=True)
    spark.range(1).selectExpr("'u' AS url").write.parquet(
        os.path.join(out, "data", "chunk=0")
    )
    with pytest.raises(SystemExit, match="_RESUME_CONFIG"):
        ej.main([
            "--pages", f"synth:{SF_DIR}", "--output", out,
            "--resume", "--limit", "5",
        ])


# ---------------------------------------------------------------------------
# curate_job packed-sequence export: a re-run whose split set shrank must
# not leave a stale split=<name> dir in the sequences read path.
# ---------------------------------------------------------------------------
def test_curate_sequences_stale_split_swept(spark, tmp_path, capsys):
    import jobs.curate_job as cj

    docs_dir = str(tmp_path / "docs")
    spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta doc "),
            F.col("id").cast("string"),
        ).alias("text"),
        F.lit("en").alias("lang"),
    ).write.parquet(docs_dir)
    out = str(tmp_path / "curated")
    args = ["--docs", docs_dir, "--output", out,
            "--min-tokens", "5", "--pack-seq-len", "16"]
    cj.main(args)
    capsys.readouterr()
    seqs = os.path.join(out, "sequences")
    n_first = spark.read.parquet(seqs).count()
    assert n_first > 0

    # inject a stale split dir (as if a previous run had produced it),
    # then re-run: the sweep must remove it so the read path only holds
    # this run's splits
    stale = os.path.join(seqs, "split=stale")
    real = next(d for d in os.listdir(seqs) if d.startswith("split="))
    shutil.copytree(os.path.join(seqs, real), stale)
    assert spark.read.parquet(seqs).count() > n_first
    cj.main(args)
    capsys.readouterr()
    assert not os.path.exists(stale)
    assert spark.read.parquet(seqs).count() == n_first


# ---------------------------------------------------------------------------
# pdf_text contract: ANY parse failure yields a NULL-text row, never a task
# failure — including an ill-typed StringType payload column (plausible for
# external parquet fed to extract_job --mixed; mime_sniff's hex-of-UTF8
# matches '%PDF' on strings too).
# ---------------------------------------------------------------------------
def test_pdf_text_string_payload_degrades_to_null_row(spark):
    from html_parser_spark.ops.pdf import pdf_text

    rows = spark.createDataFrame(
        [(1, "%PDF-1.4 not really a pdf"), (2, None), (3, "plain text")],
        "doc_id long, payload string",
    )
    out = {r["doc_id"]: r for r in pdf_text(rows).collect()}
    assert len(out) == 3
    for r in out.values():
        # a %PDF-headered string parses as an empty PDF ('' text); the
        # contract is graceful degradation, never a task failure
        assert not r["pdf_text"]
        assert r["n_pages"] == 0
    assert out[2]["pdf_version"] is None and out[3]["pdf_version"] is None
