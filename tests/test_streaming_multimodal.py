"""The per-page ops run unchanged on a Structured Streaming source: a file
stream of pages parquet through ``extract_pages``, ``extract_main_content``
and the ``crawl_diff`` status expression gives the batch op's rows."""

from pyspark.sql import functions as F

from tests.conftest import TESTDATA

SF_DIR = f"{TESTDATA}/sf0.001"


def _stream(spark, in_dir):
    """A file stream over a pages parquet dir, every file in one batch."""
    schema = spark.read.parquet(in_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(in_dir)
    )


def _drain(df, out_dir, ck_dir) -> None:
    """Run a streaming DataFrame into a parquet sink until its input is
    consumed."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # blocks until every available file is processed
    finally:
        q.stop()


def test_stream_extract_end_to_end(spark, tmp_path):
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.pipeline import extract_pages

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(30).write.parquet(in_dir)

    # no repartition inside a stream batch
    _drain(extract_pages(_stream(spark, in_dir)), out_dir, str(tmp_path / "ck"))
    out = spark.read.parquet(out_dir)
    rows = out.collect()
    assert len(rows) == 30
    assert all(r.error is None and r.fmt == "A" for r in rows)


def test_stream_main_content_matches_batch(spark, tmp_path):
    """Streaming boilerplate strip == batch op, byte-identical per url."""
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.ops.boilerplate import extract_main_content

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    pages = synthetic_pages_df(spark, SF_DIR, paragraphs=2).limit(25)
    pages.write.parquet(in_dir)

    streamed_df = extract_main_content(_stream(spark, in_dir)).select(
        "url", "warc_ts", "lang", "main_text", "n_blocks",
        "n_content_blocks", "content_chars", "boiler_chars",
    )
    _drain(streamed_df, out_dir, str(tmp_path / "ck"))
    streamed = {
        r["url"]: (r["main_text"], r["n_blocks"], r["content_chars"])
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        r["url"]: (r["main_text"], r["n_blocks"], r["content_chars"])
        for r in extract_main_content(spark.read.parquet(in_dir)).collect()
    }
    assert len(streamed) == 25
    assert streamed == batch


def test_crawl_diff_stream_matches_batch(spark, tmp_path):
    """Stream-static diff == batch crawl_diff on the arriving urls.

    New captures arrive as a file stream and the previous snapshot is a
    static DataFrame; 'removed' cannot fire, because a stream observes
    arrivals, not absences."""
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.ops.web import crawl_diff, diff_status

    base = synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(30)
    old_dir = str(tmp_path / "old")
    new_dir = str(tmp_path / "new")
    # old: first 20 pages; new: pages 10-29 with 5 bodies edited
    rows = base.select("url", "warc_ts", "html", "text", "lang").collect()
    rows = sorted(rows, key=lambda r: r["url"])
    old_rows = rows[:20]
    new_rows = []
    for i, r in enumerate(rows[10:30]):
        body = bytes(r["html"])
        if i % 4 == 0:
            body = body + b"<!-- edited -->"
        new_rows.append((r["url"], r["warc_ts"], body, r["text"], r["lang"]))
    spark.createDataFrame(old_rows, base.schema).write.parquet(old_dir)
    spark.createDataFrame(new_rows, base.schema).write.parquet(new_dir)

    old_df = spark.read.parquet(old_dir)
    new_side = _stream(spark, new_dir).select(
        "url", F.md5(F.col("html")).alias("new_md5")
    )
    old_side = old_df.select("url", F.md5(F.col("html")).alias("old_md5"))
    diff = new_side.join(old_side, "url", "left").select(
        "url", diff_status().alias("status"), "old_md5", "new_md5"
    )
    _drain(diff, str(tmp_path / "out"), str(tmp_path / "ck"))
    streamed = {
        r["url"]: (r["status"], r["old_md5"], r["new_md5"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    batch = {
        r["url"]: (r["status"], r["old_md5"], r["new_md5"])
        for r in crawl_diff(old_df, spark.read.parquet(new_dir)).collect()
        if r["status"] != "removed"
    }
    assert len(streamed) == 20
    assert streamed == batch
    assert sum(1 for s in streamed.values() if s[0] == "added") == 10
    assert sum(1 for s in streamed.values() if s[0] == "changed") >= 2
