"""MIME sniffing + mixed-corpus extraction routing (ops/mime.py)."""

import re

import pytest
from pyspark.sql import functions as F

from html_parser_spark.ops.mime import extract_any, mime_sniff
from html_parser_spark.ops.pdf import make_text_pdf
from tests.conftest import assert_one_python_form


def _sniff_all(spark, blobs):
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)], "i long, payload binary"
    )
    rows = df.select("i", mime_sniff(F.col("payload")).alias("m")).collect()
    return [r["m"] for r in sorted(rows, key=lambda r: r["i"])]


def test_magic_bytes(spark):
    got = _sniff_all(
        spark,
        [
            b"%PDF-1.4 xx",
            b"\x89PNG\r\n\x1a\nIHDR",
            b"GIF87a....",
            b"GIF89a....",
            b"\xff\xd8\xff\xe1EXIF",
            b"RIFF\x10\x00\x00\x00WAVEfmt ",
            b"RIFF\x10\x00\x00\x00WEBPVP8 ",
            b"OggSvorbis",
            b"ID3\x03tag",
            b"\xff\xfbmp3frame",
            b"\x1f\x8b\x08gz",
            b"PK\x03\x04zip",
            b"BMbitmap",
        ],
    )
    assert got == [
        "application/pdf",
        "image/png",
        "image/gif",
        "image/gif",
        "image/jpeg",
        "audio/wav",
        "image/webp",
        "application/ogg",
        "audio/mpeg",
        "audio/mpeg",
        "application/gzip",
        "application/zip",
        "image/bmp",
    ]


def test_html_scan_and_text_fallbacks(spark):
    got = _sniff_all(
        spark,
        [
            b"   \n\t<!DOCTYPE html><html>",
            b"<HTML><body>x</body>",
            b"<p>para</p>",
            b"<!-- comment --><div>",
            b"<?xml version='1.0'?>",
            b"\xef\xbb\xbfBOM text",
            b"just ordinary text, nothing else",
            b"\x00\x01 control bytes",
            b"",
            None,
            # '<pre>' is NOT in the tag table ('<p' requires ' ' or '>'):
            # falls through to the plain/binary test
            b"<pre>x</pre>",
        ],
    )
    assert got == [
        "text/html",
        "text/html",
        "text/html",
        "text/html",
        "text/xml",
        "text/plain",
        "text/plain",
        "application/octet-stream",
        "text/plain",
        "application/octet-stream",
        "text/plain",
    ]


def test_riff_needs_kind(spark):
    # RIFF with an unknown form type is neither wav nor webp
    (got,) = _sniff_all(spark, [b"RIFF\x10\x00\x00\x00AVI LIST"])
    assert got == "application/octet-stream"


@pytest.fixture()
def mixed_pages(spark):
    rows = [
        (
            "https://x.org/html",
            b"<html><body><p>Hello parse world</p></body></html>",
        ),
        ("https://x.org/pdf", make_text_pdf([["pdf line one", "two"]], 1)),
        ("https://x.org/png", b"\x89PNG\r\n\x1a\nIHDR....."),
        ("https://x.org/txt", b"plain old text body"),
        ("https://x.org/badpdf", b"%PDF-1.4 truncated garbage"),
    ]
    return spark.createDataFrame(
        [(u, None, b, "en") for u, b in rows],
        "url string, warc_ts timestamp, html binary, lang string",
    )


def test_extract_any_routing(spark, mixed_pages):
    out = {r["url"]: r for r in extract_any(mixed_pages).collect()}
    assert len(out) == 5
    h = out["https://x.org/html"]
    assert h["mime"] == "text/html" and h["fmt"] != "binary"
    assert "Hello parse world" in (h["extracted_text"] or "")
    p = out["https://x.org/pdf"]
    assert p["mime"] == "application/pdf" and p["fmt"] == "pdf"
    assert p["extracted_text"] == "pdf line one\ntwo"
    assert p["n_entries"] == 0 and p["error"] is None
    png = out["https://x.org/png"]
    assert png["mime"] == "image/png" and png["fmt"] == "binary"
    assert png["extracted_text"] is None and png["error"] is None
    t = out["https://x.org/txt"]
    assert t["mime"] == "text/plain"
    bad = out["https://x.org/badpdf"]
    # sniffed as pdf but bodyless: routed to the pdf kernel, flagged
    assert bad["fmt"] in ("pdf", "pdf_error")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_any_no_shuffle(spark, mixed_pages):
    from html_parser_spark.spark.dictionary import migrate_results

    plan = _plan(extract_any(mixed_pages))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert_one_python_form(plan)
    assert_one_python_form(_plan(migrate_results(extract_any(mixed_pages))))


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\b{name}\b", plan))


def test_extract_any_reads_shuffles_and_parses_once(spark, mixed_pages, tmp_path):
    """Sniff -> salted repartition -> ONE kernel stage: one scan, one
    Exchange and one ArrowEvalPython, however many payload families."""
    mixed_pages.write.parquet(str(tmp_path / "pages"))
    src = spark.read.parquet(str(tmp_path / "pages"))
    plan = _plan(extract_any(src, num_partitions=4, max_html_bytes=2048))
    assert _nodes(plan, "FileScan") == 1
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "ArrowEvalPython") == 1
    assert _nodes(plan, "MapInPandas") == 0


def test_extract_any_schema_matches_kernel(spark, mixed_pages):
    from html_parser_spark.spark.pipeline import extract_pages

    base = [f.name for f in extract_pages(mixed_pages).schema.fields]
    got = [f.name for f in extract_any(mixed_pages).schema.fields]
    assert got == base + ["mime"]


def test_extract_job_mixed_mode(spark, tmp_path):
    from jobs.extract_job import main as extract_main

    pages = spark.createDataFrame(
        [
            ("https://m.org/a", None, b"<html><p>alpha beta</p></html>", "en"),
            ("https://m.org/b", None, make_text_pdf([["pdf body text"]], 2), "en"),
            ("https://m.org/c", None, b"\x89PNG\r\n\x1a\nIHDR", "en"),
        ],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    pages.write.parquet(src)
    extract_main(["--pages", src, "--output", out, "--mixed",
                  "--partitions", "2"])
    got = {r["url"]: r for r in spark.read.parquet(out + "/data").collect()}
    assert got["https://m.org/b"]["extracted_text"] == "pdf body text"
    assert got["https://m.org/b"]["mime"] == "application/pdf"
    assert got["https://m.org/c"]["fmt"] == "binary"
    assert got["https://m.org/a"]["mime"] == "text/html"


def test_extract_any_oversized_pdf_guard(spark):
    small = make_text_pdf([["tiny pdf"]], 0)
    exact = b"<html><body><p>" + b"w" * (2048 - 33) + b"</p></body></html>"
    assert len(exact) == 2048
    pages = spark.createDataFrame(
        [
            ("https://m.org/small", None, small, "en"),
            ("https://m.org/big", None, b"%PDF-" + b"x" * 4096, "en"),
            ("https://m.org/null", None, None, "en"),
            ("https://m.org/bigpng", None, b"\x89PNG\r\n\x1a\n" + b"\x00" * 4096, "en"),
            ("https://m.org/exact", None, exact, "en"),
        ],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    got = {
        r["url"]: r
        for r in extract_any(pages, max_html_bytes=2048).collect()
    }
    assert len(got) == 5
    assert got["https://m.org/small"]["extracted_text"] == "tiny pdf"
    big = got["https://m.org/big"]
    assert big["fmt"] == "oversized" and "oversized" in big["error"]
    # NULL html sniffs as octet-stream: a binary row without a size
    null = got["https://m.org/null"]
    assert null["fmt"] == "binary" and null["n_bytes_in"] is None
    assert null["error"] is None and null["mime"] == "application/octet-stream"
    # a binary payload never reaches the kernel, so it is never 'oversized'
    png = got["https://m.org/bigpng"]
    assert png["fmt"] == "binary" and png["error"] is None
    assert png["n_bytes_in"] == 4104 and png["mime"] == "image/png"
    # a page of exactly the cap is parsed
    ex = got["https://m.org/exact"]
    assert ex["mime"] == "text/html" and ex["fmt"] != "oversized"
    assert ex["error"] is None and ex["n_bytes_in"] == 2048
    assert "w" * 100 in ex["extracted_text"]
