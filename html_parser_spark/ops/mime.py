"""Content-type sniffing + mixed-payload extraction routing.

A crawl's payload column is NOT all HTML: real archives interleave PDFs,
images, media, archives, and junk under lying or absent Content-Type
headers, which is why browsers and crawl processors sniff bytes (WHATWG
MIME Sniffing; Common Crawl records both ``mime`` and ``mime-detected``
in its CDX index for the same reason).  This module implements:

* :func:`mime_sniff` — a pure-JVM column expression (zero Python, fused
  into whole-stage codegen) classifying a binary payload from its magic
  bytes: the unambiguous signatures from the WHATWG table (PDF, PNG, GIF,
  JPEG, BMP, WEBP/WAV via RIFF, Ogg, MP3/ID3, gzip, zip) plus the
  start-tag HTML scan, ``<?xml``, BOMs, and the binary-byte test that
  separates ``text/plain`` from ``application/octet-stream``.
  Deliberate deviations from the full WHATWG algorithm (documented, as
  ops/robots.py does for RFC 9309): the tag scan anchors at the start of
  the (whitespace-trimmed) payload rather than scanning 1445 bytes, mask
  signatures (e.g. ``video/mp4`` ftyp boxes) are out of scope, and the
  supplied Content-Type header never overrides sniffing.
* :func:`extract_any` — the mixed-corpus extraction: sniff, then ONE
  ``spark/pipeline.py:kernel_stage`` whose kernel dispatches each row on
  its mime — HTML/XML/plain to the DOM kernel (``kernel.parse_document``),
  ``application/pdf`` to the native PDF parser (``ops/pdf.pdf_row``), and
  everything else to a typed non-text row.  A CASE on the mime hands the
  kernel a NULL payload for that last family, so no media byte crosses
  into Python; the stage's own ``max_html_bytes`` guard bounds the text
  and PDF pages.

Scale notes (100 TB): the sniff is a handful of prefix comparisons on the
first 1 KiB — codegen'd, no shuffle, pushdown-friendly.  The whole
extraction reads its input once, shuffles it at most once (the optional
salted repartition) and runs one ArrowEvalPython node.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# WHATWG binary data bytes: 0x00-0x08, 0x0B, 0x0E-0x1A, 0x1C-0x1F
_BINARY_BYTE_RE = "[\\x00-\\x08\\x0B\\x0E-\\x1A\\x1C-\\x1F]"

# start-tag patterns from the WHATWG §7.1 table (tag-terminated)
_HTML_TAG_RE = (
    "^(<!doctype html|<html|<head|<script|<iframe|<h1|<div|<font|<table"
    "|<a|<style|<title|<b|<body|<br|<p)[ >]"
)


def _hexpre(col: Column, n: int) -> Column:
    return F.hex(F.substring(col, 1, n))


def mime_sniff(payload: Column) -> Column:
    """binary → mime label, pure column expressions (no Python)."""
    hx = _hexpre(payload, 16)
    riff_kind = F.decode(F.substring(payload, 9, 4), "ISO-8859-1")
    head = F.decode(F.substring(payload, 1, 1024), "ISO-8859-1")
    lead = F.lower(F.regexp_replace(head, "^[\\s]+", ""))
    return (
        F.when(hx.startswith("255044462D"), F.lit("application/pdf"))
        .when(hx.startswith("89504E470D0A1A0A"), F.lit("image/png"))
        .when(
            hx.startswith("474946383761") | hx.startswith("474946383961"),
            F.lit("image/gif"),
        )
        .when(hx.startswith("FFD8FF"), F.lit("image/jpeg"))
        .when(
            hx.startswith("52494646") & (riff_kind == "WAVE"),
            F.lit("audio/wav"),
        )
        .when(
            hx.startswith("52494646") & (riff_kind == "WEBP"),
            F.lit("image/webp"),
        )
        .when(hx.startswith("4F676753"), F.lit("application/ogg"))
        .when(
            hx.startswith("494433")
            | hx.startswith("FFFB")
            | hx.startswith("FFF3")
            | hx.startswith("FFF2"),
            F.lit("audio/mpeg"),
        )
        .when(hx.startswith("1F8B"), F.lit("application/gzip"))
        .when(hx.startswith("504B0304"), F.lit("application/zip"))
        .when(hx.startswith("424D"), F.lit("image/bmp"))
        .when(
            lead.rlike(_HTML_TAG_RE) | lead.startswith("<!--"),
            F.lit("text/html"),
        )
        .when(lead.startswith("<?xml"), F.lit("text/xml"))
        .when(
            hx.startswith("EFBBBF") | hx.startswith("FEFF") | hx.startswith("FFFE"),
            F.lit("text/plain"),
        )
        .when(~head.rlike(_BINARY_BYTE_RE), F.lit("text/plain"))
        .otherwise(F.lit("application/octet-stream"))
    )


def sniff_payloads(df: DataFrame, payload_col: str = "html") -> DataFrame:
    return df.withColumn("mime", mime_sniff(F.col(payload_col)))


# payload families the kernel stage parses; any other payload crosses into
# Python as NULL and comes back as a typed non-text row
_PARSED_MIMES = "mime LIKE 'text/%' OR mime = 'application/pdf'"
_BINARY_ROW = {
    "fmt": "binary",
    "extracted_text": None,
    "entries": [],
    "n_entries": 0,
    "error": None,
}
_PDF_ERROR_ROW = {**_BINARY_ROW, "fmt": "pdf_error", "error": "pdf parse failed"}


def extract_any(
    pages: DataFrame,
    num_partitions: int | None = None,
    max_html_bytes: int | None = None,
) -> DataFrame:
    """Mixed-corpus extraction: pages(url, warc_ts, html, lang) with
    arbitrary payload bytes in ``html`` → the extract_pages result schema
    (url, warc_ts, lang, fmt, extracted_text, entries, n_entries,
    n_bytes_in, error) + a ``mime`` column.

    Routing, per row inside ONE kernel stage: text/html|xml|plain → DOM
    kernel; application/pdf → native PDF parser (fmt='pdf', extracted text
    = the PDF's text; 'pdf_error' when it does not parse); all other mimes
    → fmt='binary' rows (no text, no error — a media payload is data, not a
    parse failure).  ``max_html_bytes`` guards the text and PDF pages as in
    ``extract_pages``; a binary payload never reaches Python, so it is never
    'oversized'."""
    from html_parser_spark.kernel import parse_document
    from html_parser_spark.ops.pdf import pdf_row
    from html_parser_spark.spark.pipeline import (
        PARSED_TYPE,
        _OVERSIZED_FILL,
        _results,
        kernel_stage,
        salted_repartition,
    )

    def payload_row(payload: bytes, mime: str) -> dict:
        if mime.startswith("text/"):
            return parse_document(payload)
        if mime == "application/pdf":
            parsed = pdf_row(payload)
            if parsed is None:
                return _PDF_ERROR_ROW
            return {**_BINARY_ROW, "fmt": "pdf", "extracted_text": parsed["text"]}
        return _BINARY_ROW

    src = sniff_payloads(pages.select("url", "warc_ts", "html", "lang"), "html")
    if num_partitions:
        src = salted_repartition(src, num_partitions)
    src = src.selectExpr("*", f"CASE WHEN {_PARSED_MIMES} THEN html END AS _payload")
    parsed = kernel_stage(
        src,
        payload_row,
        PARSED_TYPE,
        max_html_bytes,
        html_col="_payload",
        args=("mime",),
        fill=_OVERSIZED_FILL,
    )
    return _results(parsed, "mime")
