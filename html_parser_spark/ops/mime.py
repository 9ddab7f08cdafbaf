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
* :func:`extract_any` — the mixed-corpus extraction router: sniff, then
  filter+union per payload family — HTML/XML/plain through the DOM kernel
  (`spark/pipeline.py:extract_pages`), ``application/pdf`` through the
  native PDF parser (`ops/pdf.py`), everything else passed through as a
  typed non-text row.  Each kernel sees ONLY its own rows; the PDF
  branch's oversized-page guard is ``spark/pipeline.py:route_oversized``.

Scale notes (100 TB): the sniff is a handful of prefix comparisons on the
first 1 KiB — codegen'd, no shuffle, pushdown-friendly.  The router adds
zero shuffles on top of the kernels it routes to; the union is a
plan-level concatenation, and each branch's partitioning follows its
filtered scan.
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


_ENTRIES_T = (
    "array<struct<spelling:string,inflection:string,definitions:array<string>>>"
)


def extract_any(
    pages: DataFrame,
    num_partitions: int | None = None,
    max_html_bytes: int | None = None,
) -> DataFrame:
    """Mixed-corpus extraction: pages(url, warc_ts, html, lang) with
    arbitrary payload bytes in ``html`` → the extract_pages result schema
    (url, warc_ts, lang, fmt, extracted_text, entries, n_entries,
    n_bytes_in, error) + a ``mime`` column.

    Routing: text/html|xml|plain → DOM kernel; application/pdf → native
    PDF parser (fmt='pdf', extracted text = the PDF's text); all other
    mimes → fmt='binary' passthrough rows (no text, no error — a media
    payload is data for the multimodal tier, not a parse failure)."""
    from html_parser_spark.ops.pdf import pdf_text_pages
    from html_parser_spark.spark.pipeline import (
        extract_pages,
        oversized_results,
        route_oversized,
        salted_repartition,
    )

    src = pages.select("url", "warc_ts", "html", "lang")
    if num_partitions:
        src = salted_repartition(src, num_partitions)
    src = sniff_payloads(src, "html")

    # one kernel branch per text mime, each tagged with its LITERAL label:
    # no join (and so no shuffle) to re-attach the mime afterwards
    html_out = None
    for m in ("text/html", "text/xml", "text/plain"):
        part = extract_pages(
            src.filter(F.col("mime") == m).drop("mime"),
            max_html_bytes=max_html_bytes,
        ).withColumn("mime", F.lit(m))
        html_out = part if html_out is None else html_out.unionByName(part)

    def pdf_kernel(pdfs: DataFrame) -> DataFrame:
        return pdf_text_pages(pdfs).select(
            "url",
            "warc_ts",
            "lang",
            F.when(F.col("pdf_text").isNotNull(), F.lit("pdf"))
            .otherwise(F.lit("pdf_error"))
            .alias("fmt"),
            F.col("pdf_text").alias("extracted_text"),
            F.array().cast(_ENTRIES_T).alias("entries"),
            F.lit(0).alias("n_entries"),
            "n_bytes_in",
            F.when(
                F.col("pdf_text").isNull(), F.lit("pdf parse failed")
            ).alias("error"),
            F.lit("application/pdf").alias("mime"),
        )

    # a pathological PDF must bound task time too, not stall it
    pdf_out = route_oversized(
        src.filter(F.col("mime") == "application/pdf"),
        max_html_bytes,
        pdf_kernel,
        lambda big: oversized_results(big).withColumn(
            "mime", F.lit("application/pdf")
        ),
    )
    other = src.filter(
        ~F.col("mime").isin(
            "text/html", "text/xml", "text/plain", "application/pdf"
        )
    ).select(
        "url",
        "warc_ts",
        "lang",
        F.lit("binary").alias("fmt"),
        F.lit(None).cast("string").alias("extracted_text"),
        F.array().cast(_ENTRIES_T).alias("entries"),
        F.lit(0).alias("n_entries"),
        F.length("html").alias("n_bytes_in"),
        F.lit(None).cast("string").alias("error"),
        "mime",
    )
    return html_out.unionByName(pdf_out).unionByName(other)
