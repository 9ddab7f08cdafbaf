"""Unified per-document parse kernel.

``parse_document(html_bytes)`` is the pure function the Arrow UDF of
``spark/pipeline.py:kernel_stage`` maps over each batch (one call per row,
zero Spark dependencies):

  bytes → {fmt, extracted_text, entries, n_entries, error}

Entries are normalized to the V1 record shape across all four formats
(markup-serialized definitions, as the reference's own sinks emit):

  {spelling: str, inflection: str|None, definitions: [str]}

Paths: formats A, B and C first try their one-pass scanner
(``formats/fastscan.py``: ``scan_format_a``, ``scan_format_b``,
``scan_format_c``), which builds no DOM.  A scanner returns None on markup
only the DOM path decides (suspicious markup, the A body fallback, an
element nested inside a C span, ...); those pages, and every D and generic
page, take ONE ``parse_html`` shared by the P20 text flatten and the format
fold.  ``parse_html`` tokenizes each page once: at the first tag its regex
tokenizer cannot read, it hands the rest of the page to html.parser on the
same tree (``dom._fast_parse``), so a page is never parsed twice.

Per-document failures are captured in ``error`` instead of raised — at
10^12-document scale a malformed page must cost one row, not one task.
"""

from __future__ import annotations

import traceback

from html_parser_spark.dom import decode_html_bytes, parse_html
from html_parser_spark.formats.detect import (
    FORMAT_A,
    FORMAT_B,
    FORMAT_C,
    FORMAT_D,
    detect_format,
)
from html_parser_spark.formats.fastscan import scan_format_a, scan_format_b, scan_format_c
from html_parser_spark.formats.format_a import parse_format_a_doc, post_process
from html_parser_spark.formats.format_b import parse_format_b_doc
from html_parser_spark.formats.format_c import parse_format_c_doc, postprocess_spans, refine
from html_parser_spark.formats.format_d import (
    parse_format_d_doc,
    parse_format_d_entries,
)
from html_parser_spark.formats.textflat import extract_text_doc


def _normalize(fmt: str, records: list[dict]) -> list[dict]:
    out = []
    for r in records:
        out.append(
            {
                "spelling": r.get("spelling"),
                "inflection": r.get("inflection"),
                "definitions": [d if isinstance(d, str) else str(d) for d in r.get("definitions", [])],
            }
        )
    return out


def _row(fmt: str, extracted: str, entries: list[dict]) -> dict:
    return {
        "fmt": fmt,
        "extracted_text": extracted,
        "entries": entries,
        "n_entries": len(entries),
        "error": None,
    }


def parse_document(html_bytes: bytes) -> dict:
    try:
        text = decode_html_bytes(html_bytes)
        fmt = detect_format(text)
        # hot paths: ONE token-stream pass, no DOM allocation (fastscan);
        # each scanner returns None on markup only the DOM path decides
        if fmt == FORMAT_A:
            fast = scan_format_a(text)
            if fast is not None:
                return _row(fmt, fast[0], _normalize(fmt, post_process(fast[1])))
        elif fmt == FORMAT_B:
            fast = scan_format_b(text)
            if fast is not None:
                return _row(fmt, fast[0], _normalize(fmt, fast[1]))
        elif fmt == FORMAT_C:
            fast = scan_format_c(text)
            if fast is not None:
                return _row(fmt, fast[0], _normalize(fmt, refine(postprocess_spans(fast[1]))))
        # ONE DOM parse shared by text extraction and the format kernel
        # (the format-A pass mutates the tree, so the read-only
        # extract_text runs first)
        doc = parse_html(text)
        if fmt == FORMAT_A:
            # one traversal shared by the (read-only) text flatten and the
            # (mutating, run second) format-A line scan
            ps = doc.query_selector_all("p")
            extracted = extract_text_doc(doc, ps)
            af1 = [
                p for p in ps if "af1" in (p.attrs.get("class") or "").split()
            ]
            return _row(fmt, extracted, _normalize(fmt, parse_format_a_doc(doc, af1)))
        extracted = extract_text_doc(doc)
        if fmt == FORMAT_B:
            entries = _normalize(fmt, parse_format_b_doc(doc))
        elif fmt == FORMAT_C:
            entries = _normalize(fmt, refine(parse_format_c_doc(doc)))
        elif fmt == FORMAT_D:
            # real (src, trl) entry pairing — exceeds the reference's 35-line
            # column-split prototype (rus-lez-phrasebook/index.ts:1-36),
            # which survives as parse_format_d_doc for P19 parity
            pairs = parse_format_d_entries(doc)
            entries = [
                {"spelling": p["src"], "inflection": None, "definitions": [p["trl"]]}
                for p in pairs
            ]
        else:
            entries = []
        return _row(fmt, extracted, entries)
    except Exception:
        return {
            "fmt": "error",
            "extracted_text": None,
            "entries": [],
            "n_entries": 0,
            "error": traceback.format_exc(limit=3),
        }
