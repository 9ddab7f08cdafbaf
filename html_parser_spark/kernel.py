"""Unified per-document parse kernel.

``parse_document(html_bytes)`` is the pure function the Arrow UDF of
``spark/pipeline.py:kernel_stage`` maps over each batch (one call per row,
zero Spark dependencies):

  bytes → {fmt, extracted_text, entries, n_entries, error}

Entries are normalized to the V1 record shape across all four formats
(markup-serialized definitions, as the reference's own sinks emit):

  {spelling: str, inflection: str|None, definitions: [str]}

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
from html_parser_spark.formats.fastscan import scan_format_a
from html_parser_spark.formats.format_a import parse_format_a_doc, post_process
from html_parser_spark.formats.format_b import parse_format_b_doc
from html_parser_spark.formats.format_c import parse_format_c_doc, refine
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


def parse_document(html_bytes: bytes) -> dict:
    try:
        text = decode_html_bytes(html_bytes)
        fmt = detect_format(text)
        declined: list[str] = []
        if fmt == FORMAT_A:
            # hot path: ONE token-stream pass, no DOM allocation (fastscan);
            # returns None on suspicious markup / empty-text fallback cases,
            # where the DOM path below carries the exact semantics
            fast = scan_format_a(text, declined)
            if fast is not None:
                extracted, raw_entries = fast
                entries = _normalize(fmt, post_process(raw_entries))
                return {
                    "fmt": fmt,
                    "extracted_text": extracted,
                    "entries": entries,
                    "n_entries": len(entries),
                    "error": None,
                }
        # ONE DOM parse shared by text extraction and the format kernel
        # (parsing dominates the profile; the format-A pass mutates the tree,
        # so the read-only extract_text runs first); markup fastscan found
        # suspicious skips _fast_parse, which would only flag it again
        doc = parse_html(text, suspicious=bool(declined))
        if fmt == FORMAT_A:
            # one traversal shared by the (read-only) text flatten and the
            # (mutating, run second) format-A line scan
            ps = doc.query_selector_all("p")
            extracted = extract_text_doc(doc, ps)
            af1 = [
                p for p in ps if "af1" in (p.attrs.get("class") or "").split()
            ]
            entries = _normalize(fmt, parse_format_a_doc(doc, af1))
            return {
                "fmt": fmt,
                "extracted_text": extracted,
                "entries": entries,
                "n_entries": len(entries),
                "error": None,
            }
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
        return {
            "fmt": fmt,
            "extracted_text": extracted,
            "entries": entries,
            "n_entries": len(entries),
            "error": None,
        }
    except Exception:
        return {
            "fmt": "error",
            "extracted_text": None,
            "entries": [],
            "n_entries": 0,
            "error": traceback.format_exc(limit=3),
        }
