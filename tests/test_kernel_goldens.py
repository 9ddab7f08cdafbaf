"""Pinned goldens per kernel path that need no reference checkout.

For each path of ``kernel.parse_document`` (format A through fastscan, A
pages fastscan declines, B, C, D and generic) the ``parse_document`` rows of
seeded ``perfbench/gen.py`` pages are hashed (sha256 of their canonical
JSON) and compared to ``tests/golden/kernel_paths.json``.  Regenerate
deliberately with ``python tests/make_golden.py`` after an intended
semantic change.
"""

import json
import os

import pytest

from tests.make_golden import (
    GOLDEN_DIR,
    KERNEL_PATHS,
    kernel_path_digest,
    kernel_path_pages,
)

from html_parser_spark.dom import decode_html_bytes
from html_parser_spark.formats.detect import detect_format
from html_parser_spark.formats.fastscan import scan_format_a
from html_parser_spark.kernel import parse_document

# shape -> (detected format, whether fastscan takes the page)
_ROUTE = {
    "A": ("A", True),
    "A-dom": ("A", False),
    "B": ("B", None),
    "C": ("C", None),
    "D": ("D", None),
    "generic": ("generic", None),
}


@pytest.fixture(scope="module")
def goldens():
    with open(os.path.join(GOLDEN_DIR, "kernel_paths.json"), encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("shape", KERNEL_PATHS)
def test_kernel_path_golden(goldens, shape):
    pages = kernel_path_pages(shape)
    want = goldens[shape]
    assert (len(pages), sum(len(p) for p in pages)) == (want["pages"], want["bytes"])
    fmt, fast = _ROUTE[shape]
    for raw in pages:
        text = decode_html_bytes(raw)
        assert detect_format(text) == fmt
        if fast is not None:
            assert (scan_format_a(text) is not None) is fast
    rows = [parse_document(p) for p in pages]
    assert all(r["error"] is None for r in rows)
    assert sum(r["n_entries"] for r in rows) > 0 or shape == "generic"
    assert kernel_path_digest(rows) == want["sha256"]
    # one changed byte of the path's output moves the digest
    last = rows[-1]
    last["extracted_text"] = last["extracted_text"][:-1] + chr(ord(last["extracted_text"][-1]) ^ 1)
    assert kernel_path_digest(rows) != want["sha256"]
