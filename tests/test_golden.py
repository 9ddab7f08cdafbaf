"""Byte-identical golden regression over all 372 fixture pages.

``extracted_text`` and the entry structs are hashed per url and compared to
``tests/golden/fixture_index.json`` (regenerate deliberately with
``python tests/make_golden.py`` after an intended semantic change).
"""

import hashlib
import json
import os

import pytest

from tests.conftest import fixture_path

from html_parser_spark.data.pages import fixture_pages_rows
from html_parser_spark.kernel import parse_document

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "fixture_index.json")


@pytest.fixture(scope="module")
def golden_index():
    with open(GOLDEN, encoding="utf-8") as f:
        return json.load(f)


def canon(obj) -> str:
    return json.dumps(obj, ensure_ascii=False, sort_keys=True, separators=(",", ":"))


def test_all_fixture_pages_byte_identical(golden_index):
    for rel in golden_index:
        fixture_path(rel)
    rows = fixture_pages_rows()
    assert len(rows) == len(golden_index) == 372
    mismatches = []
    for url, _ts, html, _text, _lang in rows:
        rel = url.replace("file:///", "")
        want = golden_index[rel]
        got = parse_document(bytes(html))
        assert got["error"] is None, (rel, got["error"])
        text = got["extracted_text"] or ""
        if (
            got["fmt"] != want["fmt"]
            or got["n_entries"] != want["n_entries"]
            or hashlib.md5(text.encode("utf-8")).hexdigest() != want["text_md5"]
            or hashlib.md5(canon(got["entries"]).encode("utf-8")).hexdigest()
            != want["entries_md5"]
        ):
            mismatches.append(rel)
    assert mismatches == []


def test_samples_structure():
    with open(os.path.join(os.path.dirname(GOLDEN), "samples.json"), encoding="utf-8") as f:
        samples = json.load(f)
    assert len(samples) == 4
    a = samples["lez-rus-35k/dictionary/letters/A_Bukva.html"]
    assert a["entries_head"][0]["spelling"] == "А"
