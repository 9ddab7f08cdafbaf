"""Unit tests for JS string-semantics helpers (SURVEY.md §7.3 quirks)."""

from html_parser_spark.jsstr import (
    has_leading_ws,
    has_trailing_ws,
    js_trim,
    to_lower_case_lezgi,
    truthy,
)


def test_trim_strips_js_whitespace_set():
    # JS trim strips NBSP and BOM; Python str.strip() would keep the BOM
    assert js_trim("﻿\xa0 x  ") == "x"
    assert js_trim("  абв  ") == "абв"
    assert js_trim("") == ""


def test_leading_trailing_ws_match_js_regex():
    assert has_leading_ws("\xa0a")
    assert has_leading_ws("﻿a")
    assert not has_leading_ws("a ")
    assert has_trailing_ws("a　")
    assert not has_trailing_ws(" a")


def test_truthiness():
    assert not truthy(None)
    assert not truthy("")
    assert truthy("0")  # non-empty string truthy in JS
    assert not truthy(0)
    assert truthy([])  # empty array truthy in JS
    assert truthy({})


def test_to_lower_case_lezgi():
    # utils.ts:47-56 — palochka normalization after к/п/т/ц/ч
    assert to_lower_case_lezgi("КӀВАЛ") == "кIвал"
    assert to_lower_case_lezgi("кl") == "кI"
    assert to_lower_case_lezgi("ч!ал") == "чIал"
    assert to_lower_case_lezgi("абв", capitalize=True) == "Абв"
    # no normalization when not after the trigger consonants
    assert to_lower_case_lezgi("а1") == "а1"


def test_p20_final_collapse_uses_the_js_whitespace_set():
    """P20's ``.replaceAll(/\\s{2,}/g, ' ')`` collapses runs of the JS
    whitespace set: U+FEFF pairs collapse, while pairs of U+001C-U+001F and
    U+0085 (Python ``\\s`` only) stay, on the DOM and fastscan paths."""
    from html_parser_spark.formats.textflat import extract_text
    from html_parser_spark.kernel import parse_document

    assert extract_text("<p>a﻿﻿b</p>") == "a b"
    kept = "a\x1c\x1cb\x1d\x1dc\x1e\x1ed\x1f\x1fe\x85\x85f"
    assert extract_text(f"<p>{kept}</p>") == kept
    assert extract_text(f"<div>x \x1e\x1ey﻿　z</div>") == "x \x1e\x1ey z"
    for page in (
        '<p class="af1">a﻿﻿b \x1e\x1ec</p>',  # format A, fastscan
        '<p class="af1" title="x>a﻿﻿b \x1e\x1ec</p><p>a﻿﻿b \x1e\x1ec</p>',
        "<p>a﻿﻿b \x1e\x1ec</p>",  # generic, DOM
    ):
        assert parse_document(page.encode())["extracted_text"] == "a b \x1e\x1ec", page
