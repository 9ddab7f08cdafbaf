"""Native PDF text extraction (ops/pdf.py): writer→parser round trips,
hostile-input totality, page-tree fallbacks, and the Spark operator."""

import zlib

import pytest
from pyspark.sql import functions as F

from html_parser_spark.ops.pdf import (
    _Lexer,
    extract_pdf,
    make_text_pdf,
    pdf_text,
)
from tests.conftest import assert_one_python_form


PAGES = [
    ["hello world this is line one", "second (line) with \\ escapes"],
    ["third\tline with tab", ""],
]
WANT = "hello world this is line one\nsecond (line) with \\ escapes\nthird\tline with tab\n"


@pytest.mark.parametrize("variant", [0, 1, 2, 3])
def test_round_trip_variants(variant):
    blob = make_text_pdf(PAGES, variant=variant)
    got = extract_pdf(blob)
    assert got["version"] == "1.4"
    assert got["n_pages"] == 2
    assert got["text"] == WANT


@pytest.mark.parametrize("variant", [0, 1, 2, 3])
def test_round_trip_unicode(variant):
    pages = [["普通话 unicode line", "mixed ascii + ű char"], ["ok"]]
    got = extract_pdf(make_text_pdf(pages, variant=variant))
    assert got["text"] == "普通话 unicode line\nmixed ascii + ű char\nok"


def test_kern_rule():
    # -250 kern (variant 2 splits at the first space) re-inserts the
    # space; -50 (no-space split) must not
    got = extract_pdf(make_text_pdf([["alpha beta"]], variant=2))
    assert got["text"] == "alpha beta"
    got = extract_pdf(make_text_pdf([["nospacehere"]], variant=2))
    assert got["text"] == "nospacehere"


def test_literal_string_escapes():
    lx = _Lexer(rb"(a\(b\)c \\ \n\t \101 \0533)")
    kind, val = lx.next()
    assert kind == "str"
    assert val == b"a(b)c \\ \n\t A +3"


def test_literal_string_line_continuation_and_nesting():
    lx = _Lexer(b"(ab\\\ncd (nested) tail)")
    assert lx.next()[1] == b"abcd (nested) tail"


def test_hex_string_odd_and_whitespace():
    lx = _Lexer(b"<48 65 6C6C 6F2>")  # odd length pads a trailing 0
    assert lx.next()[1] == b"Hello "


def test_not_a_pdf():
    assert extract_pdf(b"plain text") is None
    assert extract_pdf(b"") is None


def test_truncated_pdf_is_total():
    blob = make_text_pdf(PAGES, variant=1)
    for cut in (10, len(blob) // 3, len(blob) // 2, len(blob) - 20):
        got = extract_pdf(blob[:cut])
        assert got is None or isinstance(got["text"], str)


def test_bogus_length_falls_back_to_endstream():
    blob = make_text_pdf([["abc def", "ghi"]], variant=0)
    bad = blob.replace(b"/Length", b"/Length 999999 /X", 1)
    got = extract_pdf(bad)
    assert got["text"] == "abc def\nghi"


def test_unsupported_filter_skips_stream():
    blob = make_text_pdf([["abc"]], variant=0)
    bad = blob.replace(b"<< /Length", b"<< /Filter /LZWDecode /Length", 1)
    got = extract_pdf(bad)
    assert got["n_pages"] == 1
    assert got["text"] == ""


def test_page_fallback_without_catalog():
    # damage the trailer Root: the /Type /Page object-number fallback
    # must still find both pages in order
    blob = make_text_pdf(PAGES, variant=0)
    bad = blob.replace(b"/Root 1 0 R", b"/Xoot 1 0 R").replace(
        b"/Type /Catalog", b"/Type /Xatalog"
    )
    assert extract_pdf(bad)["text"] == WANT


def test_contents_array_concatenation():
    # hand-build a page whose /Contents is an ARRAY of two streams; the
    # interpreter must concatenate them into one content stream
    c1 = b"BT /F1 12 Tf 72 720 Td (part one ) Tj"
    c2 = b"(part two) Tj ET"
    blob = (
        b"%%PDF-1.7\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >> endobj\n"
        b"4 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        b"5 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%%%EOF\n"
        % (len(c1), c1, len(c2), c2)
    )
    got = extract_pdf(blob)
    assert got["version"] == "1.7"
    assert got["text"] == "part one part two"


def test_layout_reorders_out_of_order_runs():
    # runs emitted bottom-line-first must come back top-to-bottom, and
    # same-line runs left-to-right by x
    c = (
        b"BT /F1 12 Tf "
        b"1 0 0 1 72 700 Tm (low line) Tj "
        b"1 0 0 1 200 720 Tm (right) Tj "
        b"1 0 0 1 72 720 Tm (left ) Tj "
        b"ET"
    )
    blob = (
        b"%%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n" % (len(c), c)
    )
    assert extract_pdf(blob)["text"] == "left right\nlow line"


def test_flate_stream_embedded_objlike_bytes():
    # compressed bytes that happen to contain 'N 0 obj' must not derail
    # the sequential object scan
    payload = zlib.compress(b"BT (x) Tj ET" + b" 7 0 obj " * 4)
    blob = make_text_pdf([["guard"]], variant=0)
    assert extract_pdf(blob)["text"] == "guard"
    assert payload  # (the property is exercised by variants 1/3 round trips)


def test_spark_pdf_text_mixed(spark):
    rows = [
        (0, make_text_pdf([["doc zero line a", "line b"]], variant=0)),
        (1, make_text_pdf([["doc one"]], variant=3)),
        (2, b"not a pdf at all"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in pdf_text(df).collect()}
    assert got[0]["pdf_text"] == "doc zero line a\nline b"
    assert got[0]["n_pages"] == 1
    assert got[1]["pdf_text"] == "doc one"
    assert got[2]["pdf_text"] is None and got[2]["n_pages"] == 0
    assert got[3]["pdf_text"] is None


def test_spark_pdf_plan_single_arrow_stage(spark):
    df = spark.createDataFrame(
        [(0, make_text_pdf([["x"]]))], "doc_id long, payload binary"
    )
    plan = pdf_text(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") <= 1
    assert "Exchange" not in plan
    assert_one_python_form(plan)
