"""Differential: the DOM-free format B and C scanners
(``fastscan.scan_format_b`` / ``scan_format_c``, one shared styled-scan
driver) must equal the DOM path — P20 ``extract_text_doc`` plus
``format_b.parse_format_b_doc`` / ``format_c.scan_spans_doc`` — on every
input they accept, and must take every generated B and C page.  Where they
decline (None), the DOM path is authoritative."""

import json
import os

import pytest

from tests.conftest import fixture_path

from html_parser_spark import kernel
from html_parser_spark.dom import decode_html_bytes, parse_html
from html_parser_spark.formats.fastscan import scan_format_b, scan_format_c
from html_parser_spark.formats.format_b import parse_format_b_doc
from html_parser_spark.formats.format_c import scan_spans_doc
from html_parser_spark.formats.textflat import extract_text_doc


def _dom_b(text):
    doc = parse_html(text)
    return extract_text_doc(doc), parse_format_b_doc(doc)


def _dom_c(text):
    doc = parse_html(text)
    return extract_text_doc(doc), scan_spans_doc(doc)


SCANNERS = {"B": (scan_format_b, _dom_b), "C": (scan_format_c, _dom_c)}


def _agree(shape, text, label):
    """True when the scanner takes ``text`` (and then equals the DOM path)."""
    scan, dom = SCANNERS[shape]
    fast = scan(text)
    if fast is None:
        return False
    want = dom(text)
    assert fast[0] == want[0], f"{shape} extracted_text differs: {label}"
    assert fast[1] == want[1], f"{shape} records differ: {label}"
    return True


def _dom_route(monkeypatch, raw):
    with monkeypatch.context() as m:
        m.setattr(kernel, "scan_format_b", lambda text: None)
        m.setattr(kernel, "scan_format_c", lambda text: None)
        return kernel.parse_document(raw)


@pytest.mark.parametrize("shape", ["B", "C"])
def test_scanner_takes_every_generated_page(monkeypatch, shape):
    from perfbench import gen

    n = 0
    for seed in range(6):
        for row in gen.dictionary_pages(seed, 10, {shape: 1}, 7000, 0.9):
            text = decode_html_bytes(row["html"])
            assert _agree(shape, text, f"seed {seed} {row['url']}"), row["url"]
            got = kernel.parse_document(row["html"])
            assert got["fmt"] == shape and got["n_entries"] > 0
            assert json.dumps(got, sort_keys=True) == json.dumps(
                _dom_route(monkeypatch, row["html"]), sort_keys=True
            )
            n += 1
    assert n == 60


def test_scanners_on_fixture_pages():
    groups = [("rus-lez-35k/dictionary", ".HTM", "B"), ("tab-rus-25k/dictionary", ".html", "C")]
    for subdir, suffix, shape in groups:
        d = fixture_path(subdir)
        taken = total = 0
        for name in sorted(os.listdir(d)):
            path = os.path.join(d, name)
            if not (name.endswith(suffix) and os.path.isfile(path)):
                continue
            with open(path, "rb") as f:
                text = decode_html_bytes(f.read())
            for other in SCANNERS:  # any page either scanner accepts
                ok = _agree(other, text, f"{subdir}/{name}")
                if other == shape:
                    taken += ok
                    total += 1
        assert total and taken >= total * 0.9, (subdir, taken, total)


_C_CSS = (
    ".s1_1{font-family:TimesNewRomanPS-BoldMT_f7m;font-size:14px;}"
    ".s2_1{font-family:TimesNewRomanPSMT_f7b;font-size:14px;}"
    ".s3_1{font-family:TimesNewRomanPS-ItalicMT_f7i;font-size:14px;}"
    "#t1_1{left:100px;bottom:1100px;}#t2_1{left:160px;bottom:1100px;}"
    "#t3_1{left:100px;bottom:1072px;}#t4_1{left:220px;bottom:1072px;}"
)
_C_SPANS = (
    '<span id="t1_1" class="t s1_1">КЪВАН </span>\n'
    '<span id="t2_1" class="t s2_1">камень скала </span>\n'
    '<span id="t3_1" class="t s1_1">ЦӀАЙ </span>\n'
    '<span id="t4_1" class="t s3_1">-ди, -да </span>\n'
)


def _c(body=_C_SPANS, css=_C_CSS, doctype="<!DOCTYPE html>\n", tail=""):
    style = f"<style>{css}</style>" if css is not None else ""
    return (
        f'{doctype}<html><head><meta charset="utf-8"><meta name="generator" '
        f'content="idrviewer"><title>Page 1</title>{style}</head>\n'
        f'<body><div id="p1" class="page-1">\n{body}</div></body></html>\n{tail}'
    )


# (page, expected: True taken / False declined)
ADVERSARIAL_C = [
    (_c(), True),
    # span nested in a span; any element inside a span
    (_c('<span id="t1_1" class="t s1_1">A<span class="s2_1">b</span></span>'), False),
    (_c('<span id="t1_1" class="t s1_1">A<br>b</span>'), False),
    # inline style= over the #id and class rules
    (_c('<span id="t1_1" class="t s1_1" style="left:5px;font-family:Arial-BoldMT">X Y</span>'
        + _C_SPANS), True),
    # tag rules and inherited properties
    (_c(css=_C_CSS + "span{font-size:9px}div{font-family:Courier}body{left:1px}"), True),
    (_c('<span class="t">ИНХЕРИТ </span>', css="div{font-family:Courier-Bold}"), True),
    # @font-face / @media blocks and CSS comments (the general sheet scan)
    (_c(css="@font-face{font-family:f7m;src:url(x.woff)}/* c */"
        + _C_CSS + "@media print{.s1_1{font-size:1px}}<!-- -->"), True),
    (_c(css=".s1_1, .s2_1 { font-size : 20px !important }" + _C_CSS), True),
    # quirks mode (no doctype): class names match case-insensitively
    (_c('<span id="t1_1" class="T S1_1">КЪВАН </span><span id="t2_1" class="t S2_1">x </span>',
        doctype=""), True),
    (_c('<span id="t1_1" class="T S1_1">КЪВАН </span>'), True),
    # a <p> inside a C page (P20 reads the <p>, not the body fallback)
    (_c(_C_SPANS + "<p>абзац <b>текст</b></p>"), True),
    (_c(_C_SPANS + "<p>   </p>"), True),
    # no <style> at all
    (_c(css=None), True),
    # entities in text and attributes
    (_c('<span id="t1_1" class="t&#32;s1_1">A&amp;B&nbsp;&lt;C&gt; </span>' + _C_SPANS), True),
    # script/style in the body
    (_c("<script>var a = '<span>x</span>';</script>" + _C_SPANS), True),
    (_c("<style>.s2_1{font-size:2px}</style>" + _C_SPANS), True),
    (_c(_C_SPANS + "<style>.s2_1{font-size:2px}</style>"), False),
    (_c('<span id="t1_1" class="t s1_1"><script>x</script></span>'), False),
    # upper-case tags and attribute names
    (_c('<SPAN ID="t1_1" CLASS="t s1_1">КЪВАН </SPAN><Span id="t2_1" class="t s2_1">y</Span>'),
     True),
    # comments, self-closed, unclosed and implicitly closed spans
    (_c('<span id="t1_1" class="t s1_1">A<!-- c -->B </span><span id="t2_1" class="t s2_1"/>'),
     True),
    (_c('<span id="t1_1" class="t s1_1">A </div><span id="t2_1" class="t s2_1">b </span>'), True),
    (_c('<span id="t1_1" class="t s1_1">A </b>B</span>'), True),
    (_c(tail='<span id="t3_1" class="t s2_1">tail'), True),
    # a doctype after the sheet was used (quirks flips): DOM path
    (_c(doctype="", tail="<!DOCTYPE html>"), False),
    # body fallback: innerText's line breaks at blocks and <br> decide
    # where whitespace is stripped
    (_c(_C_SPANS + " tail <div> block </div> after <br> br <li> item</li> end "), True),
    (_c(_C_SPANS + "<title> skipped </title><script>s</script> <h1>head</h1>x"), True),
    # body fallback without a <body>, and with an empty one
    ('<html><head><style>#t1_1{left:1px}</style></head><span id="t1_1">X</span></html>', False),
    (_c().replace("<body>", "<body/>"), True),
    # suspicious markup: the DOM path decides
    (_c('<span id="t1_1" class="t s1_1" title="x>A</span>'), False),
]


def _b(lines, css="p.a7{margin:0cm}span.hw{color:#C0504D;font-weight:bold}"
       "span.it{font-style:italic}span.b{font-weight:bold}", head=""):
    style = f"<style>{css}</style>" if css is not None else ""
    return (
        f'{head}<html><head><meta http-equiv=Content-Type content="text/html; charset=utf-8">'
        f"{style}</head><body lang=RU>\n{lines}</body></html>\n"
    )


_B_LINE = (
    "<p class=a7><span class=hw>ДОМ</span><sup>1</sup> <span class=it>сущ</span> "
    "1. къвал <span class=b>кIвал</span> 2. хуьр (3. не) 4. шегьер</p>\n"
)

ADVERSARIAL_B = [
    (_b(_B_LINE * 3), True),
    # spans nested in spans, bold inside italic, red around a black child
    (_b("<p class=a7><span class=hw>ДОМ</span> <span class=it>a <span class=b>b</span> c"
        "</span> 1. x 2. y</p>"), True),
    (_b("<p class=a7><span class=hw>ДОМ<span style='color:black'>black</span></span> "
        "1. x</p>"), True),
    # inline style=
    (_b("<p class=a7><span style='color:#C0504D'>КРАСНЫЙ</span> <span style="
        "'font-weight:700;font-style:italic'>bi</span> <span style='font:italic 12pt x'>"
        "f</span> 1. a 2. b</p>"), True),
    # tag rules and UA bold/italic
    (_b("<p class=a7><b>ЖИР</b> <i>курс</i> <em>e</em> <strong>s</strong> 1. a</p>",
        css="b{font-style:italic} i{font-weight:bold} p{color:#C0504D}"), True),
    (_b("<p class=a7><b>ЖИР</b> <i>курс</i> 1. a</p>", css="b{font-style:italic}"), True),
    # @font-face / @media blocks and CSS comments
    (_b(_B_LINE, css="@font-face{font-family:x}/* c */span.hw{color:#C0504D}"
        "@media print{span.it{font-style:normal}}"), True),
    # quirks mode (no doctype): class names case-insensitive; with one, not
    (_b("<p class=a7><span class=HW>ДОМ</span> <span class=IT>сущ</span> 1. a</p>"), True),
    (_b("<p class=a7><span class=HW>ДОМ</span> <span class=IT>сущ</span> 1. a</p>",
        head="<!DOCTYPE html>"), True),
    # P8 fallbacks: msonormal, then MsoNormal; a7 wins when present
    (_b("<p class=MsoNormal><b>ДОМ</b> 1. a</p><p class=msonormal>СЕЛО 1. b</p>"), True),
    (_b("<p class=MsoNormal><b>ДОМ</b> 1. a</p>"), True),
    (_b("<p class=MsoNormal>ДОМ 1. a</p><p class=a7/>"), True),
    # no <style>
    (_b(_B_LINE, css=None), True),
    # entities
    (_b("<p class=a7>ДОМ&amp;КО 1. &lt;a&gt; 2. b&nbsp;c</p>"), True),
    # script/style in the body: outside the lines, in a line, late sheet
    (_b("<script>var x = '<p class=a7>';</script>" + _B_LINE), True),
    (_b("<p class=a7>ДОМ <script>x</script> 1. a</p>"), False),
    (_b(_B_LINE + "<style>span.it{font-style:normal}</style>"), False),
    # upper-case tags
    (_b("<P CLASS=a7><SPAN CLASS=hw>ДОМ</SPAN> <SPAN CLASS=it>сущ</SPAN> 1. a</P>"), True),
    # childNodes[0]: comment, element with children, whitespace, void, none
    (_b("<p class=a7><!--ДОМ-->x 1. a</p>"), True),
    (_b("<p class=a7><b>Д<i>О</i>М<!--c--></b> 1. a</p>"), True),
    (_b("<p class=a7>   <b>ДОМ</b> 1. a</p><p class=a7></p><p class=a7><br>ДОМ</p>"), True),
    # sup: its children are dropped; a line directly inside sup declines
    (_b("<p class=a7><b>ДОМ</b><sup><b>2</b>x</sup> 1. a</p>"), True),
    (_b("<sup><p class=a7>ДОМ 1. a</p></sup>"), False),
    # implicit closes, stray end tags, unclosed line at EOF
    (_b("<p class=a7>ДОМ 1. a<div>div</div> tail<p class=a7>СЕЛО</i> 1. b"), True),
    (_b("<p class=a7><span class=it>ДОМ 1. a</p> 2. b"), True),
    # P20 body fallback: lines with no text
    (_b("<p class=a7><sup></sup></p> тело <div> блок </div> за <br> br <b>текст</b>"), True),
    # suspicious markup
    (_b("<p class=a7 title='x>ДОМ 1. a</p>"), False),
]


@pytest.mark.parametrize("shape,cases", [("C", ADVERSARIAL_C), ("B", ADVERSARIAL_B)])
def test_adversarial_equal_dom_or_decline(shape, cases):
    for i, (page, taken) in enumerate(cases):
        label = f"{shape} adversarial #{i}: {page[-160:]!r}"
        assert _agree(shape, page, label) is taken, label
        other = "B" if shape == "C" else "C"
        _agree(other, page, label)  # either scanner: equal or decline
