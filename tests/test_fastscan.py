"""Differential: the fused token-stream format-A kernel (fastscan) must be
byte-identical to the DOM path on every input it accepts — the fixture
corpus, the synthetic bench pages, and adversarial markup.  Where it
declines (returns None), the DOM path is authoritative and nothing is
asserted beyond the decline itself."""

import os
from html.parser import HTMLParser

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import REFERENCE, TESTDATA, fixture_path

import html_parser_spark.dom as dom
from html_parser_spark.dom import decode_html_bytes, parse_html
from html_parser_spark.formats.fastscan import scan_format_a
from html_parser_spark.formats.format_a import parse_format_a_doc
from html_parser_spark.formats.format_a import post_process
from html_parser_spark.formats.textflat import extract_text, extract_text_doc

_FIXTURE_GROUPS = [
    ("lez-rus-35k/dictionary/letters", ".html"),
    ("rus-lez-35k/dictionary", ".HTM"),
    ("tab-rus-25k/dictionary", ".html"),
    ("lez-eng/dictionary", ".html"),
]


def _dom_reference(text):
    """The DOM path's (extracted_text, entries) for a format-A-style parse."""
    doc = parse_html(text)
    ps = doc.query_selector_all("p")
    extracted = extract_text_doc(doc, ps)
    af1 = [p for p in ps if "af1" in (p.attrs.get("class") or "").split()]
    entries = parse_format_a_doc(doc, af1)
    return extracted, entries


def _assert_equal(text, label):
    fast = scan_format_a(text)
    if fast is None:
        return False  # declined — DOM path handles it; nothing to compare
    doc_extracted, doc_entries = _dom_reference(text)
    fast_extracted, fast_raw = fast
    assert fast_extracted == doc_extracted, f"extracted_text differs: {label}"
    assert post_process(fast_raw) == doc_entries, f"entries differ: {label}"
    return True


def test_fastscan_differential_fixture_corpus():
    """Every reference fixture page (all four formats — fastscan must agree
    with the DOM path on ANY page it accepts, not just format A)."""
    compared: dict = {}
    declined: dict = {}
    for subdir, suffix in _FIXTURE_GROUPS:
        d = fixture_path(subdir)
        for name in sorted(os.listdir(d)):
            if not name.endswith(suffix):
                continue
            path = os.path.join(d, name)
            if not os.path.isfile(path):
                continue
            with open(path, "rb") as f:
                text = decode_html_bytes(f.read())
            bucket = compared if _assert_equal(text, f"{subdir}/{name}") else declined
            bucket[subdir] = bucket.get(subdir, 0) + 1
    # the format-A corpus (lez-rus letters) must be fully exercised — that's
    # the hot path; div-only pdf2htmlEX pages (tab-rus, lez-eng) decline via
    # the empty-<p>-text rule and stay on the DOM path, which is correct
    # since the kernel only routes FORMAT_A through fastscan
    # one known decline in the letters corpus: KI_Mg.html carries an
    # unterminated attribute quote — the same page _fast_parse flags
    # suspicious and re-parses via stdlib html.parser; fastscan correctly
    # hands it to that path
    assert declined.get("lez-rus-35k/dictionary/letters", 0) <= 1, declined
    assert compared.get("lez-rus-35k/dictionary/letters", 0) >= 40, compared
    assert sum(compared.values()) >= 60, (compared, declined)


def test_fastscan_differential_synthetic():
    """The synthetic bench pages (the headline-throughput path)."""
    import duckdb

    con = duckdb.connect()
    texts = [
        r[0]
        for r in con.execute(
            "SELECT text FROM read_parquet(?) ORDER BY doc_id LIMIT 50",
            [os.path.join(TESTDATA, "sf0.001", "documents.parquet")],
        ).fetchall()
    ]

    def esc(s):
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    for i, t in enumerate(texts):
        block = (
            f'<p class="af1"><span class="af">DOC{i}</span><span class="af2"> '
            f'</span><span class="a1">сущ</span>. {esc(t[:2000])}</p>\n'
            f'<p class="af1">♦ <span class="aff0">{esc(t[:80])}</span> '
            f'<span class="a1">перен</span>. {esc(t[80:280])}</p>\n'
        )
        html = (
            "<!doctype html>\n<html><head><meta charset=\"utf-8\">"
            "<title>synth</title>\n<style type=\"text/css\">p.af1{margin:0cm}"
            "</style></head><body>\n" + block * 10 + "</body></html>\n"
        )
        assert _assert_equal(html, f"synthetic doc {i}")


ADVERSARIAL = [
    # a-unwrap with direct text + nested spans + comments
    '<p class="af1"><a href="x">pre<span class="af">WORD</span>post</a>'
    '<span class="a1">сущ.</span> tail</p>',
    # P2 merge INTO an <a> (same-class neighbours), then unwrap sees the
    # REPLACED text-content children
    '<p class="af1"><a>alpha</a><span>beta</span><span class="af">W</span></p>',
    # comments as direct children and inside <a>
    '<p class="af1"><!-- note --><span class="af">W</span><a><!-- in-a -->x</a></p>',
    # inflection geometry across runs
    '<p class="af1"><span class="af">W</span><span>(</span>'
    '<span class="aff0">-di, -da</span><span>)</span> def</p>',
    # blocks and <br> inside p (innerText newlines), void children
    '<p class="af1"><span class="af">W</span>a<br>b<li>item</li>c</p>',
    # script/style inside a line: text_content sees it, innerText skips it
    '<p class="af1"><span class="af">W</span><script>var x=1;</script>tail</p>',
    # rawtext as a direct af1 child with a class
    '<p class="af1"><style class="af">.x{}</style><span class="af">W</span>d</p>',
    # entities in text and attrs, nbsp handling
    '<p class="af1"><span class="af">W&amp;X</span>&nbsp;&lt;tag&gt;</p>',
    # unterminated p, implicit close by div
    '<p class="af1"><span class="af">W</span> def<div>outside</div>',
    # nested same-tag pops and stray end tags
    '<p class="af1"><span><b>x</b></span></i><span class="af">W</span></p>',
    # empty af1 p, self-closed p, af1 with only whitespace
    '<p class="af1"></p><p class="af1"/> <p class="af1">   </p>'
    '<p class="af1"><span class="af">W</span>d</p>',
    # multi-pop close: </table> closing nested li/tr inside p
    '<p class="af1"><span class="af">W</span><li>a<tr>b</li>c</p>',
    # title inside p: innerText skips the subtree, text_content keeps it
    '<p class="af1"><span class="af">W</span><title>hidden</title>visible</p>',
    # second af spans demoted to plain (P4)
    '<p class="af1"><span class="af">W</span> x <span class="af">NOTSP</span> y</p>',
    # continuation line (no spelling) merging into previous entry
    '<p class="af1"><span class="af">W</span> start</p>'
    '<p class="af1">continued tail</p>',
    # uppercase tags / attribute quirks
    '<P CLASS="af1"><SPAN CLASS="af">W</SPAN> d</P>',
]


def test_fastscan_differential_adversarial():
    for i, html in enumerate(ADVERSARIAL):
        _assert_equal(html, f"adversarial #{i}: {html[:60]!r}")


def test_fastscan_declines_suspicious_markup():
    """Tokenizer-skipped markup must route to the DOM path, exactly like
    _fast_parse's suspicious flag."""
    html = '<p class="af1"><span class="af" foo="unterminated>W</span> d</p>' \
           "<p>text with a < dangling bracket</p>"
    assert scan_format_a(html) is None


def _fixture_texts():
    """The reference pages, where present: extra inputs for a test that
    runs on generated pages without them."""
    for subdir, suffix in _FIXTURE_GROUPS:
        d = os.path.join(REFERENCE, subdir)
        if not os.path.isdir(d):
            continue
        for name in sorted(os.listdir(d)):
            path = os.path.join(d, name)
            if name.endswith(suffix) and os.path.isfile(path):
                with open(path, "rb") as f:
                    yield f.read()


def _shape(n):
    if n.kind in ("text", "comment"):
        return (n.kind, n._text)
    return (n.tag, tuple(sorted(n.attrs.items())), [_shape(c) for c in n.children])


def _runs(text):
    """(text-run start, next token match or None) in the order the regex
    tokenizer walks the page; script/style content is skipped whole."""
    pos = 0
    while True:
        m = dom._TOKEN_RE.search(text, pos)
        yield pos, m
        if m is None:
            return
        pos = m.end()
        if m.lastgroup in ("starttag", "attrs", "selfclose") and not m.group(7):
            close = dom._RAWTEXT_CLOSE.get(m.group(5).lower())
            if close is not None:
                cm = close.search(text, pos)
                pos = cm.end() if cm else len(text)


def _first_unreadable(text):
    """Where ``_fast_parse`` hands over to html.parser: the first ``<`` of
    the first text run holding tag-like text (None: the regex reads all)."""
    for pos, m in _runs(text):
        if dom._SUSPICIOUS_RE.search(text, pos, m.start() if m else len(text)):
            return text.index("<", pos)
    return None


def _record_feeds(monkeypatch):
    fed = []

    def feed(self, data):
        fed.append(data)
        HTMLParser.feed(self, data)

    monkeypatch.setattr(dom._DomBuilder, "feed", feed)
    return fed


def test_suspicious_page_resumes_html_parser_at_the_unreadable_tag(monkeypatch):
    """Where fastscan declines for suspicious markup, the DOM path tokenizes
    the page once: html.parser reads only from the first tag the regex
    cannot read on, the tree equals ``parse_html_slow``'s, and
    ``parse_document`` is byte-identical to the whole-page html.parser
    route — on every generated and fixture page of that kind."""
    import json
    import random

    import html_parser_spark.kernel as kernel
    from perfbench import gen

    mix = {"A": 1, "A-dom": 2, "B": 1, "C": 1, "D": 1, "generic": 1}
    rows = gen.dictionary_pages(5, 140, mix, 7000, 0.9)
    rng = random.Random(6)
    pages = [r["html"] for r in rows] + [
        gen.page_a(rng, size, broken=True).encode() for size in range(1500, 30000, 1500)
    ]
    fed = _record_feeds(monkeypatch)
    checked = 0
    for raw in pages + list(_fixture_texts()):
        text = decode_html_bytes(raw)
        k = _first_unreadable(text)
        if k is None:
            continue
        assert scan_format_a(text) is None
        del fed[:]
        resumed = parse_html(text)
        assert fed == [text[k:]]
        assert _shape(resumed) == _shape(dom.parse_html_slow(text))
        one_pass = json.dumps(kernel.parse_document(raw), sort_keys=True)
        with monkeypatch.context() as m:
            m.setattr(kernel, "parse_html", dom.parse_html_slow)
            assert json.dumps(kernel.parse_document(raw), sort_keys=True) == one_pass
        checked += 1
    assert checked >= 40, checked


# untokenizable tags: the regex cannot match them.  A quote opens a value
# only right after "=", so a stray apostrophe never pairs with a later one;
# an unterminated quote after "=" relies on the page holding no other
# apostrophe (the generator's A-dom pages do, and are left out)
_UNREADABLE = (
    "<span title=don't>слово</span>",  # unquoted attribute value with a quote
    "<i class='open>слово</i> ",  # unterminated quote
    "если a <b то it's",  # stray < before a letter
    "<span title=don't>a</span> b it's ",  # stray quote, a later apostrophe
)


@given(
    shape=st.sampled_from(["A", "B", "C", "D", "generic"]),
    seed=st.integers(0, 10_000),
    where=st.floats(0.0, 1.0),
    tag=st.sampled_from(_UNREADABLE),
)
@settings(max_examples=120, deadline=None)
def test_resume_builds_the_slow_tree(shape, seed, where, tag):
    """An unreadable tag inserted at any token boundary of a generated page:
    ``parse_html`` resumes html.parser there and builds ``parse_html_slow``'s
    tree."""
    from perfbench import gen

    text = gen.dictionary_pages(seed, 1, {shape: 1}, 2500, 0.3)[0]["html"].decode()
    bounds = [m.start() if m else len(text) for _, m in _runs(text)]
    at = bounds[min(int(where * len(bounds)), len(bounds) - 1)]
    page = text[:at] + tag + text[at:]
    with pytest.MonkeyPatch.context() as mp:
        fed = _record_feeds(mp)
        resumed = parse_html(page)
    assert fed == [page[at + tag.index("<") :]]
    assert _shape(resumed) == _shape(dom.parse_html_slow(page))


def test_stray_apostrophe_leaves_its_tag_unread():
    """An apostrophe inside an unquoted attribute value does not pair with
    the next apostrophe of the page: the tag is unreadable, so
    ``parse_html`` resumes html.parser at it and builds the slow tree, and
    the scanner declines."""
    page = "<p><span title=don't>a</span> b</p><p>it's <b>x</b></p>"
    with pytest.MonkeyPatch.context() as mp:
        fed = _record_feeds(mp)
        resumed = parse_html(page)
    assert fed == [page[page.index("<span") :]]
    assert _shape(resumed) == _shape(dom.parse_html_slow(page))
    assert scan_format_a(page) is None


def test_fastscan_declines_empty_text():
    """No P20-visible text → None (the DOM path owns the body fallback)."""
    assert scan_format_a("<div>no paragraphs here</div>") is None
    assert scan_format_a('<p class="af1"></p>') is None


@pytest.mark.parametrize(
    "page, want",
    [
        ("<p>\xa0a \xa0</p><p>b</p>", "\xa0a b"),
        ("<p>\u2003кьил\x85</p>", "\u2003кьил\x85"),
        ("<p> \t a\x1f</p>", "a\x1f"),
    ],
)
def test_line_edges_strip_only_collapsed_whitespace(page, want):
    """innerText trims each line of the spaces, tabs and segment breaks it
    collapses, not of NBSP, U+001C–U+001F, U+0085 or U+2000–U+200A
    (which ``str.strip()`` also removes); the DOM path and fastscan agree."""
    assert extract_text(page) == want
    assert scan_format_a(page)[0] == want
