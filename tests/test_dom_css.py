"""DOM + CSS resolver unit tests (browser-behavior contracts the parsers rely on)."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from html_parser_spark.css import StyleResolver, normalize_color, normalize_font_weight
from html_parser_spark.dom import decode_html_bytes, parse_html


def test_child_nodes_include_text_and_comments():
    doc = parse_html("<p>a<span>b</span><!--c-->d</p>")
    p = doc.query_selector_all("p")[0]
    kinds = [n.node_name for n in p.child_nodes]
    assert kinds == ["#text", "SPAN", "#comment", "#text"]


def test_text_content_concat_and_assignment():
    doc = parse_html("<p><span>a<b>b</b></span>c</p>")
    p = doc.query_selector_all("p")[0]
    assert p.text_content == "abc"
    span = p.child_nodes[0]
    span.text_content = span.text_content + "X"  # browser: children replaced
    assert p.text_content == "abXc"
    assert len(span.child_nodes) == 1


def test_class_name_semantics():
    doc = parse_html('<p class="af1"><span class="af">x</span>y<i>z</i></p>')
    p = doc.query_selector_all("p.af1")[0]
    span, text, i = p.child_nodes
    assert span.class_name == "af"
    assert text.class_name is None  # JS undefined on text nodes
    assert i.class_name == ""  # classless element
    span.class_name = ""  # demotion (lez-rus-35k/index.ts:75)
    assert span.class_name == ""


def test_entity_decoding_and_nbsp():
    doc = parse_html("<p>&nbsp;&lt;x&gt;&amp;</p>")
    assert doc.query_selector_all("p")[0].text_content == "\xa0<x>&"


def test_void_and_implicit_close():
    doc = parse_html("<p>a<br>b<p>c</p>")
    ps = doc.query_selector_all("p")
    assert len(ps) == 2  # second <p> implicitly closes the first
    assert ps[0].text_content == "ab"
    assert [n.node_name for n in ps[0].child_nodes] == ["#text", "BR", "#text"]


def test_decode_html_bytes_meta_charset():
    raw = '<html><head><meta charset=windows-1251></head><body>Ша</body></html>'.encode(
        "windows-1251"
    )
    assert "Ша" in decode_html_bytes(raw)
    assert "Ш" in decode_html_bytes("<meta charset=\"utf-8\">Ш".encode("utf-8"))


def test_decode_html_bytes_bom_outranks_meta():
    # WHATWG: a BOM wins over a (here: wrong) meta charset declaration
    doc = '<html><head><meta charset=windows-1251></head><body>Ша</body></html>'
    assert "Ша" in decode_html_bytes(b"\xef\xbb\xbf" + doc.encode("utf-8"))
    le = decode_html_bytes(b"\xff\xfe" + "Шa".encode("utf-16-le"))
    assert le == "Шa" and not le.startswith("﻿")
    be = decode_html_bytes(b"\xfe\xff" + "Шa".encode("utf-16-be"))
    assert be == "Шa"


def test_color_and_weight_normalization():
    assert normalize_color("#C0504D") == "rgb(192, 80, 77)"
    assert normalize_color("#C00") == "rgb(204, 0, 0)"
    assert normalize_color("black") == "rgb(0, 0, 0)"
    assert normalize_color("windowtext") == "rgb(0, 0, 0)"
    assert normalize_color("bogus") is None
    assert normalize_font_weight("bold") == "700"
    assert normalize_font_weight("normal") == "400"
    assert normalize_font_weight("600") == "600"


def test_computed_style_cascade_inline_and_inheritance():
    html = """
    <html><head><style>
      span.red { color:#C0504D; font-weight:bold; }
      span.it { font-style:italic; }
      p { color: black; }
    </style></head><body>
    <p><span class="red">r<b>rb</b></span>
       <span class="it">i<span style="font-style:normal">n</span></span></p>
    </body></html>"""
    doc = parse_html(html)
    st = StyleResolver(doc)
    red = doc.query_selector_all("span.red")[0]
    assert st.color(red) == "rgb(192, 80, 77)"
    assert st.font_weight(red) == "700"
    b = red.child_nodes[1]
    assert st.font_weight(b) == "700"
    assert st.color(b) == "rgb(192, 80, 77)"  # inherited
    it = doc.query_selector_all("span.it")[0]
    assert st.font_style(it) == "italic"
    inner = it.child_nodes[1]
    assert st.font_style(inner) == "normal"  # inline overrides inherited


def test_id_rules_and_positions():
    html = """<html><head><style>
      #t1_40{left:438px;bottom:1134px;}
      .s1_40{font-size:37px;font-family:TimesNewRomanPS-BoldMT_f7m;color:#000;}
    </style></head><body>
    <span id="t1_40" class="t s1_40">A </span></body></html>"""
    doc = parse_html(html)
    st = StyleResolver(doc)
    el = doc.query_selector_all("span")[0]
    assert st.left(el) == "438px"
    assert st.bottom(el) == "1134px"
    assert st.font_family(el) == "TimesNewRomanPS-BoldMT_f7m"
    assert st.font_size(el) == "37px"


def test_fast_dom_differential_malformed():
    """The fast tokenizer must match html.parser recovery on malformed input
    (unterminated attribute quote found in fixture KI_Mg.html) by falling
    back to the slow path."""
    from html_parser_spark.dom import parse_html, parse_html_slow

    bad = '<p class="af1"><span class="af" style="x:1;</span></p>\n<p class="a">t</p>'

    def shape(n):
        if n.kind == "text":
            return ("t", n._text)
        if n.kind == "comment":
            return ("c", n._text)
        return ("e", n.tag, tuple(sorted(n.attrs.items())), [shape(c) for c in n.children])

    assert shape(parse_html(bad)) == shape(parse_html_slow(bad))


def test_fast_dom_entities_and_rawtext():
    from html_parser_spark.dom import parse_html, parse_html_slow

    html = (
        '<html><head><style>p{color:#fff}</style><script>if (a<b) x();</script>'
        "</head><body><p title=\"a&amp;b\">x &nbsp;&lt;y&gt;</p><br/><p>z</p></body></html>"
    )
    f, s = parse_html(html), parse_html_slow(html)
    pf = f.query_selector_all("p")
    ps = s.query_selector_all("p")
    assert [p.text_content for p in pf] == [p.text_content for p in ps]
    assert pf[0].attrs["title"] == "a&b"
    assert f.query_selector_all("script")[0].text_content == "if (a<b) x();"


def test_flat_sheet_fast_path_matches_general_scan():
    """``StyleSheet.add_css``'s flat-sheet fast path gives the rule list the
    general scan gives (a trailing comment forces the general scan)."""
    import random

    from html_parser_spark.css import StyleSheet
    from perfbench import gen

    rng = random.Random(3)
    sheets = [
        "p.af1{margin:0cm}span.af{color:#C00000;font-weight:bold}",
        "p.a7{margin:0cm}span.HW{color:#C0504D;font-weight:bold}span.it{font-style:italic}",
        " #t1_40{left:438px;bottom:1134px;}\n.s1_40 {font-size:37px;font-family:F_f7m;color:#000;}",
        "span{font-size:9px} div { color : red ! important } .a-b_c{font:italic bold 1px x}",
        "p.a7{}span.x{;;}#id{left:1px;left:2px}",
        "{color:red}.a{color:blue}",  # an empty selector
        ".a{color:red}}.b{color:blue}",  # not flat: the general scan decides
    ]
    for html in (gen.page_c(rng, 6000), gen.page_b(rng, 3000), gen.page_a(rng, 2000)):
        sheets.append(html[html.index("<style") :].split(">", 1)[1].split("</style>")[0])

    def rules(css, quirks):
        sheet = StyleSheet(quirks)
        sheet.add_css(css)
        return [(r.tag, r.cls, r.elid, r.specificity, r.order, r.effect)
                for r in sheet.rules]

    for css in sheets:
        for quirks in (False, True):
            fast = rules(css, quirks)
            assert fast == rules(css + "/* general */", quirks), css
            assert fast or css.startswith("{")


# the tokenizer's start-tag alternative reads its attributes possessively:
# the lazy, backtracking form of the same rule (a quote opens a value only
# right after "="), kept as the reference
_LAZY_TOKEN_RE = re.compile(
    r"<!--(?P<comment>.*?)(?:-->|$)"
    r"|<!(?P<decl>[^>]*)>"
    r"|<\?(?P<pi>[^>]*)>"
    r"|</\s*(?P<endtag>[a-zA-Z][-.:\w]*)\s*>"
    r"|<(?P<starttag>[a-zA-Z][-.:\w]*)"
    r"(?P<attrs>(?:[^>\"'=]|=\s*(?:\"[^\"]*\"|'[^']*')?)*?)"
    r"(?P<selfclose>/?)>",
    re.S,
)


@given(st.text(alphabet="<>/\"'=ab -!?\n&;", max_size=40))
@settings(max_examples=3000, deadline=None)
def test_token_regex_matches_the_lazy_reference(s):
    from html_parser_spark.dom import _TOKEN_RE

    for pos in range(len(s) + 1):
        a, b = _LAZY_TOKEN_RE.search(s, pos), _TOKEN_RE.search(s, pos)
        assert (a and (a.span(), a.lastgroup, a.groups())) == (
            b and (b.span(), b.lastgroup, b.groups())
        ), (s, pos)


def test_token_regex_matches_the_lazy_reference_on_generated_pages():
    from html_parser_spark.dom import _TOKEN_RE
    from perfbench import gen

    mix = {"A": 1, "A-dom": 1, "B": 1, "C": 1, "D": 1, "generic": 1}
    for row in gen.dictionary_pages(7, 24, mix, 5000, 0.9):
        text = row["html"].decode()
        assert [(m.span(), m.groups()) for m in _TOKEN_RE.finditer(text)] == [
            (m.span(), m.groups()) for m in _LAZY_TOKEN_RE.finditer(text)
        ]


def test_memos_keep_serving_after_a_flood_of_unique_strings():
    """The attribute, class and declaration-block memos evict the least
    recently used entry: after more unique strings than they hold
    (idrviewer pages give every span its own ``id``), a repeated string is
    still a hit."""
    from html_parser_spark.css import declaration_block
    from html_parser_spark.dom import _attrs_view
    from html_parser_spark.formats.fastscan import _class_of

    for memo, repeated, unique in (
        (_attrs_view, ' class="af1"', ' id="t{}_1" class="s"'),
        (_class_of, ' class="af1"', ' id="t{}_1" class="s"'),
        (declaration_block, "color:red", "left:{}px;bottom:1px"),
    ):
        memo(repeated)
        for i in range(memo.cache_info().maxsize + 1):
            memo(unique.format(i))
        memo(repeated)
        hits = memo.cache_info().hits
        memo(repeated)
        assert memo.cache_info().hits == hits + 1, memo
