"""Format B — MS-Word-exported dictionary HTML with inline/computed styles.

Reimplements ``/root/reference/rus-lez-35k/parser.js:10-80`` (P8-P11 in
SURVEY.md §2.3) browser-free, with ``html_parser_spark.css.StyleResolver``
standing in for ``getComputedStyle``:

* P8  entry-line scan: ``p.a7`` paragraphs, fallback ``p.msonormal``
      (parser.js:11-14; the pages have no doctype → quirks-mode
      case-insensitive class match)
* P9  headword pick: first childNode's trimmed textContent; skip if empty
      (parser.js:19-20)
* P10 recursive styled-text serializer (parser.js:24-47): skip children of
      SUP (homonym numerals); skip elements computing to the headword red
      ``rgb(192, 80, 77)``; text under bold → ``{…}``, under italic → ``<…>``,
      else raw; flags re-derived at every element from computed style
* P11 numbered-definition splitter (parser.js:49-69): split at top-level
      ``N.`` with parens balanced; the FIRST numeral stays inline
      (``numAndDotCount > 1``); pieces trimmed, newlines → spaces

Replicated JS quirks:

* ``!isNaN(text[i])`` uses Number coercion: true for ASCII digits AND any
  JS-whitespace character (``Number(' ') === 0``) — so ``' .'`` also starts a
  split point.  ``js_char_not_nan`` reproduces this exactly.
* Output records are ``{spelling, definitions: [str]}`` — no inflection.

Paths: ``kernel.parse_document`` first runs ``fastscan.scan_format_b``, a
one-pass scanner that builds no DOM and must equal this module (plus the
P20 flatten) on every page it takes (tests/test_fastscan_styled.py).  This
module is the executable spec, and the path for pages that scanner declines.
"""

from __future__ import annotations

import re

from html_parser_spark.css import StyleResolver
from html_parser_spark.dom import Node, parse_html
from html_parser_spark.jsstr import JS_WS_CHARS, js_trim

HEADWORD_RED = "rgb(192, 80, 77)"  # #C0504D

_DIGITS = set("0123456789")
_NOT_NAN = _DIGITS | set(JS_WS_CHARS)


def js_char_not_nan(c: str) -> bool:
    """JS ``!isNaN(c)`` for a single character (Number coercion: digits are
    numbers; whitespace coerces to 0)."""
    return c in _NOT_NAN


def serialize_styled_text(line_el: Node, styles: StyleResolver) -> str:
    """P10 — DFS serializer; returns the markup string for one line."""
    out: list[str] = []

    def walk(el: Node, is_bold: bool, is_cursive: bool):
        parent = el.parent
        if parent is not None and parent.kind == "element" and parent.tag == "sup":
            return
        if el.kind == "text":
            if is_bold:
                out.append("{" + el._text + "}")
            elif is_cursive:
                out.append("<" + el._text + ">")
            else:
                out.append(el._text)
            return
        if el.kind != "element":
            return  # comments: textContent irrelevant, JS also skips via nodeType checks
        st = styles.computed(el)  # one cascade fetch for color+style+weight
        if st["color"] == HEADWORD_RED:
            return
        is_cursive = st["font-style"] == "italic"
        is_bold = st["font-weight"] == "700"
        for child in el.children:
            walk(child, is_bold, is_cursive)

    walk(line_el, False, False)
    return "".join(out)


# candidate split points: a digit-or-JS-whitespace char directly before '.'
_NEWDEF_RE = re.compile("[0-9" + JS_WS_CHARS + "](?=\\.)")


def split_numbered_definitions(text: str) -> list[str]:
    """P11 — parser.js:49-69, exact splitter semantics.

    Vectorized form of the reference's per-char loop: candidate positions
    (``!isNaN(c) && text[i+1] === '.'``) come from one regex scan, and the
    paren depth at each candidate is accumulated with C-speed ``str.count``
    over the gaps (a candidate char is never itself a paren, so the depth at
    the test equals the paren balance of the prefix, exactly as in the loop).
    Differentially tested against the per-char reference port.
    """
    definitions: list[str] = []
    depth = 0
    prev = 0
    num_and_dot = 0
    seg_start = 0
    for m in _NEWDEF_RE.finditer(text):
        i = m.start()
        depth += text.count("(", prev, i) - text.count(")", prev, i)
        prev = i
        if depth == 0:
            num_and_dot += 1
            if num_and_dot > 1:
                definitions.append(js_trim(text[seg_start:i]).replace("\n", " "))
                seg_start = i
    if seg_start < len(text):  # JS truthiness: '' falsy
        definitions.append(js_trim(text[seg_start:]).replace("\n", " "))
    return definitions


def parse_format_b(html_text: str) -> list[dict]:
    """Full format-B kernel: html text → ``[{spelling, definitions: [str]}]``."""
    return parse_format_b_doc(parse_html(html_text))


def parse_format_b_doc(doc: Node) -> list[dict]:
    styles = StyleResolver(doc)
    lines = doc.query_selector_all("p.a7")
    if not lines:
        # quirks-mode case-insensitive class match (pages lack a doctype)
        lines = doc.query_selector_all("p.msonormal") or doc.query_selector_all(
            "p.MsoNormal"
        )
    records = []
    for line_el in lines:
        children = line_el.child_nodes
        if not children:
            continue  # childNodes[0] undefined would throw in the reference
        spelling = js_trim(children[0].text_content)
        if len(spelling) == 0:
            continue
        text = serialize_styled_text(line_el, styles)
        records.append(
            {"spelling": spelling, "definitions": split_numbered_definitions(text)}
        )
    return records
