"""P20 — naive text flatten: the boilerplate-strip "main text" primitive.

Reimplements ``/root/reference/lez-rus-35k/index.js:19-26`` (legacy compiled
parser) browser-free:

    [...document.querySelectorAll('p')]
        .map(el => el.innerText.split('\\n')).flat()
        .filter(el => el.match(/[^\\s]+/g))
        .reduce((prev, curr) => prev + curr)       // bare concat, no separator
        .replaceAll(/\\s{2,}/g, ' ')            // JS whitespace: jsstr.JS_WS_CHARS

``innerText`` is layout-aware in a browser; we use a documented deterministic
approximation (whitespace collapsed per CSS ``white-space: normal``, ``<br>``
→ newline, block children → newline, script/style skipped).  The golden
``extracted_text`` fixtures are generated with this same kernel, so the
byte-identical-per-url invariant (BASELINE.json) is exact for our engine.
"""

from __future__ import annotations

import re

from html_parser_spark.dom import Node, parse_html
from html_parser_spark.jsstr import JS_NON_WS_RE, JS_WS_COLLAPSE_RE

_WS_RUN = re.compile(r"[\t\n\x0b\x0c\r ]+")
# sub is a no-op unless the line carries a control-ws char or a double space —
# gating on this cheap probe is ~2.7x faster on typical (clean) lines
_WS_RUN_NEEDED = re.compile(r"[\t\n\x0b\x0c\r]|  ")
_BLOCK_TAGS = frozenset("p div h1 h2 h3 h4 h5 h6 li tr table ul ol".split())
_SKIP_TAGS = frozenset(("script", "style", "head", "title"))


def inner_text(el: Node) -> str:
    """Approximation of HTMLElement.innerText for static Word/PDF-export HTML."""
    parts: list[str] = []

    def walk(n: Node):
        if n.kind == "text":
            parts.append(n._text)
            return
        if n.kind != "element":
            return
        if n.tag in _SKIP_TAGS:
            return
        if n.tag == "br":
            parts.append("\n")
            return
        is_block = n.tag in _BLOCK_TAGS
        if is_block:
            parts.append("\n")
        for c in n.children:
            walk(c)
        if is_block:
            parts.append("\n")

    for c in el.children:
        walk(c)
    raw = "".join(parts)
    lines = [
        (_WS_RUN.sub(" ", ln) if _WS_RUN_NEEDED.search(ln) else ln).strip(" ")
        for ln in raw.split("\n")
    ]
    return "\n".join(lines)


def extract_text(html_text: str) -> str:
    """Full P20 chain over all <p> elements.

    Extension beyond the reference: pages without any ``<p>`` (pdf2htmlEX /
    idrviewer emit ``<div>``/``<span>`` only) fall back to the same chain over
    the top-level body text, so every page yields its main text."""
    return extract_text_doc(parse_html(html_text))


def extract_text_doc(doc: Node, p_elements: list[Node] | None = None) -> str:
    """P20 over an already-parsed DOM (read-only — safe to run before the
    mutating format-A pass when the tree is shared).  ``p_elements`` lets the
    caller reuse one document traversal across extract + format scans."""
    pieces: list[str] = []
    for p in (p_elements if p_elements is not None else doc.query_selector_all("p")):
        pieces.extend(inner_text(p).split("\n"))
    search = JS_NON_WS_RE.search
    kept = [s for s in pieces if search(s)]  # .match(/[^\s]+/g) truthy
    if not kept:
        body = doc.query_selector_all("body")
        root = body[0] if body else doc
        kept = [s for s in inner_text(root).split("\n") if search(s)]
    if not kept:
        return ""
    concat = "".join(kept)  # reduce((prev, curr) => prev + curr)
    return JS_WS_COLLAPSE_RE.sub(" ", concat)
