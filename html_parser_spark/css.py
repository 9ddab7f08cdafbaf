"""Just-enough CSS cascade: the ``getComputedStyle`` replacement.

The reference reads computed style in two parsers:

* format B (``rus-lez-35k/parser.js:26,39-40``): ``color`` (headword-red
  filter ``rgb(192, 80, 77)``), ``fontStyle === 'italic'``,
  ``fontWeight === '700'``;
* format C (``tab-rus-25k/index.ts:55,66-69``): ``fontFamily``, ``fontSize``,
  ``left``, ``bottom`` of absolutely-positioned idrviewer spans.

All styles in every fixture are declared in the page's own ``<style>`` blocks
(single class/id/tag selectors) plus inline ``style=`` attributes, so a flat
specificity model — (id, class, tag) triples, document order tiebreak,
inline last — reproduces Chromium's answers exactly for these documents
(verified per-fixture in tests).  Supported selector forms: ``tag``,
``.class``, ``tag.class``, ``#id``, comma lists; pseudo-classes and
combinators are skipped (none affect the probed properties in the fixtures).

Quirks mode (no doctype — the rus-lez-35k pages) matches class names
ASCII-case-insensitively, as browsers do.
"""

from __future__ import annotations

import functools
import operator
import re

from html_parser_spark.dom import Node

INHERITED = ("color", "font-style", "font-weight", "font-family", "font-size")
POSITIONAL = ("left", "bottom")

_NAMED_COLORS = {
    "black": (0, 0, 0), "white": (255, 255, 255), "red": (255, 0, 0),
    "green": (0, 128, 0), "blue": (0, 0, 255), "maroon": (128, 0, 0),
    "purple": (128, 0, 128), "gray": (128, 128, 128), "grey": (128, 128, 128),
    "silver": (192, 192, 192), "yellow": (255, 255, 0), "navy": (0, 0, 128),
    "teal": (0, 128, 128), "olive": (128, 128, 0), "fuchsia": (255, 0, 255),
    "aqua": (0, 255, 255), "lime": (0, 255, 0), "orange": (255, 165, 0),
    "windowtext": (0, 0, 0),  # MS system color — Chromium maps to black
}


@functools.lru_cache(maxsize=4096)
def normalize_color(value: str) -> str | None:
    """CSS color value → Chromium computed form ``rgb(r, g, b)``.
    Returns None for values Chromium would reject (declaration dropped).
    Cached: stylesheets repeat a handful of colors thousands of times."""
    v = value.strip().lower()
    if v.startswith("#"):
        h = v[1:]
        if len(h) == 3:
            h = "".join(c * 2 for c in h)
        if len(h) == 6 and re.fullmatch(r"[0-9a-f]{6}", h):
            r, g, b = int(h[0:2], 16), int(h[2:4], 16), int(h[4:6], 16)
            return f"rgb({r}, {g}, {b})"
        return None
    if v in _NAMED_COLORS:
        r, g, b = _NAMED_COLORS[v]
        return f"rgb({r}, {g}, {b})"
    m = re.fullmatch(r"rgba?\(([^)]*)\)", v)
    if m:
        parts = [p.strip() for p in m.group(1).split(",")]
        if len(parts) >= 3:
            try:
                r, g, b = (int(float(p)) for p in parts[:3])
                if len(parts) == 4 and float(parts[3]) < 1:
                    a = float(parts[3])
                    return f"rgba({r}, {g}, {b}, {a:g})"
                return f"rgb({r}, {g}, {b})"
            except ValueError:
                return None
    return None


@functools.lru_cache(maxsize=256)
def normalize_font_weight(value: str) -> str | None:
    v = value.strip().lower()
    if v == "bold":
        return "700"
    if v == "normal":
        return "400"
    if v in ("bolder", "lighter"):
        return None  # relative weights unused in fixtures
    if re.fullmatch(r"[1-9]00", v):
        return v
    return None


def parse_declarations(block: str) -> dict[str, str]:
    out = {}
    for decl in block.split(";"):
        prop, sep, val = decl.partition(":")
        if not sep:
            continue
        prop = prop.strip().lower()
        val = val.strip()
        if "!" in val:  # "!important" suffix always carries a '!'
            low = val.lower()
            if low.endswith("!important"):
                val = val[: -len("!important")].strip()
            elif low.endswith("! important"):
                val = val[: -len("! important")].strip()
        if prop:
            out[prop] = val
    return out


_SIMPLE_SEL = re.compile(
    r"^([a-zA-Z][a-zA-Z0-9:_-]*)?(\.[^.#\s]+)?(#[^.#\s]+)?$"
)

# add_css fast path: a sheet that is only flat ``selector{declarations}``
# rules, each selector one tag, .class, #id or tag.class (idrviewer and Word
# sheets) — no comments, @-rules, selector lists or combinators
_FLAT_RULE_RE = re.compile(
    r"[ \t\n\r\f]*([a-zA-Z][a-zA-Z0-9_-]*)?(?:\.([\w-]+))?(?:#([\w-]+))?"
    r"[ \t\n\r\f]*\{([^{}]*)\}"
)
_FLAT_TAIL_RE = re.compile(r"[ \t\n\r\f]*")


def _apply_decls(style: dict[str, str], decls: dict[str, str]) -> None:
    """Apply a declaration block to ``style`` (only the probed properties)."""
    for prop, raw in decls.items():
        if prop == "color":
            norm = normalize_color(raw)
            if norm:
                style["color"] = norm
        elif prop == "font-weight":
            norm = normalize_font_weight(raw)
            if norm:
                style["font-weight"] = norm
        elif prop == "font-style":
            v = raw.strip().lower()
            if v in ("italic", "oblique", "normal"):
                style["font-style"] = "italic" if v == "oblique" else v
        elif prop in ("font-family", "font-size", "left", "bottom"):
            style[prop] = raw.strip()
        elif prop == "font":  # shorthand — only flags we care about
            v = raw.lower()
            if "italic" in v:
                style["font-style"] = "italic"
            if "bold" in v:
                style["font-weight"] = "700"


# declaration-block text → (declarations, effect): ``effect`` is what
# ``_apply_decls`` writes, so applying a block is one ``dict.update`` (every
# write depends only on the block).  Generated sheets repeat their blocks
# (per-span ``left``/``bottom`` pairs, inline styles); memoized like
# ``dom._attrs_view``, so both are shared and read-only
@functools.lru_cache(maxsize=8192)
def declaration_block(body: str) -> tuple[dict, dict]:
    decls = parse_declarations(body)
    effect: dict[str, str] = {}
    _apply_decls(effect, decls)
    return decls, effect


class Rule:
    __slots__ = ("tag", "cls", "elid", "specificity", "order", "effect")

    def __init__(self, tag, cls, elid, order, effect):
        self.tag = tag
        self.cls = cls
        self.elid = elid
        self.specificity = (100 if elid else 0) + (10 if cls else 0) + (1 if tag else 0)
        self.order = order
        self.effect = effect  # what the declarations write (declaration_block)


_CASCADE_ORDER = operator.attrgetter("specificity", "order")


class StyleSheet:
    def __init__(self, quirks: bool):
        self.quirks = quirks
        self.rules: list[Rule] = []
        self.by_id: dict[str, list[Rule]] = {}
        self.by_class: dict[str, list[Rule]] = {}
        self.by_tag: dict[str, list[Rule]] = {}
        self._order = 0

    def _add_rule(self, tag, cls, elid, block):
        if cls and self.quirks:
            cls = cls.lower()
        rule = Rule(tag, cls, elid, self._order, block[1])
        self._order += 1
        self.rules.append(rule)
        if elid:
            self.by_id.setdefault(elid, []).append(rule)
        elif cls:
            self.by_class.setdefault(cls, []).append(rule)
        elif tag:
            self.by_tag.setdefault(tag, []).append(rule)

    def _add_flat(self, css_text: str) -> bool:
        """The fast path: add every rule of a flat sheet and return True, or
        add nothing and return False (the general scan decides)."""
        if "/*" in css_text or "<!--" in css_text or "-->" in css_text:
            return False
        matches = []
        end = 0
        for m in _FLAT_RULE_RE.finditer(css_text):
            if m.start() != end:
                return False
            matches.append(m)
            end = m.end()
        if _FLAT_TAIL_RE.match(css_text, end).end() != len(css_text):
            return False
        for m in matches:
            tag, cls, elid, body = m.groups()
            if tag is None and cls is None and elid is None:
                continue
            block = declaration_block(body)
            if block[0]:
                self._add_rule(tag.lower() if tag else None, cls, elid, block)
        return True

    def add_css(self, css_text: str):
        if self._add_flat(css_text):
            return
        # strip HTML comment guards and /* */ comments
        text = css_text.replace("<!--", "").replace("-->", "")
        text = re.sub(r"/\*.*?\*/", "", text, flags=re.S)
        # brace-aware scan (skips @-blocks incl. nested @supports/@media bodies)
        i, n = 0, len(text)
        while i < n:
            brace = text.find("{", i)
            if brace == -1:
                break
            selector = text[i:brace].strip()
            # find matching close brace; C-speed find for the (ubiquitous)
            # non-nested case, per-char depth tracking only for @-blocks
            close = text.find("}", brace + 1)
            nested = text.find("{", brace + 1)
            if close == -1:
                body = text[brace + 1 : n - 1]  # unterminated: parity with
                i = n                           # the depth-loop's j==n exit
            elif nested == -1 or close < nested:
                body = text[brace + 1 : close]
                i = close + 1
            else:
                depth = 1
                j = brace + 1
                while j < n and depth:
                    c = text[j]
                    if c == "{":
                        depth += 1
                    elif c == "}":
                        depth -= 1
                    j += 1
                body = text[brace + 1 : j - 1]
                i = j
            if selector.startswith("@"):
                continue  # @font-face/@page/@supports — irrelevant to probes
            block = declaration_block(body)
            if not block[0]:
                continue
            for part in selector.split(","):
                part = part.strip()
                if not part or " " in part or ">" in part or "+" in part:
                    continue  # combinators unused in fixtures
                if ":" in part and not part.startswith(":"):
                    continue  # pseudo-class (a:link) — skip
                m = _SIMPLE_SEL.match(part)
                if not m:
                    continue
                tag = m.group(1).lower() if m.group(1) else None
                cls = m.group(2)[1:] if m.group(2) else None
                elid = m.group(3)[1:] if m.group(3) else None
                self._add_rule(tag, cls, elid, block)

    def id_rules(self, tag: str, cls: str | None, elid: str) -> list[Rule]:
        """Rules of the #id ``elid`` that match, in cascade order (read-only;
        specificity ≥ 100 — they always cascade AFTER every class/tag rule,
        so applying them on top of the class/tag base reproduces the full
        sorted cascade)."""
        rules = self.by_id.get(elid)
        if not rules:
            return []
        if len(rules) == 1 and rules[0].tag is None and rules[0].cls is None:
            return rules  # the idrviewer shape: one unconditional rule per #id
        cand = [
            r
            for r in rules
            if (r.tag is None or r.tag == tag) and (r.cls is None or self._cls_ok(r, cls))
        ]
        if len(cand) > 1:
            cand.sort(key=_CASCADE_ORDER)
        return cand

    def class_tag_rules(self, tag: str, cls: str | None) -> list[Rule]:
        """Matching class and tag rules (``cls``: the class attribute), in
        cascade order."""
        cand: list[Rule] = []
        if cls:
            by_class = self.by_class
            for c in cls.split():
                if self.quirks:
                    c = c.lower()
                for r in by_class.get(c, ()):
                    if r.tag is None or r.tag == tag:
                        cand.append(r)
        cand.extend(self.by_tag.get(tag, ()))
        if len(cand) > 1:
            cand.sort(key=_CASCADE_ORDER)
        return cand

    def _cls_ok(self, r: Rule, cls: str | None) -> bool:
        classes = cls.split() if cls else []
        if self.quirks:
            return r.cls in (c.lower() for c in classes)
        return r.cls in classes


# UA defaults that affect the probed properties
_UA_BOLD = frozenset("b strong th h1 h2 h3 h4 h5 h6".split())
_UA_ITALIC = frozenset("i em cite var dfn address".split())

ROOT_STYLE = {
    "color": "rgb(0, 0, 0)",
    "font-style": "normal",
    "font-weight": "400",
    "font-family": '"Times New Roman"',
    "font-size": "16px",
    "left": "auto",
    "bottom": "auto",
}


def cascade(
    sheet: StyleSheet, inherited: dict, tag: str, attrs: dict, shape_memo: dict
) -> dict[str, str]:
    """One element's computed style from its parent's (``inherited``;
    ``ROOT_STYLE`` under the document) — the step ``StyleResolver`` and the
    DOM-free scanners (``formats/fastscan.py``) share.

    Structural memo: the class/tag part of the cascade is a pure function of
    (inherited-style identity, tag, class), and generated HTML has millions
    of elements but only a handful of such shapes, so rule matching runs once
    per shape.  ``shape_memo`` is keyed by ``id(inherited)``: the caller
    keeps every style it passes as ``inherited`` alive while it uses the
    memo.

    idrviewer/pdf2htmlEX give every span a unique #id position rule and/or
    inline style, so the shape covers only the SHARED part of the cascade
    (UA defaults + class/tag rules).  #id rules have specificity ≥ 100 —
    they always sort after every class/tag rule — so applying them (then
    inline) on top of the memoized base yields exactly the fully-sorted
    cascade.

    ALIASING: when the element has no #id rules and no inline style the
    SHARED memoized base dict is returned (every same-shape element gets the
    same object).  Callers treat the result as read-only."""
    cls = attrs.get("class")
    shape = (id(inherited), tag, cls)
    base = shape_memo.get(shape)
    if base is None:
        base = {p: inherited[p] for p in INHERITED}
        base["left"] = "auto"
        base["bottom"] = "auto"
        if tag in _UA_BOLD:
            base["font-weight"] = "700"
        if tag in _UA_ITALIC:
            base["font-style"] = "italic"
        for r in sheet.class_tag_rules(tag, cls):
            base.update(r.effect)
        shape_memo[shape] = base
    elid = attrs.get("id")
    id_rules = sheet.id_rules(tag, cls, elid) if elid else ()
    inline = attrs.get("style")
    if id_rules or inline:
        style = base.copy()
        for r in id_rules:
            style.update(r.effect)
        if inline:
            style.update(declaration_block(inline)[1])
        return style
    return base


class StyleResolver:
    """Per-document computed-style cache (the getComputedStyle stand-in)."""

    def __init__(self, doc: Node, quirks: bool | None = None):
        if quirks is None:
            quirks = not getattr(doc, "has_doctype", False)
        self.sheet = StyleSheet(quirks)
        for style_el in doc.query_selector_all("style"):
            self.sheet.add_css(style_el.text_content)
        # keeps every computed style alive, as ``cascade`` requires
        self._memo: dict[int, dict[str, str]] = {}
        self._shape_memo: dict[tuple, dict[str, str]] = {}

    def computed(self, el: Node) -> dict[str, str]:
        key = id(el)
        hit = self._memo.get(key)
        if hit is not None:
            return hit
        parent = el.parent
        if parent is not None and parent.kind == "element":
            inherited = self.computed(parent)
        else:
            inherited = ROOT_STYLE
        style = cascade(self.sheet, inherited, el.tag, el.attrs, self._shape_memo)
        self._memo[key] = style
        return style

    # JS-flavored accessors -------------------------------------------------
    def color(self, el: Node) -> str:
        return self.computed(el)["color"]

    def font_style(self, el: Node) -> str:
        return self.computed(el)["font-style"]

    def font_weight(self, el: Node) -> str:
        return self.computed(el)["font-weight"]

    def font_family(self, el: Node) -> str:
        return self.computed(el)["font-family"]

    def font_size(self, el: Node) -> str:
        return self.computed(el)["font-size"]

    def left(self, el: Node) -> str:
        return self.computed(el)["left"]

    def bottom(self, el: Node) -> str:
        return self.computed(el)["bottom"]
