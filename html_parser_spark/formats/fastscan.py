"""Single-pass token-stream kernels for formats A, B and C (the hot paths).

Each scanner fuses what the DOM path does in several passes (tokenize →
build Node tree → walk for P20 innerText → walk the format's lines or spans)
into ONE scan over the same token stream, allocating no DOM nodes.

``scan_format_a(text)`` feeds two consumers from its own loop:

* the P20 text flatten (``textflat.extract_text_doc`` semantics: per-<p>
  innerText lines, JS non-ws filter, bare concat, JS ``\\s{2,}`` collapse);
* the format-A line scan (``format_a.parse_lines_doc`` semantics): for each
  ``p.af1``, the direct-child runs with their classes and descendant text,
  plus one level of sub-runs under ``<a>`` children for the P3 unwrap.

``scan_format_b`` / ``scan_format_c`` run on one shared driver,
``_StyledScan``: the same token stream and stack, p-closer and rawtext
rules, the P20 flatten including the body fallback C pages take (they have
no ``<p>``), and each element's computed style from a stack of inherited
styles through ``css.cascade``, the step ``css.StyleResolver`` runs per
element.  The C consumer collects span TextObjects for the unchanged
``format_c.postprocess_spans``/``refine``; the B consumer collects the
``p.a7``/``p.msonormal`` lines for ``format_b.split_numbered_definitions``.

Byte-parity with the DOM path is the contract (tests/test_fastscan.py and
tests/test_fastscan_styled.py run the differentials over the fixture pages,
generated pages and adversarial markup; tests/test_kernel_goldens.py and
the 372-page goldens pin the absolute output).  The scanners reuse the SAME
token regex, p-closer discipline, void/rawtext handling, and suspicious-
markup detection as ``dom._fast_parse``, so the event stream is identical
by construction.  Each returns None on anything the DOM path must decide —
suspicious markup, a page whose text filter comes up empty (A), an element
inside a span (C), a line the B serializer would treat specially — and the
caller takes the DOM path: ``format_a``/``format_b``/``format_c`` and
``textflat`` remain the executable spec.

Classification reuses ``format_a._classify_line`` VERBATIM: ``Run`` mimics
the exact Node surface it touches — ``kind``/``tag``/``attrs``/
``children``/``class_name`` and a ``text_content`` setter that replaces an
element's children with a single text run (the browser mutation the P2
aggregation → P3 unwrap interaction depends on: a merged ``<a>`` must
unwrap to its REPLACED text, not its original children).

Reference parity chain: lez-rus-35k/index.ts:37-149 (P1-P7),
rus-lez-35k/parser.js:10-80 (P8-P11), tab-rus-25k/index.ts:51-75 (P12-P13)
and lez-rus-35k/index.js:19-26 (P20).
"""

from __future__ import annotations

import functools

from html_parser_spark.css import ROOT_STYLE, StyleSheet, cascade
from html_parser_spark.dom import (
    _P_CLOSERS,
    _RAWTEXT_CLOSE,
    _SUSPICIOUS_RE,
    _TOKEN_RE,
    _attrs_view,
    _unescape,
    VOID_ELEMENTS,
)
from html_parser_spark.formats.format_a import _classify_line
from html_parser_spark.formats.format_b import HEADWORD_RED, split_numbered_definitions
from html_parser_spark.formats.format_c import text_object
from html_parser_spark.formats.textflat import (
    _BLOCK_TAGS,
    _SKIP_TAGS,
    _WS_RUN,
    _WS_RUN_NEEDED,
)
from html_parser_spark.jsstr import JS_NON_WS_RE, JS_WS_COLLAPSE_RE, js_trim, truthy

_EMPTY_ATTRS: dict = {}  # shared by text/comment runs (class_name is None)

# raw attrs string → class value; the scan needs ONLY the class attribute,
# and machine-generated HTML repeats a handful of attr strings — memoize it
# (least recently used out) and skip the per-node dict copy the DOM path pays
@functools.lru_cache(maxsize=8192)
def _class_of(attrs_str: str):
    return _attrs_view(attrs_str).get("class") if attrs_str else None


class Run:
    """The minimal Node surface ``_classify_line`` touches.

    ``text_content`` is precomputed (descendant text at scan time); its
    setter mirrors the browser/Node behaviour of replacing an element's
    children with a single text node, which the P2→P3 interaction observes.
    """

    __slots__ = ("kind", "tag", "attrs", "children", "_text")

    def __init__(self, kind, tag=None, cls=None, text=""):
        self.kind = kind
        self.tag = tag
        self.attrs = {"class": cls} if cls is not None else (
            {} if kind == "element" else _EMPTY_ATTRS
        )
        self.children: list[Run] = []
        self._text = text

    @property
    def text_content(self) -> str:
        return self._text

    @text_content.setter
    def text_content(self, value: str):
        if self.kind == "element":
            self.children = [_text_run(value)]
        self._text = value

    @property
    def class_name(self):
        if self.kind == "element":
            return self.attrs.get("class", "") or ""
        return None

    @class_name.setter
    def class_name(self, value):
        self.attrs["class"] = value


_RUN_NEW = Run.__new__


def _text_run(text: str) -> Run:
    """Allocation-slim text run (no __init__ branching; children stays the
    shared empty tuple — nothing ever reads or appends a text run's
    children, and a stray append would raise on the tuple)."""
    r = _RUN_NEW(Run)
    r.kind = "text"
    r.tag = None
    r.attrs = _EMPTY_ATTRS
    r.children = ()
    r._text = text
    return r


def _comment_run(text: str) -> Run:
    r = _RUN_NEW(Run)
    r.kind = "comment"
    r.tag = None
    r.attrs = _EMPTY_ATTRS
    r.children = ()
    r._text = text
    return r


def _finish_p(parts, pieces):
    """innerText line-split + per-line ws-collapse (textflat.inner_text
    tail), feeding the document-level pieces list directly."""
    raw = "".join(parts)
    for ln in raw.split("\n"):
        pieces.append(
            (_WS_RUN.sub(" ", ln) if _WS_RUN_NEEDED.search(ln) else ln).strip(" ")
        )


def scan_format_a(text: str):
    """One token-stream pass → (extracted_text, raw_entries) or None.

    None means "take the DOM path": suspicious markup (tokenizer skipped
    something), or the P20 filter kept no text (body-fallback case).
    ``raw_entries`` is the pre-postProcessing entry list, identical to
    ``format_a.parse_lines_doc`` output."""
    pos = 0
    n = len(text)
    find = _TOKEN_RE.search
    suspicious_search = _SUSPICIOUS_RE.search
    # hot-loop locals (LOAD_FAST beats LOAD_GLOBAL once per token)
    p_closers = _P_CLOSERS
    block_tags = _BLOCK_TAGS
    skip_tags = _SKIP_TAGS
    void_elements = VOID_ELEMENTS
    rawtext_get = _RAWTEXT_CLOSE.get
    unescape = _unescape
    text_run = _text_run

    stack: list[str] = []  # open non-void tags, document root implicit
    pieces: list[str] = []  # P20 lines across all <p>, document order
    af1_lines: list[list[Run]] = []

    # active-<p> context (p cannot nest: _P_CLOSERS guarantees it)
    p_idx = -1  # frame index of the open <p>, -1 = none
    p_parts: list[str] = []
    p_line: list[Run] | None = None  # direct-child runs when the p is af1
    run_idx = -1  # frame index of the open direct-child element run
    run: Run | None = None
    run_text: list[str] = []
    sub_idx = -1  # frame index of the open <a> sub-run
    sub: Run | None = None
    sub_text: list[str] = []
    # frame indices of open _SKIP_TAGS elements (innerText skips these
    # subtrees; the gate below is relative to the p — a <p> nested inside
    # <head> still extracts, exactly like the DOM walk which starts AT the p)
    skips: list[int] = []

    def close_to(new_len: int):
        """Finalize any context whose frame got popped (del stack[i:])."""
        nonlocal p_idx, p_line, run_idx, run, sub_idx, sub
        if sub is not None and new_len <= sub_idx:
            sub._text = "".join(sub_text)
            run.children.append(sub)
            run_text.append(sub._text)
            sub = None
            sub_idx = -1
        if run is not None and new_len <= run_idx:
            run._text = "".join(run_text)
            p_line.append(run)
            run = None
            run_idx = -1
        if p_idx >= 0 and new_len <= p_idx:
            _finish_p(p_parts, pieces)
            if p_line is not None:
                af1_lines.append(p_line)
                p_line = None
            p_idx = -1
        while skips and new_len <= skips[-1]:
            skips.pop()

    def pop_to(i: int):
        """del stack[i:] + context finalization, emitting the innerText
        close-"\\n" for EVERY popped block frame inside the open <p> (a
        single end tag can close several nested blocks)."""
        if p_idx >= 0:
            for j in range(max(i, p_idx + 1), len(stack)):
                if stack[j] in _BLOCK_TAGS and not _frame_skipped(j):
                    p_parts.append("\n")
        del stack[i:]
        close_to(i)

    def _frame_skipped(j: int) -> bool:
        # frame j sits inside a _SKIP_TAGS subtree that began inside the <p>
        for s in skips:
            if p_idx < s < j:
                return True
        return False

    while pos < n:
        m = find(text, pos)
        start = m.start() if m is not None else n
        if start > pos:
            data = text[pos:start]
            if "<" in data and suspicious_search(data):
                # tokenizer skipped markup — DOM path decides
                return None
            if "&" in data:
                data = unescape(data)
            if sub is not None:
                sub_text.append(data)
            elif run is not None:
                run_text.append(data)
                if run.tag == "a":
                    # P3 unwraps a.children — direct text under <a> must
                    # surface as a child run, not just folded into the text
                    run.children.append(text_run(data))
            elif p_line is not None:
                p_line.append(text_run(data))
            if p_idx >= 0 and not (skips and skips[-1] > p_idx):
                p_parts.append(data)
        if m is None:
            break
        pos = m.end()
        kind = m.lastgroup
        if kind in ("starttag", "attrs", "selfclose"):
            tag, attrs_str, selfclose = m.group(5, 6, 7)
            tag = tag.lower()
            if not selfclose and tag in p_closers:
                # implicit </p>: identical pop discipline to _fast_parse
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i] == "p":
                        pop_to(i)
                        break
            depth = len(stack)
            # --- P20 feed -------------------------------------------------
            if p_idx >= 0 and not (skips and skips[-1] > p_idx):
                if tag == "br":
                    p_parts.append("\n")
                elif tag in block_tags:
                    p_parts.append("\n")  # closing "\n" added on pop
            if (
                tag in skip_tags
                and not selfclose
                and tag not in _RAWTEXT_CLOSE
                and tag not in void_elements
            ):
                skips.append(depth)
            # --- format-A run capture ------------------------------------
            new_run = new_sub = None
            if p_line is not None and run is None and sub is None and depth == p_idx + 1:
                new_run = Run("element", tag, _class_of(attrs_str))
            elif run is not None and sub is None and depth == run_idx + 1 and run.tag == "a":
                new_sub = Run("element", tag, _class_of(attrs_str))
            # --- open / rawtext ------------------------------------------
            raw_close = rawtext_get(tag)
            if raw_close is not None and not selfclose:
                # script/style: consume rawtext inline (no unescape — parity
                # with handle_data_raw); content reaches text_content but
                # never the P20 pieces (innerText skips these subtrees)
                cm = raw_close.search(text, pos)
                end = cm.start() if cm else n
                content = text[pos:end]
                pos = cm.end() if cm else n
                if new_run is not None:
                    new_run._text = content
                    if content:
                        new_run.children = [_text_run(content)]
                    p_line.append(new_run)
                elif new_sub is not None:
                    new_sub._text = content
                    if content:
                        new_sub.children = [_text_run(content)]
                    run.children.append(new_sub)
                    run_text.append(content)
                elif sub is not None:
                    sub_text.append(content)
                elif run is not None:
                    run_text.append(content)
                continue
            if selfclose or tag in void_elements:
                # void: a childless element run (e.g. <br> inside an af1 line)
                if new_run is not None:
                    p_line.append(new_run)
                elif new_sub is not None:
                    run.children.append(new_sub)
                continue
            stack.append(tag)
            if new_run is not None:
                run, run_idx, run_text = new_run, depth, []
            elif new_sub is not None:
                sub, sub_idx, sub_text = new_sub, depth, []
            if tag == "p":
                p_idx = depth
                p_parts = []
                cls = _class_of(attrs_str)
                p_line = [] if cls is not None and "af1" in cls.split() else None
        elif kind == "endtag":
            tag = m.group(4).lower()
            if stack and stack[-1] == tag:
                # well-nested close (the overwhelming case) — single frame,
                # at most ONE context boundary crossed: inline everything
                stack.pop()
                nl = len(stack)
                if (
                    p_idx >= 0
                    and nl > p_idx
                    and tag in block_tags
                    and not (skips and skips[-1] > p_idx)
                ):
                    p_parts.append("\n")
                if sub is not None:
                    if nl <= sub_idx:
                        sub._text = "".join(sub_text)
                        run.children.append(sub)
                        run_text.append(sub._text)
                        sub = None
                        sub_idx = -1
                elif run is not None:
                    if nl <= run_idx:
                        run._text = "".join(run_text)
                        p_line.append(run)
                        run = None
                        run_idx = -1
                elif p_idx >= 0 and nl <= p_idx:
                    _finish_p(p_parts, pieces)
                    if p_line is not None:
                        af1_lines.append(p_line)
                        p_line = None
                    p_idx = -1
                if skips and nl <= skips[-1]:
                    skips.pop()
            else:
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i] == tag:
                        pop_to(i)
                        break
                # else: stray end tag, ignored (browser recovery; creates no
                # element, so no innerText newline either)
        elif kind == "comment":
            data = m.group(1)
            if p_line is not None and run is None and sub is None:
                p_line.append(_comment_run(data))
            elif run is not None and sub is None and run.tag == "a":
                run.children.append(_comment_run(data))
            # comments contribute nothing to text_content or innerText
        # decl / pi: ignored (parity with the DOM builder)
    close_to(0)

    kept = [s for s in pieces if JS_NON_WS_RE.search(s)]
    if not kept:
        return None  # body-fallback case — DOM path handles it
    extracted = JS_WS_COLLAPSE_RE.sub(" ", "".join(kept))

    entries: list[dict] = []
    for line in af1_lines:
        if not line:
            continue
        line_obj = _classify_line(line)
        if truthy(line_obj.get("spelling")):
            entries.append(line_obj)
        elif entries:
            entries[-1]["definitions"].extend(line_obj["definitions"])
    return extracted, entries


# ---------------------------------------------------------------------------
# formats B and C: one shared styled-scan driver, two consumers


_NEWLINE_TAGS = _BLOCK_TAGS | {"br"}  # innerText writes "\n" at their start


class _Decline(Exception):
    """The page holds something only the DOM path decides."""


class _StyledScan:
    """One pass over the ``_TOKEN_RE`` stream with ``scan_format_a``'s stack,
    p-closer, void and rawtext rules, feeding the P20 flatten (per-<p>
    innerText lines, and the body's for the body fallback) and the consumer
    hooks ``on_open`` / ``on_data`` / ``on_comment`` / ``on_close``, which see
    the same element/text/comment events ``dom._fast_parse`` turns into
    nodes.  No nodes are built.

    Computed style: ``style_of`` runs ``css.cascade`` (the step
    ``StyleResolver`` runs per element) on a stack of inherited styles,
    filled lazily: a frame's style is computed when a descendant asks.  The
    sheet is every ``<style>`` element's text in document order (what
    ``StyleResolver`` reads), built at the first style request; a ``<style>``
    or doctype (quirks mode) after that point declines, as does tag-like
    text (suspicious markup) and a body-fallback page with no ``<body>``.
    """

    def __init__(self, text: str):
        self.text = text
        self.stack: list[str] = []  # open non-void tags, document root implicit
        # per open frame: its computed style (a dict) once asked for, until
        # then its raw attribute string
        self.frames: list = []
        self.style_texts: list[str] = []
        self.has_doctype = False
        self.sheet = None
        # both memos key on id(inherited): every computed style stays alive
        # as a value of style_memo for the whole pass
        self.shape_memo: dict = {}
        self.style_memo: dict = {}

    # consumer hooks --------------------------------------------------------
    def on_open(self, tag: str, attrs_str: str, depth: int, leaf: bool):
        """A start tag at stack index ``depth`` (``leaf``: void, self-closed
        or rawtext, so no frame is pushed and no ``on_close`` follows).
        Returns the element's computed style, or None (computed on demand)."""
        return None

    def on_data(self, data: str):
        """A text run (entities decoded) inside the top frame."""

    def on_comment(self, data: str):
        """A comment inside the top frame."""

    def on_close(self, depth: int):
        """The top frame, at stack index ``depth``, was popped (a tag that
        closes several frames pops them one at a time, top first)."""

    # computed style ----------------------------------------------------------
    def style_of(self, depth: int, tag: str, attrs_str: str) -> dict:
        """Computed style of an element opening at stack index ``depth``."""
        sheet = self.sheet
        if sheet is None:
            sheet = self.sheet = StyleSheet(not self.has_doctype)
            for css in self.style_texts:
                sheet.add_css(css)
        if depth:
            inherited = self.frames[depth - 1]
            if type(inherited) is str:
                inherited = self.frames[depth - 1] = self.style_of(
                    depth - 1, self.stack[depth - 1], inherited
                )
        else:
            inherited = ROOT_STYLE
        # a style is a pure function of (inherited style, tag, attributes):
        # Word pages repeat a few element shapes thousands of times
        key = (id(inherited), tag, attrs_str)
        style = self.style_memo.get(key)
        if style is None:
            style = cascade(sheet, inherited, tag, _attrs_view(attrs_str), self.shape_memo)
            self.style_memo[key] = style
        return style

    # the pass ------------------------------------------------------------------
    def run(self) -> str:
        """Scan the page; returns the P20 text or raises ``_Decline``."""
        text = self.text
        pos = 0
        n = len(text)
        find = _TOKEN_RE.search
        suspicious_search = _SUSPICIOUS_RE.search
        block_tags = _BLOCK_TAGS
        newline_tags = _NEWLINE_TAGS
        p_closers = _P_CLOSERS
        skip_tags = _SKIP_TAGS
        void_elements = VOID_ELEMENTS
        rawtext_get = _RAWTEXT_CLOSE.get
        unescape = _unescape
        stack, frames = self.stack, self.frames
        on_open, on_data, on_close = self.on_open, self.on_data, self.on_close

        pieces: list[str] = []  # P20 lines of every <p>, document order
        p_idx = -1  # frame index of the open <p> (p cannot nest)
        p_parts: list[str] = []
        body_idx = -1  # frame index of the first <body> while it is open
        body_seen = False
        body_parts: list[str] = []
        # frame indices of open _SKIP_TAGS elements (innerText skips their
        # subtrees, relative to the <p> / <body> the walk starts at)
        skips: list[int] = []

        while True:
            m = find(text, pos)
            start = m.start() if m is not None else n
            if start > pos:
                data = text[pos:start]
                if "<" in data and suspicious_search(data):
                    raise _Decline  # the tokenizer skipped markup
                if "&" in data:
                    data = unescape(data)
                if p_idx >= 0 and not (skips and skips[-1] > p_idx):
                    p_parts.append(data)
                if body_idx >= 0 and not (skips and skips[-1] > body_idx):
                    body_parts.append(data)
                on_data(data)
            # which frames this token closes: ``close`` and above
            close = len(stack)
            if m is None:
                kind = None
                close = 0  # end of page
            else:
                pos = m.end()
                kind = m.lastgroup
                if kind in ("starttag", "attrs", "selfclose"):
                    tag, attrs_str, selfclose = m.group(5, 6, 7)
                    tag = tag.lower()
                    if p_idx >= 0 and not selfclose and tag in p_closers:
                        close = p_idx  # implicit </p>
                elif kind == "endtag":
                    tag = m.group(4).lower()
                    if stack and stack[-1] == tag:
                        close -= 1
                    else:
                        for i in range(close - 2, -1, -1):
                            if stack[i] == tag:
                                close = i
                                break
                        # else: stray end tag, ignored (browser recovery)
                elif kind == "comment":
                    self.on_comment(m.group(1))
                    continue
                else:
                    if kind == "decl" and m.group(2).lower().startswith("doctype"):
                        if not self.has_doctype and self.sheet is not None:
                            raise _Decline  # quirks mode changed after the first cascade
                        self.has_doctype = True
                    continue  # pi: ignored (parity with the DOM builder)
            # pop one frame at a time, top first
            while len(stack) > close:
                top = len(stack) - 1
                if stack[top] in block_tags:
                    # innerText's closing "\n" (skips holds no frame above top)
                    if p_idx >= 0 and top > p_idx and not (skips and skips[-1] > p_idx):
                        p_parts.append("\n")
                    if body_idx >= 0 and top > body_idx and not (
                        skips and skips[-1] > body_idx
                    ):
                        body_parts.append("\n")
                stack.pop()
                frames.pop()
                on_close(top)
                if p_idx == top:
                    _finish_p(p_parts, pieces)
                    p_idx = -1
                elif body_idx == top:
                    body_idx = -1
                if skips and skips[-1] == top:
                    skips.pop()
            if kind is None:
                break
            if kind == "endtag":
                continue
            depth = len(stack)
            if tag in newline_tags:
                if p_idx >= 0 and not (skips and skips[-1] > p_idx):
                    p_parts.append("\n")
                if body_idx >= 0 and not (skips and skips[-1] > body_idx):
                    body_parts.append("\n")
            raw_close = None if selfclose else rawtext_get(tag)
            leaf = bool(selfclose) or raw_close is not None or tag in void_elements
            style = on_open(tag, attrs_str, depth, leaf)
            if leaf:
                if raw_close is not None:
                    # script/style: rawtext up to the close tag, never
                    # unescaped and never in P20 (innerText skips them)
                    cm = raw_close.search(text, pos)
                    end = cm.start() if cm else n
                    if tag == "style" and end > pos:
                        if self.sheet is not None:
                            raise _Decline  # a sheet after the first cascade
                        self.style_texts.append(text[pos:end])
                    pos = cm.end() if cm else n
                elif tag == "body" and not body_seen:
                    body_seen = True  # an empty <body/>
                continue
            if tag in skip_tags:
                skips.append(depth)
            stack.append(tag)
            frames.append(attrs_str if style is None else style)
            if tag == "p":
                p_idx = depth
                p_parts = []
            elif tag == "body" and not body_seen:
                body_seen = True
                body_idx = depth

        search = JS_NON_WS_RE.search
        kept = [s for s in pieces if search(s)]
        if not kept:
            # body fallback (textflat.extract_text_doc): innerText of the
            # first <body>; without one the walk covers the whole document
            if not body_seen:
                raise _Decline
            body_lines: list[str] = []
            _finish_p(body_parts, body_lines)
            kept = [s for s in body_lines if search(s)]
            if not kept:
                return ""
        return JS_WS_COLLAPSE_RE.sub(" ", "".join(kept))


class _SpanScan(_StyledScan):
    """Format C consumer: every ``<span>``'s TextObject, document order
    (``format_c.scan_spans_doc``).  An element inside a span declines."""

    def __init__(self, text: str):
        super().__init__(text)
        self.spans: list[dict] = []
        self.span_idx = -1  # frame index of the open span
        self.span_style = None
        self.span_text: list[str] = []

    def on_open(self, tag, attrs_str, depth, leaf):
        if self.span_idx >= 0:
            raise _Decline
        if tag != "span":
            return None
        style = self.style_of(depth, tag, attrs_str)
        if leaf:
            self.spans.append(text_object("", style))
        else:
            self.span_idx = depth
            self.span_style = style
            self.span_text = []
        return style

    def on_data(self, data):
        if self.span_idx >= 0:
            self.span_text.append(data)

    def on_close(self, depth):
        if self.span_idx == depth:
            self.spans.append(text_object("".join(self.span_text), self.span_style))
            self.span_idx = -1


def scan_format_c(text: str):
    """One token-stream pass → (extracted_text, spans) or None (DOM path).

    ``spans`` is ``format_c.scan_spans_doc``'s TextObject list, for the
    unchanged ``postprocess_spans``/``refine``."""
    scan = _SpanScan(text)
    try:
        extracted = scan.run()
    except _Decline:
        return None
    return extracted, scan.spans


# serialization of a text node by its parent's flags (format_b P10)
_PLAIN = ("", "")
_BOLD = ("{", "}")
_CURSIVE = ("<", ">")
_LINE_CLASSES = ("a7", "msonormal", "MsoNormal")  # P8's selectors, in order


def _line_mode(style) -> tuple | None:
    if style["color"] == HEADWORD_RED:
        return None  # the headword-red subtree is skipped
    if style["font-weight"] == "700":
        return _BOLD
    if style["font-style"] == "italic":
        return _CURSIVE
    return _PLAIN


class _LineScan(_StyledScan):
    """Format B consumer: the P8 lines (``p.a7``, else ``p.msonormal``, else
    ``p.MsoNormal``) with their P9 headword and P10 serialization
    (``format_b.parse_format_b_doc``).  A line directly inside ``<sup>`` or
    a script/style inside a line declines."""

    def __init__(self, text: str):
        super().__init__(text)
        self.line_counts = dict.fromkeys(_LINE_CLASSES, 0)
        self.records = {c: [] for c in _LINE_CLASSES}
        self.line_idx = -1  # frame index of the open line
        self.member: tuple = ()  # the open line's P8 classes
        # per open frame from the line up: how its text children serialize
        # (None: dropped — inside sup or a headword-red element)
        self.modes: list = []
        self.out: list[str] = []
        self.first = 0  # childNodes[0]: 0 none yet, 1 element open, 2 done
        self.first_idx = -1
        self.first_parts: list[str] = []
        self.spelling = ""

    def on_open(self, tag, attrs_str, depth, leaf):
        if self.line_idx < 0:
            if tag != "p":
                return None
            cls = _attrs_view(attrs_str).get("class")
            classes = cls.split() if cls else ()
            member = tuple(c for c in _LINE_CLASSES if c in classes)
            if not member:
                return None
            if leaf:  # <p class=a7/>: a line with no childNodes
                for c in member:
                    self.line_counts[c] += 1
                return None
            if depth and self.stack[depth - 1] == "sup":
                raise _Decline
            style = self.style_of(depth, tag, attrs_str)
            self.line_idx = depth
            self.member = member
            self.modes = [_line_mode(style)]
            self.out = []
            self.first = 0
            return style
        if tag == "script" or tag == "style":
            raise _Decline
        if self.first == 0:
            if leaf:
                self.spelling = ""
                self.first = 2
            else:
                self.first = 1
                self.first_idx = depth
                self.first_parts = []
        if leaf:
            return None  # a childless element serializes to nothing
        if self.modes[-1] is None or tag == "sup":
            self.modes.append(None)
            return None
        style = self.style_of(depth, tag, attrs_str)
        self.modes.append(_line_mode(style))
        return style

    def on_data(self, data):
        if self.line_idx < 0:
            return
        if self.first == 0:
            self.spelling = data
            self.first = 2
        elif self.first == 1:
            self.first_parts.append(data)
        mode = self.modes[-1]
        if mode is not None:
            self.out.append(mode[0] + data + mode[1] if mode[0] else data)

    def on_comment(self, data):
        if self.line_idx >= 0 and self.first == 0:
            self.spelling = data
            self.first = 2

    def on_close(self, depth):
        line_idx = self.line_idx
        if line_idx < 0:
            return
        if self.first == 1 and self.first_idx == depth:
            self.spelling = "".join(self.first_parts)
            self.first = 2
        if depth > line_idx:
            self.modes.pop()
            return
        self.line_idx = -1
        record = None
        if self.first:
            spelling = js_trim(self.spelling)
            if spelling:
                record = {
                    "spelling": spelling,
                    "definitions": split_numbered_definitions("".join(self.out)),
                }
        for c in self.member:
            self.line_counts[c] += 1
            if record is not None:
                self.records[c].append(record)


def scan_format_b(text: str):
    """One token-stream pass → (extracted_text, records) or None (DOM path).

    ``records`` is ``format_b.parse_format_b_doc``'s output."""
    scan = _LineScan(text)
    try:
        extracted = scan.run()
    except _Decline:
        return None
    for c in _LINE_CLASSES:
        if scan.line_counts[c]:
            return extracted, scan.records[c]
    return extracted, []
