"""Single-pass token-stream kernel for format A (the hot path).

``scan_format_a(text)`` fuses what the DOM path does in four passes
(tokenize → build Node tree → walk for P20 innerText → walk p.af1 lines)
into ONE scan over the same token stream, allocating no DOM nodes: the
tokenizer loop feeds two consumers directly —

* the P20 text flatten (``textflat.extract_text_doc`` semantics: per-<p>
  innerText lines, JS non-ws filter, bare concat, ``\\s{2,}`` collapse);
* the format-A line scan (``format_a.parse_lines_doc`` semantics): for each
  ``p.af1``, the direct-child runs with their classes and descendant text,
  plus one level of sub-runs under ``<a>`` children for the P3 unwrap.

Byte-parity with the DOM path is the contract (tests/test_fastscan.py runs
the differential over every fixture page and the synthetic corpus; the
372-page goldens pin the absolute output).  The scanner reuses the SAME
token regex, p-closer discipline, void/rawtext handling, and suspicious-
markup detection as ``dom._fast_parse``, so the event stream is identical
by construction; on suspicious markup (or a page whose text filter comes up
empty — the body-fallback case) it returns None and the caller takes the
DOM path.

Classification reuses ``format_a._classify_line`` VERBATIM: ``Run`` mimics
the exact Node surface it touches — ``kind``/``tag``/``attrs``/
``children``/``class_name`` and a ``text_content`` setter that replaces an
element's children with a single text run (the browser mutation the P2
aggregation → P3 unwrap interaction depends on: a merged ``<a>`` must
unwrap to its REPLACED text, not its original children).

Reference parity chain: lez-rus-35k/index.ts:37-149 (P1-P7) and
lez-rus-35k/index.js:19-26 (P20) — via format_a.py / textflat.py, which
remain the executable spec.
"""

from __future__ import annotations

import re

from html.parser import HTMLParser  # noqa: F401  (documentation parity)

from html_parser_spark.dom import (
    _P_CLOSERS,
    _RAWTEXT_CLOSE,
    _SUSPICIOUS_RE,
    _TOKEN_RE,
    _attrs_dict,
    _unescape,
    VOID_ELEMENTS,
)
from html_parser_spark.formats.format_a import _classify_line
from html_parser_spark.formats.textflat import (
    _BLOCK_TAGS,
    _SKIP_TAGS,
    _WS_RUN,
    _WS_RUN_NEEDED,
)
from html_parser_spark.jsstr import JS_NON_WS_RE, truthy

_FINAL_COLLAPSE = re.compile(r"\s{2,}")

_EMPTY_ATTRS: dict = {}  # shared by text/comment runs (class_name is None)

# raw attrs string → class value; the scan needs ONLY the class attribute,
# and machine-generated HTML repeats a handful of attr strings — memoize the
# parse and skip the per-node dict copy the DOM path pays
_CLASS_MEMO: dict[str, str | None] = {}
_CLASS_MEMO_MAX = 8192


def _class_of(attrs_str: str):
    if not attrs_str:
        return None
    hit = _CLASS_MEMO.get(attrs_str, _CLASS_MEMO)
    if hit is _CLASS_MEMO:
        hit = _attrs_dict(attrs_str).get("class")
        if len(_CLASS_MEMO) < _CLASS_MEMO_MAX:
            _CLASS_MEMO[attrs_str] = hit
    return hit


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
            (_WS_RUN.sub(" ", ln) if _WS_RUN_NEEDED.search(ln) else ln).strip()
        )


def scan_format_a(text: str, declined: list | None = None):
    """One token-stream pass → (extracted_text, raw_entries) or None.

    None means "take the DOM path": suspicious markup (tokenizer skipped
    something; ``"suspicious"`` is then appended to ``declined``, when
    given), or the P20 filter kept no text (body-fallback case).
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
                if declined is not None:
                    declined.append("suspicious")
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
    extracted = _FINAL_COLLAPSE.sub(" ", "".join(kept))

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
