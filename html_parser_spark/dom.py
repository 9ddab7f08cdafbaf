"""Minimal browser-faithful DOM on top of stdlib ``html.parser``.

Replaces the reference's headless-Chromium render boundary
(``/root/reference/htmlReader.ts:22-25,41``): the reference loads each HTML
file into a real browser only to walk ``childNodes`` / ``textContent`` /
``className`` — no layout, no JS execution on the page is needed.  This module
reproduces exactly the DOM surface those parsers touch:

* ``child_nodes`` including text nodes and comments, in document order;
* ``text_content`` — concatenated descendant text, and *assignable* (assignment
  replaces children with a single text node, as in the browser — the
  aggregation step at ``lez-rus-35k/index.ts:70-71`` relies on this mutation
  being visible through the original ``line`` array);
* ``class_name`` — ``''`` for classless elements, ``None`` for text/comment
  nodes (models JS ``undefined``: two adjacent text nodes compare equal on
  ``className`` and therefore merge);
* ``query_selector_all('p.af1')``-style tag.class selectors;
* HTML5-ish auto-close of ``<p>`` on block starts, void elements, and
  recovery from stray end tags.

Entities are decoded by html.parser (``&nbsp;`` → U+00A0), matching the
browser's textContent.

``parse_html`` runs a regex tokenizer (``_fast_parse``) that reproduces
html.parser's event stream on machine-generated HTML; at the first tag it
cannot read it resumes html.parser on the same builder for the rest of the
page, so every page is tokenized once.  ``parse_html_slow`` (html.parser over
the whole page) is the differential-testing baseline.
"""

from __future__ import annotations

import functools
import re
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# elements whose start tag implicitly closes an open <p> (HTML5 spec subset
# sufficient for the Word/pdf2htmlEX pages the reference parses)
_P_CLOSERS = frozenset(
    "address article aside blockquote div dl fieldset footer form h1 h2 h3 h4 h5 h6 "
    "header hr main nav ol p pre section table ul".split()
)

TEXT = "#text"
COMMENT = "#comment"


class Node:
    __slots__ = ("tag", "attrs", "children", "parent", "_text", "kind", "has_doctype")

    def __init__(self, tag=None, attrs=None, kind="element", text=""):
        self.tag = tag  # lowercase tag name for elements, None otherwise
        # accepts a dict (fast tokenizer path — already per-node, never shared)
        # or an html.parser-style [(name, value)] list (last duplicate wins,
        # matching the previous dict(list) behavior)
        if attrs:
            self.attrs = attrs if type(attrs) is dict else dict(attrs)
        else:
            self.attrs = {}
        self.children: list[Node] = []
        self.parent = None
        self._text = text  # payload for text/comment nodes
        self.kind = kind  # 'element' | 'text' | 'comment' | 'document'

    # --- JS DOM surface -------------------------------------------------
    @property
    def node_name(self) -> str:
        if self.kind == "text":
            return TEXT
        if self.kind == "comment":
            return COMMENT
        if self.kind == "document":
            return "#document"
        return self.tag.upper()

    @property
    def tag_name(self):
        """JS ``tagName``: upper-case for elements, undefined (None) otherwise."""
        return self.tag.upper() if self.kind == "element" else None

    @property
    def class_name(self):
        """JS ``className``: class attr ('' if absent) for elements, None
        (undefined) for text/comment nodes."""
        if self.kind == "element":
            # a valueless class attr parses as None; className is "" then
            return self.attrs.get("class", "") or ""
        return None

    @class_name.setter
    def class_name(self, value):
        self.attrs["class"] = value

    @property
    def class_list(self) -> list[str]:
        cn = self.attrs.get("class", "")
        return cn.split() if cn else []

    @property
    def child_nodes(self) -> list["Node"]:
        return self.children

    @property
    def text_content(self) -> str:
        if self.kind in ("text", "comment"):
            return self._text
        ch = self.children
        # leaf fast path: a single text child is the overwhelmingly common
        # shape for the span/b/i runs the format kernels classify
        if len(ch) == 1 and ch[0].kind == "text":
            return ch[0]._text
        out = []
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if n.kind in ("text", "comment"):
                if n.kind == "text":
                    out.append(n._text)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)

    @text_content.setter
    def text_content(self, value: str):
        if self.kind in ("text", "comment"):
            self._text = value
            return
        t = Node(kind="text", text=value)
        t.parent = self
        self.children = [t]

    # --- querying -------------------------------------------------------
    def iter_elements(self):
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if n.kind == "element":
                yield n
                stack.extend(reversed(n.children))

    def query_selector_all(self, selector: str) -> list["Node"]:
        """Supports 'tag', '.class', 'tag.class', and comma unions — all the
        reference uses (p.af1 / p.a7 / p.msonormal / span / div)."""
        parts = [s.strip() for s in selector.split(",")]
        preds = []
        for part in parts:
            if "." in part:
                tag, _, cls = part.partition(".")
                preds.append((tag.lower() or None, cls))
            else:
                preds.append((part.lower(), None))
        out = []
        stack = list(reversed(self.children))
        single = preds[0] if len(preds) == 1 else None
        while stack:
            el = stack.pop()
            if el.kind != "element":
                continue
            if single is not None:
                tag, cls = single
                if (tag is None or el.tag == tag) and (
                    cls is None or cls in (el.attrs.get("class", "") or "").split()
                ):
                    out.append(el)
            else:
                for tag, cls in preds:
                    if tag and el.tag != tag:
                        continue
                    if cls and cls not in el.class_list:
                        continue
                    out.append(el)
                    break
            if el.children:
                stack.extend(reversed(el.children))
        return out


class _DomBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node(kind="document")
        self.root.has_doctype = False
        self.stack = [self.root]

    def handle_decl(self, decl):
        if decl.lower().startswith("doctype"):
            self.root.has_doctype = True

    # helpers
    def _open(self, node):
        node.parent = self.stack[-1]
        self.stack[-1].children.append(node)

    def handle_starttag(self, tag, attrs):
        if tag in _P_CLOSERS:
            # implicit </p>
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == "p":
                    del self.stack[i:]
                    break
        node = Node(tag=tag, attrs=attrs, kind="element")
        self._open(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        node = Node(tag=tag, attrs=attrs, kind="element")
        self._open(node)

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore (browser recovery)

    def handle_data(self, data):
        if not data:
            return
        parent = self.stack[-1]
        node = Node(kind="text", text=data)
        node.parent = parent
        parent.children.append(node)

    def handle_comment(self, data):
        parent = self.stack[-1]
        node = Node(kind="comment", text=data)
        node.parent = parent
        parent.children.append(node)


# ---------------------------------------------------------------------------
# fast tokenizer path
#
# stdlib html.parser is ~half of kernel time (incremental state machine,
# per-char position bookkeeping).  The fixtures are machine-generated HTML, so
# a single master-regex scan reproduces the same event stream 3-5x faster.
# Byte-identity with the html.parser path is pinned by the golden tests over
# all 372 fixture pages and a differential unit test.

from html import unescape as _unescape

_TOKEN_RE = re.compile(
    r"<!--(?P<comment>.*?)(?:-->|$)"
    r"|<!(?P<decl>[^>]*)>"
    r"|<\?(?P<pi>[^>]*)>"
    r"|</\s*(?P<endtag>[a-zA-Z][-.:\w]*)\s*>"
    r"|<(?P<starttag>[a-zA-Z][-.:\w]*)"
    # attributes up to the first unquoted ">" or "/>"; a quote opens a value
    # only right after "=" (html.parser's attrfind), any other quote leaves
    # the tag unread; possessive, because a stop is never revisited
    r"(?P<attrs>(?:[^>\"'/=]++|/(?!>)|=\s*+(?:\"[^\"]*+\"|'[^']*+')?+)*+)"
    r"(?P<selfclose>/?)>",
    re.S,
)

_ATTR_RE = re.compile(
    r"([^\s/>=]+)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?",
)

# html.parser sets CDATA mode for script/style ONLY (title/textarea content
# goes through normal parsing there) — match that exactly for byte-parity
_RAWTEXT_CLOSE = {
    "script": re.compile(r"</script\s*>", re.I),
    "style": re.compile(r"</style\s*>", re.I),
}


def _parse_attrs(s: str) -> list[tuple[str, str | None]]:
    out = []
    for m in _ATTR_RE.finditer(s):
        name = m.group(1).lower()
        raw = m.group(2)
        if raw is None:
            val = None
        else:
            if raw[:1] in "\"'" and raw[:1] == raw[-1:] and len(raw) >= 2:
                raw = raw[1:-1]
            val = _unescape(raw) if ("&" in raw) else raw
        out.append((name, val))
    return out


# fast scan for the dominant shape: lowercase double-quoted name="value"
# pairs, no entities — one C-speed fullmatch + one findall, no per-attr loop
_SIMPLE_ATTRS_ALL = re.compile(r'(?:\s+[a-z][a-z0-9_:.-]*="[^"&]*")+\s*')
_SIMPLE_ATTRS_PAIR = re.compile(r'([a-z][a-z0-9_:.-]*)="([^"]*)"')


# machine-generated HTML repeats a handful of attribute strings (class="af1",
# class="af", …) across millions of elements — memoize raw string → attr dict
# (least recently used out: idrviewer pages hold one unique id per span) and
# hand each Node a .copy() (nodes mutate attrs: class demotion in P2/P4)
@functools.lru_cache(maxsize=8192)
def _attrs_view(s: str) -> dict:
    """The memoized attribute dict of a raw attribute string — shared, so
    read-only (the DOM-free scanners read class/id/style from it)."""
    if _SIMPLE_ATTRS_ALL.fullmatch(s):
        return dict(_SIMPLE_ATTRS_PAIR.findall(s))
    return dict(_parse_attrs(s))


def _attrs_dict(s: str) -> dict:
    return _attrs_view(s).copy() if s else {}


_EMPTY_ATTRS: dict = {}  # shared by text/comment nodes (never read or written)
_NODE_NEW = Node.__new__


def _fast_parse(text: str, builder: "_DomBuilder") -> None:
    """Single regex scan producing the same tree as the html.parser-driven
    builder (byte-parity pinned by goldens + a differential test).  Node
    construction and the open/close bookkeeping are inlined — this loop runs
    once per token across every document the executor parses.

    Resume: a data run holding tag-like text (``_SUSPICIOUS_RE``) means the
    regex skipped markup it cannot read, such as an unterminated attribute
    quote.  The scan then emits the run's text up to its first ``<`` and
    feeds the rest of the page to html.parser on the same builder (same
    node stack): html.parser reaches that ``<`` in the state the regex
    leaves — data mode, the same open elements — so the tree equals
    ``parse_html_slow``'s while the page is tokenized once.

    Text/comment nodes share one immutable attrs dict and a () children
    tuple: no parser/format-kernel path reads either (kind is checked first
    everywhere), and an accidental append would raise loudly rather than
    corrupt shared state."""
    pos = 0
    n = len(text)
    find = _TOKEN_RE.search
    stack = builder.stack
    suspicious_search = _SUSPICIOUS_RE.search
    while pos < n:
        m = find(text, pos)
        start = m.start() if m is not None else n
        if start > pos:
            data = text[pos:start]
            if "<" in data and suspicious_search(data):
                resume = text.index("<", pos)
                if resume > pos:
                    builder.handle_data(_unescape(text[pos:resume]))
                builder.feed(text[resume:])
                builder.close()
                return
            if "&" in data:
                data = _unescape(data)
            parent = stack[-1]
            node = _NODE_NEW(Node)
            node.tag = None
            node.attrs = _EMPTY_ATTRS
            node.children = ()
            node.parent = parent
            node._text = data
            node.kind = "text"
            parent.children.append(node)
        if m is None:
            break
        pos = m.end()
        kind = m.lastgroup
        if kind in ("starttag", "attrs", "selfclose"):
            # positional groups (1=comment 2=decl 3=pi 4=endtag 5=starttag
            # 6=attrs 7=selfclose): no per-token name->index dict lookups
            tag = m.group(5).lower()
            attrs = _attrs_dict(m.group(6))
            selfclose = m.group(7)
            if not selfclose and tag in _P_CLOSERS:
                # implicit </p> (handle_startendtag never p-closes — parity)
                for i in range(len(stack) - 1, 0, -1):
                    if stack[i].tag == "p":
                        del stack[i:]
                        break
            parent = stack[-1]
            node = _NODE_NEW(Node)
            node.tag = tag
            node.attrs = attrs
            node.children = []
            node.parent = parent
            node._text = ""
            node.kind = "element"
            parent.children.append(node)
            if not selfclose and tag not in VOID_ELEMENTS:
                stack.append(node)
                raw_close = _RAWTEXT_CLOSE.get(tag)
                if raw_close is not None:
                    cm = raw_close.search(text, pos)
                    end = cm.start() if cm else n
                    if end > pos:
                        builder.handle_data(text[pos:end])
                    builder.handle_endtag(tag)
                    pos = cm.end() if cm else n
        elif kind == "endtag":
            tag = m.group(4).lower()
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
            # else: stray end tag, ignore (browser recovery)
        elif kind == "comment":
            builder.handle_comment(m.group(1))
        elif kind == "decl":
            builder.handle_decl(m.group(2))
        # processing instructions: ignored (html.parser emits handle_pi; the
        # DOM builder has no handler for them either)


# tag-like text: markup the regex tokenizer skipped (fastscan declines on it,
# _fast_parse resumes html.parser at it)
_SUSPICIOUS_RE = re.compile(r"<[a-zA-Z/!?]")


def parse_html_slow(text: str) -> Node:
    """stdlib html.parser over the whole page (differential-testing
    baseline for ``parse_html``)."""
    b = _DomBuilder()
    b.feed(text)
    b.close()
    return b.root


def parse_html(text: str) -> Node:
    """Parse an HTML document string into a DOM tree; returns the document
    node.  One pass: the regex tokenizer, handing the page's tail to
    html.parser from the first tag it cannot read (``_fast_parse``)."""
    b = _DomBuilder()
    _fast_parse(text, b)
    return b.root


def decode_html_bytes(raw: bytes) -> str:
    """Decode page bytes honoring ``<meta charset=...>`` the way a browser
    would (the rus-lez-35k fixtures are windows-1251 — FIXTURES.md §1)."""
    # WHATWG encoding sniff: a byte-order mark outranks any <meta charset>
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw[3:].decode("utf-8", errors="replace")
    if raw.startswith(b"\xff\xfe"):
        return raw[2:].decode("utf-16-le", errors="replace")
    if raw.startswith(b"\xfe\xff"):
        return raw[2:].decode("utf-16-be", errors="replace")
    head = raw[:4096]
    lower = head.lower()
    enc = "utf-8"
    idx = lower.find(b"charset=")
    if idx != -1:
        tail = lower[idx + 8 : idx + 40]
        for q in (b'"', b"'"):
            if tail.startswith(q):
                tail = tail[1:]
        end = 0
        while end < len(tail) and tail[end : end + 1] not in (b'"', b"'", b">", b" ", b"/", b";"):
            end += 1
        cand = tail[:end].decode("ascii", "ignore").strip()
        if cand:
            enc = cand
    try:
        return raw.decode(enc, errors="replace")
    except LookupError:
        return raw.decode("utf-8", errors="replace")
