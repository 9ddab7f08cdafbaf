"""HTML → Markdown conversion: pages → one structured-text doc per page.

Training pipelines increasingly keep document STRUCTURE instead of flat
innerText (FineWeb-2 / olmOCR-style corpora ship markdown): headings,
lists, tables, code blocks and links carry signal a flat flatten erases.
The reference flattens to plain text only (`textflat.py` mirrors its
``extracted_text``); this op is the structured sibling over the same DOM
layer (`dom.py`) the rest of the kernel uses.

Semantics — deliberately small and CLOSED-FORM so the DuckDB oracle can
reconstruct the expected markdown symbolically, and pinned by unit tests:

* the document is a sequence of blocks joined by one blank line;
* ``h1..h6`` → ``#``·n + space + inline text; ``p`` → inline text;
  ``hr`` → ``---``; ``blockquote`` → ``> `` + inline text;
* ``pre`` → a fenced code block whose body is the RAW ``textContent``
  (newlines and runs of spaces preserved; leading/trailing newlines
  trimmed) — the one place whitespace is not collapsed;
* ``ul``/``ol`` → one line per ``li``: two spaces of indent per nesting
  level, ``- `` bullets / ``N. `` 1-based ordinals; an ``li``'s own text
  excludes its nested lists, which follow as deeper lines;
* ``table`` → one ``| a | b |`` line per ``<tr>`` of THIS table
  (``thead``/``tbody`` transparent, a nested table's text stays inside
  its host cell), with a ``| --- |`` separator after a leading header
  row; cell text is whitespace-collapsed ``textContent``;
* inline: ``a[href]`` → ``[text](href)``, ``strong``/``b`` → ``**``,
  ``em``/``i`` → ``*``, ``code`` → backticks (text collapsed), ``img`` →
  ``![alt](src)``, ``br`` → a space; other elements are transparent;
* ``script``/``style``/``noscript``/``template``/``head``/``iframe``/
  ``svg`` subtrees are dropped; blocks that collapse to empty are
  dropped; bare non-whitespace text directly inside a container becomes
  its own paragraph;
* markdown metacharacters in source text are NOT escaped — the output is
  a deterministic function of the input text, and the oracle mirrors it.

Scale shape: ONE Arrow UDF over html (pure per-page map,
zero shuffle) — the same plan as the main-content and metadata kernels.
Every walker below uses an EXPLICIT stack (the dom.py discipline): a
pathological crawl page must not blow the interpreter recursion limit
inside an executor.  Per-page output is bounded by ``max_blocks`` /
``max_lines`` so one page cannot blow an Arrow batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from html_parser_spark.spark.pipeline import kernel_stage

MARKDOWN_TYPE = T.StructType(
    [
        T.StructField("markdown", T.StringType()),
        T.StructField("md_chars", T.IntegerType()),
        T.StructField("n_blocks", T.IntegerType()),
    ]
)

_SKIP = {"script", "style", "noscript", "template", "head", "iframe", "svg"}
_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_INLINE_WRAP = {"strong": "**", "b": "**", "em": "*", "i": "*"}
_LISTS = ("ul", "ol")
_MAX_LINES = 10_000


def _collapse(s: str) -> str:
    return " ".join(s.split())


def _inline(el) -> str:
    """Inline rendering of ``el``'s subtree (explicit stack; nested block
    lists are excluded — the list walker emits them as their own lines)."""
    parts: list[str] = []
    stack: list[tuple[str, object]] = [
        ("node", c) for c in reversed(el.children)
    ]
    while stack:
        kind, item = stack.pop()
        if kind == "lit":
            parts.append(item)  # type: ignore[arg-type]
            continue
        node = item
        if node.kind == "text":
            parts.append(node.text_content)
            continue
        if node.kind != "element":
            continue
        tag = node.tag
        if tag in _SKIP or tag in _LISTS:
            continue
        if tag == "br":
            parts.append(" ")
            continue
        if tag == "img":
            alt = node.attrs.get("alt") or ""
            src = node.attrs.get("src") or ""
            parts.append(f"![{alt}]({src})")
            continue
        if tag == "code":
            parts.append("`" + _collapse(node.text_content) + "`")
            continue
        open_ = close = ""
        if tag in _INLINE_WRAP:
            open_ = close = _INLINE_WRAP[tag]
        elif tag == "a":
            href = node.attrs.get("href")
            if href:
                open_, close = "[", f"]({href})"
        parts.append(open_)
        stack.append(("lit", close))
        stack.extend(("node", c) for c in reversed(node.children))
    return "".join(parts)


def _list_lines(list_el, lines: list[str]) -> None:
    """``ul``/``ol`` → indented bullet/ordinal lines, appended to ``lines``
    (explicit stack; a nested list's lines follow its host item)."""
    stack: list[tuple] = []

    def _push_items(lst, depth: int) -> None:
        ordered = lst.tag == "ol"
        items = [
            c for c in lst.children if c.kind == "element" and c.tag == "li"
        ]
        for i in range(len(items) - 1, -1, -1):
            stack.append((items[i], depth, i + 1, ordered))

    _push_items(list_el, 0)
    while stack and len(lines) < _MAX_LINES:
        li, depth, i, ordered = stack.pop()
        marker = f"{i}. " if ordered else "- "
        text = _collapse(_inline(li))
        lines.append(("  " * depth + marker + text).rstrip())
        nested = [
            c
            for c in li.children
            if c.kind == "element" and c.tag in _LISTS
        ]
        # nested items are pushed on top, so they pop (and print) right
        # after this item, before the already-stacked siblings
        for lst in reversed(nested):
            _push_items(lst, depth + 1)


def _table_lines(tbl, lines: list[str]) -> None:
    """One ``| a | b |`` line per ``<tr>`` of THIS table (wrappers
    transparent, nested tables excluded from row collection — their text
    is already part of the host cell's ``textContent``)."""
    rows: list[tuple[bool, list[str]]] = []
    stack = list(reversed(tbl.children))
    while stack and len(rows) < _MAX_LINES:
        el = stack.pop()
        if el.kind != "element" or el.tag == "table":
            continue
        if el.tag == "tr":
            is_header = False
            cells: list[str] = []
            for c in el.children:
                if c.kind != "element" or c.tag not in ("td", "th"):
                    continue
                if c.tag == "th":
                    is_header = True
                cells.append(_collapse(c.text_content))
            rows.append((is_header, cells))
            continue
        stack.extend(reversed(el.children))
    for idx, (is_header, cells) in enumerate(rows):
        lines.append("| " + " | ".join(cells) + " |")
        if idx == 0 and is_header:
            lines.append("| " + " | ".join(["---"] * len(cells)) + " |")


def page_to_markdown(html_bytes: bytes, max_blocks: int = _MAX_LINES) -> str:
    """One page → markdown string (the UDF kernel; unit-testable alone)."""
    from html_parser_spark.dom import decode_html_bytes, parse_html

    root = parse_html(decode_html_bytes(html_bytes if html_bytes else b""))
    blocks: list[str] = []
    stack = [root]
    while stack and len(blocks) < max_blocks:
        node = stack.pop()
        if node.kind == "text":
            t = _collapse(node.text_content)
            if t:
                blocks.append(t)
            continue
        if node.kind == "document":
            stack.extend(reversed(node.children))
            continue
        if node.kind != "element":
            continue
        tag = node.tag
        if tag in _SKIP:
            continue
        if tag in _HEADINGS:
            t = _collapse(_inline(node))
            if t:
                blocks.append("#" * _HEADINGS[tag] + " " + t)
            continue
        if tag in ("p", "blockquote"):
            t = _collapse(_inline(node))
            if t:
                blocks.append(("> " + t) if tag == "blockquote" else t)
            continue
        if tag == "hr":
            blocks.append("---")
            continue
        if tag == "pre":
            raw = node.text_content.strip("\n")
            if raw:
                blocks.append("```\n" + raw + "\n```")
            continue
        if tag in _LISTS:
            lines: list[str] = []
            _list_lines(node, lines)
            if lines:
                blocks.append("\n".join(lines))
            continue
        if tag == "table":
            tlines: list[str] = []
            _table_lines(node, tlines)
            if tlines:
                blocks.append("\n".join(tlines))
            continue
        stack.extend(reversed(node.children))
    return "\n\n".join(blocks)


def markdown_row(html_bytes: bytes) -> dict:
    """One page → (markdown, md_chars, n_blocks); blocks are the
    ``\\n\\n``-separated parts, none for an empty document."""
    md = page_to_markdown(html_bytes)
    return {
        "markdown": md,
        "md_chars": len(md),
        "n_blocks": len(md.split("\n\n")) if md else 0,
    }


def to_markdown(
    pages: DataFrame,
    html_col: str = "html",
    max_html_bytes: int | None = None,
) -> DataFrame:
    """pages → pages + (markdown, md_chars, n_blocks) as ONE
    :func:`~html_parser_spark.spark.pipeline.kernel_stage` (the plan shape
    of ``extract_main_content``); pages over ``max_html_bytes`` get NULL
    markdown and zeroed counters."""
    return kernel_stage(
        pages, markdown_row, MARKDOWN_TYPE, max_html_bytes, html_col=html_col
    )
