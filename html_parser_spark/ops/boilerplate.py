"""Boilerplate removal — main-content extraction for web-text corpora.

The jusText/Readability family of heuristics (Pomikálek 2011), restated
deterministically over this repo's from-scratch DOM:

1. **Subtree kill**: ``<nav> <header> <footer> <aside> <script> <style>
   <noscript> <form> <iframe>`` subtrees — and any element whose class/id
   matches the boilerplate name pattern (nav/menu/footer/sidebar/banner/
   advert/…) — never contribute text, no matter how long.
2. **Leaf-block segmentation**: the remaining DOM splits into leaf blocks —
   ``<p> <h1-6> <li> <td> <th> <dd> <dt> <pre> <blockquote>`` elements, plus
   any ``<div>`` with no block-level descendant (divitis pages).
3. **Block classification**: a block is CONTENT iff its collapsed text has
   at least ``min_text_len`` chars AND its link density (chars inside
   ``<a>`` descendants / total chars) is at most ``max_link_density``.
   Short link-dense blocks are exactly what navigation, pagination, tag
   clouds, and share bars look like.
4. **Heading promotion**: an ``<h*>`` block too short to qualify on its own
   is kept when the next non-heading block is content (section titles).

``main_text`` is the kept blocks joined by ``\\n``.

Scale: one Arrow UDF per page — the same cost shape as the
extraction kernel itself (this IS a parse-the-page op; there is no
JVM-expression shortcut that understands DOM ancestry).  It composes with
``extract_pages``'s salted repartition and oversized-page guard, and its
output feeds the quality/dedup tier directly.
"""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import DataFrame, types as T

from html_parser_spark.spark.pipeline import kernel_stage

KILL_TAGS = frozenset(
    "nav header footer aside script style noscript form iframe".split()
)
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td th dd dt pre blockquote".split()
)
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
# class/id fragments that mark furniture on real pages; matched on word
# boundaries so 'navigate-content' text classes don't false-positive
KILL_NAME_RE = re.compile(
    r"(?:^|[\s_-])(?:nav|menu|footer|header|sidebar|banner|breadcrumbs?|"
    r"advert\w*|ads?|promo|share|social|comments?|cookie|popup)(?:$|[\s_-])",
    re.I,
)
_WS_RE = re.compile(r"\s+")

MAIN_CONTENT_TYPE = T.StructType(
    [
        T.StructField("main_text", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("n_content_blocks", T.IntegerType()),
        T.StructField("content_chars", T.LongType()),
        T.StructField("boiler_chars", T.LongType()),
    ]
)


def _is_killed(node) -> bool:
    if node.tag in KILL_TAGS:
        return True
    # valueless attributes ('<div class>') parse as None — never concat raw
    name = (node.attrs.get("class") or "") + " " + (node.attrs.get("id") or "")
    return bool(name.strip()) and KILL_NAME_RE.search(name) is not None


def _div_has_block(node, memo: dict) -> bool:
    """Does any element DESCENDANT of ``node`` have a block/div tag?

    Memoized bottom-up over the whole subtree in one pass: the naive
    per-div rescan is quadratic in div-nesting depth, and a deeply-nested
    divitis page (well under the byte guard, which bounds size but not
    nesting) would stall a task for hours."""
    hit = memo.get(id(node))
    if hit is not None:
        return hit
    order = []
    stack = [node]
    while stack:
        n = stack.pop()
        if id(n) in memo:
            continue
        order.append(n)
        for c in n.children:
            if c.kind == "element":
                stack.append(c)
    # reversed preorder processes children before parents
    for n in reversed(order):
        v = False
        for c in n.children:
            if c.kind == "element" and (
                c.tag in BLOCK_TAGS or c.tag == "div" or memo[id(c)]
            ):
                v = True
                break
        memo[id(n)] = v
    return memo[id(node)]


def _link_chars(node) -> int:
    total = 0
    stack = [node]
    while stack:
        n = stack.pop()
        if n.kind == "element" and n.tag == "a":
            total += len(_WS_RE.sub(" ", n.text_content).strip())
        else:
            stack.extend(n.children)
    return total


def _collect_blocks(root) -> list[tuple[str, str, int]]:
    """Doc-order (tag, collapsed_text, link_chars) leaf blocks, with killed
    subtrees removed and container elements descended through."""
    blocks: list[tuple[str, str, int]] = []
    memo: dict = {}
    stack = list(reversed(root.children))
    while stack:
        n = stack.pop()
        if n.kind != "element":
            continue
        if _is_killed(n):
            continue
        if n.tag in BLOCK_TAGS or (n.tag == "div" and not _div_has_block(n, memo)):
            text = _WS_RE.sub(" ", n.text_content).strip()
            if text:
                blocks.append((n.tag, text, _link_chars(n)))
            continue
        stack.extend(reversed(n.children))
    return blocks


def extract_main(
    html_bytes: bytes, min_text_len: int = 25, max_link_density: float = 0.35
) -> dict:
    """One page → main-content dict (the UDF kernel; unit-testable alone)."""
    from html_parser_spark.dom import decode_html_bytes, parse_html

    root = parse_html(decode_html_bytes(html_bytes if html_bytes else b""))
    return extract_main_from_root(root, min_text_len, max_link_density)


def extract_main_from_root(
    root, min_text_len: int = 25, max_link_density: float = 0.35
) -> dict:
    """The post-parse half of :func:`extract_main`, taking an already-parsed
    DOM — so the fused page kernel (``ops/page_kernel.py``) can share ONE
    parse per page with the metadata walk instead of parsing twice."""
    blocks = _collect_blocks(root)
    is_content = [
        len(text) >= min_text_len
        and (lc / len(text)) <= max_link_density
        for _, text, lc in blocks
    ]
    # heading promotion: kept when the next non-heading block is content
    nxt = False
    for i in range(len(blocks) - 1, -1, -1):
        tag = blocks[i][0]
        if tag in HEADING_TAGS:
            if not is_content[i]:
                is_content[i] = nxt
        else:
            nxt = is_content[i]
    kept = [blocks[i][1] for i in range(len(blocks)) if is_content[i]]
    content_chars = sum(len(t) for t in kept)
    return {
        "main_text": "\n".join(kept),
        "n_blocks": len(blocks),
        "n_content_blocks": len(kept),
        "content_chars": content_chars,
        "boiler_chars": sum(len(t) for _, t, _ in blocks) - content_chars,
    }


def extract_main_content(
    pages: DataFrame,
    html_col: str = "html",
    min_text_len: int = 25,
    max_link_density: float = 0.35,
    max_html_bytes: int | None = None,
) -> DataFrame:
    """pages → pages + (main_text, n_blocks, n_content_blocks,
    content_chars, boiler_chars), as ONE
    :func:`~html_parser_spark.spark.pipeline.kernel_stage`; pages over
    ``max_html_bytes`` get NULL main_text and zeroed counters."""
    return kernel_stage(
        pages,
        partial(
            extract_main, min_text_len=min_text_len, max_link_density=max_link_density
        ),
        MAIN_CONTENT_TYPE,
        max_html_bytes,
        html_col=html_col,
    )
