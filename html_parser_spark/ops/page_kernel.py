"""Fused page kernel: main-content + metadata from ONE parse per page.

A curation pipeline needs BOTH the boilerplate-stripped main text
(``ops/boilerplate.py``) and the page metadata/outlinks
(``ops/html_meta.py``).  Run as separate operators they each decode and
parse the same HTML — and at crawl scale the Python-side DOM parse IS the
dominant cost (the walks over the parsed tree are cheap by comparison).
``extract_page_full`` runs one Arrow-batched UDF that parses once and runs
both post-parse walks (``extract_main_from_root`` +
``extract_meta_from_root``) over the shared root, emitting the union of
both field families.  For the extract→graph→curate pipeline
(``jobs/flagship_job.py``) this halves the kernel cost: the graph stage
consumes the ``outlinks`` already materialized by the extract stage
instead of re-parsing every page.

Scale shape: identical to the component kernels — ONE ArrowEvalPython
stage, zero shuffle, and the same oversized-page guard.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, types as T

from html_parser_spark.spark.pipeline import kernel_stage

from .boilerplate import MAIN_CONTENT_TYPE, extract_main_from_root
from .html_meta import PAGE_META_TYPE, extract_meta_from_root

PAGE_FULL_TYPE = T.StructType(
    list(MAIN_CONTENT_TYPE.fields) + list(PAGE_META_TYPE.fields)
)


def extract_page_full_kernel(
    html_bytes: bytes,
    base_url: str,
    min_text_len: int = 25,
    max_link_density: float = 0.35,
) -> dict:
    """One page → combined dict (unit-testable alone): ONE parse, two
    walks.  Field-for-field identical to running ``extract_main`` and
    ``extract_meta`` separately (pinned by the differential test)."""
    from html_parser_spark.dom import decode_html_bytes, parse_html

    root = parse_html(decode_html_bytes(html_bytes if html_bytes else b""))
    out = extract_main_from_root(root, min_text_len, max_link_density)
    out.update(extract_meta_from_root(root, base_url))
    return out


def extract_page_full(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_text_len: int = 25,
    max_link_density: float = 0.35,
    max_html_bytes: int | None = None,
) -> DataFrame:
    """pages → pages + main-content fields + metadata fields, as ONE
    :func:`~html_parser_spark.spark.pipeline.kernel_stage`; pages over
    ``max_html_bytes`` get NULL text/meta and zeroed counters."""
    return kernel_stage(
        pages,
        partial(
            extract_page_full_kernel,
            min_text_len=min_text_len,
            max_link_density=max_link_density,
        ),
        PAGE_FULL_TYPE,
        max_html_bytes,
        html_col=html_col,
        args=(f"coalesce(`{url_col}`, '')",),
    )
