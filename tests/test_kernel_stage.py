"""The kernel-stage primitive (spark/pipeline.py:kernel_stage) under each
page stage built on it: the oversized-page guard keeps NULL-html rows on
the kernel side, and a stage is ONE ArrowEvalPython node with or without
the guard."""

import re

import pytest

from html_parser_spark.ops.boilerplate import extract_main_content
from html_parser_spark.ops.markdown import to_markdown
from html_parser_spark.ops.page_kernel import extract_page_full
from html_parser_spark.spark.pipeline import extract_pages

CAP = 1000
LONG = "word " * 20

STAGES = {
    "extract_pages": extract_pages,
    "extract_main_content": extract_main_content,
    "to_markdown": to_markdown,
    "extract_page_full": extract_page_full,
}


@pytest.fixture(scope="module")
def pages(spark):
    small = (
        "<html><head><title>t</title></head><body>"
        f"<h1>Head</h1><p>{LONG}</p><a href='/next'>next</a></body></html>"
    ).encode()
    big = b"<html><body><p>" + b"x" * 5000 + b"</p></body></html>"
    return spark.createDataFrame(
        [
            ("https://a.org/small", None, small, "en"),
            ("https://a.org/null", None, None, "en"),
            ("https://a.org/big", None, big, "en"),
        ],
        "url string, warc_ts timestamp, html binary, lang string",
    )


@pytest.mark.parametrize("stage", STAGES)
def test_guard_keeps_null_html(spark, pages, stage):
    run = STAGES[stage]
    plain = {r["url"]: r for r in run(pages).collect()}
    guarded = {r["url"]: r for r in run(pages, max_html_bytes=CAP).collect()}
    assert set(guarded) == set(plain)  # the NULL-html row must not vanish
    # NULL html is parsed as an empty page; only the big page skips the kernel
    assert guarded["https://a.org/null"] == plain["https://a.org/null"]
    assert guarded["https://a.org/small"] == plain["https://a.org/small"]
    assert guarded["https://a.org/big"] != plain["https://a.org/big"]


def _nodes(df, name: str) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(rf"\b{name}\b", plan))


@pytest.mark.parametrize("stage", STAGES)
def test_one_arrow_node_and_no_guard_exchange(spark, pages, stage):
    run = STAGES[stage]
    plain, guarded = run(pages), run(pages, max_html_bytes=CAP)
    assert _nodes(plain, "ArrowEvalPython") == 1
    assert _nodes(guarded, "ArrowEvalPython") == 1
    assert _nodes(guarded, "Exchange") == _nodes(plain, "Exchange")
