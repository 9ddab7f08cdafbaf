"""The kernel-stage primitive (spark/pipeline.py:kernel_stage) under each
page stage built on it: the oversized-page guard keeps NULL-html rows on
the kernel side, keeps every oversized byte out of Python, and a guarded
stage is still ONE scan, one Exchange and one ArrowEvalPython node."""

import re

import pytest
from pyspark.sql import types as T

from html_parser_spark.ops.boilerplate import extract_main_content
from html_parser_spark.ops.markdown import to_markdown
from html_parser_spark.ops.page_kernel import extract_page_full
from html_parser_spark.spark.pipeline import extract_pages, kernel_stage, salted_repartition

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


@pytest.mark.parametrize("stage", STAGES)
def test_guarded_stage_reads_and_shuffles_once(spark, pages, stage, tmp_path):
    """Scan -> one Exchange -> one ArrowEvalPython: the guard routes pages
    inside the stage, not around it with a second scan and shuffle."""
    pages.write.parquet(str(tmp_path / "pages"))
    src = spark.read.parquet(str(tmp_path / "pages"))
    run = STAGES[stage]
    if stage == "extract_pages":
        guarded = run(src, num_partitions=4, max_html_bytes=CAP)
    else:
        guarded = run(salted_repartition(src, 4), max_html_bytes=CAP)
    assert _nodes(guarded, "FileScan") == 1
    assert _nodes(guarded, "Exchange") == 1
    assert _nodes(guarded, "ArrowEvalPython") == 1


def _sized(n: int) -> bytes:
    return b"<p>" + b"z" * (n - 7) + b"</p>"


def test_guard_boundary_and_what_the_kernel_sees(spark):
    """A page of exactly the cap goes to the kernel, cap+1 gets the fill,
    NULL html reaches it as b"", and no page over the cap reaches it."""

    def probe(html):
        if not isinstance(html, bytes) or len(html) > CAP:
            raise ValueError(f"kernel saw {type(html).__name__} {len(html or b'')}")
        return {"n": len(html), "tag": "kernel", "note": "ran"}

    schema = T.StructType(
        [
            T.StructField("n", T.IntegerType()),
            T.StructField("tag", T.StringType()),
            T.StructField("note", T.StringType()),
        ]
    )
    assert len(_sized(CAP)) == CAP
    df = spark.createDataFrame(
        [("cap", _sized(CAP)), ("cap+1", _sized(CAP + 1)), ("null", None), ("empty", b"")],
        "url string, html binary",
    )
    out = kernel_stage(df, probe, schema, CAP)
    got = {r["url"]: (r["n"], r["tag"], r["note"]) for r in out.collect()}
    assert got == {
        "cap": (CAP, "kernel", "ran"),
        "cap+1": (0, None, None),  # the fill: 0 for numeric fields, else NULL
        "null": (0, "kernel", "ran"),
        "empty": (0, "kernel", "ran"),
    }
