"""Boilerplate removal (ops/boilerplate.py) — jusText-style main-content
extraction over the from-scratch DOM.

The reference repo strips furniture implicitly by selecting dictionary-entry
containers (e.g. /root/reference/lez-rus-35k/index.js querySelector paths);
this operator generalizes that to arbitrary Common-Crawl-style pages:
kill-by-tag, kill-by-class/id-name, leaf-block segmentation, length +
link-density classification, heading promotion.
"""

import pytest

from html_parser_spark.ops.boilerplate import (
    extract_main,
    extract_main_content,
)

LONG = "word " * 20  # 100 chars, content-length by any threshold


def _page(body: str) -> bytes:
    return f"<html><head><title>t</title></head><body>{body}</body></html>".encode()


def test_kill_tags_never_contribute():
    out = extract_main(
        _page(
            f"<nav><p>{LONG}</p></nav><script>var x = '{LONG}';</script>"
            f"<footer><p>{LONG}</p></footer><p>{LONG}</p>"
        )
    )
    assert out["n_blocks"] == 1
    assert out["n_content_blocks"] == 1
    assert out["main_text"] == LONG.strip()


def test_kill_by_class_and_id_name():
    out = extract_main(
        _page(
            f'<div class="sidebar"><p>{LONG}</p></div>'
            f'<div id="main-menu"><p>{LONG}</p></div>'
            f'<div class="navigate-content"><p>{LONG}A</p></div>'  # no word-boundary hit
            f"<p>{LONG}B</p>"
        )
    )
    # sidebar + main-menu killed; 'navigate-content' must NOT match 'nav'
    assert out["n_blocks"] == 2
    assert out["main_text"] == f"{LONG.strip()} A\n{LONG.strip()} B"


def test_link_density_rejects_nav_like_block():
    linky = (
        '<p><a href="/1">first page link</a> <a href="/2">second page link</a> '
        '<a href="/3">third page link</a></p>'
    )
    out = extract_main(_page(linky + f"<p>{LONG}</p>"))
    assert out["n_blocks"] == 2
    assert out["n_content_blocks"] == 1
    assert out["main_text"] == LONG.strip()
    assert out["boiler_chars"] > 0


def test_inline_anchor_inside_long_paragraph_is_kept():
    out = extract_main(_page(f'<p>{LONG}see <a href="/ref">details</a></p>'))
    assert out["n_content_blocks"] == 1
    assert out["main_text"].endswith("see details")


def test_heading_promotion_follows_next_content_block():
    out = extract_main(_page(f"<h2>Intro</h2><p>{LONG}</p>"))
    assert out["main_text"] == f"Intro\n{LONG.strip()}"
    out2 = extract_main(
        _page('<h2>Links</h2><p><a href="/a">one link</a> <a href="/b">two link</a> '
              '<a href="/c">three link</a> <a href="/d">four link</a></p>')
    )
    # next block is boilerplate -> heading dropped too
    assert out2["main_text"] == ""
    # trailing heading with no following block: dropped
    out3 = extract_main(_page(f"<p>{LONG}</p><h2>Dangling</h2>"))
    assert out3["main_text"] == LONG.strip()


def test_divitis_leaf_div_is_a_block():
    out = extract_main(_page(f"<div><div>{LONG}</div><div>{LONG}</div></div>"))
    assert out["n_blocks"] == 2
    assert out["n_content_blocks"] == 2


def test_short_block_is_boilerplate():
    out = extract_main(_page("<p>tiny</p>"))
    assert out["n_blocks"] == 1
    assert out["n_content_blocks"] == 0
    assert out["main_text"] == ""
    assert out["boiler_chars"] == 4


def test_empty_and_none_input():
    assert extract_main(b"")["n_blocks"] == 0
    assert extract_main(None)["main_text"] == ""


def test_char_accounting_is_exact():
    out = extract_main(_page(f"<p>{LONG}</p><p>tiny</p>"))
    assert out["content_chars"] == len(LONG.strip())
    assert out["boiler_chars"] == 4


def test_spark_op_single_udf_no_shuffle(spark):
    rows = [
        (1, _page(f"<nav><p>{LONG}</p></nav><p>{LONG}</p>")),
        (2, _page("<p>tiny</p>")),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    out = extract_main_content(df)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["main_text"] == LONG.strip()
    assert got[1]["n_blocks"] == 1
    assert got[2]["main_text"] == ""
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_extract_job_main_content_mode(spark, tmp_path, capsys):
    """jobs/extract_job.py --main-content: the generic-crawl-page path."""
    import json

    import jobs.extract_job as ej

    out = str(tmp_path / "mc")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", out,
        "--partitions", "4",
        "--limit", "25",
        "--main-content",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs"] == 25
    assert stats["content_chars"] > 0
    res = spark.read.parquet(f"{out}/data")
    assert res.columns[:4] == ["url", "warc_ts", "lang", "main_text"]
    assert res.where("main_text IS NOT NULL AND length(main_text) > 0").count() > 0


def test_main_content_resume_idempotent(spark, tmp_path, capsys):
    """--main-content --resume: second run parses only the remainder, and
    re-running on a complete table is a no-op (MERGE-analog semantics)."""
    import json

    import jobs.extract_job as ej

    out = str(tmp_path / "mc")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001", "--output", out,
        "--partitions", "4", "--limit", "20", "--main-content", "--resume",
    ])
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["docs"] == 20
    # same input again: anti-join leaves nothing to do
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001", "--output", out,
        "--partitions", "4", "--limit", "20", "--main-content", "--resume",
    ])
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["docs"] == 20  # total rows in the table, not re-parsed
    res = spark.read.parquet(f"{out}/data")
    assert res.count() == 20
    assert res.select("url").distinct().count() == 20
    # lineage recorded per partition per chunk
    lin = spark.read.parquet(f"{out}/_lineage")
    assert lin.where("chunk = 0").agg({"url_count": "sum"}).collect()[0][0] == 20


def test_oversized_guard_routes_around_udf(spark):
    from html_parser_spark.ops.boilerplate import extract_main_content

    big = b"<p>" + b"x" * 5000 + b"</p>"
    rows = [(1, _page(f"<p>{LONG}</p>").decode().encode()), (2, big)]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    out = extract_main_content(df, max_html_bytes=1000)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["main_text"] == LONG.strip()
    assert got[2]["main_text"] is None and got[2]["n_blocks"] == 0


def test_fixture_corpus_golden_aggregate():
    """Pin the extractor's behavior on all 372 REAL reference pages: any
    change to kill rules, block segmentation, or classification moves
    these exact totals (the per-page DOM parse is already golden-pinned;
    this pins the boilerplate layer on top of it)."""
    import json
    import os

    from tests.conftest import fixture_path

    idx = json.load(
        open(os.path.join(os.path.dirname(__file__), "golden", "fixture_index.json"))
    )
    tot_blocks = tot_content = tot_chars = 0
    for rel in sorted(idx):
        with open(fixture_path(rel), "rb") as f:
            r = extract_main(f.read())
        tot_blocks += r["n_blocks"]
        tot_content += r["n_content_blocks"]
        tot_chars += r["content_chars"]
    assert (len(idx), tot_blocks, tot_content, tot_chars) == (
        372, 71655, 65391, 6116698
    )


def test_valueless_class_attr_does_not_crash():
    """'<div class>' parses class=None; the kill check must not TypeError."""
    out = extract_main(
        b"<html><body><div class><p id>"
        + ("word " * 20).encode() + b"</p></div></body></html>"
    )
    assert out["n_blocks"] == 1 and out["n_content_blocks"] == 1


def test_deep_divitis_is_linear_time():
    import time

    depth = 4000
    html = ("<div>" * depth + "<p>" + "word " * 10 + "</p>" + "</div>" * depth)
    t0 = time.time()
    out = extract_main(html.encode())
    wall = time.time() - t0
    assert out["n_blocks"] == 1
    assert wall < 5.0  # quadratic rescan took minutes at this depth
