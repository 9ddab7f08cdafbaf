"""Page metadata / outlinks (ops/html_meta.py) and the host link graph +
fixed-point PageRank (ops/linkgraph.py)."""

from pyspark.sql import functions as F

from html_parser_spark.ops.html_meta import extract_meta, extract_page_meta
from html_parser_spark.ops.linkgraph import host_edges, pagerank_fixed_point

PAGE = b"""<!doctype html><html><head>
<meta charset="UTF-8">
<title>  A   Fine
Page </title>
<meta name="description" content="all  about   things">
<meta property="og:title" content="OG title">
<meta property="og:description" content="og desc">
<link rel="canonical" href="/canon/path">
</head><body>
<a href="/rel/one">one</a>
<a href="https://other.example.org/abs">two</a>
<a href="javascript:void(0)">js</a>
<a href="mailto:x@example.com">mail</a>
<a href="#frag">frag</a>
<a href="/rel/one#sec">dup-after-defrag</a>
<a href="ftp://files.example.com/f">ftp</a>
<a>no-href</a>
</body></html>"""


def test_extract_meta_fields():
    m = extract_meta(PAGE, "https://www.example.com/dir/page.html")
    assert m["title"] == "A Fine Page"
    assert m["description"] == "all about things"
    assert m["canonical"] == "https://www.example.com/canon/path"
    assert m["og_title"] == "OG title"
    assert m["og_description"] == "og desc"
    assert m["charset"] == "utf-8"
    # js/mailto/fragment-only/ftp skipped; relative absolutized; defragged
    # duplicate collapsed; doc order preserved
    assert m["outlinks"] == [
        "https://www.example.com/rel/one",
        "https://other.example.org/abs",
    ]
    # anchors with an href count, even non-crawlable ones (frag/js/mailto/ftp)
    assert m["n_anchors"] == 7


def test_extract_meta_http_equiv_charset_and_empty():
    m = extract_meta(
        b'<html><head><meta http-equiv="Content-Type" '
        b'content="text/html; charset=ISO-8859-1"></head><body></body></html>',
        "http://h/",
    )
    assert m["charset"] == "iso-8859-1"
    e = extract_meta(b"", "http://h/")
    assert e["title"] is None and e["outlinks"] == [] and e["n_anchors"] == 0


def test_extract_page_meta_single_udf_no_shuffle(spark):
    df = spark.createDataFrame(
        [("https://www.example.com/p", PAGE)], ["url", "html"]
    )
    out = extract_page_meta(df)
    r = out.collect()[0]
    assert r["title"] == "A Fine Page"
    assert r["outlinks"][0] == "https://www.example.com/rel/one"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_host_edges_weights_and_self_loop_drop(spark):
    df = spark.createDataFrame(
        [
            ("https://a.com/1", ["https://b.com/x", "https://b.com/y",
                                 "https://a.com/self", "https://c.com/z"]),
            ("https://a.com/2", ["https://b.com/q"]),
        ],
        ["url", "outlinks"],
    )
    got = {(r["src"], r["dst"]): r["weight"] for r in host_edges(df).collect()}
    assert got == {("a.com", "b.com"): 3, ("a.com", "c.com"): 1}


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["src", "dst", "weight"])


def test_pagerank_ring_is_uniform(spark):
    e = _edges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    ranks = {r["node"]: r["rank"] for r in pagerank_fixed_point(e).collect()}
    # perfect symmetry: every node keeps exactly total_mass//3
    assert len(set(ranks.values())) == 1
    assert ranks["a"] == 10**12 // 3


def test_pagerank_star_hub_wins_and_mass_conserved(spark):
    e = _edges(
        spark,
        [("s1", "hub", 1), ("s2", "hub", 1), ("s3", "hub", 1), ("hub", "s1", 1)],
    )
    ranks = {r["node"]: r["rank"] for r in pagerank_fixed_point(e).collect()}
    assert ranks["hub"] > ranks["s1"] > ranks["s2"] - 1  # s1 gets hub's mass
    assert ranks["hub"] > ranks["s2"] == ranks["s3"]
    total = sum(ranks.values())
    # floor losses only: within iterations * nodes units of the full mass
    assert 10**12 - 1000 < total <= 10**12


def test_pagerank_dangling_mass_redistributed(spark):
    # d has no outlinks: its mass must come back uniformly, not vanish
    e = _edges(spark, [("a", "d", 1), ("b", "d", 1), ("c", "d", 1)])
    ranks = {r["node"]: r["rank"] for r in pagerank_fixed_point(e).collect()}
    assert ranks["d"] > ranks["a"]
    total = sum(ranks.values())
    assert 10**12 - 1000 < total <= 10**12


def test_pagerank_partition_count_invariant(spark):
    rows = [(f"h{i}", f"h{(i * 7 + 3) % 23}", 1 + i % 5) for i in range(200)]
    rows = [r for r in rows if r[0] != r[1]]
    base = {
        (r["node"], r["rank"])
        for r in pagerank_fixed_point(_edges(spark, rows)).collect()
    }
    repart = {
        (r["node"], r["rank"])
        for r in pagerank_fixed_point(
            _edges(spark, rows).repartition(17)
        ).collect()
    }
    assert base == repart  # bit-exact under any shuffle order


def test_meta_to_pagerank_chain(spark):
    """extract_page_meta → host_edges → pagerank end-to-end."""
    pages = [
        (
            "https://a.com/i",
            b'<html><body><a href="https://b.com/x">b</a>'
            b'<a href="https://c.com/y">c</a></body></html>',
        ),
        (
            "https://b.com/j",
            b'<html><body><a href="https://c.com/z">c</a></body></html>',
        ),
    ]
    df = spark.createDataFrame(pages, ["url", "html"])
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(
            host_edges(extract_page_meta(df))
        ).collect()
    }
    assert set(ranks) == {"a.com", "b.com", "c.com"}
    assert ranks["c.com"] > ranks["b.com"] > ranks["a.com"]


def test_extract_anchors_keeps_duplicates_and_text(spark):
    from html_parser_spark.ops.html_meta import extract_anchors

    html = (
        b'<html><body><a href="/x">first  label</a>'
        b'<a href="/x">second</a><a href="mailto:a@b">m</a>'
        b'<a href="https://e.com/y">other <b>bold</b></a></body></html>'
    )
    df = spark.createDataFrame([("https://s.com/p", html)], ["url", "html"])
    anchors = extract_anchors(df).collect()[0]["anchors"]
    assert [(a["href"], a["text"]) for a in anchors] == [
        ("https://s.com/x", "first label"),
        ("https://s.com/x", "second"),
        ("https://e.com/y", "other bold"),
    ]


def test_anchor_text_stats_aggregation(spark):
    from html_parser_spark.ops.html_meta import anchor_text_stats

    rows = [
        ("https://a.com/1", [{"href": "https://t.com/", "text": "zz"},
                             {"href": "https://t.com/", "text": "aa"}]),
        ("https://b.com/2", [{"href": "https://t.com/", "text": "aa"}]),
        ("https://a.com/3", [{"href": "https://u.com/", "text": "uu"}]),
    ]
    df = spark.createDataFrame(rows, "url string, anchors array<struct<href:string,text:string>>")
    got = {r["dst"]: r for r in anchor_text_stats(df).collect()}
    t = got["https://t.com/"]
    assert t["n_anchors"] == 3 and t["n_src_hosts"] == 2
    assert t["anchor_texts"] == ["aa", "zz"]  # distinct + sorted
    assert got["https://u.com/"]["n_anchors"] == 1


def test_crawl_budget_allocation(spark):
    from html_parser_spark.ops.linkgraph import crawl_budget

    ranks = spark.createDataFrame(
        [("a", 600), ("b", 300), ("c", 100)], ["node", "rank"]
    )
    got = {r["node"]: r["quota"] for r in crawl_budget(ranks, 1000).collect()}
    assert got == {"a": 600, "b": 300, "c": 100}
    # floor losses: quotas never exceed the budget
    ranks2 = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], ["node", "rank"]
    )
    got2 = {r["node"]: r["quota"] for r in crawl_budget(ranks2, 100).collect()}
    assert sum(got2.values()) <= 100 and set(got2.values()) == {33}


def test_host_graph_stats(spark):
    from html_parser_spark.ops.linkgraph import host_graph_stats

    e = _edges(spark, [
        ("a", "b", 3), ("b", "a", 1),      # reciprocal pair
        ("a", "c", 2),                      # one-way
        ("d", "a", 5),                      # c has no outlinks; d no inlinks
    ])
    got = {r["node"]: r for r in host_graph_stats(e).collect()}
    a = got["a"]
    assert (a["out_degree"], a["in_degree"]) == (2, 2)
    assert (a["out_weight"], a["in_weight"]) == (5, 6)
    assert a["reciprocal_edges"] == 1
    assert got["c"]["out_degree"] == 0 and got["c"]["in_degree"] == 1
    assert got["d"]["reciprocal_edges"] == 0
    assert got["b"]["reciprocal_edges"] == 1


def test_jsonld_blocks(spark):
    from html_parser_spark.ops.html_meta import jsonld_blocks

    html = (
        b'<html><head><script type="application/ld+json">'
        b'{"@context": "https://schema.org", "@type": "Article", "name": "x"}'
        b'</script></head><body>'
        b'<SCRIPT TYPE="application/ld+json"> not json at all </SCRIPT>'
        b'<script>var notLd = 1;</script></body></html>'
    )
    df = spark.createDataFrame([("https://a.com/p", html)], ["url", "html"])
    rows = jsonld_blocks(df).collect()
    assert len(rows) == 2  # the plain <script> is not ld+json
    first, second = sorted(rows, key=lambda r: r["block_idx"])
    assert first["schema_type"] == "Article"
    assert first["schema_context"] == "https://schema.org"
    assert second["schema_type"] is None  # malformed json -> NULL fields
    assert "not json" in second["raw_json"]
    plan = jsonld_blocks(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_crawl_budget_large_budget_no_overflow(spark):
    """budget*rank exceeds int64 — the decimal product must stay exact
    (ANSI mode would otherwise abort with ARITHMETIC_OVERFLOW)."""
    from html_parser_spark.ops.linkgraph import crawl_budget

    ranks = spark.createDataFrame(
        [("big", 900_000_000_000), ("small", 100_000_000_000)],
        ["node", "rank"],
    )
    got = {r["node"]: r["quota"]
           for r in crawl_budget(ranks, 100_000_000).collect()}
    assert got == {"big": 90_000_000, "small": 10_000_000}


def test_jsonld_survives_non_utf8_page(spark):
    """A windows-1251-ish page must not abort the job (ANSI decode would)."""
    from html_parser_spark.ops.html_meta import jsonld_blocks

    bad = bytes([0xCF, 0xE0, 0xE1, 0xEE]) + (
        b'<script type="application/ld+json">{"@type": "Article"}</script>'
    )
    df = spark.createDataFrame([("u", bad)], ["url", "html"])
    rows = jsonld_blocks(df).collect()
    assert len(rows) == 1 and rows[0]["schema_type"] == "Article"


def test_graph_job_end_to_end(spark, tmp_path, capsys):
    """jobs/graph_job.py: pages → edges → ranks(+stats, +quota) parquet."""
    import json

    import jobs.graph_job as gj

    pages = [
        ("https://a.com/1",
         b'<html><body><a href="https://b.com/x">b</a>'
         b'<a href="https://c.com/y">c</a></body></html>'),
        ("https://b.com/2",
         b'<html><body><a href="https://c.com/z">c</a></body></html>'),
        ("https://c.com/3",
         b'<html><body><a href="https://c.com/self">self</a></body></html>'),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(pages, ["url", "html"]).write.parquet(src)
    out = str(tmp_path / "graph")
    gj.main(["--pages", src, "--output", out, "--partitions", "2",
             "--budget-pages", "1000"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["pages"] == 3 and stats["hosts"] == 3
    assert stats["edges"] == 3 and stats["top_host"] == "c.com"
    ranks = spark.read.parquet(f"{out}/ranks")
    assert set(ranks.columns) >= {
        "node", "rank", "out_degree", "in_degree", "quota"}
    got = {r["node"]: r for r in ranks.collect()}
    assert got["c.com"]["in_degree"] == 2 and got["c.com"]["out_degree"] == 0
    assert sum(r["quota"] for r in got.values()) <= 1000


def test_meta_robots_and_noindex_gate(spark):
    """<meta name=robots> surfaces through the kernel (lowercased, first
    wins) and noindex_flags interprets REP tokens JVM-side: 'none' implies
    both, unknown tokens (max-snippet:-1) are ignored, absent tag means
    indexable, and noindex_filter drops exactly the noindex pages."""
    from html_parser_spark.ops.html_meta import (
        extract_page_meta,
        noindex_filter,
        noindex_flags,
    )

    def page(meta):
        return f"<html><head>{meta}</head><body><p>x</p></body></html>".encode()

    rows = [
        (1, page('<meta name="robots" content="noindex, follow">')),
        (2, page('<meta name="ROBOTS" content="NONE">')),
        (3, page('<meta name="robots" content="index, nofollow">')),
        (4, page("")),
        (5, page('<meta name="robots" content="max-snippet:-1, noindex">')),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"]).withColumn(
        "url", F.concat(F.lit("https://x.com/"), F.col("doc_id").cast("string"))
    )
    meta = noindex_flags(extract_page_meta(df))
    got = {r["doc_id"]: r for r in meta.collect()}
    assert got[1]["robots"] == "noindex, follow"
    assert (got[1]["noindex"], got[1]["nofollow"]) == (1, 0)
    assert got[2]["robots"] == "none"
    assert (got[2]["noindex"], got[2]["nofollow"]) == (1, 1)
    assert (got[3]["noindex"], got[3]["nofollow"]) == (0, 1)
    assert got[4]["robots"] is None
    assert (got[4]["noindex"], got[4]["nofollow"]) == (0, 0)
    assert (got[5]["noindex"], got[5]["nofollow"]) == (1, 0)
    kept = {r["doc_id"] for r in noindex_filter(extract_page_meta(df)).collect()}
    assert kept == {3, 4}


def test_label_propagation_two_communities(spark):
    """Two weight-10 triangles joined by a weight-1 bridge must resolve
    to two communities (each labeled by its min node), hand-traced
    through the synchronous updates."""
    from html_parser_spark.ops.linkgraph import label_propagation

    edges = spark.createDataFrame(
        [
            ("a1", "a2", 10), ("a2", "a3", 10), ("a3", "a1", 10),
            ("b1", "b2", 10), ("b2", "b3", 10), ("b3", "b1", 10),
            ("a1", "b1", 1),
        ],
        ["src", "dst", "weight"],
    )
    out = {
        r["node"]: r["community"]
        for r in label_propagation(edges, iterations=3).collect()
    }
    assert out == {
        "a1": "a1", "a2": "a1", "a3": "a1",
        "b1": "b1", "b2": "b1", "b3": "b1",
    }


def test_label_propagation_weight_beats_count_and_isolated(spark):
    """A single heavy edge outvotes two light neighbors; a node with no
    edges after symmetrization cannot exist, but a self-contained pair
    keeps its own min label."""
    from html_parser_spark.ops.linkgraph import label_propagation

    edges = spark.createDataFrame(
        [
            # x's neighbors: heavy h (w=5), light l1/l2 (w=1 each):
            # h's label wins 5 > 2 even though the light side has 2 nodes
            ("x", "h", 5), ("x", "l1", 1), ("x", "l2", 1),
            ("p", "q", 1),
        ],
        ["src", "dst", "weight"],
    )
    out = {
        r["node"]: r["community"]
        for r in label_propagation(edges, iterations=1).collect()
    }
    assert out["x"] == "h"
    # symmetric pair adopts each other's label on one sync step
    assert out["p"] == "q" and out["q"] == "p"


def test_label_propagation_deterministic_across_partitionings(spark):
    """The election is min(struct(-w, label)): repartitioning the edge
    list must not change a single community assignment."""
    from html_parser_spark.ops.linkgraph import label_propagation

    rows = [(f"n{i}", f"n{(i * 3 + 1) % 20}", 1 + i % 4) for i in range(60)]
    edges = spark.createDataFrame(rows, ["src", "dst", "weight"]).where(
        "src <> dst"
    )
    a = {
        r["node"]: r["community"]
        for r in label_propagation(edges.repartition(1), iterations=3).collect()
    }
    b = {
        r["node"]: r["community"]
        for r in label_propagation(edges.repartition(16), iterations=3).collect()
    }
    assert a == b


def test_graph_job_hits_and_communities(spark, tmp_path, capsys):
    """--hits and --communities join the HITS columns and the LPA
    community id onto the ranks table."""
    import json

    import jobs.graph_job as gj

    pages = [
        ("https://a.com/1",
         b'<html><body><a href="https://b.com/x">b</a>'
         b'<a href="https://c.com/y">c</a></body></html>'),
        ("https://b.com/2",
         b'<html><body><a href="https://c.com/z">c</a></body></html>'),
        ("https://c.com/3",
         b'<html><body><a href="https://c.com/self">self</a></body></html>'),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(pages, ["url", "html"]).write.parquet(src)
    out = str(tmp_path / "graph")
    gj.main(["--pages", src, "--output", out, "--partitions", "2",
             "--hits", "--communities"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["hosts"] == 3
    assert 1 <= stats["communities"] <= 3
    ranks = spark.read.parquet(f"{out}/ranks")
    assert set(ranks.columns) >= {"node", "rank", "auth", "hub", "community"}
    got = {r["node"]: r for r in ranks.collect()}
    # c.com receives every link: highest authority, zero hub mass
    assert got["c.com"]["auth"] == max(r["auth"] for r in got.values())
    assert got["c.com"]["hub"] == 0
    # every node got a community label
    assert all(r["community"] is not None for r in got.values())


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(s, d, 1) for s, d in pairs], ["src", "dst", "weight"]
    )


def test_seed_distance_bfs_min_hops(spark):
    from html_parser_spark.ops.linkgraph import seed_distance

    # a -> b -> c -> d, plus a shortcut a -> c: dist(c) must be 1, not 2
    edges = _edges_df(
        spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")]
    )
    seeds = spark.createDataFrame([("a",)], ["node"])
    got = {r["node"]: r["dist"] for r in seed_distance(edges, seeds, 3).collect()}
    # x/y unreachable from the seed: absent, not infinity rows
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_seed_distance_hop_cap_and_foreign_seed(spark):
    from html_parser_spark.ops.linkgraph import seed_distance

    edges = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    # seed 'z' is not a node in the graph: dropped, contributes nothing
    seeds = spark.createDataFrame([("a",), ("z",)], ["node"])
    got = {r["node"]: r["dist"] for r in seed_distance(edges, seeds, 2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # d, e beyond the cap


def test_seed_distance_multi_seed_and_partition_invariance(spark):
    from html_parser_spark.ops.linkgraph import seed_distance

    pairs = [("a", "b"), ("b", "c"), ("e", "c"), ("e", "f"), ("f", "g")]
    seeds = spark.createDataFrame([("a",), ("e",)], ["node"])
    base = {
        r["node"]: r["dist"]
        for r in seed_distance(_edges_df(spark, pairs), seeds, 3).collect()
    }
    # c is 2 hops from a but 1 hop from e: min wins
    assert base == {"a": 0, "e": 0, "b": 1, "c": 1, "f": 1, "g": 2}
    repart = {
        r["node"]: r["dist"]
        for r in seed_distance(
            _edges_df(spark, pairs).repartition(7), seeds, 3
        ).collect()
    }
    assert repart == base


def test_graph_job_trustrank_and_seed_depth(spark, tmp_path, capsys):
    """--seeds + --trustrank/--seed-depth join trust mass and click depth
    onto the ranks table; hosts unreachable from the seeds get trust 0 and
    a NULL seed_dist."""
    import json as _json

    import jobs.graph_job as gj

    pages = [
        ("https://a.com/1",
         b'<html><body><a href="https://b.com/x">b</a></body></html>'),
        ("https://b.com/2",
         b'<html><body><a href="https://c.com/z">c</a></body></html>'),
        # spam island: links only to itself and its twin
        ("https://s1.spam/1",
         b'<html><body><a href="https://s2.spam/x">s2</a></body></html>'),
        ("https://s2.spam/1",
         b'<html><body><a href="https://s1.spam/x">s1</a></body></html>'),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(pages, ["url", "html"]).write.parquet(src)
    out = str(tmp_path / "graph")
    gj.main(["--pages", src, "--output", out, "--partitions", "2",
             "--seeds", "a.com", "--trustrank", "--seed-depth", "3"])
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["seed_reached"] == 3  # a.com, b.com, c.com
    got = {r["node"]: r for r in
           spark.read.parquet(f"{out}/ranks").collect()}
    assert got["a.com"]["seed_dist"] == 0
    assert got["b.com"]["seed_dist"] == 1
    assert got["c.com"]["seed_dist"] == 2
    assert got["s1.spam"]["seed_dist"] is None
    assert got["s1.spam"]["trust"] == 0 and got["s2.spam"]["trust"] == 0
    assert got["a.com"]["trust"] > 0


# ---------------------------------------------------------------------------
# Link reciprocity — ops/linkgraph.reciprocity
# ---------------------------------------------------------------------------
def test_reciprocity_counts_and_ppm(spark):
    from html_parser_spark.ops.linkgraph import reciprocity

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # mutual pair
            ("a", "c"),                        # one-way
            ("a", "c"),                        # duplicate edge: counted once
            ("c", "c"),                        # self-loop: dropped
            ("d", "a"),                        # one-way into a
        ],
        "src string, dst string",
    )
    rows = {r["host"]: r for r in reciprocity(edges).collect()}
    a = rows["a"]
    assert (a["out_n"], a["reciprocated_n"]) == (2, 1)
    assert a["reciprocity_ppm"] == 500000
    b = rows["b"]
    assert (b["out_n"], b["reciprocated_n"], b["reciprocity_ppm"]) == (1, 1, 1000000)
    d = rows["d"]
    assert (d["out_n"], d["reciprocated_n"], d["reciprocity_ppm"]) == (1, 0, 0)
    # c has no out-edges after the self-loop drop -> absent, not a 0/0 row
    assert "c" not in rows


def test_reciprocity_ignores_weights_column(spark):
    from html_parser_spark.ops.linkgraph import reciprocity

    edges = spark.createDataFrame(
        [("a", "b", 9), ("b", "a", 1)], "src string, dst string, weight long"
    )
    rows = reciprocity(edges).collect()
    assert all(r["reciprocity_ppm"] == 1000000 for r in rows)


def test_graph_job_reciprocity(spark, tmp_path, capsys):
    """--reciprocity joins the link-exchange screen onto the ranks table."""
    import json as _json

    import jobs.graph_job as gj

    def page(url, *links):
        body = "".join(f'<a href="{u}">x</a>' for u in links)
        return (url, f"<html><body>{body}</body></html>".encode())

    pages = [
        page("https://a.com/1", "https://b.com/p"),     # a -> b
        page("https://b.com/1", "https://a.com/p"),     # b -> a (mutual)
        page("https://a.com/2", "https://c.com/p"),     # a -> c (one-way)
        page("https://c.com/1", "https://d.com/p"),     # c -> d (one-way)
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(pages, ["url", "html"]).withColumn(
        "lang", F.lit("en")
    ).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(1704067200))
    ).write.parquet(src)
    out = str(tmp_path / "graph")
    gj.main([
        "--pages", src, "--output", out, "--partitions", "2",
        "--iterations", "2", "--reciprocity",
    ])
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["reciprocal_hosts"] == 2  # a.com and b.com
    ranks = {r["node"]: r for r in
             spark.read.parquet(out + "/ranks").collect()}
    assert ranks["a.com"]["out_n"] == 2
    assert ranks["a.com"]["reciprocated_n"] == 1
    assert ranks["a.com"]["reciprocity_ppm"] == 500000
    assert ranks["b.com"]["reciprocity_ppm"] == 1000000
    assert ranks["c.com"]["reciprocity_ppm"] == 0
    # d.com has no out-edges: reciprocity columns NULL via the left join
    assert ranks["d.com"]["reciprocity_ppm"] is None


def test_graph_job_collapse_domains(spark, tmp_path, capsys):
    """--collapse-domains: subdomains fold into one PSL registered-domain
    node before ranking, so a subdomain farm is one vote."""
    import json as _json

    import jobs.graph_job as gj

    def page(url, *links):
        body = "".join(f'<a href="{u}">x</a>' for u in links)
        return (url, f"<html><body>{body}</body></html>".encode())

    pages = [
        # three subdomains of farm.com all link to victim.org
        page("https://a.farm.com/1", "https://victim.org/p"),
        page("https://b.farm.com/1", "https://victim.org/p"),
        page("https://www.farm.com/1", "https://victim.org/p"),
        page("https://victim.org/1", "https://other.net/p"),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(pages, ["url", "html"]).withColumn(
        "lang", F.lit("en")
    ).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(1704067200))
    ).write.parquet(src)
    out = str(tmp_path / "graph")
    gj.main([
        "--pages", src, "--output", out, "--partitions", "2",
        "--iterations", "2", "--collapse-domains",
    ])
    _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    edges = {(r["src"], r["dst"]): r["weight"] for r in
             spark.read.parquet(out + "/edges").collect()}
    # the three subdomain edges collapse into ONE weighted domain edge
    assert edges == {
        ("farm.com", "victim.org"): 3,
        ("victim.org", "other.net"): 1,
    }
    nodes = {r["node"] for r in spark.read.parquet(out + "/ranks").collect()}
    assert nodes == {"farm.com", "victim.org", "other.net"}


def test_bowtie_profile_regions(spark):
    from html_parser_spark.ops.linkgraph import bowtie_profile

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),   # SCC ring with pivot a
         ("x", "a"), ("w", "x"),               # IN chain w -> x -> a
         ("a", "o"), ("o", "p"),               # OUT chain a -> o -> p
         ("d1", "d2")],                          # disconnected island
        "src string, dst string",
    )
    rows = {r["node"]: r for r in bowtie_profile(edges, "a", max_hops=5).collect()}
    assert rows["a"]["region"] == "SCC"
    assert (rows["a"]["fwd_dist"], rows["a"]["bwd_dist"]) == (0, 0)
    assert rows["b"]["region"] == "SCC" and rows["c"]["region"] == "SCC"
    assert (rows["b"]["fwd_dist"], rows["b"]["bwd_dist"]) == (1, 2)
    assert rows["x"]["region"] == "IN" and rows["x"]["fwd_dist"] is None
    assert rows["w"]["region"] == "IN" and rows["w"]["bwd_dist"] == 2
    assert rows["o"]["region"] == "OUT" and rows["o"]["bwd_dist"] is None
    assert rows["p"]["fwd_dist"] == 2
    # the island is absent, not labeled
    assert "d1" not in rows and "d2" not in rows


def test_bowtie_profile_hop_cap(spark):
    from html_parser_spark.ops.linkgraph import bowtie_profile

    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    rows = {r["node"] for r in bowtie_profile(chain, "a", max_hops=2).collect()}
    # d is 3 forward hops away: outside the cap, absent
    assert rows == {"a", "b", "c"}
