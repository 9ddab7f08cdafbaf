"""URL/domain curation ops: parse edges, skew accounting, broadcast plan."""

from pyspark.sql import functions as F


def test_url_parts_edges(spark):
    from html_parser_spark.ops.web import url_parts

    rows = [
        ("https://user:pw@sub.host.example.co:8443/p/q?x=1&y=2#frag",),
        ("http://example.org",),
        ("http://example.org/",),
        ("https://a.b/path%20x?q=%C3%A9",),
    ]
    out = {
        r["url"]: r
        for r in url_parts(spark.createDataFrame(rows, ["url"])).collect()
    }
    r = out[rows[0][0]]
    assert r["scheme"] == "https"
    assert r["host"] == "sub.host.example.co"  # no port, no userinfo
    assert r["path"] == "/p/q"
    assert r["query"] == "x=1&y=2"
    assert r["registered_domain"] == "example.co"
    bare = out["http://example.org"]
    assert bare["host"] == "example.org"
    assert bare["query"] is None and bare["path"] == ""
    assert out["http://example.org/"]["path"] == "/"
    assert out["https://a.b/path%20x?q=%C3%A9"]["query"] == "q=%C3%A9"


def test_domain_stats_shares(spark):
    from html_parser_spark.ops.web import domain_stats

    df = spark.createDataFrame(
        [("a.org", "xx"), ("a.org", "yyyy"), ("b.org", "z"), ("c.org", "")],
        ["host", "body"],
    )
    rows = {r["host"]: r for r in domain_stats(df, bytes_col="body").collect()}
    assert rows["a.org"]["n_docs"] == 2 and rows["a.org"]["total_bytes"] == 6
    assert rows["a.org"]["doc_share"] == 0.5
    assert abs(sum(r["doc_share"] for r in rows.values()) - 1.0) < 1e-9


def test_blocklist_is_broadcast_anti_join(spark):
    from html_parser_spark.ops.web import host_blocklist_filter

    df = spark.createDataFrame(
        [(f"h{i % 5}.org", i) for i in range(100)], ["host", "v"]
    )
    kept = host_blocklist_filter(df, ["h0.org", "h3.org"])
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    hosts = {r["host"] for r in kept.collect()}
    assert hosts == {"h1.org", "h2.org", "h4.org"}
    assert kept.count() == 60


def test_canonicalize_url_edges(spark):
    from html_parser_spark.ops.web import canonicalize_url

    rows = [
        ("HTTP://WWW.Example.ORG:80/Path/X?Q=MixedCase#frag",),
        ("https://example.org:443",),
        ("https://example.org:8443/x",),
        ("http://example.org/?a=1#b",),
    ]
    df = spark.createDataFrame(rows, ["url"])
    out = dict(
        (r["url"], r["canon"])
        for r in df.select("url", canonicalize_url("url").alias("canon")).collect()
    )
    # scheme+authority lowercased, default port stripped, fragment dropped,
    # path case and query case PRESERVED
    assert out[rows[0][0]] == "http://www.example.org/Path/X?Q=MixedCase"
    assert out["https://example.org:443"] == "https://example.org/"
    assert out["https://example.org:8443/x"] == "https://example.org:8443/x"
    assert out["http://example.org/?a=1#b"] == "http://example.org/?a=1"


def test_canonicalize_url_passthrough_unparseable(spark):
    """Relative paths / bare ids canonicalize to THEMSELVES, never NULL —
    a NULL canon would collapse every such row onto one dedup key."""
    from html_parser_spark.ops.web import canonicalize_url

    rows = [("talibov/0001.html",), ("doc-42",), ("",)]
    df = spark.createDataFrame(rows, ["url"])
    out = [r["c"] for r in df.select(canonicalize_url("url").alias("c")).collect()]
    assert out == [r[0] for r in rows]


def test_latest_capture_ties_and_plan(spark):
    from datetime import datetime

    from html_parser_spark.ops.web import latest_capture

    t0, t1 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    df = spark.createDataFrame(
        [
            ("u1", t0, "old"),
            ("u1", t1, "new"),
            ("u2", t0, "a"),
            ("u2", t0, "b"),  # exact-ts tie -> next column breaks it (max)
        ],
        ["url", "warc_ts", "body"],
    )
    out = {r["url"]: r for r in latest_capture(df).collect()}
    assert out["u1"]["body"] == "new" and out["u1"]["warc_ts"] == t1
    assert out["u2"]["body"] == "b"  # deterministic tie-break
    # struct-max is a SortAggregate (not hash-aggregable), but the property
    # that matters at crawl scale is map-side partial aggregation before the
    # exchange — and no window over the raw captures
    plan = latest_capture(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan
    assert "Window" not in plan


def test_registered_domain_psl(spark):
    """Longest-suffix-wins PSL matching beats the last-2-labels heuristic on
    co.uk-style suffixes; unknown TLDs fall back to it; a host that IS a
    bare public suffix has no registrable part and passes through."""
    from html_parser_spark.ops.web import registered_domain_psl

    rows = [
        ("a.b.example.co.uk",),   # multi-label suffix: longest match
        ("example.co.uk",),       # exactly suffix+1 label
        ("www.example.com",),     # single-label suffix
        ("example.com",),
        ("shop.example.com.au",),
        ("co.uk",),               # host IS a public suffix
        ("foo.unknowntld",),      # no suffix match -> heuristic fallback
        ("deep.x.y.foo.unknowntld",),
        ("localhost",),           # single label, no match anywhere
        # bundled-snapshot ccTLD coverage (the round-3 20-entry stand-in
        # missed all of these)
        ("www.example.com.br",),
        ("portal.example.gob.mx",),
        ("a.example.co.jp",),
        ("x.example.com.tr",),
        ("user.github.io",),      # private-section suffix: site = user
    ]
    df = spark.createDataFrame(rows, ["host"])
    out = dict(
        (r["host"], r["reg"])
        for r in df.select(
            "host", registered_domain_psl("host").alias("reg")
        ).collect()
    )
    assert out["a.b.example.co.uk"] == "example.co.uk"
    assert out["example.co.uk"] == "example.co.uk"
    assert out["www.example.com"] == "example.com"
    assert out["example.com"] == "example.com"
    assert out["shop.example.com.au"] == "example.com.au"
    assert out["co.uk"] == "co.uk"
    assert out["foo.unknowntld"] == "foo.unknowntld"
    assert out["deep.x.y.foo.unknowntld"] == "foo.unknowntld"
    assert out["localhost"] == ""  # heuristic needs two labels
    assert out["www.example.com.br"] == "example.com.br"
    assert out["portal.example.gob.mx"] == "example.gob.mx"
    assert out["a.example.co.jp"] == "example.co.jp"
    assert out["x.example.com.tr"] == "example.com.tr"
    assert out["user.github.io"] == "user.github.io"

    # zero shuffle / zero join: the suffix set rides the plan as a literal
    plan = (
        df.select(registered_domain_psl("host").alias("r"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_sitemap_urls_urlset_and_index(spark):
    from html_parser_spark.ops.web import sitemap_urls

    urlset = (
        '<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://a.com/1</loc><lastmod>2024-01-01</lastmod></url>"
        "<url><loc>  https://a.com/2 </loc></url></urlset>"
    )
    index = (
        '<sitemapindex><sitemap><loc>https://a.com/sitemap1.xml</loc></sitemap>'
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("a.com", urlset), ("a.com", index)], ["host", "body"]
    )
    got = {(r["kind"], r["loc"]) for r in sitemap_urls(df).collect()}
    assert got == {
        ("url", "https://a.com/1"),
        ("url", "https://a.com/2"),
        ("sitemap", "https://a.com/sitemap1.xml"),
    }
    plan = sitemap_urls(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_crawl_diff_statuses(spark):
    from html_parser_spark.ops.web import crawl_diff

    old = spark.createDataFrame(
        [("u1", b"same"), ("u2", b"old-body"), ("u3", b"gone")], ["url", "html"]
    )
    new = spark.createDataFrame(
        [("u1", b"same"), ("u2", b"new-body"), ("u4", b"fresh")], ["url", "html"]
    )
    got = {r["url"]: r["status"] for r in crawl_diff(old, new).collect()}
    assert got == {
        "u1": "unchanged", "u2": "changed", "u3": "removed", "u4": "added",
    }
    # md5 computed below the join: the exchange must not carry html bytes
    plan = crawl_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan.split("SortMergeJoin")[-1][:400] or "md5" in plan


def test_surt_key_families(spark):
    """SURT keys: reversed host labels, www strip, port drop, empty path,
    sorted query params, lowercased relative passthrough."""
    from pyspark.sql import functions as F

    from html_parser_spark.ops.web import surt_key

    cases = [
        ("HTTP://WWW.Example.COM/A/B7?b=2&a=1", "com,example)/a/b7?a=1&b=2"),
        ("https://sub.test.co.uk/path", "uk,co,test,sub)/path"),
        ("https://Example.org", "org,example)/"),
        ("relative/ID/9", "relative/id/9"),
        ("http://h.example.net:8080/x", "net,example,h)/x"),
        ("https://example.com/Q?Z=9", "com,example)/q?z=9"),
        # www strip is ONE label, not every w-prefixed host
        ("https://wwwish.example.com/p", "com,example,wwwish)/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["s"] for r in df.select(surt_key("url").alias("s")).collect()]
    assert got == [want for _, want in cases]


def test_surt_key_groups_subdomains_contiguously(spark):
    """The point of SURT: every subdomain of a registered domain sorts
    into one contiguous key range."""
    from html_parser_spark.ops.web import surt_key

    urls = [
        "https://a.example.com/1",
        "https://zz.other.org/x",
        "https://b.example.com/2",
        "https://example.com/3",
        "https://aaa.aardvark.net/y",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    keys = sorted(r["s"] for r in df.select(surt_key("url").alias("s")).collect())
    ex = [k for k in keys if k.startswith("com,example")]
    # contiguous: the example.com keys occupy one unbroken slice
    lo, hi = keys.index(ex[0]), keys.index(ex[-1])
    assert keys[lo:hi + 1] == ex and len(ex) == 3


def test_recrawl_priority_change_rate_schedule(spark):
    """Per-url inter-change estimate from capture history: a churning page
    is due at its observed change interval, a static page settles at the
    max interval, and clamping bounds both ends.  All-integer outputs."""
    from html_parser_spark.ops.web import recrawl_priority

    day = 86400
    t0 = 1_704_067_200
    rows = []
    # u1 changes every capture (4 captures, weekly): est = span/3 = 7 days
    for i in range(4):
        rows.append(("https://u1.com/", t0 + i * 7 * day, f"body v{i}"))
    # u2 never changes: est = full observed span (21 days — no change was
    # seen over it, so it is the LOWER bound on the change interval);
    # clamping to the 30-day max only kicks in for longer histories
    for i in range(4):
        rows.append(("https://u2.com/", t0 + i * 7 * day, "static"))
    # u2b never changes over a 60-day history: est clamps DOWN to 30 days
    for i in range(4):
        rows.append(("https://u2b.com/", t0 + i * 20 * day, "static"))
    # u3 churns hourly: est clamps UP to min_interval (1 day)
    for i in range(4):
        rows.append(("https://u3.com/", t0 + i * 3600, f"b{i}"))
    # u4 single capture: span 0 -> clamped to min
    rows.append(("https://u4.com/", t0, "x"))
    caps = spark.createDataFrame(rows, ["url", "ts", "body"]).select(
        "url", F.timestamp_seconds("ts").alias("warc_ts"), "body"
    )
    asof = t0 + 40 * day
    out = {r["url"]: r for r in recrawl_priority(caps, asof).collect()}
    u1 = out["https://u1.com/"]
    assert (u1["n_captures"], u1["n_changes"]) == (4, 3)
    assert u1["est_change_sec"] == 7 * day
    assert u1["next_due_ts"] == t0 + 21 * day + 7 * day
    assert u1["overdue_sec"] == asof - u1["next_due_ts"]
    u2 = out["https://u2.com/"]
    assert u2["n_changes"] == 0 and u2["est_change_sec"] == 21 * day
    u2b = out["https://u2b.com/"]
    assert u2b["n_changes"] == 0 and u2b["est_change_sec"] == 30 * day
    u3 = out["https://u3.com/"]
    assert u3["n_changes"] == 3 and u3["est_change_sec"] == day
    u4 = out["https://u4.com/"]
    assert (u4["n_captures"], u4["est_change_sec"]) == (1, day)


def test_recrawl_priority_plan_no_window_digests_before_shuffle(spark):
    """ONE partial-agg groupBy(url); change counting is zip_with over the
    collected array — no Window — and md5 runs below the exchange so the
    shuffle carries digests, not bodies."""
    from html_parser_spark.ops.web import recrawl_priority

    caps = spark.createDataFrame(
        [("u", 1, "b")], ["url", "ts", "body"]
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "body")
    qe = recrawl_priority(caps, 2)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "Window" not in plan
    assert "partial_collect_list" in plan or "ObjectHashAggregate" in plan
    # md5 must appear in the pre-shuffle (map-side) aggregate projection
    before_exchange = plan.split("Exchange")[-1]  # bottom-most section
    assert "md5" in before_exchange


def test_canonical_dedup_election(spark):
    """Self-canonical beats newer variants; without a self-canonical the
    newest capture wins; canonical-less pages are their own group."""
    from datetime import datetime, timezone

    from html_parser_spark.ops.web import canonical_dedup

    def ts(h):
        return datetime(2024, 1, 1, h, tzinfo=timezone.utc)

    rows = [
        # group A: self-canonical (a0) exists but is OLDEST -> still wins
        ("https://s.example/a0", "https://s.example/a0", ts(0), "a0"),
        ("https://s.example/a1", "https://s.example/a0", ts(5), "a1"),
        ("https://s.example/a2", "https://s.example/a0", ts(9), "a2"),
        # group B: canonical points off-crawl -> newest (b1, hour 7) wins
        ("https://s.example/b0", "https://s.example/bX", ts(3), "b0"),
        ("https://s.example/b1", "https://s.example/bX", ts(7), "b1"),
        # group C: no canonical -> singleton, self-elected
        ("https://s.example/c0", None, ts(2), "c0"),
    ]
    df = spark.createDataFrame(
        rows, "url string, canonical string, warc_ts timestamp, body string"
    )
    got = {
        r["canonical_url"]: (r["n_captures"], r["url"], r["body"])
        for r in canonical_dedup(df).collect()
    }
    assert got == {
        "https://s.example/a0": (3, "https://s.example/a0", "a0"),
        "https://s.example/bX": (2, "https://s.example/b1", "b1"),
        "https://s.example/c0": (1, "https://s.example/c0", "c0"),
    }


def test_canonical_dedup_exact_tie_total_order(spark):
    """Two non-self captures with the SAME timestamp: the smaller url wins
    — the struct-min election is a total order, never shuffle-dependent."""
    from datetime import datetime, timezone

    from html_parser_spark.ops.web import canonical_dedup

    t = datetime(2024, 6, 1, tzinfo=timezone.utc)
    df = spark.createDataFrame(
        [
            ("https://s.example/z2", "https://s.example/zX", t, "z2"),
            ("https://s.example/z1", "https://s.example/zX", t, "z1"),
        ],
        "url string, canonical string, warc_ts timestamp, body string",
    )
    rows = canonical_dedup(df).collect()
    assert len(rows) == 1
    assert rows[0]["url"] == "https://s.example/z1"
    assert rows[0]["n_captures"] == 2


def test_domain_cap_exact_selection_and_partition_independence(spark):
    """The md5 ranking must pick the EXACT same ids as a sequential
    replica, for any input partitioning; hosts under the cap keep all."""
    import hashlib
    from collections import defaultdict

    from html_parser_spark.ops.web import domain_cap

    rows = [(i, f"host{i % 3}") for i in range(30)] + [(100, "tiny")]
    expect = defaultdict(list)
    for i, h in rows:
        expect[h].append((hashlib.md5(f"s1{i}".encode()).hexdigest(), i))
    keep = {
        (i, h, rk + 1)
        for h, lst in expect.items()
        for rk, (_, i) in enumerate(sorted(lst)[:4])
    }
    for p in (1, 5):
        df = spark.createDataFrame(
            rows, "doc_id long, host string"
        ).repartition(p)
        got = {
            (r["doc_id"], r["host"], r["host_rank"])
            for r in domain_cap(df, 4, salt="s1").collect()
        }
        assert got == keep, f"partitions={p}"


def test_domain_cap_salt_redraws(spark):
    from html_parser_spark.ops.web import domain_cap

    df = spark.createDataFrame(
        [(i, "only") for i in range(40)], "doc_id long, host string"
    )
    a = {r["doc_id"] for r in domain_cap(df, 10, salt="a").collect()}
    b = {r["doc_id"] for r in domain_cap(df, 10, salt="b").collect()}
    assert len(a) == len(b) == 10
    assert a != b  # independent draw (astronomically unlikely to collide)


def test_domain_cap_plan_uses_window_group_limit(spark):
    """The rank<=N filter must rewrite to WindowGroupLimit so map tasks
    keep only local top-N per host before the shuffle."""
    from html_parser_spark.ops.web import domain_cap

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("host"),
    )
    plan = domain_cap(df, 3)
    plan.collect()
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in s, s


def _pub_pages(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in rows], ["url", "html"]
    )


def test_publication_dates_priority_chain(spark):
    from html_parser_spark.ops.web import publication_dates

    rows = [
        # meta beats time beats jsonld beats url
        ("https://a.example/2001/02/03/p0",
         '<meta property="article:published_time" content="2020-01-02T08:00:00Z">'
         '<time datetime="2021-03-04">x</time>'
         '"datePublished": "2022-05-06"'),
        ("https://a.example/2001/02/03/p1",
         '<time datetime="2021-03-04">x</time>"datePublished": "2022-05-06"'),
        ("https://a.example/2001/02/03/p2", '"datePublished": "2022-05-06"'),
        ("https://a.example/2001/02/03/p3", "<p>nothing</p>"),
        ("https://a.example/p4", "<p>nothing</p>"),
    ]
    got = {
        r["url"][-2:]: (r["pub_date"], r["pub_src"])
        for r in publication_dates(_pub_pages(spark, rows)).collect()
    }
    assert got["p0"] == ("2020-01-02", "meta")
    assert got["p1"] == ("2021-03-04", "time")
    assert got["p2"] == ("2022-05-06", "jsonld")
    assert got["p3"] == ("2001-02-03", "url")
    assert got["p4"] == (None, "none")


def test_publication_dates_invalid_dates(spark):
    from html_parser_spark.ops.web import publication_dates

    rows = [
        # regex-valid, calendar-invalid: src reports the rule, date is NULL
        ("https://a.example/p0",
         '<meta property="article:published_time" content="2023-02-30T00:00:00Z">'),
        # month 13 fails the SHAPE regex entirely: falls through to the url rule
        ("https://a.example/2019/11/22/p1", '"datePublished": "2023-13-05"'),
        # day 00 fails the shape regex; no url date either
        ("https://a.example/p2", '<time datetime="2023-05-00">x</time>'),
        # url rule needs the full /YYYY/MM/DD/ segment run, not fragments
        ("https://a.example/2019/5/22/p3", "<p></p>"),
    ]
    got = {
        r["url"][-2:]: (r["pub_date"], r["pub_src"])
        for r in publication_dates(_pub_pages(spark, rows)).collect()
    }
    assert got["p0"] == (None, "meta")
    assert got["p1"] == ("2019-11-22", "url")
    assert got["p2"] == (None, "none")
    assert got["p3"] == (None, "none")


def test_publication_dates_pure_codegen_no_shuffle(spark):
    from html_parser_spark.ops.web import publication_dates

    out = publication_dates(
        _pub_pages(spark, [("https://a.example/p0", "<p>x</p>")])
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, plan


def test_date_cutoff_filter(spark):
    from html_parser_spark.ops.web import date_cutoff_filter

    df = spark.createDataFrame(
        [("u0", "2019-06-30"), ("u1", "2019-07-01"), ("u2", None)],
        ["url", "pub_date"],
    )
    kept = {r["url"] for r in date_cutoff_filter(df, "2019-06-30").collect()}
    assert kept == {"u0", "u2"}
    strict = {
        r["url"]
        for r in date_cutoff_filter(df, "2019-06-30", keep_undated=False).collect()
    }
    assert strict == {"u0"}


def test_extract_job_pub_dates_sidecar(spark, tmp_path, capsys):
    """--pub-dates writes the (url, pub_date, pub_src) temporal sidecar
    and the report counts the dated pages."""
    import json as _json

    import jobs.extract_job as ej

    pages = [
        ("https://a.example/2020/05/06/post",
         b"<html><body><p>permalink dated</p></body></html>"),
        ("https://a.example/plain",
         b'<html><head><meta property="article:published_time" '
         b'content="2021-07-08T00:00:00Z"></head><body>x</body></html>'),
        ("https://a.example/undated",
         b"<html><body><p>nothing</p></body></html>"),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(pages, ["url", "html"]).withColumn(
        "lang", F.lit("en")
    ).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(1704067200))
    ).write.parquet(src)
    out = str(tmp_path / "results")
    side = str(tmp_path / "pub")
    ej.main([
        "--pages", src, "--output", out, "--partitions", "2",
        "--pub-dates", side,
    ])
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["pub_dated"] == 2
    got = {r["url"]: (r["pub_date"], r["pub_src"])
           for r in spark.read.parquet(side).collect()}
    assert got["https://a.example/2020/05/06/post"] == ("2020-05-06", "url")
    assert got["https://a.example/plain"] == ("2021-07-08", "meta")
    assert got["https://a.example/undated"] == (None, "none")


def test_resolve_redirects_chain_cycle_and_election(spark):
    from html_parser_spark.ops.web import resolve_redirects

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"),          # chain a->b->c (c terminal)
            ("p", "q"), ("q", "p"),          # 2-cycle: never resolves
            ("m", "z"), ("m", "n"),          # duplicate capture: min dst 'n'
            ("n", "t"),
        ],
        ["src", "dst"],
    )
    got = {r["src"]: r for r in resolve_redirects(edges, max_hops=5).collect()}
    assert (got["a"]["final_url"], got["a"]["hops"], got["a"]["resolved"]) == (
        "c", 2, True)
    assert (got["b"]["final_url"], got["b"]["hops"]) == ("c", 1)
    assert got["p"]["resolved"] is False and got["p"]["hops"] == 5
    assert got["q"]["resolved"] is False
    # min-dst election routes m through n, not z
    assert (got["m"]["final_url"], got["m"]["hops"], got["m"]["resolved"]) == (
        "t", 2, True)


def test_resolve_redirects_hop_cap_reports_stuck_url(spark):
    from html_parser_spark.ops.web import resolve_redirects

    # 6-long chain under max_hops=3: stuck at the 3rd target, unresolved
    edges = spark.createDataFrame(
        [(f"r{i}", f"r{i+1}") for i in range(6)], ["src", "dst"]
    )
    got = {r["src"]: r for r in resolve_redirects(edges, max_hops=3).collect()}
    assert (got["r0"]["final_url"], got["r0"]["hops"], got["r0"]["resolved"]) == (
        "r3", 3, False)
    assert got["r3"]["resolved"] is True  # r3->r4->r5->r6(terminal)


# ---------------------------------------------------------------------------
# URL survival cohorts — ops/web.url_survival
# ---------------------------------------------------------------------------
def test_url_survival_cohort_curve(spark):
    from html_parser_spark.ops.web import url_survival

    # cohort 0: a,b,c born at snap 0; b survives to 1; c to 1 and 2.
    # cohort 1: d born at snap 1, gone after.  Duplicate (a,0) is DISTINCT'd.
    caps = spark.createDataFrame(
        [("a", 0), ("a", 0), ("b", 0), ("b", 1), ("c", 0), ("c", 1),
         ("c", 2), ("d", 1)],
        "url string, snap long",
    )
    rows = {(r["birth_snap"], r["age"]): r for r in url_survival(caps).collect()}
    assert rows[(0, 0)]["n_urls"] == 3 and rows[(0, 0)]["survival_ppm"] == 1000000
    assert rows[(0, 1)]["n_urls"] == 2 and rows[(0, 1)]["survival_ppm"] == 666666
    assert rows[(0, 2)]["n_urls"] == 1 and rows[(0, 2)]["survival_ppm"] == 333333
    assert rows[(1, 0)]["n_urls"] == 1 and rows[(1, 0)]["survival_ppm"] == 1000000
    assert set(rows) == {(0, 0), (0, 1), (0, 2), (1, 0)}


def test_url_survival_rebirth_counts_from_first_sighting(spark):
    from html_parser_spark.ops.web import url_survival

    # a url that disappears and returns (snap 0 and 2, not 1) still belongs
    # to its FIRST cohort: the age-2 row exists with no age-1 row.
    caps = spark.createDataFrame(
        [("x", 0), ("x", 2)], "url string, snap long"
    )
    rows = {(r["birth_snap"], r["age"]) for r in url_survival(caps).collect()}
    assert rows == {(0, 0), (0, 2)}


# ---------------------------------------------------------------------------
# Sitemap coverage audit — ops/web.sitemap_coverage
# ---------------------------------------------------------------------------
def test_sitemap_coverage_partition_of_urls(spark):
    from html_parser_spark.ops.web import sitemap_coverage

    declared = spark.createDataFrame(
        [("https://a.com/1",), ("https://a.com/2",), ("https://a.com/3",),
         ("https://b.com/1",)],
        "url string",
    )
    crawled = spark.createDataFrame(
        [("https://a.com/2",), ("https://a.com/3",), ("https://a.com/4",),
         ("https://c.com/1",)],
        "url string",
    )
    rows = {r["host"]: r for r in sitemap_coverage(declared, crawled).collect()}
    a = rows["a.com"]
    assert (a["declared_n"], a["crawled_n"], a["both_n"]) == (3, 3, 2)
    assert (a["declared_only_n"], a["crawled_only_n"]) == (1, 1)
    assert a["coverage_ppm"] == 2 * 1000000 // 3
    # crawled-only host: declares nothing -> ppm 0 (nullif guard), not an error
    c = rows["c.com"]
    assert (c["declared_n"], c["crawled_n"], c["coverage_ppm"]) == (0, 1, 0)
    b = rows["b.com"]
    assert (b["declared_n"], b["crawled_n"], b["coverage_ppm"]) == (1, 0, 0)


def test_sitemap_coverage_dedups_within_each_side(spark):
    from html_parser_spark.ops.web import sitemap_coverage

    declared = spark.createDataFrame(
        [("https://a.com/1",), ("https://a.com/1",)], "url string"
    )
    crawled = spark.createDataFrame([("https://a.com/1",)], "url string")
    a = sitemap_coverage(declared, crawled).collect()[0]
    # repeat sitemap declarations collapse: the audit counts URLs, not lines
    assert (a["declared_n"], a["crawled_n"], a["both_n"]) == (1, 1, 1)


def test_sitemap_coverage_uppercase_scheme(spark):
    from html_parser_spark.ops.web import sitemap_coverage

    declared = spark.createDataFrame([("HTTPS://Example.com/a",)], "url string")
    crawled = spark.createDataFrame([("Http://example.com/b",)], "url string")
    rows = {r["host"]: r for r in sitemap_coverage(declared, crawled).collect()}
    # schemes are case-insensitive (RFC 3986): no bogus empty-host row
    assert set(rows) == {"example.com"}
    assert (rows["example.com"]["declared_n"], rows["example.com"]["crawled_n"]) == (1, 1)


def test_extract_job_text_links_sidecar(spark, tmp_path, capsys):
    """--text-links mines urls cited in the EXTRACTED text into a
    (url, out_url) parquet sidecar and the report counts the links."""
    import json as _json

    import jobs.extract_job as ej

    pages = [
        ("https://a.example/one",
         b"<html><body><p>cites https://cited.example/x. twice: "
         b"see http://other.test/y</p></body></html>"),
        ("https://a.example/two",
         b"<html><body><p>no links here</p></body></html>"),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(pages, ["url", "html"]).withColumn(
        "lang", F.lit("en")
    ).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(1704067200))
    ).write.parquet(src)
    out = str(tmp_path / "results")
    side = str(tmp_path / "links")
    ej.main([
        "--pages", src, "--output", out, "--partitions", "2",
        "--main-content", "--text-links", side,
    ])
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["text_links"] == 2
    got = {(r["url"], r["out_url"])
           for r in spark.read.parquet(side).collect()}
    # the trailing '.' artifact is trimmed; the no-link page contributes none
    assert got == {
        ("https://a.example/one", "https://cited.example/x"),
        ("https://a.example/one", "http://other.test/y"),
    }


def test_mirror_candidates_shared_paths_and_cap(spark):
    from html_parser_spark.ops.web import mirror_candidates

    pages = spark.createDataFrame(
        [("https://a.com/doc/1",), ("https://a.com/doc/2",),
         ("https://a.com/doc/3",), ("https://a.com/only-a",),
         ("https://b.com/doc/1",), ("https://b.com/doc/2",),
         ("https://b.com/doc/3",),
         ("https://c.com/other",),
         # /shared-everywhere served by 3 hosts: df_cap=2 drops it
         ("https://a.com/everywhere",), ("https://b.com/everywhere",),
         ("https://c.com/everywhere",)],
        "url string",
    )
    rows = mirror_candidates(pages, df_cap=2, min_shared=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["host_a"], r["host_b"], r["shared_paths"]) == ("a.com", "b.com", 3)
    # sizes after cap: a=4, b=3, shared=3 -> 3*10000 // (4+3-3) = 7500
    assert r["jaccard_bp"] == 7500


def test_mirror_candidates_duplicate_urls_counted_once(spark):
    from html_parser_spark.ops.web import mirror_candidates

    pages = spark.createDataFrame(
        [("https://a.com/x",), ("https://a.com/x",), ("https://b.com/x",),
         ("https://a.com/y",), ("https://b.com/y",)],
        "url string",
    )
    r = mirror_candidates(pages, df_cap=10, min_shared=2).collect()[0]
    # repeat captures of the same url don't inflate the path sets
    assert (r["shared_paths"], r["jaccard_bp"]) == (2, 10000)


def test_mirror_candidates_uppercase_scheme(spark):
    from html_parser_spark.ops.web import mirror_candidates

    pages = spark.createDataFrame(
        [("HTTPS://Example.com/a",), ("https://mirror.org/a",),
         ("Http://example.com/b",), ("https://mirror.org/b",)],
        "url string",
    )
    r = mirror_candidates(pages, df_cap=10, min_shared=2).collect()
    assert [(x["host_a"], x["host_b"], x["shared_paths"]) for x in r] == [
        ("example.com", "mirror.org", 2)
    ]
