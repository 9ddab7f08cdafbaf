"""Page metadata + outlink extraction for Common-Crawl-style pages.

The reference parses whole pages for dictionary entries; a crawl-scale
corpus additionally needs the page's *identity* surface — ``<title>``,
``<meta name=description>``, ``<link rel=canonical>``, Open Graph tags,
the declared charset — and its *edges*: every ``<a href>`` absolutized
against the page url.  Outlinks feed the host-level link graph
(ops/linkgraph.py) and canonical urls feed the url-dedup tier
(ops/web.py canonicalization / latest-capture).

Scale shape: ONE Arrow UDF over (url, html) — per-page
pure map, zero shuffle; composes with ``salted_repartition`` exactly like
the extraction kernel.  Everything downstream of the UDF (host
aggregation, graph building) is JVM-side.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlparse

from pyspark.sql import DataFrame, functions as F, types as T

from html_parser_spark.spark.pipeline import kernel_stage

PAGE_META_TYPE = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("canonical", T.StringType()),
        T.StructField("og_title", T.StringType()),
        T.StructField("og_description", T.StringType()),
        T.StructField("charset", T.StringType()),
        T.StructField("outlinks", T.ArrayType(T.StringType())),
        T.StructField("n_anchors", T.IntegerType()),
        T.StructField("robots", T.StringType()),
    ]
)

# schemes that are never crawlable edges
_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "about:")


def _collapse(s: str) -> str:
    return " ".join(s.split())


def _crawlable_href(href: str | None, base_url: str) -> str | None:
    """Shared anchor edge rule for BOTH kernels (extract_meta and
    extract_page_anchors): strip, skip non-crawlable schemes and
    fragment-only links, absolutize, cut the fragment, require http(s).
    One implementation so the link graph and anchor stats can never
    drift apart on what counts as an edge."""
    href = (href or "").strip()
    if not href or href.startswith("#") or href.lower().startswith(_SKIP_SCHEMES):
        return None
    absu = urljoin(base_url or "", href).split("#", 1)[0]
    if not absu or urlparse(absu).scheme not in ("http", "https"):
        return None
    return absu


def extract_meta(html_bytes: bytes, base_url: str) -> dict:
    """One page → metadata dict (the UDF kernel; unit-testable alone)."""
    from html_parser_spark.dom import decode_html_bytes, parse_html

    root = parse_html(decode_html_bytes(html_bytes if html_bytes else b""))
    return extract_meta_from_root(root, base_url)


def extract_meta_from_root(root, base_url: str) -> dict:
    """The post-parse half of :func:`extract_meta`, taking an already-parsed
    DOM — shared with the fused page kernel (``ops/page_kernel.py``) so one
    parse feeds both the metadata walk and the main-content walk."""
    title = description = canonical = og_title = og_desc = charset = None
    robots = None
    outlinks: list[str] = []
    seen: set[str] = set()
    n_anchors = 0
    for el in root.iter_elements():
        tag = el.tag
        if tag == "title" and title is None:
            title = _collapse(el.text_content)
        elif tag == "meta":
            a = el.attrs
            if charset is None and a.get("charset"):
                charset = a["charset"].strip().lower()
            name = (a.get("name") or "").strip().lower()
            prop = (a.get("property") or "").strip().lower()
            content = a.get("content")
            if content is None:
                continue
            if description is None and name == "description":
                description = _collapse(content)
            elif robots is None and name == "robots":
                # raw directive string, lowercased (RFC 9309 §2.3.1 REP tags
                # are case-insensitive comma-separated tokens); token-level
                # interpretation happens JVM-side in noindex_filter
                robots = _collapse(content).lower()
            elif og_title is None and prop == "og:title":
                og_title = _collapse(content)
            elif og_desc is None and prop == "og:description":
                og_desc = _collapse(content)
            elif charset is None and (
                a.get("http-equiv") or ""
            ).strip().lower() == "content-type":
                m = content.lower().rsplit("charset=", 1)
                if len(m) == 2:
                    charset = m[1].split(";")[0].strip()
        elif tag == "link":
            rels = (el.attrs.get("rel") or "").lower().split()
            if canonical is None and "canonical" in rels and el.attrs.get("href"):
                canonical = urljoin(base_url or "", el.attrs["href"].strip())
        elif tag == "a":
            href = (el.attrs.get("href") or "").strip()
            if not href:
                continue
            n_anchors += 1
            absu = _crawlable_href(href, base_url)
            if absu is None or absu in seen:
                continue
            seen.add(absu)
            outlinks.append(absu)
    return {
        "title": title,
        "description": description,
        "canonical": canonical,
        "og_title": og_title,
        "og_description": og_desc,
        "charset": charset,
        "outlinks": outlinks,
        "n_anchors": n_anchors,
        "robots": robots,
    }


def extract_page_meta(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """pages → pages + metadata columns, as ONE
    :func:`~html_parser_spark.spark.pipeline.kernel_stage`."""
    return kernel_stage(
        pages,
        extract_meta,
        PAGE_META_TYPE,
        html_col=html_col,
        args=(f"coalesce(`{url_col}`, '')",),
    )


def noindex_flags(pages_meta: DataFrame, robots_col: str = "robots") -> DataFrame:
    """+ ``noindex``/``nofollow`` (1/0) from the page's ``<meta
    name="robots">`` directive string (``extract_page_meta``'s ``robots``
    column, already lowercased by the kernel).

    REP meta tags are comma-separated case-insensitive tokens; ``none`` is
    the spec'd shorthand for ``noindex, nofollow``.  Absent tag → both 0
    (indexable is the default).  Pure JVM expressions — split + exists —
    zero Python, no shuffle."""
    toks = F.split(F.coalesce(F.col(robots_col), F.lit("")), "[,\\s]+")
    return pages_meta.withColumn(
        "noindex",
        F.exists(toks, lambda t: t.isin("noindex", "none")).cast("int"),
    ).withColumn(
        "nofollow",
        F.exists(toks, lambda t: t.isin("nofollow", "none")).cast("int"),
    )


def noindex_filter(pages_meta: DataFrame, robots_col: str = "robots") -> DataFrame:
    """Drop pages whose robots meta forbids indexing — the page-level twin
    of the host-level robots.txt gate (``ops/robots.robots_filter``); a
    curation pipeline honoring site operators needs BOTH.  Schema-
    preserving; narrow filter, composes with any downstream op."""
    return (
        noindex_flags(pages_meta, robots_col)
        .filter(F.col("noindex") == 0)
        .drop("noindex", "nofollow")
    )


ANCHORS_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("href", T.StringType()), T.StructField("text", T.StringType())]
    )
)


def extract_page_anchors(html_bytes: bytes, base_url: str) -> list[dict]:
    """One page → [(absolutized href, collapsed anchor text)] in doc order
    (crawlable http(s) edges only; same skip rules as ``extract_meta`` but
    duplicates kept — each anchor occurrence is one vote of anchor text)."""
    from html_parser_spark.dom import decode_html_bytes, parse_html

    root = parse_html(decode_html_bytes(html_bytes if html_bytes else b""))
    out: list[dict] = []
    for el in root.iter_elements():
        if el.tag != "a":
            continue
        absu = _crawlable_href(el.attrs.get("href"), base_url)
        if absu is None:
            continue
        out.append({"href": absu, "text": _collapse(el.text_content)})
    return out


def _anchors_row(html_bytes: bytes, base_url: str) -> dict:
    return {"anchors": extract_page_anchors(html_bytes, base_url)}


def extract_anchors(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """pages → pages + ``anchors`` array<struct<href, text>>, as ONE
    :func:`~html_parser_spark.spark.pipeline.kernel_stage`; feeds
    ``anchor_text_stats``."""
    return kernel_stage(
        pages,
        _anchors_row,
        T.StructType([T.StructField("anchors", ANCHORS_TYPE)]),
        html_col=html_col,
        args=(f"coalesce(`{url_col}`, '')",),
    )


def anchor_text_stats(
    pages_with_anchors: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Aggregate what the web SAYS about each target url: per distinct
    href, the number of anchor occurrences, the number of distinct source
    hosts, and the sorted distinct anchor texts.

    Scale shape: explode (narrow) → ONE groupBy(dst) with map-side
    partial aggregation; anchor-text sets are per-target and small
    (dedup + sort happens on the aggregated set, never via a window)."""
    src_host = F.parse_url(F.col(url_col), F.lit("HOST"))
    ex = pages_with_anchors.select(
        src_host.alias("src_host"), F.explode("anchors").alias("a")
    ).select(
        "src_host",
        F.col("a.href").alias("dst"),
        F.col("a.text").alias("text"),
    )
    return ex.groupBy("dst").agg(
        F.count("*").cast("long").alias("n_anchors"),
        F.countDistinct("src_host").cast("long").alias("n_src_hosts"),
        F.sort_array(F.collect_set("text")).alias("anchor_texts"),
    )


def jsonld_blocks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Extract schema.org JSON-LD: one row per
    ``<script type="application/ld+json">`` block with the raw JSON plus
    the parsed @type and @context.

    JVM-side end-to-end: the block cut is one dotall regexp over the
    decoded html, @type/@context come out with ``get_json_object`` (Spark's
    built-in JSON path engine — no Python, malformed JSON yields NULL
    fields but the raw block still surfaces for downstream repair).

    Decode is ``cast(binary as string)``, NOT ``decode(..., 'UTF-8')``:
    under Spark 4's default ANSI mode ``decode`` throws
    MALFORMED_CHARACTER_CODING on the first non-UTF-8 page (e.g. a
    windows-1251 crawl page) and kills the whole job; the cast wraps the
    bytes leniently and the regexp still finds ASCII script tags."""
    body = F.col(html_col).cast("string")
    blocks = F.regexp_extract_all(
        body,
        F.lit(
            r'(?is)<script[^>]*type="application/ld\+json"[^>]*>(.*?)</script>'
        ),
        F.lit(1),
    )
    other = [c for c in pages.columns if c != html_col]
    ex = pages.select(*other, F.posexplode(blocks).alias("block_idx", "raw_json"))
    raw = F.trim(F.col("raw_json"))
    return ex.select(
        *other,
        "block_idx",
        raw.alias("raw_json"),
        F.get_json_object(raw, "$['@type']").alias("schema_type"),
        F.get_json_object(raw, "$['@context']").alias("schema_context"),
    )


def text_outlinks(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """URL mining from PLAIN TEXT — the link extractor for WET-style
    corpora where the HTML (and hence ``extract_anchors``) is gone but
    the prose still cites urls.  Returns exploded (doc_id, url) with
    trailing sentence punctuation trimmed (the classic 'https://x.com/.'
    artifact of urls ending a sentence).

    Both regexes are literal character classes (Java regex ≡ RE2, ≡
    DuckDB), so the oracle replays them verbatim.  ONE codegen
    projection + explode — no UDF, no shuffle; dedup/graph building is
    the caller's next groupBy."""
    urls = F.regexp_extract_all(
        F.col(text_col), F.lit("""https?://[^\\s<>"')]+"""), 0
    )
    trimmed = F.transform(
        urls, lambda u: F.regexp_replace(u, r"[.,;:!?]+$", "")
    )
    out_col = "url" if id_col != "url" else "out_url"
    return docs.select(
        id_col, F.explode(trimmed).alias(out_col)
    ).filter(F.length(out_col) > F.lit(8))
