"""URL / domain operators for web-scale corpus curation.

Everything here is JVM-side column expressions (``parse_url`` /
``regexp_extract`` / aggregates — whole-stage codegen, no Python), because
these run over EVERY url of a 10^12-document crawl:

* ``url_parts``     — scheme/host/path/query + registered-domain columns;
* ``domain_stats``  — per-host doc/byte accounting + corpus share (the
  skew audit: crawls are zipfian by host, and the top hosts ARE the skewed
  shuffle keys every downstream groupBy-by-domain must plan for);
* ``host_blocklist_filter`` — drop documents from blocked hosts via a
  broadcast LEFT ANTI join (a blocklist is a few MB even with millions of
  hosts — never a shuffle).

``registered_domain`` uses the last-two-labels heuristic.
``registered_domain_psl`` does real longest-suffix matching against the
bundled public-suffix snapshot (``resources/public_suffix_list.dat``,
~1.9k suffixes: all ccTLDs, their standard second-level registration
labels, common gTLDs, and the usual private-section hosting suffixes);
pass the full upstream PSL via the ``psl`` argument to widen coverage.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import lru_cache

from pyspark.sql import DataFrame, functions as F

_REG_DOMAIN_RE = r"([^.]+\.[^.]+)$"


def url_parts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add (scheme, host, path, query, registered_domain) parsed from
    ``url_col``.  ``parse_url`` is a single JVM expression per part; query
    is NULL when the url has none (no empty-string smoothing — downstream
    filters distinguish "no query" from "?")."""
    u = F.col(url_col)
    host = F.parse_url(u, F.lit("HOST"))
    return df.select(
        "*",
        F.parse_url(u, F.lit("PROTOCOL")).alias("scheme"),
        host.alias("host"),
        F.parse_url(u, F.lit("PATH")).alias("path"),
        F.parse_url(u, F.lit("QUERY")).alias("query"),
        F.regexp_extract(host, _REG_DOMAIN_RE, 1).alias("registered_domain"),
    )


def domain_stats(
    df: DataFrame, host_col: str = "host", bytes_col: str | None = None
) -> DataFrame:
    """Per-host accounting: (host, n_docs, total_bytes, doc_share).

    ONE shuffle on host with map-side partial aggregation; the corpus
    totals come from a window over the (already tiny) aggregate, not a
    second pass over the data.  At crawl scale host cardinality is ~1e7 —
    a small aggregate — while the per-host row counts are zipfian; AQE
    skew-split handles the head hosts' partial-agg partitions."""
    from pyspark.sql import Window

    nbytes = (
        F.sum(F.length(F.col(bytes_col))) if bytes_col else F.lit(0)
    ).cast("long")
    agg = df.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("n_docs"), nbytes.alias("total_bytes")
    )
    w = Window.partitionBy()  # over the aggregate only (|hosts| rows)
    return agg.select(
        "host",
        "n_docs",
        "total_bytes",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("doc_share"),
    )


def host_blocklist_filter(
    df: DataFrame, blocked_hosts: Iterable[str] | DataFrame, host_col: str = "host"
) -> DataFrame:
    """Drop rows whose host is blocklisted: broadcast LEFT ANTI join.

    Accepts a plain iterable (materialized to a one-column frame) or an
    existing DataFrame with a ``host`` column.  The broadcast hint keeps
    this a map-side hash anti-join — zero shuffle of the big side."""
    if isinstance(blocked_hosts, DataFrame):
        bl = blocked_hosts.select(F.col("host").alias("_blocked_host"))
    else:
        hosts = list(blocked_hosts)
        if not hosts:
            return df  # empty blocklist blocks nothing (and createDataFrame
            #            cannot infer a schema from an empty dataset)
        spark = df.sparkSession
        bl = spark.createDataFrame(
            [(h,) for h in hosts], "_blocked_host string"
        )
    return df.join(
        F.broadcast(bl),
        on=F.col(host_col) == F.col("_blocked_host"),
        how="left_anti",
    )


def canonicalize_url(url) -> "F.Column":
    """Canonical url for crawl-level url dedup: lowercase scheme+authority,
    strip the fragment, strip default ports (:80 http / :443 https), and
    normalize an empty path to '/'.  Pure column expressions — this runs
    per-capture over the whole crawl, so it must stay in codegen.

    Query strings are preserved verbatim (param re-ordering changes
    semantics on enough real sites that crawlers keep them as-is)."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    auth = F.lower(F.parse_url(u, F.lit("AUTHORITY")))
    auth = F.when(
        scheme == "http", F.regexp_replace(auth, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(auth, ":443$", "")
    ).otherwise(auth)
    path = F.parse_url(u, F.lit("PATH"))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.parse_url(u, F.lit("QUERY"))
    canon = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(query.isNotNull(), F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    # non-absolute / unparseable identifiers (relative paths, bare ids) pass
    # through verbatim — a NULL canon would collapse every such row onto ONE
    # dedup key, silently merging unrelated documents
    return F.when(scheme.isNotNull() & auth.isNotNull(), canon).otherwise(u)


def surt_key(url) -> "F.Column":
    """SURT (Sort-friendly URI Reordering Transform) key — the string CDX
    capture indexes sort and prefix-scan by: reversed host labels joined
    by commas, then ``)`` and the path, e.g.
    ``com,example)/a/b?a=1&b=2``.  Reversing the host puts every
    subdomain of a registered domain in one contiguous key range, so
    "all captures under ``*.example.com``" is a RANGE SCAN (partition
    prune + sorted-file skip) instead of a suffix-match over 10^12 keys.

    Canonicalization applied (the common CDX flavor, documented here as
    the contract): lowercase everything; strip one leading ``www.``
    label; port dropped (``parse_url HOST`` excludes it); empty path →
    ``/``; query parameters sorted bytewise so param order doesn't split
    a url across keys.  Unparseable / relative identifiers pass through
    lowercased — NULL keys would collapse them onto one range.  Pure
    column expressions: stays in whole-stage codegen at crawl scale."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.parse_url(u, F.lit("PATH")))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.lower(F.parse_url(u, F.lit("QUERY")))
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    key = F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(query.isNotNull(), F.concat(F.lit("?"), qsorted)).otherwise(
            F.lit("")
        ),
    )
    return F.when(host.isNotNull() & (host != ""), key).otherwise(F.lower(u))


def latest_capture(
    df: DataFrame, url_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """Crawl-capture dedup: keep the NEWEST capture per url (Common Crawl
    re-fetches urls across monthly crawls; extraction wants one row/url).

    groupBy(url).max(struct(ts, other cols)) — struct ordering compares the
    timestamp first, remaining columns break exact-ts ties
    deterministically.  Partial aggregation keeps only the current maximum
    per url per map task, so the shuffle carries one row per (url,
    partition) — strictly cheaper than the row_number window, which must
    shuffle and sort EVERY capture.  Column order (and so tie-break order)
    follows the input schema."""
    others = [c for c in df.columns if c not in (url_col, ts_col)]
    agg = df.groupBy(url_col).agg(
        F.max(F.struct(ts_col, *others)).alias("_r")
    )
    return agg.select(url_col, *[F.col(f"_r.{c}").alias(c) for c in (ts_col, *others)])


def domain_cap(
    df: DataFrame,
    max_per_host: int,
    host_col: str = "host",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Domain diversification cap (the FineWeb/CCNet curation rule): keep
    at most ``max_per_host`` documents per host so zipfian mega-hosts
    cannot dominate a training mix.  Selection is a deterministic md5
    ranking of ``salt || id`` — id-stable across runs, partitionings, and
    engines (never ``ORDER BY rand()``), and changing the salt draws an
    independent sample.

    Scale shape: row_number over Window.partitionBy(host) with the
    ``rank <= N`` filter directly on top, which Spark rewrites to
    WindowGroupLimit — each map task keeps only its local top-N per host
    BEFORE the shuffle, so the exchange carries O(hosts × N), not every
    capture (the plan audit pins the rewrite).  Zipf-head hosts therefore
    cost the same as any other host.  Adds a ``host_rank`` column
    (1-based, stable) to the surviving rows."""
    if max_per_host <= 0:
        raise ValueError("max_per_host must be positive")
    from pyspark.sql import Window

    key = F.md5(
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(host_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= int(max_per_host))
    )


def canonical_dedup(
    df: DataFrame,
    url_col: str = "url",
    canonical_col: str = "canonical",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """``rel=canonical`` capture election: the page-declared complement of
    :func:`latest_capture`.  Captures whose ``<link rel=canonical>``
    (extracted by ops/html_meta) points at the same target are one logical
    document — print views, tracking-parameter variants, mobile mirrors —
    and curation wants ONE representative per target.

    Election order within a canonical group (``coalesce(canonical, url)``;
    a page without a canonical is its own group): (1) a SELF-canonical
    capture — the page the site itself says is authoritative — then
    (2) the newest capture, then (3) every remaining input column
    ascending, so the pick is a deterministic total order however ties
    fall.

    Scale shape: ONE groupBy with a struct-min aggregate — partial
    aggregation keeps one candidate per group per map task, so the shuffle
    carries one row per (group, partition); no window, no sort of the full
    capture set.  Returns (canonical_url, n_captures, url, <ts_col>,
    <other input columns>)."""
    others = [c for c in df.columns if c not in (url_col, canonical_col, ts_col)]
    d = df.select(
        F.coalesce(F.col(canonical_col), F.col(url_col)).alias("canonical_url"),
        *df.columns,
    )
    rank = F.struct(
        F.when(F.col(url_col) == F.col("canonical_url"), 0)
        .otherwise(1)
        .alias("_nself"),
        (-F.unix_micros(F.col(ts_col))).alias("_negts"),
        F.col(url_col).alias("_url"),
        F.col(ts_col).alias("_ts"),
        *[F.col(c).alias(f"_o_{c}") for c in others],
    )
    agg = d.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_captures"), F.min(rank).alias("_r")
    )
    return agg.select(
        "canonical_url",
        "n_captures",
        F.col("_r._url").alias(url_col),
        F.col("_r._ts").alias(ts_col),
        *[F.col(f"_r._o_{c}").alias(c) for c in others],
    )


@lru_cache(maxsize=1)
def load_psl() -> "tuple[str, ...]":
    """Parse the bundled public-suffix snapshot (upstream PSL file format:
    one suffix per line, ``//`` comments).  Wildcard (``*.``) and
    exception (``!``) rules are skipped — the snapshot is authored without
    them and the matcher does exact-suffix matching only (documented
    deviation; the handful of upstream wildcard TLDs are expanded to their
    common second-levels in the snapshot instead).  Loaded through
    importlib.resources so executors importing the package from the
    --py-files zip read it too (plain open() on a path fails under
    zipimport — same pattern as resources.py's TAGS)."""
    import importlib.resources as _ir

    text = (
        _ir.files("html_parser_spark")
        .joinpath("resources/public_suffix_list.dat")
        .read_text("utf-8")
    )
    out = []
    for line in text.splitlines():
        s = line.strip()
        if not s or s.startswith("//") or s.startswith(("!", "*.")):
            continue
        out.append(s)
    return tuple(out)


# kept as the documented swap point: registered_domain_psl(col, psl=...)
# accepts any iterable of suffixes (e.g. the full upstream PSL)
DEFAULT_PSL = load_psl()


def registered_domain_psl(host, psl: "list[str] | None" = None) -> "F.Column":
    """Registered domain via LONGEST public-suffix match ('a.b.example.co.uk'
    → 'example.co.uk'), falling back to the last-2-labels heuristic when no
    suffix matches.  Default suffix set = the bundled ~1.9k-entry snapshot
    (``load_psl``); pass ``psl`` to swap in the full upstream list.

    The suffix set rides the plan as ONE array literal probed with
    ``array_contains`` — pure codegen, zero shuffle, zero join; even the
    full real PSL (~10k entries, ~200 KB) is cheaper as plan literal than
    as a per-row join.  Candidate suffixes are the host's last 1..4 labels
    (no public suffix has more; longest match wins, per PSL semantics)."""
    u = F.col(host) if isinstance(host, str) else host
    # F.lit(list) → a single ArrayType literal (one expression), not one
    # Literal node per suffix — keeps the plan tree small at 1.9k entries
    psl_arr = F.lit(list(psl) if psl is not None else list(DEFAULT_PSL))
    labels = F.split(u, r"\.")
    n = F.size(labels)
    # candidate suffixes: last k labels, k = 1..min(4, n) (k = n covers a
    # host that IS a bare public suffix; sequence() must never run 1..0,
    # which Spark treats as a DESCENDING range)
    cands = F.transform(
        F.sequence(F.lit(1), F.greatest(F.least(F.lit(4), n), F.lit(1))),
        lambda k: F.concat_ws(".", F.slice(labels, n - k + 1, 4)),
    )
    matched = F.filter(cands, lambda c: F.array_contains(psl_arr, c))
    # longest match = max by label count (struct ordering: count first)
    best = F.array_max(
        F.transform(
            matched,
            lambda m: F.struct(F.size(F.split(m, r"\.")).alias("k"), m.alias("s")),
        )
    )
    reg = F.concat_ws(".", F.slice(labels, n - best["k"], best["k"] + 1))
    fallback = F.regexp_extract(u, _REG_DOMAIN_RE, 1)
    has = F.size(matched) > 0
    return (
        F.when(has & (n > best["k"]), reg)
        .when(has, u)  # the host IS a public suffix: no registrable part
        .otherwise(fallback)
    )


def sitemap_urls(sitemaps: DataFrame, body_col: str = "body") -> DataFrame:
    """(host, sitemap xml body) → one row per ``<loc>`` entry.

    Handles both document kinds with one pattern: ``<urlset>`` entries
    (page urls) and ``<sitemapindex>`` entries (child sitemap urls) both
    carry their target inside ``<loc>…</loc>``; ``kind`` tells them apart
    via the enclosing tag.  Pure ``regexp_extract_all`` + explode —
    JVM-side, codegen, zero Python; the explode is narrow (no shuffle).
    XML namespaces/attributes need no handling: ``<loc>`` never carries
    attributes in the sitemap schema."""
    locs = F.regexp_extract_all(
        F.col(body_col), F.lit(r"<loc>\s*([^<]*?)\s*</loc>"), F.lit(1)
    )
    kind = F.when(
        F.col(body_col).contains("<sitemapindex"), F.lit("sitemap")
    ).otherwise(F.lit("url"))
    other = [c for c in sitemaps.columns if c != body_col]
    return sitemaps.select(
        *other, kind.alias("kind"), F.explode(locs).alias("loc")
    )


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    content_col: str = "html",
) -> DataFrame:
    """Two crawl snapshots → per-url (status, old_md5, new_md5) where
    status ∈ added | removed | changed | unchanged.

    The incremental-crawl primitive: ONE full-outer equi-join on url over
    md5 digests (computed map-side, so the shuffle carries 32-byte hashes
    instead of page bodies — at crawl scale that is the difference between
    shuffling 100 TB and shuffling ~3 TB).  Feed the 'added'+'changed'
    subset to the extraction pipeline to process only what moved."""
    o = old.select(
        F.col(url_col).alias("url"), F.md5(F.col(content_col)).alias("old_md5")
    )
    n = new.select(
        F.col(url_col).alias("url"), F.md5(F.col(content_col)).alias("new_md5")
    )
    j = o.join(n, "url", "full_outer")
    return j.select(
        "url", diff_status("old_md5", "new_md5").alias("status"),
        "old_md5", "new_md5",
    )


def diff_status(old_md5="old_md5", new_md5="new_md5"):
    """The crawl-diff status expression, shared by the batch full-outer
    join and the stream-static twin (where the 'removed' branch can never
    fire — a stream observes arrivals, not absences): one definition so
    batch and stream can't drift."""
    o, nw = F.col(old_md5), F.col(new_md5)
    return (
        F.when(o.isNull(), F.lit("added"))
        .when(nw.isNull(), F.lit("removed"))
        .when(o == nw, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )


def recrawl_priority(
    captures: DataFrame,
    asof_ts: int,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    body_col: str = "body",
    min_interval_sec: int = 86400,
    max_interval_sec: int = 30 * 86400,
) -> DataFrame:
    """Change-rate-aware recrawl scheduling (Cho & Garcia-Molina 2003's
    uniform-vs-proportional insight, integer-exact): estimate each url's
    inter-change interval from its capture history and derive when it is
    next due.

    Per url over its sorted captures: ``n_changes`` counts consecutive
    capture pairs whose body md5 differs; ``est_change_sec`` is
    ``span_sec / max(n_changes, 1)`` (integer division) clamped to
    [``min_interval_sec``, ``max_interval_sec``] — a page never seen to
    change estimates its full observed span (stability is only proven
    over that span; long stable histories clamp to the max interval),
    a churning page clamps to the min;
    ``next_due_ts = last_ts + est_change_sec``; ``overdue_sec`` is relative
    to the caller-supplied ``asof_ts`` (an explicit epoch argument, never
    now(): schedules must be reproducible across engines and re-runs).

    Returns (url, n_captures, n_changes, last_ts, est_change_sec,
    next_due_ts, overdue_sec) — all BIGINT, no floats anywhere, so every
    engine agrees bit-for-bit.

    Scale: md5 digests are computed BEFORE the groupBy so the shuffle
    carries (ts, 32-byte hash) pairs, never bodies.  ONE partial-agg
    groupBy(url); per-url capture counts are bounded by crawl revisit
    counts (tens), so the collected arrays are tiny and there is NO window
    function — change counting is a JVM ``zip_with`` over the sorted
    array against itself shifted by one.  Priority is a per-url value:
    callers needing "top k most overdue" compute it without any global
    sort here.
    """
    cap = captures.select(
        F.col(url_col).alias("url"),
        F.struct(
            F.col(ts_col).cast("timestamp").cast("long").alias("ts"),
            F.md5(F.encode(F.col(body_col).cast("string"), "UTF-8")).alias(
                "digest"
            ),
        ).alias("c"),
    )
    per = cap.groupBy("url").agg(F.array_sort(F.collect_list("c")).alias("caps"))
    n = F.size("caps")
    prev = F.slice("caps", 1, n - 1)
    nxt = F.slice("caps", 2, n - 1)
    changes = F.size(
        F.filter(
            F.zip_with(prev, nxt, lambda a, b: a["digest"] != b["digest"]),
            lambda x: x,
        )
    ).cast("long")
    first_ts = F.element_at("caps", 1)["ts"]
    last_ts = F.element_at("caps", -1)["ts"]
    span = last_ts - first_ts
    denom = F.greatest(changes, F.lit(1).cast("long"))
    # exact integer quotient: subtract the modulus first so the double
    # division is of an exact multiple (always representable), then cast —
    # a bare span/denom would round in binary before the truncation
    quot = ((span - F.pmod(span, denom)) / denom).cast("long")
    est = F.least(
        F.greatest(quot, F.lit(int(min_interval_sec)).cast("long")),
        F.lit(int(max_interval_sec)).cast("long"),
    )
    next_due = last_ts + est
    return per.select(
        "url",
        n.cast("long").alias("n_captures"),
        changes.alias("n_changes"),
        last_ts.alias("last_ts"),
        est.alias("est_change_sec"),
        next_due.alias("next_due_ts"),
        (F.lit(int(asof_ts)) - next_due).cast("long").alias("overdue_sec"),
    )


# (19|20)YY-MM-DD with month/day ranges enforced IN the regex, so both
# engines agree on what is a date-shaped string BEFORE the calendar cast;
# plain character classes + non-capturing groups only — identical under
# Java regex and RE2.
_ISO_DATE_RE = r"((?:19|20)\d\d-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01]))"
_URL_DATE_RE = (
    r"/((?:19|20)\d\d)/(0[1-9]|1[0-2])/(0[1-9]|[12]\d|3[01])(?:/|$)"
)
_PUB_META_RE = (
    r'<meta[^>]*property="article:published_time"[^>]*content="'
    + _ISO_DATE_RE
)
_PUB_TIME_RE = r'<time[^>]*datetime="' + _ISO_DATE_RE
_PUB_JSONLD_RE = r'"datePublished"\s*:\s*"' + _ISO_DATE_RE


def publication_dates(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Publication-date extraction — the temporal axis of a training
    corpus (knowledge-cutoff filtering, time-sliced evaluation sets,
    freshness-weighted mixing all need a per-document date).

    Pure-codegen regexp priority chain, first hit wins:

    1. ``meta``   — ``<meta property="article:published_time"
       content="ISO…">`` (the Open Graph article tag, the most reliable
       in-page signal);
    2. ``time``   — the first ``<time datetime="ISO…">`` element;
    3. ``jsonld`` — a ``"datePublished": "ISO…"`` pair (schema.org
       Article JSON-LD, matched textually — no JSON parse needed for a
       date-shaped literal);
    4. ``url``    — a ``/YYYY/MM/DD/`` path segment (the blog/CMS
       permalink convention).

    The date-shape regex enforces month/day ranges so both engines agree
    before any cast; the final ``try_to_date`` round-trip additionally
    nulls regex-valid but calendar-invalid dates (2023-02-30) —
    identically to DuckDB's ``TRY_CAST`` (oracle-pinned).  ``pub_src`` reports which
    rule fired ('none' if none did) even when the matched string fails
    the calendar check, so extraction QA can distinguish "no signal"
    from "damaged signal".

    Scale shape: one pure-codegen projection — zero shuffle, zero
    Python; the regexes are anchored scans over the page prefix the JVM
    executes inside whole-stage codegen.  Returns (url, pub_date STRING
    yyyy-MM-dd or NULL, pub_src).
    """
    html = F.col(html_col).cast("string")
    url = F.col(url_col)
    m_meta = F.regexp_extract(html, _PUB_META_RE, 1)
    m_time = F.regexp_extract(html, _PUB_TIME_RE, 1)
    m_jsonld = F.regexp_extract(html, _PUB_JSONLD_RE, 1)
    g1 = F.regexp_extract(url, _URL_DATE_RE, 1)
    m_url = F.when(
        g1 != "",
        F.concat(
            g1,
            F.lit("-"),
            F.regexp_extract(url, _URL_DATE_RE, 2),
            F.lit("-"),
            F.regexp_extract(url, _URL_DATE_RE, 3),
        ),
    ).otherwise(F.lit(""))
    raw = (
        F.when(m_meta != "", m_meta)
        .when(m_time != "", m_time)
        .when(m_jsonld != "", m_jsonld)
        .when(m_url != "", m_url)
    )
    src = (
        F.when(m_meta != "", F.lit("meta"))
        .when(m_time != "", F.lit("time"))
        .when(m_jsonld != "", F.lit("jsonld"))
        .when(m_url != "", F.lit("url"))
        .otherwise(F.lit("none"))
    )
    return pages.select(
        url.alias("url"),
        F.date_format(F.try_to_date(raw, "yyyy-MM-dd"), "yyyy-MM-dd").alias(
            "pub_date"
        ),
        src.alias("pub_src"),
    )


def date_cutoff_filter(
    dated: DataFrame,
    cutoff: str,
    date_col: str = "pub_date",
    keep_undated: bool = True,
) -> DataFrame:
    """Knowledge-cutoff gate over :func:`publication_dates` output: keep
    documents dated on/before ``cutoff`` ('yyyy-MM-dd').  ``keep_undated``
    decides the policy for NULL dates (most corpus recipes keep undated
    docs and let quality gates judge them; strict temporal eval splits
    drop them).  Pure filter — pushes down to the scan."""
    dated_ok = F.col(date_col) <= F.lit(cutoff)
    if keep_undated:
        return dated.filter(F.col(date_col).isNull() | dated_ok)
    return dated.filter(dated_ok)


def resolve_redirects(
    redirects: DataFrame, max_hops: int = 5
) -> DataFrame:
    """Redirect-chain resolution — collapse (src → dst) HTTP redirect
    edges to each source's FINAL target, the canonical pre-join before
    any URL-keyed dedup/merge (a corpus keyed on redirecting urls
    double-counts every moved page; WAT extracts carry exactly these
    edges).

    Semantics: follow the chain up to ``max_hops`` edges.  ``resolved``
    is true iff the terminus has no outgoing redirect; a chain still
    pointing at a redirecting url after the cap (including every cycle —
    a↔b never terminates) reports ``resolved = false`` with the url it
    got stuck at.  Multiple recorded redirects for one source (repeat
    captures) collapse deterministically to the min dst first.

    Scale shape: the next-hop map is one groupBy-min; each hop is ONE
    equi-join of the state table against it (state is one row per
    redirecting source, never per page), lineage truncated per hop.
    Browsers cap redirect chains (~5-20), so the LINEAR loop is the
    right plan; an unbounded-chain variant would pointer-double the map
    against itself (log₂ hops joins) — not needed under an HTTP-shaped
    cap.  Returns (src, final_url, hops, resolved)."""
    m = redirects.groupBy("src").agg(F.min("dst").alias("dst"))
    state = m.select(
        F.col("src").alias("url"),
        F.col("dst").alias("cur"),
        F.lit(1).alias("hops"),
    )
    nxt = m.select(F.col("src").alias("cur"), F.col("dst").alias("_n"))
    for _ in range(int(max_hops) - 1):
        state = (
            state.join(nxt, "cur", "left")
            .select(
                "url",
                F.coalesce("_n", F.col("cur")).alias("cur"),
                (
                    F.col("hops")
                    + F.when(F.col("_n").isNotNull(), 1).otherwise(0)
                ).alias("hops"),
            )
            .localCheckpoint(eager=False)
        )
    has_out = m.select(F.col("src").alias("cur"), F.lit(1).alias("_has"))
    return state.join(has_out, "cur", "left").select(
        F.col("url").alias("src"),
        F.col("cur").alias("final_url"),
        F.col("hops").cast("int").alias("hops"),
        F.col("_has").isNull().alias("resolved"),
    )


def url_survival(captures: DataFrame, snap_col: str = "snap") -> DataFrame:
    """URL survival by birth cohort — the link-rot / freshness planner's
    table: of the urls FIRST seen in snapshot ``b``, what fraction still
    appears ``age`` snapshots later?  (Public background: half the web's
    urls decay within a few years — crawl scheduling and recrawl budgets
    are sized off exactly this curve.)

    Input: (url, snap) capture observations, snap an integer snapshot
    index; duplicates within a snapshot are fine (DISTINCT'd).  Output
    one row per (birth_snap, age) that had at least one observation:
    (birth_snap, age, n_urls, survival_ppm) where survival_ppm =
    n_urls * 10^6 div cohort_size (age-0 rows read exactly 10^6).

    Scale shape: the one big shuffle is the per-url min (groupBy(url),
    map-side partial); the birth join back to captures reuses the url
    partitioning (AQE), and the cohort aggregate is tiny (snapshots²
    rows).  No window over the capture stream, no self-join of the full
    table."""
    obs = captures.select("url", F.col(snap_col).cast("long").alias("snap")).distinct()
    birth = obs.groupBy("url").agg(F.min("snap").alias("birth_snap"))
    aged = obs.join(birth, "url").select(
        "birth_snap", (F.col("snap") - F.col("birth_snap")).alias("age")
    )
    counts = aged.groupBy("birth_snap", "age").agg(
        F.count("*").cast("long").alias("n_urls")
    )
    cohort = counts.filter(F.col("age") == 0).select(
        F.col("birth_snap").alias("_b"), F.col("n_urls").alias("_size")
    )
    return (
        counts.join(F.broadcast(cohort), counts["birth_snap"] == F.col("_b"))
        .select(
            "birth_snap",
            "age",
            "n_urls",
            F.expr("n_urls * 1000000 div _size").alias("survival_ppm"),
        )
    )


def sitemap_coverage(declared: DataFrame, crawled: DataFrame) -> DataFrame:
    """Sitemap-vs-crawl coverage audit per host: how much of what each
    site DECLARES (robots_sitemaps → sitemap_urls) did the crawl actually
    fetch, and how much of the crawl was undeclared?  The discovery-gap
    report a crawl operator reads before re-budgeting a host.

    Inputs: two one-column url frames (``url``).  Output per host:
    (host, declared_n, crawled_n, both_n, declared_only_n, crawled_only_n,
    coverage_ppm) with coverage_ppm = both * 10^6 div declared (0 when
    the host declares nothing).

    Scale shape: NOT a full-outer join — each side is tagged and unioned,
    then ONE groupBy(url) with map-side max-partials merges the flags and
    ONE tiny groupBy(host) rolls up; at 10^12 urls that is a single wide
    shuffle on url (the join formulation shuffles both sides AND
    re-shuffles the joined rows for the host rollup)."""
    host = F.lower(F.regexp_extract(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    tagged = declared.select(
        "url", F.lit(1).alias("_d"), F.lit(0).alias("_c")
    ).unionByName(crawled.select("url", F.lit(0).alias("_d"), F.lit(1).alias("_c")))
    per_url = tagged.groupBy("url").agg(
        F.max("_d").alias("_d"), F.max("_c").alias("_c")
    )
    agg = per_url.select(host.alias("host"), "_d", "_c").groupBy("host").agg(
        F.sum("_d").cast("long").alias("declared_n"),
        F.sum("_c").cast("long").alias("crawled_n"),
        F.sum(F.col("_d") * F.col("_c")).cast("long").alias("both_n"),
    )
    return agg.select(
        "host",
        "declared_n",
        "crawled_n",
        "both_n",
        (F.col("declared_n") - F.col("both_n")).alias("declared_only_n"),
        (F.col("crawled_n") - F.col("both_n")).alias("crawled_only_n"),
        F.expr(
            "coalesce(both_n * 1000000 div nullif(declared_n, 0), 0)"
        ).alias("coverage_ppm"),
    )


def mirror_candidates(
    pages: DataFrame,
    df_cap: int = 100,
    min_shared: int = 2,
    url_col: str = "url",
) -> DataFrame:
    """Mirror-site detection by shared URL paths (Bharat & Broder 1999,
    "Mirror, mirror on the web"): two hosts serving many IDENTICAL paths
    (/docs/ch1.html on both) are mirror candidates — the dedup prior that
    catches mirrors BEFORE any content is fetched or compared, and the
    crawl-budget signal to fetch a mirrored tree once.

    Candidate generation: distinct (path, host) postings, a path-df cap
    dropping generic paths that almost every host serves ('/',
    '/index.html' — the stop-shingles of the path space; fan-out ≤ cap²
    per path after it), the posting
    self-join keyed on path with host_a < host_b, then Jaccard over the
    hosts' capped path sets in basis points.  Returns
    (host_a, host_b, shared_paths, jaccard_bp), shared ≥ ``min_shared``."""
    host = F.lower(F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    path = F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    postings = (
        pages.select(host.alias("host"), path.alias("path"))
        .filter((F.col("host") != "") & (F.col("path") != ""))
        .distinct()
    )
    df = postings.groupBy("path").agg(F.count("*").alias("_df"))
    capped = postings.join(
        df.filter(F.col("_df") <= df_cap).select("path"), "path"
    )
    sizes = capped.groupBy("host").agg(F.count("*").cast("long").alias("_n"))
    a = capped.select(F.col("host").alias("host_a"), "path")
    b = capped.select(F.col("host").alias("host_b"), "path")
    shared = (
        a.join(b, "path")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("shared_paths"))
        .filter(F.col("shared_paths") >= int(min_shared))
    )
    sa = sizes.select(F.col("host").alias("host_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("host").alias("host_b"), F.col("_n").alias("_nb"))
    return (
        shared.join(sa, "host_a")
        .join(sb, "host_b")
        .select(
            "host_a",
            "host_b",
            "shared_paths",
            F.expr(
                "shared_paths * 10000 div (_na + _nb - shared_paths)"
            ).alias("jaccard_bp"),
        )
    )
