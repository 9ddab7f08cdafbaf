"""robots.txt parsing + crawl-politeness filtering.

A crawl corpus must honor per-host robots rules before pages enter the
corpus.  Two halves, both JVM-side end-to-end (zero Python):

* ``parse_robots``: robots.txt *bodies* (one row per host, as fetched by
  the crawler) → normalized rule rows (host, agent, rule, path_prefix).
  Group association — a rule belongs to the ``User-agent:`` line above
  it — is a running ``last(..., ignorenulls)`` window over the file's
  line positions, per host: a per-file stateful scan expressed as a
  window, not a UDF.  Simplification vs RFC 9309: stacked user-agent
  lines ("User-agent: a\\nUser-agent: b\\nDisallow: /x" applying to
  both) attribute to the nearest agent line only, and ``*``/``$``
  pattern wildcards are treated as literals (the original 1994 prefix
  semantics); both are documented deviations.

* ``robots_verdict`` / ``robots_filter``: pages × rules → per-url
  allow/deny with the modern precedence rule: the LONGEST matching
  prefix wins; on a length tie, Allow beats Disallow.  No matching rule
  means allowed.  Group selection follows RFC 9309 §2.2.1: a crawler
  with a specific agent uses that agent's rules where the host defines
  them and falls back to the ``*`` group for hosts that don't — never a
  merge of both groups.  Group *presence* is exact when the caller
  passes ``groups=robots_groups(robots)`` (declared ``User-agent:``
  lines); from rules alone a group whose only content is no-op
  directives (empty Disallow, a lone Crawl-delay) is invisible and
  falls back to ``*`` — a documented deviation the groups channel
  removes.

Scale: the rules table is one row per (host, rule) — orders of magnitude
smaller than the pages table.  The verdict is a host equi-join (AQE
handles hot-host skew) followed by a per-url max over struct(prefix_len,
is_allow) — a partial-aggregatable groupBy, never a window over pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_DIRECTIVE_RE = r"^([A-Za-z-]+)\s*:"
_VALUE_RE = r"^[A-Za-z-]+\s*:\s*(.*?)\s*$"


def _agent_grouped_directives(
    robots: DataFrame, host_col: str, body_col: str, directives: tuple[str, ...]
) -> DataFrame:
    """(host, body) → (host, agent, directive, value) rows for the asked
    ``directives``, each attributed to the nearest preceding
    ``User-agent:`` line (running last-non-null window per host)."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(body_col), "\n")).alias("pos", "line"),
    ).select(
        "host",
        "pos",
        F.trim(F.regexp_replace("line", "#.*$", "")).alias("line"),
    )
    parsed = lines.select(
        "host",
        "pos",
        F.lower(F.regexp_extract("line", _DIRECTIVE_RE, 1)).alias("directive"),
        F.regexp_extract("line", _VALUE_RE, 1).alias("value"),
    ).filter(F.col("directive").isin("user-agent", *directives))
    w = (
        Window.partitionBy("host")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = parsed.withColumn(
        "agent",
        F.last(
            F.when(F.col("directive") == "user-agent", F.lower(F.col("value"))),
            ignorenulls=True,
        ).over(w),
    )
    return grouped.filter(
        F.col("directive").isin(*directives) & F.col("agent").isNotNull()
    ).select("host", "agent", "directive", "value")


def parse_robots(
    robots: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """(host, body) → (host, agent, rule, path_prefix) rule rows.

    Comment stripping, case-insensitive directives, empty-Disallow
    dropped (an empty value means "allow everything" — it is the absence
    of a rule, not a rule)."""
    rows = _agent_grouped_directives(
        robots, host_col, body_col, ("allow", "disallow")
    )
    return rows.filter(F.col("value") != "").select(
        "host",
        "agent",
        F.col("directive").alias("rule"),
        F.col("value").alias("path_prefix"),
    )


def robots_groups(
    robots: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """(host, body) → distinct declared (host, agent) group pairs, read
    straight from the ``User-agent:`` lines.

    RFC 9309 §2.2.1 makes group *presence* independent of group *content*:
    ``User-agent: mybot\\nDisallow:`` declares a mybot group that allows
    everything, and mybot must use it — never fall back to ``*`` — even
    though the empty Disallow produces no rule row.  :func:`parse_robots`
    (by design, pinned by tests) emits only real rules, so deriving
    presence from surviving rules would make rule-less groups invisible;
    this frame is the presence channel.  Pass it as ``groups=`` to
    :func:`robots_verdict` / :func:`robots_filter` for exact RFC group
    selection; without it the verdict approximates presence from the rule
    rows themselves (documented deviation: a group whose only content is
    no-op directives falls back to ``*``)."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.explode(F.split(F.col(body_col), "\n")).alias("line"),
    ).select(
        "host", F.trim(F.regexp_replace("line", "#.*$", "")).alias("line")
    )
    parsed = lines.select(
        "host",
        F.lower(F.regexp_extract("line", _DIRECTIVE_RE, 1)).alias("directive"),
        F.lower(F.regexp_extract("line", _VALUE_RE, 1)).alias("agent"),
    )
    return (
        parsed.filter((F.col("directive") == "user-agent") & (F.col("agent") != ""))
        .select("host", "agent")
        .distinct()
    )


def crawl_delays(
    robots: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    agent: str = "*",
) -> DataFrame:
    """(host, body) → (host, crawl_delay_sec) for ``agent``, with the same
    RFC 9309 group selection as the verdicts (agent-specific group where
    the host defines one, else the ``*`` group).  Non-numeric values are
    dropped; several delay lines in the winning group keep the MAX
    (politest reading).  Integer seconds — fractional delays round up so
    a 0.5 never becomes a 0 (never politer-than-asked in reverse).

    Group presence comes from the declared ``User-agent:`` lines
    (:func:`robots_groups`), not from surviving delay rows: a host whose
    agent-specific group declares rules but no delay must yield NO delay
    for that agent (groups apply whole, never merged with ``*``)."""
    rows = _agent_grouped_directives(robots, host_col, body_col, ("crawl-delay",))
    delays = rows.select(
        "host",
        "agent",
        F.ceil(
            F.nullif(
                F.regexp_extract("value", r"^(\d+(?:\.\d+)?)", 1), F.lit("")
            ).cast("double")
        )
        .cast("int")
        .alias("crawl_delay_sec"),
    ).filter(F.col("crawl_delay_sec").isNotNull())
    picked = _rules_for_agent(
        delays, agent, groups=robots_groups(robots, host_col, body_col)
    )
    return picked.groupBy("host").agg(
        F.max("crawl_delay_sec").alias("crawl_delay_sec")
    )


def fetch_plan(
    pages: DataFrame,
    delays: DataFrame,
    default_delay_sec: int = 1,
    url_col: str = "url",
) -> DataFrame:
    """Per-host crawl schedule: (host, n_pages, crawl_delay_sec,
    est_fetch_sec) where est_fetch_sec = n_pages × delay — the politeness
    cost model a frontier scheduler feeds on (hosts whose estimate
    dominates the crawl window need re-budgeting, see ops/linkgraph
    crawl_budget).  ONE partial-agg groupBy over pages + an equi-join
    against the tiny per-host delay table — explicitly broadcast: delays
    is bounded by the robots corpus (hosts), never by pages, and the
    hint keeps the plan broadcast even when the delay subtree's Window
    parse defeats AQE's size estimate; integer arithmetic end-to-end."""
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    counts = pages.select(host.alias("host")).groupBy("host").agg(
        F.count("*").alias("n_pages")
    )
    out = counts.join(F.broadcast(delays), "host", "left").withColumn(
        "crawl_delay_sec",
        F.coalesce(F.col("crawl_delay_sec"), F.lit(default_delay_sec)),
    )
    return out.select(
        "host",
        "n_pages",
        "crawl_delay_sec",
        (F.col("n_pages") * F.col("crawl_delay_sec")).alias("est_fetch_sec"),
    )


def _rules_for_agent(
    rules: DataFrame, agent: str, groups: DataFrame | None = None
) -> DataFrame:
    """RFC 9309 §2.2.1 group selection: the requested agent's rules for
    hosts that define a group for it, the ``*`` group for hosts that
    don't.  Never a union of both.  The per-host "has a specific group"
    flag is a partial-aggregatable groupBy over the tiny rules table
    (or, exact per RFC, over the declared :func:`robots_groups` pairs
    when ``groups`` is given — rule-derived presence misses groups whose
    only content is no-op directives) joined back — pages are never
    touched here."""
    a = agent.lower()
    if a == "*":
        return rules.filter(F.col("agent") == "*")
    presence_src = groups if groups is not None else rules
    host_has = presence_src.groupBy("host").agg(
        F.max((F.col("agent") == a).cast("int")).alias("_has_specific")
    )
    # explicit broadcast: host_has is one row per robots host (bounded by
    # the robots corpus, never by pages) but sits behind a Window parse
    # whose size estimate would otherwise push the planner to a
    # sort-merge join
    return (
        rules.join(F.broadcast(host_has), "host")
        .filter(
            (F.col("agent") == a)
            | ((F.col("agent") == "*") & (F.col("_has_specific") == 0))
        )
        .drop("_has_specific")
    )


def robots_verdict(
    pages: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    groups: DataFrame | None = None,
) -> DataFrame:
    """pages + ``allowed`` flag (1/0) for ``agent`` under ``rules``.

    Longest-matching-prefix precedence, Allow wins length ties, absent
    host or no matching rule → allowed.  Rule-group choice per RFC 9309:
    agent-specific group where the host has one, else the ``*`` group —
    pass ``groups=robots_groups(robots)`` so presence is judged from the
    declared ``User-agent:`` lines (exact; a rule-less group still
    suppresses the ``*`` fallback); without it presence is approximated
    from the rule rows."""
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    path = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit("/"))
    keyed = pages.select(
        F.col(url_col).alias("_rurl"), host.alias("_rhost"), path.alias("_rpath")
    )
    rset = _rules_for_agent(rules, agent, groups=groups).select(
        F.col("host").alias("_rhost"),
        "rule",
        "path_prefix",
        F.length("path_prefix").alias("_plen"),
    )
    matched = (
        keyed.join(rset, "_rhost")
        .filter(F.col("_rpath").startswith(F.col("path_prefix")))
        .groupBy("_rurl")
        .agg(
            F.max(
                F.struct(
                    F.col("_plen").alias("l"),
                    (F.col("rule") == "allow").cast("int").alias("a"),
                )
            ).alias("best")
        )
        .select("_rurl", F.col("best.a").alias("_allow"))
    )
    out = pages.join(
        matched, pages[url_col] == matched["_rurl"], "left"
    ).drop("_rurl")
    return out.withColumn(
        "allowed", F.coalesce(F.col("_allow"), F.lit(1)).cast("int")
    ).drop("_allow")


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    groups: DataFrame | None = None,
) -> DataFrame:
    """Drop pages the rules disallow for ``agent``; schema-preserving.
    ``groups`` as in :func:`robots_verdict`."""
    return (
        robots_verdict(pages, rules, agent=agent, url_col=url_col, groups=groups)
        .filter(F.col("allowed") == 1)
        .drop("allowed")
    )


def robots_sitemaps(
    robots: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """(host, body) → (host, sitemap_url) — the ``Sitemap:`` discovery
    lines, the crawl frontier's entry point into :func:`~html_parser_spark.
    ops.web.sitemap_urls` parsing.

    Per RFC 9309 §2.3 the directive is GROUP-INDEPENDENT (it binds to the
    file, not to any User-agent group — unlike every rule
    :func:`_agent_grouped_directives` attributes), so this is a pure
    regexp_extract_all + narrow explode over the body: case-insensitive
    directive match, comments stripped per line, absolute url kept
    verbatim.  Zero Python, zero shuffle, no window — the per-host rule
    machinery is not involved at all."""
    urls = F.expr(
        rf"regexp_extract_all(regexp_replace({body_col}, '(?m)#.*$', ''), "
        rf"'(?im)^\\s*sitemap\\s*:\\s*(\\S+)', 1)"
    )
    return robots.select(
        F.col(host_col).alias("host"), F.explode(urls).alias("sitemap_url")
    )
