"""Host-level link graph + fixed-point PageRank.

``extract_page_meta`` (ops/html_meta.py) gives per-page outlinks; this
module turns them into a weighted host→host edge list and ranks hosts
with PageRank — the canonical crawl-frontier / quality prior for a
web-scale corpus.

Why fixed-point integer arithmetic: floating-point PageRank sums are
shuffle-order-dependent (fp addition is not associative), so two runs of
the same job — or the job vs an external oracle — can disagree in the
last ulps.  Working in integer "mass units" (total mass ``10**12`` split
over nodes, floor division everywhere) makes every iteration bit-exact,
partition-count-independent, and expressible in ANSI SQL — the DuckDB
oracle unrolls the same iterations and hash-matches exactly.

Scale shape per iteration: one equi-join of edges against ranks (edges
are the big side, rank/out-weight are per-node aggregates), one
groupBy-sum with map-side partial aggregation, and a 1-row broadcast for
the dangling mass.  Lineage is truncated per iteration with
``localCheckpoint`` (on a cluster: checkpoint to reliable storage) so the
plan does not grow with the iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOTAL_MASS = 10**12


def host_edges(
    meta: DataFrame, url_col: str = "url", outlinks_col: str = "outlinks"
) -> DataFrame:
    """(url, outlinks) → weighted (src, dst, weight) host-level edges.

    JVM-side end-to-end: explode + ``parse_url(HOST)`` + groupBy count.
    Self-loops (intra-host navigation) are dropped — they carry no
    inter-host signal and would dominate the weight mass on real sites."""
    src = F.parse_url(F.col(url_col), F.lit("HOST"))
    dst = F.parse_url(F.col("_out"), F.lit("HOST"))
    return (
        meta.select(src.alias("src"), F.explode(outlinks_col).alias("_out"))
        .select("src", dst.alias("dst"))
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("weight"))
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    total_mass: int = TOTAL_MASS,
    checkpoint: bool = True,
) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) in integer mass units.

    Per iteration, with ``N`` nodes and total mass ``S``::

        share(u→v) = (rank[u] * weight(u,v)) div w_out[u]
        dang       = Σ rank[u] over nodes with no outgoing edge
        rank'[v]   = ((den-num)*S) div (den*N)
                     + (num * (in_sum[v] + dang div N)) div den

    Every operation is exact 64-bit integer arithmetic (rank ≤ S = 1e12;
    ``rank*weight`` stays under 2^63 for edge weights below ~9e6 — far
    above any host-pair count after the groupBy).  Returns (node, rank)."""
    edges = edges.select("src", "dst", F.col("weight").cast("long").alias("weight"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    base = ((damping_den - damping_num) * total_mass) // (damping_den * n)
    outw = edges.groupBy("src").agg(F.sum("weight").alias("w_out"))
    ranks = nodes.withColumn("rank", F.lit(total_mass // n).cast("long"))
    for _ in range(iterations):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outw, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.expr("(rank * weight) div w_out")
                ).alias("in_sum")
            )
        )
        dang = (
            ranks.join(outw, ranks.node == outw.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dang"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_num} * (coalesce(in_sum, 0L)"
                        f" + (dang div {n}))) div {damping_den}"
                    )
                ).cast("long").alias("rank"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def trustrank_fixed_point(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    total_mass: int = TOTAL_MASS,
    checkpoint: bool = True,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): biased
    PageRank whose teleport vector is uniform over a hand-vetted SEED set
    instead of all nodes — trust flows outward from known-good hosts, so
    spam farms reachable only from other spam score ≈ 0.  The web-scale
    spam-demotion complement of ``pagerank_fixed_point``.

    Same exact fixed-point integer discipline as PageRank with N replaced
    by the seed count ``m`` and both the teleport base and the dangling
    redistribution gated to seed nodes::

        rank0[v]  = S div m                     if v ∈ seeds else 0
        rank'[v]  = [v ∈ seeds] * ((den-num)*S) div (den*m)
                    + (num * (in_sum[v] + [v ∈ seeds] * (dang div m))) div den

    Every step is 64-bit integer arithmetic — bit-exact, shuffle-order
    independent, oracle-matchable.  ``seeds`` is a (node) DataFrame; seeds
    absent from the graph are ignored.  Scale shape: identical to PageRank
    (per-iteration edge⋈rank equi-join + groupBy(dst) with map-side
    partials); the seed flag is ONE extra broadcast-sized join at init —
    the seed list is tiny by construction (human-vetted).
    Returns (node, rank)."""
    edges = edges.select(
        "src", "dst", F.col("weight").cast("long").alias("weight")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seed_nodes = F.broadcast(
        nodes.join(seeds.select("node").distinct(), "node", "left_semi")
    )
    m = seed_nodes.count()
    if m == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    flagged = nodes.join(
        seed_nodes.withColumn("_seed", F.lit(1)), "node", "left"
    ).select("node", F.coalesce("_seed", F.lit(0)).alias("_seed"))
    base = ((damping_den - damping_num) * total_mass) // (damping_den * m)
    outw = edges.groupBy("src").agg(F.sum("weight").alias("w_out"))
    ranks = flagged.select(
        "node",
        "_seed",
        F.when(F.col("_seed") == 1, F.lit(total_mass // m))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    for _ in range(iterations):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outw, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("(rank * weight) div w_out")).alias("in_sum"))
        )
        dang = (
            ranks.join(outw, ranks.node == outw.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dang"))
        )
        ranks = (
            flagged.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "_seed",
                (
                    F.when(F.col("_seed") == 1, F.lit(base)).otherwise(F.lit(0))
                    + F.expr(
                        f"({damping_num} * (coalesce(in_sum, 0L)"
                        f" + _seed * (dang div {m}))) div {damping_den}"
                    )
                ).cast("long").alias("rank"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")


def crawl_budget(
    ranks: DataFrame, budget_pages: int, rank_col: str = "rank"
) -> DataFrame:
    """Allocate a crawl budget proportionally to PageRank — the frontier
    prioritization step of the crawl loop.

    ``quota = (budget * rank) div total_rank`` in exact integer arithmetic
    (same fixed-point discipline as the rank itself: exact, order-free,
    oracle-matchable).  The product runs in DECIMAL(38,0): rank is bounded
    only by total mass 10^12, so an int64 product overflows — and under
    Spark 4's default ANSI mode ABORTS the job — once the page budget
    reaches ~10^7, an ordinary crawl size.  Total rank rides a 1-row
    broadcast; quotas sum to at most ``budget_pages`` (floor losses stay
    with the crawler)."""
    total = ranks.agg(
        F.sum(rank_col).cast("long").alias("_total_rank")
    )
    return ranks.crossJoin(F.broadcast(total)).select(
        *[c for c in ranks.columns],
        F.expr(
            f"CAST((CAST({budget_pages} AS DECIMAL(38,0)) * {rank_col})"
            f" div _total_rank AS BIGINT)"
        ).alias("quota"),
    )


def host_graph_stats(edges: DataFrame) -> DataFrame:
    """Per-host degree/weight profile + reciprocity — the cheap link-farm
    signals: farms show high out-degree with near-zero in-degree, rings
    show reciprocity ≈ out-degree.

    Scale shape: two partial-agg groupBys over the (small) edge table plus
    ONE self equi-join on the reversed key pair for reciprocity; nothing
    touches the pages table.  Returns (node, out_degree, in_degree,
    out_weight, in_weight, reciprocal_edges)."""
    out_stats = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("out_degree"),
        F.sum("weight").cast("long").alias("out_weight"),
    )
    in_stats = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("in_degree"),
        F.sum("weight").cast("long").alias("in_weight"),
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = (
        edges.select("src", "dst")
        .join(rev, ["src", "dst"])
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("reciprocal_edges"))
    )
    zero = F.lit(0).cast("long")
    return (
        out_stats.join(in_stats, "node", "full_outer")
        .join(recip, "node", "left")
        .select(
            "node",
            F.coalesce("out_degree", zero).alias("out_degree"),
            F.coalesce("in_degree", zero).alias("in_degree"),
            F.coalesce("out_weight", zero).alias("out_weight"),
            F.coalesce("in_weight", zero).alias("in_weight"),
            F.coalesce("reciprocal_edges", zero).alias("reciprocal_edges"),
        )
    )


def hits_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    total_mass: int = TOTAL_MASS,
    checkpoint: bool = True,
) -> DataFrame:
    """Weighted HITS (Kleinberg hubs/authorities) over (src, dst, weight)
    in integer mass units — the complement of PageRank for crawl curation:
    authorities surface content hosts, hubs surface directory/aggregator
    hosts (prime boilerplate/link-farm suspects even when their PageRank
    looks ordinary).

    Same fixed-point discipline as ``pagerank_fixed_point`` (see module
    docstring): float HITS sums are shuffle-order-dependent, so each
    half-step rescales to total mass ``S = 10**12`` with exact integer
    arithmetic instead of an L2 norm::

        auth_raw[v] = Σ_{u→v} hub[u]  * weight(u,v)
        auth[v]     = (auth_raw[v] * S) div Σ auth_raw          (BIGINT)
        hub_raw[u]  = Σ_{u→v} auth[v] * weight(u,v)
        hub[u]      = (hub_raw[u]  * S) div Σ hub_raw           (BIGINT)

    Products and running sums ride DECIMAL(38,0): with ranks bounded by S
    after every rescale, ``Σ raw ≤ S · Σ weight``, so the rescale product
    ``raw * S`` stays inside 38 digits while total edge weight is below
    ~10^14 — far past any host-graph weight mass.  The DuckDB oracle
    unrolls the identical iterations in HUGEINT and hash-matches EXACTLY.

    Scale shape per iteration: two (edges ⋈ per-node-rank) equi-joins with
    map-side partial-agg sums — edges are the only big side — plus two
    1-row broadcast totals; lineage truncated per iteration with
    ``localCheckpoint`` (cluster: reliable checkpoint).  Returns
    (node, auth, hub)."""
    edges = edges.select(
        "src", "dst", F.col("weight").cast("long").alias("weight")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    zero = F.lit(0).cast("long")
    if n == 0:
        return nodes.select("node", zero.alias("auth"), zero.alias("hub"))

    def _rescaled(raw: DataFrame, out_col: str) -> DataFrame:
        """(node, raw DECIMAL) → (node, out_col BIGINT) summing to ≤ S.
        Nodes absent from ``raw`` (no in-edges for auth / no out-edges for
        hub) get exact 0.  The total is a 1-row broadcast, never a window."""
        total = raw.agg(
            F.coalesce(F.sum("raw"), F.lit(0).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("_total")
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "node",
                F.when(F.col("_total") > 0, F.expr(
                    f"CAST((coalesce(raw, CAST(0 AS DECIMAL(38,0)))"
                    f" * {total_mass}) div _total AS BIGINT)"
                )).otherwise(zero).alias(out_col),
            )
        )

    hubs = nodes.withColumn("hub", F.lit(total_mass // n).cast("long"))
    auths = nodes.withColumn("auth", zero)
    for _ in range(iterations):
        auth_raw = (
            edges.join(hubs.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(F.expr("CAST(hub AS DECIMAL(38,0)) * weight"))
                .cast("decimal(38,0)").alias("raw")
            )
        )
        auths = _rescaled(auth_raw, "auth")
        hub_raw = (
            edges.join(auths.select(F.col("node").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.sum(F.expr("CAST(auth AS DECIMAL(38,0)) * weight"))
                .cast("decimal(38,0)").alias("raw")
            )
        )
        hubs = _rescaled(hub_raw, "hub")
        if checkpoint:
            auths = auths.localCheckpoint(eager=False)
            hubs = hubs.localCheckpoint(eager=False)
    return (
        auths.join(hubs, "node", "full_outer")
        .select(
            "node",
            F.coalesce("auth", zero).alias("auth"),
            F.coalesce("hub", zero).alias("hub"),
        )
    )


def label_propagation(
    edges: DataFrame, iterations: int = 3, checkpoint: bool = True
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007)
    over (src, dst, weight) — host-community detection, the third member
    of the link-analysis family (PageRank = importance, HITS =
    hub/authority roles, LPA = communities: mirror farms, template
    networks, and SEO rings show up as one community even when their
    individual rank looks ordinary).

    Classic async LPA is nondeterministic (update order changes the
    result); this is the SYNCHRONOUS variant with a total-order
    tie-break, so the output is a pure function of the graph:

    * the graph is symmetrized first (community membership is
      undirected); parallel edge weights sum;
    * every node starts labeled with itself;
    * each iteration, every node adopts the label with the LARGEST
      summed incident weight among its neighbors' current labels, ties
      broken by SMALLEST label; isolated nodes keep their own label.

    All arithmetic is BIGINT weight sums and the winner election is
    ``min(struct(-weight_sum, label))`` — exact, shuffle-order
    independent, replayable in any engine.  Synchronous LPA can
    oscillate on bipartite structures; a fixed ``iterations`` budget
    (the normal production choice) makes the output well-defined
    regardless.

    Scale shape per iteration: ONE (edges ⋈ labels) equi-join on dst +
    TWO partial-agg groupBys (label-weight sum, then per-node min-struct
    election) + the nodes LEFT join — edges are the only corpus-sized
    side, labels are one row per node.  Lineage is truncated per
    iteration with ``localCheckpoint`` (cluster: reliable checkpoint),
    exactly like the PageRank/HITS loops.  Returns (node, community).
    """
    sym = (
        edges.select("src", "dst", F.col("weight").cast("long").alias("weight"))
        .unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col("weight").cast("long").alias("weight"),
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(int(iterations)):
        nb = sym.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select("src", "label", "weight")
        cw = nb.groupBy("src", "label").agg(F.sum("weight").alias("_w"))
        win = (
            cw.groupBy("src")
            .agg(
                F.min(F.struct((-F.col("_w")).alias("_nw"), F.col("label"))).alias(
                    "_win"
                )
            )
            .select(F.col("src").alias("node"), F.col("_win.label").alias("_new"))
        )
        labels = (
            nodes.join(win, "node", "left")
            .select("node", F.coalesce("_new", F.col("node")).alias("label"))
        )
        if checkpoint:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("node", F.col("label").alias("community"))


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Click-depth BFS: minimum hop distance from a trusted seed set over
    the (src, dst) host graph — the crawl-depth prior behind seed-based
    frontier gating ("only fetch hosts within k clicks of the seed list")
    and the integer backbone of harmonic-centrality-style quality scores.
    The TrustRank seed list (``trustrank_fixed_point``) answers "how much
    trust flows here"; this answers the cheaper, sharper "how FAR is this
    host from anything we trust".

    Semantics: ``dist(v) = min hops from any seed``, exact BFS.  Hosts not
    reachable within ``max_hops`` are absent from the output (at corpus
    scale the unreachable set is the majority — materializing it would be
    the expensive way to say "infinity").  Seeds not present in the graph's
    node set are dropped (they have no edges to relax).

    Scale shape: frontier relaxation, NOT settled-set relaxation — hop ``h``
    joins only the hosts first reached at ``h-1`` against the edge list
    (one equi-join on src), dedups the successors (partial-agg distinct),
    and anti-joins the settled set.  Each iteration's shuffle is bounded by
    the frontier × out-degree, never by hosts × edges; the settled table is
    one row per reached host.  Lineage is truncated per hop with
    ``localCheckpoint`` (cluster: reliable checkpoint), exactly like the
    PageRank/HITS/LPA loops.  Returns (node, dist).
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    settled = nodes.join(
        seeds.select("node").distinct(), "node"
    ).select("node", F.lit(0).cast("int").alias("dist"))
    frontier = settled.select("node")
    for hop in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled, "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("dist"))
        )
        settled = settled.unionByName(nxt)
        if checkpoint:
            settled = settled.localCheckpoint(eager=False)
        frontier = settled.filter(F.col("dist") == hop).select("node")
    return settled


def reciprocity(edges: DataFrame) -> DataFrame:
    """Per-host link reciprocity — the link-exchange / link-farm signal
    (public background: nepotistic reciprocal linking is a canonical
    web-spam feature, Gyöngyi & Garcia-Molina 2005; organic hosts link
    out far more than they are linked back by the same peers).

    Input: (src, dst[, weight]) host edges (weights ignored — the signal
    is the distinct-peer structure).  Output per host with out-links:
    (host, out_n, reciprocated_n, reciprocity_ppm) where reciprocated_n
    counts distinct out-neighbors that also link back and
    reciprocity_ppm = reciprocated_n * 10^6 div out_n.

    Scale shape: ONE distinct over the edge pairs (map-side partials),
    then ONE self equi-join on the reversed key — both sides are the
    same deduped edge list, so AQE plans a plain shuffled hash join on
    (src,dst)=(dst,src) — and ONE groupBy(src) rollup.  No window, no
    cartesian, no per-host collect."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                   F.lit(1).alias("_back"))
    joined = e.join(rev, ["src", "dst"], "left")
    return (
        joined.groupBy(F.col("src").alias("host"))
        .agg(
            F.count("*").cast("long").alias("out_n"),
            F.sum(F.coalesce(F.col("_back"), F.lit(0))).cast("long")
            .alias("reciprocated_n"),
        )
        .select(
            "host",
            "out_n",
            "reciprocated_n",
            F.expr("reciprocated_n * 1000000 div out_n").alias("reciprocity_ppm"),
        )
    )


def bowtie_profile(
    edges: DataFrame, pivot_node: str, max_hops: int = 8,
    checkpoint: bool = True,
) -> DataFrame:
    """Broder-style bowtie decomposition of the link graph around a pivot
    (Broder 2000 "Graph structure in the Web"): which hosts sit in the
    pivot's strongly-connected CORE (reach it AND are reached by it),
    which feed INTO it (reach it, unreached), and which only catch its
    outflow (OUT) — the structural map behind crawl-seed placement (seed
    the CORE/IN side; OUT-only islands cannot lead anywhere new).

    Hop-bounded on purpose: both reachability passes are ``max_hops`` BFS
    frontiers (``seed_distance`` forward + on the reversed edge list),
    so the label is "within k clicks", the same bound a frontier gate
    uses — full transitive closure at 10^8 hosts buys nothing a deeper
    k doesn't.  Returns reached hosts only: (node, region, fwd_dist,
    bwd_dist) with region ∈ SCC (both), IN (backward-only), OUT
    (forward-only); the rest of the web is absent by design.

    Scale shape: two frontier-relaxation BFS runs (each hop shuffles
    |frontier|×out-degree, never |hosts|×|edges|) + ONE full-outer join
    of the two driver-small reach sets."""
    spark = edges.sparkSession
    seeds = spark.createDataFrame([(pivot_node,)], ["node"])
    fwd = seed_distance(
        edges, seeds, max_hops=max_hops, checkpoint=checkpoint
    ).select("node", F.col("dist").alias("fwd_dist"))
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    bwd = seed_distance(
        rev, seeds, max_hops=max_hops, checkpoint=checkpoint
    ).select("node", F.col("dist").alias("bwd_dist"))
    joined = fwd.join(bwd, "node", "full_outer")
    region = (
        F.when(F.col("fwd_dist").isNotNull() & F.col("bwd_dist").isNotNull(),
               F.lit("SCC"))
        .when(F.col("bwd_dist").isNotNull(), F.lit("IN"))
        .otherwise(F.lit("OUT"))
    )
    return joined.select("node", region.alias("region"), "fwd_dist", "bwd_dist")
