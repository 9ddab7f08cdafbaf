"""spark-submit entry point for the link-graph tier — pages → host graph
→ PageRank → crawl priorities:

    spark-submit --py-files htmlps.zip jobs/graph_job.py \
        --pages <pages parquet | synth:<sf_dir> | warc:<glob>> \
        --output <dir> [--partitions 256] [--iterations 3] \
        [--budget-pages 0] [--hits] [--communities] [--reciprocity]
        [--collapse-domains]

Chain (each step's scale shape documented at its op):

  pages → extract_page_meta (ONE Arrow stage: outlinks per page)
        → host_edges (explode + parse_url + groupBy-count)
        → pagerank_fixed_point (bit-exact integer mass units)
        → host_graph_stats (degrees/weights/reciprocity)
        → [crawl_budget when --budget-pages > 0]
        → parquet: <out>/edges, <out>/ranks (ranks ⋈ stats [⋈ quota])

Emits ONE JSON line of graph metrics (pages, hosts, edges, total edge
weight, top host by rank).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rank_hosts(edges, out_dir, *, iterations, budget_pages=0, joins=()):
    """The ranking core of this job and of the flagship graph stage:
    host edges → ``<out_dir>/edges`` (written, then read back so every
    consumer scans the file, not the edge plan) → integer PageRank ⋈
    host stats [⋈ each of ``joins`` (edges → per-node columns), in
    order] [→ crawl budget when ``budget_pages`` > 0] →
    ``<out_dir>/ranks``.  Returns (edges, ranks), both read back."""
    from html_parser_spark.ops.linkgraph import (
        crawl_budget,
        host_graph_stats,
        pagerank_fixed_point,
    )

    spark = edges.sparkSession
    edges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
    edges = spark.read.parquet(os.path.join(out_dir, "edges"))
    out = pagerank_fixed_point(edges, iterations=iterations).join(
        host_graph_stats(edges), "node", "left"
    )
    for join in joins:
        out = out.join(join(edges), "node", "left")
    if budget_pages > 0:
        out = crawl_budget(out, budget_pages)
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "ranks"))
    return edges, spark.read.parquet(os.path.join(out_dir, "ranks"))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages parquet dir, synth:<sf_dir>, or warc:<glob>")
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int, default=256)
    ap.add_argument("--iterations", type=int, default=3)
    ap.add_argument("--budget-pages", type=int, default=0,
                    help="also assign proportional crawl quotas (0 = skip)")
    ap.add_argument("--hits", action="store_true",
                    help="also compute integer-exact HITS hubs/authorities "
                         "and join them onto ranks")
    ap.add_argument("--communities", action="store_true",
                    help="also run deterministic label propagation and "
                         "join the community id onto ranks")
    ap.add_argument("--collapse-domains", action="store_true",
                    help="collapse hosts to their PSL registered domain "
                         "BEFORE ranking (blog.example.co.uk and "
                         "www.example.co.uk become one node; "
                         "ops/web.registered_domain_psl — pure-codegen "
                         "suffix match, then one re-aggregate of the "
                         "edge list): rank domains, not subdomains, so "
                         "subdomain farms cannot multiply their vote")
    ap.add_argument("--reciprocity", action="store_true",
                    help="join per-host link reciprocity (out_n / "
                         "reciprocated_n / reciprocity_ppm — the "
                         "link-exchange screen) onto the ranks table")
    ap.add_argument("--seeds", default="",
                    help="comma-separated trusted seed hosts (required by "
                         "--trustrank / --seed-depth)")
    ap.add_argument("--trustrank", action="store_true",
                    help="also run seed-gated TrustRank (spam demotion) and "
                         "join the trust mass onto ranks")
    ap.add_argument("--seed-depth", type=int, default=0,
                    help="also compute min click-depth from the seed set "
                         "(BFS, this many hops) and join seed_dist onto "
                         "ranks (unreached hosts stay NULL)")
    ap.add_argument("--limit", type=int, default=0)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from html_parser_spark.ops.html_meta import extract_page_meta
    from html_parser_spark.ops.linkgraph import host_edges
    from html_parser_spark.sources import read_pages
    from html_parser_spark.spark.pipeline import salted_repartition
    from html_parser_spark.spark.session import active_spark

    spark = active_spark("graph-job")
    pages = read_pages(spark, args.pages, include_fixtures=False)
    if args.limit:
        pages = pages.limit(args.limit)
    pages = pages.select("url", "html")
    if args.partitions:
        pages = salted_repartition(pages, args.partitions)
    n_pages = pages.count()

    meta = extract_page_meta(pages).select("url", "outlinks")
    edges = host_edges(meta)
    if args.collapse_domains:
        from html_parser_spark.ops.web import registered_domain_psl

        edges = (
            edges.select(
                registered_domain_psl(F.col("src")).alias("src"),
                registered_domain_psl(F.col("dst")).alias("dst"),
                "weight",
            )
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("weight").cast("long").alias("weight"))
        )

    joins = []
    if args.hits:
        from html_parser_spark.ops.linkgraph import hits_fixed_point

        joins.append(lambda e: hits_fixed_point(e, iterations=args.iterations))
    if args.communities:
        from html_parser_spark.ops.linkgraph import label_propagation

        joins.append(lambda e: label_propagation(e, iterations=args.iterations))
    if args.reciprocity:
        from html_parser_spark.ops.linkgraph import reciprocity

        joins.append(lambda e: reciprocity(e).withColumnRenamed("host", "node"))
    if args.trustrank or args.seed_depth > 0:
        if not args.seeds:
            raise SystemExit("--trustrank/--seed-depth require --seeds")
        seeds = spark.createDataFrame(
            [(h.strip(),) for h in args.seeds.split(",") if h.strip()],
            ["node"],
        )
        if args.trustrank:
            from html_parser_spark.ops.linkgraph import trustrank_fixed_point

            joins.append(lambda e: trustrank_fixed_point(
                e, seeds, iterations=args.iterations
            ).withColumnRenamed("rank", "trust"))
        if args.seed_depth > 0:
            from html_parser_spark.ops.linkgraph import seed_distance

            joins.append(lambda e: seed_distance(
                e, seeds, max_hops=args.seed_depth
            ).withColumnRenamed("dist", "seed_dist"))
    edges, out = rank_hosts(
        edges, args.output, iterations=args.iterations,
        budget_pages=args.budget_pages, joins=joins,
    )

    top = out.orderBy(F.desc("rank")).first()
    agg = edges.agg(
        F.count("*").alias("edges"),
        F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("weight"),
    ).collect()[0]
    print(json.dumps({
        "job": "graph",
        "pages": int(n_pages),
        "hosts": int(out.count()),
        "edges": int(agg["edges"]),
        "edge_weight": int(agg["weight"]),
        "top_host": top["node"] if top else None,
        "top_rank": int(top["rank"]) if top else 0,
        **({"communities": int(out.select("community").distinct().count())}
           if args.communities else {}),
        **({"seed_reached": int(
                out.filter(F.col("seed_dist").isNotNull()).count())}
           if args.seed_depth > 0 else {}),
        **({"reciprocal_hosts": int(
                out.filter(F.col("reciprocity_ppm") > 0).count())}
           if args.reciprocity else {}),
    }))


if __name__ == "__main__":
    main()
