"""spark-submit entry point for crawl-frontier planning — candidates +
capture history → a prioritized, polite fetch list:

    spark-submit --py-files htmlps.zip jobs/frontier_job.py \
        --captures <pages parquet | warc:<glob>> \
        --candidates <parquet with a url column> \
        --asof <epoch seconds> --output <dir> \
        [--robots <parquet (host, body)>] [--blocklist h1,h2,...] \
        [--bloom-bits 1048576] [--bloom-hashes 5]

Chain (each step's scale shape documented at its op):

  candidates ─ bloom_probe ─→ "definitely new" (no join at all — the
             │                 Bloom contract: no false negatives)
             └ "maybe seen" ──→ exact LEFT ANTI against the seen set,
                                confined to the maybe-sliver (ops/bloom.py's
                                documented purpose: the anti-join the
                                frontier would otherwise run over 10^10
                                urls shrinks to the false-positive rate)
  captures ──→ recrawl_priority (integer change-rate estimate; due when
               overdue_sec >= 0 at --asof — an explicit epoch, never
               now(): plans must be reproducible)
  new ∪ due ──→ url_parts → host blocklist (broadcast anti-join)
             → robots_filter + crawl_delays (optional politeness gate)
             → parquet fetch list (url, host, reason, next_due_ts,
               overdue_sec, crawl_delay_sec)

Emits ONE JSON report line (candidates, seen, definitely_new,
bloom_maybe, new, due, emitted).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--captures", required=True,
                    help="capture history: pages parquet dir or warc:<glob>")
    ap.add_argument("--candidates", required=True,
                    help="parquet with a url column (e.g. materialized "
                         "outlinks from the extract/graph tier)")
    ap.add_argument("--asof", type=int, required=True,
                    help="epoch seconds the schedule is computed against "
                         "(explicit for reproducibility — never now())")
    ap.add_argument("--output", required=True)
    ap.add_argument("--robots", default="",
                    help="optional parquet of (host, body) robots.txt "
                         "snapshots: disallowed urls are dropped and "
                         "Crawl-delay is joined onto the fetch list")
    ap.add_argument("--agent", default="*")
    ap.add_argument("--blocklist", default="",
                    help="comma-separated hosts to drop")
    ap.add_argument("--bloom-bits", type=int, default=1 << 20)
    ap.add_argument("--bloom-hashes", type=int, default=5)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from html_parser_spark.ops.bloom import bloom_build, bloom_probe
    from html_parser_spark.ops.web import host_blocklist_filter, url_parts
    from html_parser_spark.sources import read_pages
    from html_parser_spark.spark.session import active_spark

    spark = active_spark("frontier-job")

    cap = read_pages(spark, args.captures, include_fixtures=False)
    body = "body" if "body" in cap.columns else "html"
    captures = cap.select("url", "warc_ts", F.col(body).alias("body"))

    seen_urls = captures.select("url").distinct()
    cands = spark.read.parquet(args.candidates).select("url").distinct()

    # Bloom prefilter: "false" is DEFINITELY new (skip the join entirely);
    # only the maybe-sliver pays the exact anti-join against the seen set
    bits = bloom_build(
        seen_urls, m_bits=args.bloom_bits, k_hashes=args.bloom_hashes
    )
    probed = bloom_probe(
        bits, cands, m_bits=args.bloom_bits, k_hashes=args.bloom_hashes
    )
    definitely_new = probed.filter(~F.col("maybe_seen")).select("url")
    maybe = probed.filter(F.col("maybe_seen")).select("url")
    fp_new = maybe.join(seen_urls, "url", "left_anti")
    new = definitely_new.unionByName(fp_new).select(
        "url",
        F.lit("new").alias("reason"),
        F.lit(None).cast("long").alias("next_due_ts"),
        F.lit(None).cast("long").alias("overdue_sec"),
    )

    from html_parser_spark.ops.web import recrawl_priority

    due = (
        recrawl_priority(captures, asof_ts=args.asof, body_col="body")
        .filter(F.col("overdue_sec") >= 0)
        .select(
            "url",
            F.lit("due").alias("reason"),
            "next_due_ts",
            "overdue_sec",
        )
    )

    frontier = url_parts(new.unionByName(due)).select(
        "url", "host", "reason", "next_due_ts", "overdue_sec"
    )

    if args.blocklist:
        frontier = host_blocklist_filter(
            frontier, [h for h in args.blocklist.split(",") if h]
        )

    if args.robots:
        from html_parser_spark.ops.robots import (
            crawl_delays,
            parse_robots,
            robots_filter,
            robots_groups,
        )

        robots = spark.read.parquet(args.robots)
        frontier = robots_filter(
            frontier,
            parse_robots(robots),
            agent=args.agent,
            groups=robots_groups(robots),
        )
        delays = crawl_delays(robots, agent=args.agent)
        frontier = frontier.join(F.broadcast(delays), "host", "left").withColumn(
            "crawl_delay_sec", F.coalesce("crawl_delay_sec", F.lit(0))
        )
    else:
        frontier = frontier.withColumn("crawl_delay_sec", F.lit(0))

    frontier.write.mode("overwrite").parquet(os.path.join(args.output, "fetch"))
    out = spark.read.parquet(os.path.join(args.output, "fetch"))

    counts = {
        "candidates": cands.count(),
        "seen": seen_urls.count(),
        "bloom_maybe": maybe.count(),
        "definitely_new": definitely_new.count(),
        "new": new.count(),
        "due": due.count(),
        "emitted": out.count(),
    }
    print(json.dumps(counts))
    return counts


if __name__ == "__main__":
    main()
