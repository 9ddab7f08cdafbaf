"""spark-submit entry point for the extraction pipeline.

    spark-submit --py-files htmlps.zip jobs/extract_job.py \
        --pages  <parquet dir or 'synth:<sf_dir>'> \
        --output <results dir> \
        [--partitions 256] [--resume] [--migrate]

Build the dependency zip once:  python jobs/package.py  →  htmlps.zip

On a cluster the same invocation runs unchanged — the pipeline has no
driver-side loops; ``--resume`` uses the MERGE-style checkpoint so a killed
job continues where it stopped (north_rule: resumable from checkpoint with
per-partition lineage + metrics).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages parquet dir, synth:<sf_dir> to synthesize, or "
                         "warc:<path-or-glob> to ingest crawl archives directly")
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int, default=256)
    ap.add_argument("--resume", action="store_true",
                    help="MERGE-style resume into --output (anti-join done urls)")
    ap.add_argument("--migrate", action="store_true",
                    help="also run the v1->v2.1 dictionary migration UDF")
    ap.add_argument("--limit", type=int, default=0, help="dev-mode row cap (S6)")
    ap.add_argument(
        "--robots", default="",
        help="parquet of fetched robots.txt bodies (host, body); pages "
             "disallowed for User-agent: * are dropped before parsing",
    )
    ap.add_argument(
        "--main-content", action="store_true",
        help="generic-crawl mode: jusText-style boilerplate strip "
             "(ops/boilerplate.py) instead of dictionary-format parsing — "
             "emits (url, warc_ts, lang, main_text, block stats) per page",
    )
    ap.add_argument(
        "--markdown", action="store_true",
        help="generic-crawl mode: HTML→Markdown structured-text conversion "
             "(ops/markdown.py) instead of dictionary-format parsing — "
             "emits (url, warc_ts, lang, markdown, md_chars, n_blocks)",
    )
    ap.add_argument(
        "--mixed", action="store_true",
        help="mixed-corpus mode: magic-byte sniff every payload "
             "(ops/mime.py), route text mimes through the DOM kernel, "
             "application/pdf through the native PDF parser, media/"
             "archives through as typed binary rows; adds a 'mime' column",
    )
    ap.add_argument(
        "--dedup-warc", default="",
        help="also repack the ingest set as a digest-deduplicated WARC "
             "archive into this dir: each distinct payload stored once, "
             "repeat captures as WARC 1.1 revisit records "
             "(sources/warc.write_warc_files dedup=True)",
    )
    ap.add_argument(
        "--wet", default="",
        help="also write the extracted text as a WET conversion-record "
             "sidecar (*.warc.wet.gz part per partition) into this dir — "
             "the Common-Crawl text format downstream consumers read",
    )
    ap.add_argument(
        "--text-links", default="",
        help="also mine urls cited in the EXTRACTED TEXT (ops/html_meta."
             "text_outlinks: literal-class regex + trailing-punctuation "
             "trim) and write the (url, out_url) sidecar parquet into this "
             "dir — the link source for WET-style corpora whose HTML is "
             "gone, feeding host_edges/graph_job downstream",
    )
    ap.add_argument(
        "--cdx", default="",
        help="also publish a CDXJ capture index (sorted cdx-*.gz shards + "
             "cluster.idx) of the ingest set into this dir; with a warc: "
             "input the entries carry real record extents (offset/length/"
             "filename) for range reads, otherwise digest-only entries. "
             "Indexes the whole archive (ignores --limit/--robots — the "
             "index describes what the archive CONTAINS, not what this "
             "run processed)",
    )
    ap.add_argument(
        "--cdx-shards", type=int, default=1,
        help="number of range-sorted CDXJ shards (--cdx)",
    )
    ap.add_argument(
        "--transcode", action="store_true",
        help="normalize warc: page bytes to UTF-8 at the ingest boundary "
             "(ops/encoding.normalize_to_utf8: BOM/HTTP-header/meta charset "
             "sniff + one Arrow transcode; valid UTF-8 passes through "
             "uncopied) so every downstream kernel stays on the "
             "single-encoding fast path; adds a 'charset' column. "
             "Runs AFTER --cdx/--dedup-warc (archive side outputs keep the "
             "original payload bytes and digests)",
    )
    ap.add_argument(
        "--pub-dates", default="",
        help="also extract per-page publication dates (ops/web."
             "publication_dates: meta article:published_time > <time "
             "datetime> > JSON-LD datePublished > /YYYY/MM/DD/ permalink) "
             "and write the (url, pub_date, pub_src) sidecar parquet into "
             "this dir — the temporal axis downstream cutoff filters and "
             "time-sliced evals consume.  Pure-codegen projection over the "
             "processed page set (after --limit/--robots)",
    )
    ap.add_argument(
        "--max-html-bytes", type=int, default=8 * 1024 * 1024,
        help="route pages over this size around the parse as fmt='oversized' "
             "(bounds worst-case task time at crawl scale; 0 disables)",
    )
    args = ap.parse_args(argv)

    # --resume anti-joins urls already in --output, so rows produced under
    # a DIFFERENT kernel config would silently survive a flag change
    # (e.g. resuming a dictionary run with --main-content).  Pin the
    # output dir to the config that built it and fail loudly on mismatch.
    resume_cfg = {
        "migrate": args.migrate,
        "main_content": args.main_content,
        "markdown": args.markdown,
        "mixed": args.mixed,
        "transcode": args.transcode,
        "max_html_bytes": args.max_html_bytes,
    }
    cfg_path = os.path.join(args.output, "_RESUME_CONFIG.json")
    if args.resume and os.path.exists(cfg_path):
        with open(cfg_path) as f:
            prev = json.load(f)
        if prev != resume_cfg:
            raise SystemExit(
                "--resume config mismatch: this output dir was built with "
                f"{prev} but the current flags are {resume_cfg}; resume "
                "with matching flags or use a fresh --output"
            )
    elif args.resume and os.path.isdir(os.path.join(args.output, "data")):
        # data exists but no config file: a legacy dir written before the
        # config-pin scheme (or a foreign dir).  Resuming would mix rows
        # of an UNKNOWN kernel config (and possibly an older output
        # schema) with this run's — fail loudly instead of guessing.
        raise SystemExit(
            "--resume into an output dir that has data but no "
            "_RESUME_CONFIG.json (written before the config-pin scheme?); "
            "its kernel config/schema is unknown and resuming would mix "
            "rows across configs — re-run without --resume into a fresh "
            "--output, or add a matching _RESUME_CONFIG.json by hand if "
            "you are certain the flags match"
        )
    os.makedirs(args.output, exist_ok=True)
    with open(cfg_path, "w") as f:
        json.dump(resume_cfg, f)

    from pyspark.sql import functions as F

    from html_parser_spark.sources import read_pages
    from html_parser_spark.spark.session import active_spark

    # under spark-submit the session comes preconfigured; standalone runs get
    # the tuned local factory
    spark = active_spark("extract-job")
    pages = read_pages(spark, args.pages, include_fixtures=True)

    n_cdx = None
    if args.cdx:
        n_cdx = _publish_cdx_index(spark, pages, args)

    n_dedup_warc = None
    if args.dedup_warc:
        from html_parser_spark.sources.warc import write_warc_files

        # like --cdx, the repack describes the whole ingest set (archive
        # semantics), so it runs before --limit/--robots trims
        n_dedup_warc = write_warc_files(
            pages.select("url", "warc_ts", "html"), args.dedup_warc, dedup=True
        )

    if args.transcode:
        if "content_type" not in pages.columns:
            raise SystemExit("--transcode requires a warc: input")
        from html_parser_spark.ops.encoding import normalize_to_utf8

        pages = normalize_to_utf8(
            pages, body_col="html", ctype_col="content_type"
        )

    if args.limit:
        pages = pages.limit(args.limit)

    if args.robots:
        from html_parser_spark.ops.robots import (
            parse_robots,
            robots_filter,
            robots_groups,
        )

        # politeness gate BEFORE the expensive parse: the rules table is
        # tiny relative to pages, the verdict is a host equi-join; declared
        # User-agent groups give exact RFC 9309 group selection
        robots = spark.read.parquet(args.robots)
        pages = robots_filter(
            pages, parse_robots(robots), groups=robots_groups(robots)
        )

    n_pub = None
    if args.pub_dates:
        from html_parser_spark.ops.web import publication_dates

        dated = publication_dates(pages)
        dated.write.mode("overwrite").parquet(args.pub_dates)
        dated = spark.read.parquet(args.pub_dates)
        n_pub = int(
            dated.filter(F.col("pub_date").isNotNull()).count()
        )

    job, text_col, transform, sums = _mode(args)
    out, ck_metrics = _extract(spark, pages, transform, args, job == "extract")
    if job == "extract" and ck_metrics is not None:
        counts = ck_metrics  # the dictionary checkpoint reports its chunk
    else:
        row = out.agg(*[e.alias(k) for k, e in sums.items()]).collect()[0]
        counts = {k: row[k] for k in sums}
    if args.mixed:
        mimes = {r["mime"]: r["count"] for r in out.groupBy("mime").count().collect()}
        counts["mimes"] = {k: int(v) for k, v in sorted(mimes.items())}
    n_wet = _write_wet_sidecar(out, text_col, args.wet)
    # --text-links mines urls from plain text; markdown output has none
    n_text_links = None if args.markdown else _write_text_links_sidecar(
        out, text_col, args.text_links
    )
    sidecars = {
        "wet_parts": n_wet, "text_links": n_text_links, "cdx_shards": n_cdx,
        "pub_dated": n_pub, "dedup_warc_parts": n_dedup_warc,
    }
    print(json.dumps({
        "job": job,
        **{
            k: (int(v) if isinstance(v, (int, float)) else (v if v is not None else 0))
            for k, v in counts.items()
        },
        **{k: v for k, v in sidecars.items() if v is not None},
    }))


def _mode(args):
    """The kernel mode the flags pick, as (job name, text column, transform
    pages → results, report sums {name: aggregate over the results})."""
    from pyspark.sql import functions as F

    from html_parser_spark.spark.pipeline import extract_pages, salted_repartition

    max_html_bytes = args.max_html_bytes or None

    def prepared(src):
        src = src.select("url", "warc_ts", "html", "lang")
        return salted_repartition(src, args.partitions) if args.partitions else src

    n_bytes_in = F.length("html").alias("n_bytes_in")
    if args.markdown:
        from html_parser_spark.ops.markdown import to_markdown

        return "extract-markdown", "markdown", lambda src: to_markdown(
            prepared(src), max_html_bytes=max_html_bytes
        ).select(
            "url", "warc_ts", "lang", "markdown", "md_chars", "n_blocks",
            n_bytes_in,
        ), {
            "docs": F.count("*"), "blocks": F.sum("n_blocks"),
            "bytes_in": F.sum("n_bytes_in"), "md_chars": F.sum("md_chars"),
        }
    if args.mixed:
        from html_parser_spark.ops.mime import extract_any

        return "extract-mixed", "extracted_text", lambda src: extract_any(
            src,
            num_partitions=args.partitions or None,
            max_html_bytes=max_html_bytes,
        ), {
            "docs": F.count("*"), "bytes_in": F.sum("n_bytes_in"),
            "text_chars": F.sum(F.length("extracted_text")),
        }
    if args.main_content:
        # the FUSED kernel (ops/page_kernel): one parse yields the
        # boilerplate-stripped text AND the page metadata, so the output
        # can carry the page's <link rel=canonical> for canonical-group
        # dedup downstream (curate_job --canonical-dedup) at no extra
        # parse cost (main_text is field-for-field identical to
        # extract_main_content — pinned by the kernel differential test)
        from html_parser_spark.ops.page_kernel import extract_page_full

        return "extract-main-content", "main_text", lambda src: extract_page_full(
            prepared(src), max_html_bytes=max_html_bytes
        ).select(
            "url", "warc_ts", "lang", "main_text", "n_blocks",
            "n_content_blocks", "content_chars", "boiler_chars", "canonical",
            n_bytes_in,
        ), {
            "docs": F.count("*"), "content_blocks": F.sum("n_content_blocks"),
            "bytes_in": F.sum("n_bytes_in"),
            "content_chars": F.sum("content_chars"),
        }

    def dictionary(src):
        results = extract_pages(
            src, num_partitions=args.partitions, max_html_bytes=max_html_bytes
        )
        # the checkpointed (--resume) paths store the parse output only
        if args.migrate and not args.resume:
            from html_parser_spark.spark.dictionary import migrate_results

            results = migrate_results(results)
        return results

    return "extract", "extracted_text", dictionary, {
        "docs": F.count("*"), "entries": F.sum("n_entries"),
        "bytes_in": F.sum("n_bytes_in"),
        "errors": F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)),
    }


def _extract(spark, pages, transform, args, dictionary: bool):
    """The one resume-or-write path: ``--resume`` runs ``transform``
    through the chunked checkpoint in --output (anti-join of done urls;
    the dictionary kernel prefers Iceberg MERGE INTO when a runtime is on
    the classpath AND --output names a DOT-QUALIFIED catalog table —
    cat.db.tbl / db.tbl, never a bare relative dir); otherwise one
    overwrite of <output>/data.  Returns (results read back, checkpoint
    metrics or None)."""
    if not args.resume:
        data = os.path.join(args.output, "data")
        transform(pages).write.mode("overwrite").parquet(data)
        return spark.read.parquet(data), None
    from html_parser_spark.spark.checkpoint import (
        CheckpointedExtraction,
        IcebergCheckpointedExtraction,
        iceberg_available,
    )

    if (
        dictionary
        and iceberg_available(spark)
        and "/" not in args.output
        and "." in args.output
    ):
        metrics = IcebergCheckpointedExtraction(spark, args.output).run(
            pages,
            num_partitions=args.partitions,
            max_html_bytes=args.max_html_bytes or None,
        )
        return spark.table(args.output), metrics
    ck = CheckpointedExtraction(spark, args.output)
    metrics = ck.run(pages, transform=transform)
    return ck.results(), metrics


def _publish_cdx_index(spark, pages, args):
    """--cdx: the queryable capture index of the ingest set.  warc: inputs
    re-read with extents (a second archive pass is the honest cost of
    offset-bearing entries — Common Crawl's indexer pays the same);
    parquet/synth inputs get digest-only entries (no physical extents
    exist).  Returns the shard count."""
    from pyspark.sql import functions as F

    from html_parser_spark.sources import read_pages
    from html_parser_spark.sources.cdx import write_cdxj_files

    recs = read_pages(spark, args.pages, True, warc_extents=True)
    if recs is not None:
        idx = recs.select(
            "url",
            "warc_ts",
            F.col("content_type").alias("mime"),
            F.col("http_status").alias("status"),
            F.md5("html").alias("digest"),
            F.col("rec_length").alias("length"),
            F.col("rec_offset").alias("offset"),
            F.element_at(F.split("source_file", "/"), -1).alias("filename"),
        )
    else:
        idx = pages.select(
            "url",
            "warc_ts",
            F.lit("text/html").alias("mime"),
            F.lit(200).cast("int").alias("status"),
            F.md5("html").alias("digest"),
            F.length("html").cast("long").alias("length"),
            F.lit(None).cast("long").alias("offset"),
            F.lit(None).cast("string").alias("filename"),
        )
    return write_cdxj_files(idx, args.cdx, num_shards=args.cdx_shards)


def _write_wet_sidecar(results, text_col: str, out_dir: str):
    """--wet: the extracted text as WET conversion records (NULL-text rows
    — parse errors / oversized routes — carry no payload and are skipped).
    Returns the part count, or None when the flag is off."""
    if not out_dir:
        return None
    from pyspark.sql import functions as F

    from html_parser_spark.sources.warc import write_wet_files

    docs = results.where(F.col(text_col).isNotNull()).select(
        "url", "warc_ts", F.col(text_col).alias("text")
    )
    return write_wet_files(docs, out_dir)


def _write_text_links_sidecar(results, text_col: str, out_dir: str):
    """--text-links: urls cited in the extracted text as a (url, out_url)
    parquet sidecar — the graph source for text-only releases.  Returns
    the mined-link count, or None when the flag is off."""
    if not out_dir:
        return None
    from pyspark.sql import functions as F

    from html_parser_spark.ops.html_meta import text_outlinks

    links = text_outlinks(
        results.where(F.col(text_col).isNotNull()).select(
            "url", F.col(text_col).alias("text")
        ),
        id_col="url",
    )
    links.write.mode("overwrite").parquet(out_dir)
    return int(results.sparkSession.read.parquet(out_dir).count())


if __name__ == "__main__":
    main()
