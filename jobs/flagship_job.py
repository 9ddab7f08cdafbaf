"""spark-submit entry point for the COMPOSED crawl-to-corpus pipeline —
the whole extract→curate→graph chain as ONE resumable job:

    spark-submit --py-files htmlps.zip jobs/flagship_job.py \
        --pages <parquet | synth:<sf_dir> | warc:<glob>> --output <dir> \
        [--robots <parquet>] [--partitions 64] [--min-tokens 10] \
        [--gopher] [--scrub-pii] [--span-dedup-tokens 0] \
        [--chunk-tokens 0] [--iterations 3] [--budget-pages 0] \
        [--stop-after extract|graph|curate|chunks] [--limit 0]

Stage DAG (each stage's scale shape documented at its op):

  pages ──robots gate──▶ EXTRACT   FUSED kernel (ops/page_kernel.py): ONE
                                   parse per page → main-content strip +
                                   outlinks + meta robots; chunk-level
                                   resume via CheckpointedExtraction
                                   (anti-join of done urls — a killed run
                                   re-does at most the in-flight chunk)
                                                          → <out>/extract/
  extract ─────────────▶ GRAPH    materialized outlinks → host edges →
                                   integer PageRank [→ crawl budget] — no
                                   second parse of any page → <out>/graph/
  extract ─────────────▶ CURATE   noindex gate → canon url → latest
                                   capture → [host-line dedup] → quality
                                   gate [+Gopher] → [span dedup] → [PII]
                                   → near-dup survivors → split
                                                          → <out>/curate/docs
  curate ──────────────▶ CHUNKS   context-window chunk plan (optional)
                                                          → <out>/curate/chunks

Cross-stage resume: one stage runner (:func:`run_stages`) skips or runs
every stage.  A completed stage writes a ``_STAGE_DONE.json`` marker
carrying a CONTENT fingerprint of its input (row count + xor of per-row
xxhash64 over the key columns) PLUS the stage's own options, and the
counts its report entry shows; a re-run skips a stage iff its marker
exists AND the fingerprint still matches (so adding, replacing, or
re-crawling pages — or changing a stage flag like --c4-lines or
--chunk-tokens — invalidates the affected stages automatically, while a
same-input same-config re-run recomputes nothing), and the skipped stage
reports the stored counts.  The extract stage is additionally resumable
WITHIN the stage through the chunked checkpoint.  Every stage also
appends one row to ``<out>/_stage_lineage`` — (stage, action
ran/skipped, input_fingerprint, rows_out, wall_sec) — on top of the
extract stage's own per-partition lineage, so the whole DAG's history is
queryable.

``--stop-after`` ends the run at a stage boundary (the test harness uses
it to simulate a kill between stages).  Emits ONE JSON line of combined
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ("extract", "graph", "curate", "chunks")
# run order: the sequences stage is no --stop-after choice and runs last
_ORDER = STAGES + ("sequences",)
# the curated docs' schema, next to them (parquet readers skip "_" files)
_DOCS_SCHEMA = "_schema.json"


def _marker_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_STAGE_DONE.json")


def _fingerprint(df, *cols) -> tuple[int, str]:
    """(row count, "count:xor-of-xxhash64(cols)") — a CONTENT fingerprint,
    not a bare cardinality: replacing the input with a different same-size
    subset (e.g. an unordered limit picking other rows, or re-crawled
    captures under the same urls) must invalidate downstream stages, which
    a row count alone cannot see.  bit_xor of per-row hashes is
    order/partitioning-independent; the count guards the xor's one blind
    spot (duplicate rows cancelling pairwise).  One partial-agg pass."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(" + ", ".join(cols) + "))").alias("x"),
    ).first()
    return int(row["n"]), f"{row['n']}:{row['x']}"


def _with_cfg(fp: str, *pairs) -> str:
    """A stage marker must bind to BOTH the input content and the options
    that shape the stage's output — otherwise rerunning with a changed
    flag (e.g. adding --c4-lines) would silently skip recomputation.
    Config rides inside the fingerprint string; same-config reruns still
    match."""
    return fp + "|cfg:" + ",".join(f"{k}={v}" for k, v in pairs)


def _stored_counts(stage_dir: str, fingerprint: str, rows_key: str):
    """The counts a completed stage's marker stored, or None when the
    stage must run: no marker, another fingerprint, or a marker from
    before markers stored the stage's counts (re-run once —
    conservative)."""
    try:
        with open(_marker_path(stage_dir)) as f:
            marker = json.load(f)
    except (OSError, ValueError):
        return None
    if marker.pop("input_fingerprint", None) != fingerprint:
        return None
    return marker if rows_key in marker else None


def _write_marker(stage_dir: str, fingerprint: str, **metrics) -> None:
    os.makedirs(stage_dir, exist_ok=True)
    tmp = _marker_path(stage_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"input_fingerprint": fingerprint, **metrics}, f)
    os.replace(tmp, _marker_path(stage_dir))  # atomic: no torn marker


def _append_stage_lineage(spark, out_dir, stage, action, fingerprint,
                          rows_out, wall_sec) -> None:
    row = [(stage, action, str(fingerprint), int(rows_out), float(wall_sec))]
    spark.createDataFrame(
        row, "stage string, action string, input_fingerprint string, "
             "rows_out long, wall_sec double"
    ).coalesce(1).write.mode("append").parquet(
        os.path.join(out_dir, "_stage_lineage")
    )


def run_stages(spark, args, pages, report: dict, stages) -> None:
    """The stage runner — the one place a stage is skipped or run.  For
    each (name, stage_dir, fingerprint, rows_key, compute) of ``stages``:
    when the stage's marker holds the input ``fingerprint()`` the stage
    is skipped and reports the counts the marker stored; otherwise
    ``compute(fp)`` returns (counts, run-only report entries) and the
    marker stores the counts.  Either way the stage's report entry is
    filled and one ``_stage_lineage`` row appended, with rows_out =
    counts[rows_key].  ``--stop-after`` ends the run at its stage
    boundary (also when that stage is switched off), and the persisted
    pages are released on every path."""
    last = _ORDER.index(args.stop_after) if args.stop_after else len(_ORDER)
    try:
        for name, stage_dir, fingerprint, rows_key, compute in stages:
            if _ORDER.index(name) > last:
                break
            fp = fingerprint()
            t0 = time.time()
            counts = _stored_counts(stage_dir, fp, rows_key)
            if counts is not None:
                action, extra = "skipped", {}
            else:
                action, (counts, extra) = "ran", compute(fp)
                _write_marker(stage_dir, fp, **counts)
            report["stages"][name] = {"action": action, **counts, **extra}
            _append_stage_lineage(spark, args.output, name, action, fp,
                                  counts[rows_key], time.time() - t0)
    finally:
        pages.unpersist()


def _stages(spark, args, pages, fp_pages):
    """The stage DAG in run order, as :func:`run_stages` tuples.  A
    generator: a stage reads what the stage before it wrote, so that
    stage has to have run (or been skipped) before the next is built."""
    ex_dir = os.path.join(args.output, "extract")
    yield (
        "extract", ex_dir,
        lambda: _with_cfg(fp_pages, ("partitions", args.partitions),
                          ("max_html_bytes", args.max_html_bytes)),
        "docs", lambda fp: _extract(spark, args, pages, ex_dir, fp),
    )
    results = spark.read.parquet(os.path.join(ex_dir, "data"))
    g_dir = os.path.join(args.output, "graph")
    yield (
        "graph", g_dir,
        lambda: _with_cfg(fp_pages, ("iterations", args.iterations),
                          ("budget_pages", args.budget_pages)),
        "hosts", lambda fp: _graph(args, results, g_dir),
    )
    cu_dir = os.path.join(args.output, "curate")
    out_docs = os.path.join(cu_dir, "docs")
    yield (
        "curate", cu_dir,
        lambda: _with_cfg(
            _fingerprint(results, "url", "warc_ts")[1],
            ("min_tokens", args.min_tokens), ("gopher", args.gopher),
            ("span", args.span_dedup_tokens), ("pii", args.scrub_pii),
            ("hashes", args.num_hashes), ("bands", args.bands),
            ("hld", args.host_line_dedup), ("hld_pct", args.host_line_pct),
            ("c4", args.c4_lines),
        ),
        "docs", lambda fp: (_curate(args, results, out_docs), {}),
    )
    final = _read_docs(spark, out_docs)
    if args.chunk_tokens > 0:
        from html_parser_spark.ops.corpus import chunk_plan

        def chunks(fp):
            out_chunks = os.path.join(cu_dir, "chunks")
            chunk_plan(final, chunk_tokens=args.chunk_tokens).write.mode(
                "overwrite"
            ).parquet(out_chunks)
            return {"chunks": spark.read.parquet(out_chunks).count()}, {}

        yield (
            "chunks", os.path.join(cu_dir, "chunks_stage"),
            lambda: _with_cfg(_fingerprint(final, "doc_id")[1],
                              ("chunk_tokens", args.chunk_tokens)),
            "chunks", chunks,
        )
    if args.pack_seq_len > 0:
        from jobs.curate_job import packed_sequences, write_per_split

        def sequences(fp):
            split_names = sorted(
                r["split"] for r in final.select("split").distinct().collect()
            )
            return {"sequences": write_per_split(
                final, os.path.join(cu_dir, "sequences"), split_names,
                lambda part: packed_sequences(part, args.pack_seq_len),
            )}, {}

        yield (
            "sequences", os.path.join(cu_dir, "sequences_stage"),
            lambda: _with_cfg(_fingerprint(final, "doc_id")[1],
                              ("pack_seq_len", args.pack_seq_len)),
            "sequences", sequences,
        )


def _extract(spark, args, pages, ex_dir, fp):
    """EXTRACT: the chunk-resumable fused-kernel strip of ``pages``."""
    from pyspark.sql import functions as F

    from html_parser_spark.ops.page_kernel import extract_page_full
    from html_parser_spark.spark.checkpoint import CheckpointedExtraction
    from html_parser_spark.spark.pipeline import salted_repartition

    def _mc(src):
        src = src.select("url", "warc_ts", "html", "lang")
        if args.partitions:
            src = salted_repartition(src, args.partitions)
        # FUSED kernel: one parse per page feeds the main-content walk
        # AND the metadata walk — outlinks materialize here so the
        # graph stage never re-parses, and robots feeds the curate
        # stage's noindex gate
        return extract_page_full(
            src, max_html_bytes=args.max_html_bytes or None
        ).select(
            "url", "warc_ts", "lang", "main_text", "n_blocks",
            "n_content_blocks", "content_chars", "boiler_chars",
            "outlinks", "robots",
            F.length("html").alias("n_bytes_in"),
        )

    # The chunked checkpoint resumes by anti-joining done urls — the
    # right behavior when the INPUT grew (only new pages re-extract),
    # but wrong when the stage CONFIG changed (done rows carry the
    # old config's output).  Split the mismatch: same config ->
    # incremental resume; changed config -> clear and redo fully.
    # The config is pinned at stage START (_STAGE_CONFIG.json written
    # before the first chunk): a run killed mid-extract leaves chunks
    # but no completion marker, and a changed --partitions /
    # --max-html-bytes re-run must still wipe those chunks instead of
    # anti-join-mixing rows from two configs.  The completion marker
    # is the fallback for dirs created before this scheme.
    cfg_path = os.path.join(ex_dir, "_STAGE_CONFIG.json")
    new_cfg = fp.split("|cfg:")[-1]
    old_cfg = ""
    try:
        with open(cfg_path) as _f:
            old_cfg = json.load(_f).get("cfg", "")
    except (OSError, ValueError):
        try:
            with open(_marker_path(ex_dir)) as _f:
                _old_fp = json.load(_f).get("input_fingerprint", "")
            old_cfg = _old_fp.split("|cfg:")[-1] if _old_fp else ""
        except (OSError, ValueError):
            old_cfg = ""
    if old_cfg and old_cfg != new_cfg:
        import shutil

        shutil.rmtree(ex_dir, ignore_errors=True)
    os.makedirs(ex_dir, exist_ok=True)
    with open(cfg_path + ".tmp", "w") as _f:
        json.dump({"cfg": new_cfg}, _f)
    os.replace(cfg_path + ".tmp", cfg_path)
    ck = CheckpointedExtraction(spark, ex_dir)
    m = ck.run(pages, transform=_mc)
    return (
        {"docs": ck.results().count()},
        {"docs_new": m["docs"], "chunk": m["chunk"]},
    )


def _graph(args, results, g_dir):
    """GRAPH: host link graph / PageRank / crawl budget over the outlinks
    the fused extract kernel materialized — no second parse of any
    page."""
    from html_parser_spark.ops.linkgraph import host_edges
    from jobs.graph_job import rank_hosts

    edges, ranks = rank_hosts(
        host_edges(results.select("url", "outlinks")), g_dir,
        iterations=args.iterations, budget_pages=args.budget_pages,
    )
    return {"hosts": ranks.count(), "edges": edges.count()}, {}


def _read_docs(spark, out_docs):
    """The curated docs, read with the schema :func:`_curate` stored next
    to them: a zero-doc partitioned write leaves no file to infer it
    from.  (An output written without it is read by inference.)"""
    from pyspark.sql import types as T

    path = os.path.join(out_docs, _DOCS_SCHEMA)
    if not os.path.exists(path):
        return spark.read.parquet(out_docs)
    with open(path) as f:
        return spark.read.schema(T.StructType.fromJson(json.load(f))).parquet(
            out_docs
        )


def _curate(args, results, out_docs):
    """CURATE: extract output → training-ready docs.  Returns the
    counts."""
    from pyspark.sql import functions as F

    from html_parser_spark.ops.html_meta import noindex_filter
    from html_parser_spark.ops.web import canonicalize_url, latest_capture
    from jobs.curate_job import c4_clean, curate_docs

    # honor page-level REP before training-data curation: a page whose
    # meta robots says noindex is excluded the same way robots.txt-
    # disallowed pages never entered the pipeline
    res = (
        noindex_filter(results)
        .where(F.col("main_text").isNotNull())
        .select(
            canonicalize_url("url").alias("url"),
            "warc_ts",
            F.col("main_text").alias("extracted_text"),
            "lang",
        )
    )
    res = latest_capture(res)
    n_host_lines = None
    if args.host_line_dedup:
        from pyspark import StorageLevel

        from html_parser_spark.ops.corpus import host_line_dedup

        # url is unique after latest_capture, so it is the line-dedup
        # doc id; host comes straight off it.  Persist before the two
        # consumers (metric agg + join) so the three-shuffle dedup
        # plan runs once
        hosted = res.withColumn(
            "_host", F.parse_url(F.col("url"), F.lit("HOST"))
        )
        hld = host_line_dedup(
            hosted, host_col="_host", id_col="url",
            text_col="extracted_text",
            min_pages=2, pct_pages=args.host_line_pct,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_host_lines = int(
            hld.agg(F.sum("n_lines_removed")).collect()[0][0] or 0
        )
        res = res.drop("extracted_text").join(
            hld.select(
                F.col("doc_id").alias("url"),
                F.col("clean_text").alias("extracted_text"),
            ),
            "url",
        )
    docs = res.select(
        F.xxhash64("url").alias("doc_id"),
        F.col("extracted_text").alias("text"),
        "lang",
    )
    if args.c4_lines:
        # same placement as curate_job --c4-lines
        docs = c4_clean(docs)
    curated, funnel = curate_docs(
        docs,
        min_tokens=args.min_tokens,
        gopher=args.gopher,
        span_dedup_tokens=args.span_dedup_tokens,
        scrub_pii=args.scrub_pii,
        num_hashes=args.num_hashes,
        bands=args.bands,
    )
    curated.write.mode("overwrite").partitionBy("split").parquet(out_docs)
    with open(os.path.join(out_docs, _DOCS_SCHEMA), "w") as f:
        json.dump(curated.schema.jsonValue(), f)
    return {
        **funnel, "docs": _read_docs(results.sparkSession, out_docs).count(),
        **({"host_lines_removed": n_host_lines}
           if n_host_lines is not None else {}),
    }


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages parquet dir, synth:<sf_dir>, or warc:<glob>")
    ap.add_argument("--output", required=True)
    ap.add_argument("--robots", default="",
                    help="parquet of robots.txt bodies (host, body)")
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--gopher", action="store_true")
    ap.add_argument("--scrub-pii", action="store_true")
    ap.add_argument("--span-dedup-tokens", type=int, default=0)
    ap.add_argument(
        "--host-line-dedup", action="store_true",
        help="strip lines repeated across a host's pages (CCNet-style "
             "cross-page boilerplate, ops/corpus.host_line_dedup) before "
             "the quality gates",
    )
    ap.add_argument(
        "--host-line-pct", type=int, default=5,
        help="a line is host-boilerplate when on >=2 pages AND >= this "
             "percent of the host's pages (--host-line-dedup)",
    )
    ap.add_argument("--chunk-tokens", type=int, default=0)
    ap.add_argument("--c4-lines", action="store_true",
                    help="C4 line-level cleaning before the doc gates")
    ap.add_argument("--pack-seq-len", type=int, default=0,
                    help="write the packed-sequence export per split (0=off)")
    ap.add_argument("--num-hashes", type=int, default=8)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--iterations", type=int, default=3)
    ap.add_argument("--budget-pages", type=int, default=0)
    ap.add_argument("--max-html-bytes", type=int, default=8 * 1024 * 1024)
    ap.add_argument("--stop-after", choices=STAGES, default="")
    ap.add_argument("--limit", type=int, default=0)
    args = ap.parse_args(argv)

    from pyspark import StorageLevel

    from html_parser_spark.sources import read_pages
    from html_parser_spark.spark.session import active_spark

    spark = active_spark("flagship-job")

    # ---- source + politeness gate (shared by extract and graph) -----------
    pages = read_pages(spark, args.pages, include_fixtures=True)
    if args.limit:
        # deterministic subset: a bare limit() without an order can pick a
        # different subset per run/partitioning, silently desynchronizing
        # resumed stages; TakeOrderedAndProject keeps this a per-partition
        # top-n + merge, not a full sort shuffle (dev/test knob anyway)
        pages = pages.orderBy("url", "warc_ts").limit(args.limit)
    if args.robots:
        from html_parser_spark.ops.robots import (
            parse_robots,
            robots_filter,
            robots_groups,
        )

        robots = spark.read.parquet(args.robots)
        pages = robots_filter(
            pages, parse_robots(robots), groups=robots_groups(robots)
        )
    # both extract and graph consume the gated pages; persist so a WARC
    # source is inflated (and robots evaluated) once, not per stage
    pages = pages.select("url", "warc_ts", "html", "lang").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_pages, fp_pages = _fingerprint(pages, "url", "warc_ts")
    report: dict = {"job": "flagship", "pages_in": n_pages, "stages": {}}
    run_stages(spark, args, pages, report, _stages(spark, args, pages, fp_pages))
    print(json.dumps(report))


if __name__ == "__main__":
    main()
