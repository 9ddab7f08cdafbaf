"""spark-submit entry point for the corpus-curation pipeline — the stage
BETWEEN extraction and training:

    spark-submit --py-files htmlps.zip jobs/curate_job.py \
        --docs <documents parquet>  --output <dir> \
        [--min-tokens 10] [--max-top-word-frac 0.5] [--max-dup-bigram-frac 0.9] \
        [--scrub-pii] [--span-dedup-tokens 0] [--blocklist-hosts h1,h2] \
        [--domain-cap 0] [--canonical-dedup] [--c4-lines] \
        [--chunk-tokens 0] [--pack-seq-len 0] [--bpe-merges 0] \
        [--lm-buckets] [--num-hashes 8] [--bands 4] \
        [--mix-alpha 0|50|100] [--mix-target 0]

Chain (every step a stock DataFrame transform, see ops/corpus.py scale notes):

  documents → repetition/quality filter (Gopher §A.1.1 features)
            → C4-style span dedup (optional)
            → PII scrub (optional)
            → near-dup survivors (MinHash-LSH → components → LEFT ANTI)
            → deterministic md5-bucket split assignment
            → write parquet partitioned by split
            → context-window chunks (optional, --chunk-tokens > 0)

Emits ONE JSON line of funnel metrics (docs in → after filter → after dedup,
per-split counts, chunks written) — the numbers a data-curation run must
log for lineage.  Input is any parquet with (doc_id, text, lang) columns;
use --from-extract to curate an extract_job output directly: urls are
canonicalized, the newest capture per canonical url wins (latest_capture),
--blocklist-hosts drops blocked hosts, then url/extracted_text map to
doc_id/text via xxhash64.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def curate_docs(
    docs,
    *,
    min_tokens: int = 10,
    max_top_word_frac: float = 0.5,
    max_dup_bigram_frac: float = 0.9,
    gopher: bool = False,
    span_dedup_tokens: int = 0,
    scrub_pii: bool = False,
    num_hashes: int = 8,
    bands: int = 4,
    mix_alpha_pct: int = 0,
    mix_target_docs: int | None = None,
):
    """The shared curation chain over (doc_id, text, lang):

        quality gate (repetition stats [+ Gopher battery])
        → optional C4-style span dedup
        → optional PII scrub
        → near-dup survivors (MinHash-LSH → components → LEFT ANTI)
        → deterministic md5-bucket split assignment

    Returns (split-assigned survivors DataFrame, funnel-metrics dict).
    Used by this CLI and by jobs/flagship_job.py so the composed pipeline
    and the standalone stage can never drift apart."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from html_parser_spark.ops.corpus import (
        assign_split,
        dedup_survivors,
        repetition_stats,
    )
    from html_parser_spark.ops.text import pii_scrub

    n_in = docs.count()

    # 1. repetition / quality gate (Gopher-style features, JVM-side)
    rep = repetition_stats(docs)
    keep = rep.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("top_word_frac") <= max_top_word_frac)
        & (F.col("dup_bigram_frac") <= max_dup_bigram_frac)
    ).select("doc_id")
    docs = docs.join(keep, "doc_id", "left_semi")
    if gopher:
        # the full published battery (word count, mean length, symbol
        # ratio, bullets, ellipses, alpha fraction, stop words) — all
        # integer-exact column expressions riding the same scan
        from html_parser_spark.ops.gopher import gopher_rules

        docs = (
            gopher_rules(docs, min_words=min_tokens)
            .where(F.col("keep"))
            .select("doc_id", "text", "lang")
        )
    # materialize the filter output BEFORE counting: the count is an
    # action, and without the persist every later stage recomputes the
    # full repetition/rule chain over the corpus a second time
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    n_filtered = docs.count()

    # 1b. C4-style span dedup (optional): strip cross-document boilerplate
    # spans before doc-level near-dup, so shared banners don't glue
    # otherwise-distinct documents into one LSH cluster
    n_spans_dropped = 0
    if span_dedup_tokens > 0:
        from html_parser_spark.ops.corpus import span_dedup

        sd = span_dedup(docs, span_tokens=span_dedup_tokens).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        n_spans_dropped = sd.agg(
            F.sum("n_spans_dropped").cast("long").alias("d")
        ).collect()[0]["d"] or 0
        docs = sd.join(docs.select("doc_id", "lang"), "doc_id").select(
            "doc_id", F.col("clean_text").alias("text"), "lang"
        )

    # 2. PII scrub (narrow, rides the same scan) — then MATERIALIZE.
    # The persist here is load-bearing, not a cache hint: Catalyst does no
    # CSE inside higher-order-function lambdas (see ops/dedup.py
    # _with_shingles PERF note), so feeding the scrub expression straight
    # into the shingle transforms re-runs the regex chain once per
    # consumer per row (measured ~45x on 500 KB extracted pages).  The
    # persist cuts the plan so dedup/split/write all read the scrubbed
    # bytes exactly once; MEMORY_AND_DISK spills instead of OOMing when
    # the post-filter corpus outgrows executor memory at crawl scale.
    if scrub_pii:
        docs = docs.withColumn("text", pii_scrub(F.col("text")))
    docs = docs.withColumn("n_chars", F.length("text").cast("long"))
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)

    # 3. near-dup survivors (LSH → components → anti-join)
    docs = dedup_survivors(
        docs.select("doc_id", "text", "lang", "n_chars"),
        num_hashes=num_hashes,
        bands=bands,
    )
    n_dedup = docs.count()

    # 3b. temperature-based language rebalancing (optional): reshape the
    # survivor mix toward p_k ∝ c_k^α with the deterministic md5-bucket
    # filter (ops/corpus.temperature_sample) — the per-language thresholds
    # come from ONE partial-agg groupBy and broadcast back, so the stage
    # adds no full-corpus shuffle
    n_mixed = None
    if mix_alpha_pct:
        from html_parser_spark.ops.corpus import temperature_sample

        docs = temperature_sample(
            docs, alpha_pct=mix_alpha_pct, target_docs=mix_target_docs
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_mixed = docs.count()

    # 4. deterministic split assignment (write is the caller's concern)
    docs = assign_split(docs)
    funnel = {
        "spans_dropped": int(n_spans_dropped),
        "docs_in": n_in,
        "after_quality_filter": n_filtered,
        "after_dedup": n_dedup,
        **({"after_mix": n_mixed} if n_mixed is not None else {}),
    }
    return docs, funnel


def c4_clean(docs):
    """C4 line-level cleaning of (doc_id, text, lang), run before the
    doc-level gates: lines failing the published rules are stripped (text
    becomes clean_text) and pages failing the page rules drop here."""
    from pyspark.sql import functions as F

    from html_parser_spark.ops.text import c4_line_filter

    cleaned = c4_line_filter(docs).where("page_keep").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    return docs.select("doc_id", "lang").join(cleaned, "doc_id").select(
        "doc_id", "text", "lang"
    )


def packed_sequences(part, seq_len: int):
    """The GPT concat-and-split export of one split's (doc_id, text): docs
    and EOD slots laid end to end, cut every ``seq_len`` slots
    (ops/corpus.pack_sequences + materialize_sequences)."""
    from html_parser_spark.ops.corpus import (
        materialize_sequences,
        pack_sequences,
    )

    part = part.select("doc_id", "text")
    return materialize_sequences(part, pack_sequences(part, seq_len=seq_len))


def write_per_split(final, out_dir: str, splits, build) -> int:
    """Write ``build(rows of one split)`` to ``<out_dir>/split=<name>`` for
    each name in ``splits`` — per split, so train/valid/test never share
    a row of the table.  Clears ``out_dir`` first: the per-split overwrite
    only replaces splits present in THIS run, so a re-run whose split set
    shrank would otherwise leave a stale split=<name> dir that
    ``spark.read.parquet(out_dir)`` silently includes.  Returns the row
    count read back (0 when ``splits`` is empty)."""
    import shutil

    from pyspark.sql import functions as F

    shutil.rmtree(out_dir, ignore_errors=True)
    for name in splits:
        # the split value comes from the partition directory on read
        build(final.where(F.col("split") == name)).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"split={name}"))
    return final.sparkSession.read.parquet(out_dir).count() if splits else 0


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", help="documents parquet (doc_id, text, lang)")
    ap.add_argument("--from-extract",
                    help="extract_job output dir to curate instead of --docs")
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--max-top-word-frac", type=float, default=0.5)
    ap.add_argument("--max-dup-bigram-frac", type=float, default=0.9)
    ap.add_argument("--scrub-pii", action="store_true")
    ap.add_argument("--gopher", action="store_true",
                    help="also apply the full Gopher rule battery "
                         "(ops/gopher.py) after the repetition gate")
    ap.add_argument("--span-dedup-tokens", type=int, default=0,
                    help="C4-style span dedup window in tokens (0 = skip)")
    ap.add_argument("--canonical-dedup", action="store_true",
                    help="group captures by their <link rel=canonical> "
                         "target and keep one representative per group "
                         "(needs extract_job --main-content output)")
    ap.add_argument("--domain-cap", type=int, default=0,
                    help="keep at most N docs per host (0 = off; "
                         "--from-extract inputs only, where urls exist)")
    ap.add_argument("--blocklist-hosts", default="",
                    help="comma-separated hosts to drop (--from-extract only)")
    ap.add_argument("--chunk-tokens", type=int, default=0,
                    help="also write fixed-size token chunks (0 = skip)")
    ap.add_argument("--block-terms", default="",
                    help="comma-separated term blocklist (C4 §2.2 drops any "
                         "page containing a blocklisted WORD — token-level "
                         "match, lowercase, so substrings do not false-"
                         "positive); docs containing any term leave the "
                         "stream right after the mojibake gate and are "
                         "counted as term_blocked in the funnel")
    ap.add_argument("--mojibake-max-ppm", type=int, default=0,
                    help="drop docs whose encoding-damage score (double-"
                         "encoded UTF-8 signatures + U+FFFD, ppm of chars "
                         "— ops/encoding.mojibake_score) exceeds this "
                         "(0 = off)")
    ap.add_argument("--code-route", default="",
                    help="route code-heavy docs (ops/text.code_profile "
                         "code_ppm > --code-max-ppm) OUT of the NL stream "
                         "into this parquet dir — the separate-stream "
                         "split code corpora are built from; runs after "
                         "the mojibake gate, before the quality battery")
    ap.add_argument("--code-max-ppm", type=int, default=500000,
                    help="code_ppm routing threshold for --code-route")
    ap.add_argument("--c4-lines", action="store_true",
                    help="apply C4 line-level cleaning (terminal punct, "
                         ">=3 words, no javascript; drop lorem-ipsum/"
                         "brace/thin pages) before the doc-level gates")
    ap.add_argument("--bpe-merges", type=int, default=0,
                    help="train a BPE merge list of this size on the "
                         "train split and write bpe/merges.json (0=off)")
    ap.add_argument("--pack-seq-len", type=int, default=0,
                    help="write a packed-sequence table (GPT concat-and-"
                         "split at L slots per sequence, per split; 0=off)")
    ap.add_argument("--shuffle-shards", type=int, default=0,
                    help="write a deterministic training-shuffle sidecar "
                         "(doc_id, shard, pos) per split with this many "
                         "shards (ops/sketch.corpus_shuffle; 0 = off)")
    ap.add_argument("--shuffle-seed", default="s1",
                    help="seed for --shuffle-shards (the shuffle order is "
                         "reproducible from the seed alone)")
    ap.add_argument("--lm-buckets", action="store_true",
                    help="train a stupid-backoff trigram LM on the train "
                         "split and write a CCNet-style head/middle/tail "
                         "bucket sidecar (lm_buckets/) over all splits")
    ap.add_argument("--num-hashes", type=int, default=8)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--mix-alpha", type=int, default=0, choices=[0, 50, 100],
                    help="temperature mixing α·100 over lang (0 = off; 50 = "
                         "sqrt upsampling of tail languages, 100 = natural "
                         "proportions with --mix-target downsampling)")
    ap.add_argument("--mix-target", type=int, default=0,
                    help="target corpus size for --mix-alpha (0 = keep "
                         "the survivor count)")
    args = ap.parse_args(argv)
    if bool(args.docs) == bool(args.from_extract):
        ap.error("exactly one of --docs / --from-extract is required")

    from pyspark.sql import functions as F

    from html_parser_spark.ops.corpus import chunk_plan
    from html_parser_spark.spark.session import active_spark

    spark = active_spark("curate-job")

    n_captures = None
    if args.docs:
        docs = spark.read.parquet(args.docs).select("doc_id", "text", "lang")
    else:
        from html_parser_spark.ops.web import (
            canonicalize_url,
            host_blocklist_filter,
            latest_capture,
            url_parts,
        )

        raw = spark.read.parquet(os.path.join(args.from_extract, "data"))
        # accept both extract_job outputs: dictionary extraction
        # (extracted_text) and --main-content boilerplate strip (main_text)
        text_src = "main_text" if "main_text" in raw.columns else "extracted_text"
        if args.canonical_dedup and "canonical" not in raw.columns:
            raise SystemExit(
                "--canonical-dedup needs a 'canonical' column in the extract "
                "output (produced by extract_job --main-content); this input "
                "has none"
            )
        extra = ["canonical"] if args.canonical_dedup else []
        res = (
            raw.where(F.col(text_src).isNotNull())
            .select(
                canonicalize_url("url").alias("url"),
                "warc_ts",
                F.col(text_src).alias("extracted_text"),
                "lang",
                *[canonicalize_url(c).alias("canonical") for c in extra],
            )
        )
        n_captures = res.count()
        if args.canonical_dedup:
            # page-declared dedup: one representative per rel=canonical
            # group (self-canonical first, then newest — ops/web.
            # canonical_dedup); the group target becomes the doc url
            from html_parser_spark.ops.web import canonical_dedup

            res = canonical_dedup(res).select(
                F.col("canonical_url").alias("url"),
                "warc_ts",
                "extracted_text",
                "lang",
            )
        else:
            # url-level dedup: canonical url + newest capture wins
            res = latest_capture(res)
        if args.blocklist_hosts:
            res = host_blocklist_filter(
                url_parts(res), args.blocklist_hosts.split(",")
            ).select("url", "warc_ts", "extracted_text", "lang")
        if args.domain_cap > 0:
            # FineWeb-style diversification: at most N docs per host,
            # selected by the deterministic salted-md5 ranking
            # (ops/web.domain_cap — WindowGroupLimit, map-side top-N)
            from html_parser_spark.ops.web import domain_cap

            res = domain_cap(
                url_parts(res), args.domain_cap, host_col="host", id_col="url"
            ).select("url", "warc_ts", "extracted_text", "lang")
        docs = res.select(
            F.xxhash64("url").alias("doc_id"),
            F.col("extracted_text").alias("text"),
            "lang",
        )
    n_before_mojibake = None
    if args.mojibake_max_ppm > 0:
        # encoding-damage gate FIRST: a page whose text is already
        # mojibake poisons every downstream token-level gate, so it
        # drops before the quality battery ever reads it (one codegen
        # projection + a left-semi join on doc_id)
        from html_parser_spark.ops.encoding import mojibake_score

        n_before_mojibake = docs.count()
        clean_ids = (
            mojibake_score(docs)
            .where(F.col("mojibake_ppm") <= args.mojibake_max_ppm)
            .select("doc_id")
        )
        docs = docs.join(clean_ids, "doc_id", "left_semi")
    n_term_blocked = None
    if args.block_terms:
        # doc-level bad-word gate (C4 §2.2): one codegen projection over
        # the literal term array + a doc_id semi-join — runs before the
        # prose battery so blocked docs never pay downstream gate cost
        from html_parser_spark.ops.text import term_blocklist_flags

        terms = [t.strip() for t in args.block_terms.split(",") if t.strip()]
        n_before_terms = docs.count()
        keep_ids = (
            term_blocklist_flags(docs, terms)
            .where(~F.col("blocked"))
            .select("doc_id")
        )
        docs = docs.join(keep_ids, "doc_id", "left_semi")
        n_term_blocked = n_before_terms - docs.count()
    n_code_routed = None
    if args.code_route:
        # code-vs-prose routing BEFORE the NL quality battery: C4/Gopher
        # style gates are calibrated for prose and would junk legitimate
        # code, so code-heavy docs leave the stream here (one codegen
        # projection + doc_id semi-joins) and land in their own parquet
        # for a code-calibrated pipeline to pick up
        from html_parser_spark.ops.text import code_profile

        prof = code_profile(docs).select("doc_id", "code_ppm")
        code_ids = prof.where(
            F.col("code_ppm") > args.code_max_ppm
        ).select("doc_id")
        code_stream = docs.join(code_ids, "doc_id", "left_semi")
        code_stream.write.mode("overwrite").parquet(args.code_route)
        n_code_routed = spark.read.parquet(args.code_route).count()
        docs = docs.join(code_ids, "doc_id", "left_anti")
    n_before_c4 = None
    if args.c4_lines:
        n_before_c4 = docs.count()
        docs = c4_clean(docs)
    docs, funnel = curate_docs(
        docs,
        min_tokens=args.min_tokens,
        max_top_word_frac=args.max_top_word_frac,
        max_dup_bigram_frac=args.max_dup_bigram_frac,
        gopher=args.gopher,
        span_dedup_tokens=args.span_dedup_tokens,
        scrub_pii=args.scrub_pii,
        num_hashes=args.num_hashes,
        bands=args.bands,
        mix_alpha_pct=args.mix_alpha,
        mix_target_docs=args.mix_target or None,
    )

    # write partitioned by split so training reads prune to one directory
    out_docs = os.path.join(args.output, "docs")
    docs.write.mode("overwrite").partitionBy("split").parquet(out_docs)
    # explicit schema: an aggressive filter chain can legitimately drop
    # EVERY doc, and a zero-row partitioned write leaves nothing for
    # schema inference — the funnel metrics must still come out
    final = spark.read.schema(docs.schema).parquet(out_docs)
    splits = {
        r["split"]: r["n"]
        for r in final.groupBy("split").agg(F.count("*").alias("n")).collect()
    }

    # 5. optional chunk table
    n_chunks = 0
    if args.chunk_tokens > 0:
        chunks = chunk_plan(final, chunk_tokens=args.chunk_tokens)
        out_chunks = os.path.join(args.output, "chunks")
        chunks.write.mode("overwrite").parquet(out_chunks)
        n_chunks = spark.read.parquet(out_chunks).count()

    # 6. optional packed-sequence table (packed_sequences, per split)
    n_sequences = 0
    if args.pack_seq_len > 0 and splits:
        n_sequences = write_per_split(
            final, os.path.join(args.output, "sequences"), sorted(splits),
            lambda part: packed_sequences(part, args.pack_seq_len),
        )

    # 6b. optional deterministic training-shuffle sidecar: the
    # reproducible ORDER BY rand() replacement (ops/sketch.
    # corpus_shuffle) — shard + within-shard position keyed by
    # md5(seed||doc_id), per split so train/valid/test never share a
    # shard; the shuffle order re-derives from the seed alone on resume
    n_shuffled = 0
    if args.shuffle_shards > 0 and splits:
        from html_parser_spark.ops.sketch import corpus_shuffle

        n_shuffled = write_per_split(
            final, os.path.join(args.output, "shuffle"), sorted(splits),
            lambda part: corpus_shuffle(
                part.select("doc_id"), "doc_id",
                n_shards=args.shuffle_shards, seed=args.shuffle_seed,
            ),
        )

    # 7. optional BPE tokenizer training on the TRAIN split only (never
    # valid/test — the tokenizer is part of the model): the corpus-scale
    # pass is ops/bpe.word_freqs (ONE partial-agg groupBy); the merge
    # loop runs driver-side over the bounded Zipf head (see ops/bpe.py
    # for why that is the production architecture)
    n_merges = 0
    if args.bpe_merges > 0 and splits.get("train"):
        from html_parser_spark.ops.bpe import train_bpe, word_freqs

        freqs = word_freqs(final.where(F.col("split") == "train"))
        merges = train_bpe(freqs, n_merges=args.bpe_merges)
        n_merges = len(merges)
        bpe_dir = os.path.join(args.output, "bpe")
        os.makedirs(bpe_dir, exist_ok=True)
        with open(os.path.join(bpe_dir, "merges.json"), "w") as f:
            json.dump([list(p) for p in merges], f)

    # 8. optional CCNet-style LM bucket sidecar: the trigram stupid-
    # backoff model trains on the TRAIN split only (like the tokenizer —
    # scoring valid/test with a model that saw them would leak), then
    # every doc in every split gets a per-lang head/middle/tail tag
    # (ops/lm.py; integer-exact, histogram bucketing, no doc-wide window)
    lm_counts = {}
    if args.lm_buckets and splits.get("train"):
        from html_parser_spark.ops.lm import (
            perplexity_buckets,
            score_stupid_backoff,
            train_stupid_backoff,
        )

        model = train_stupid_backoff(
            final.where(F.col("split") == "train").select("doc_id", "text")
        )
        scored = score_stupid_backoff(final.select("doc_id", "text"), model)
        bucketed = perplexity_buckets(scored, final.select("doc_id", "lang"))
        out_lm = os.path.join(args.output, "lm_buckets")
        bucketed.write.mode("overwrite").parquet(out_lm)
        lm_counts = {
            r["bucket"]: r["n"]
            for r in spark.read.parquet(out_lm)
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    print(json.dumps({
        "job": "curate",
        **({"captures_in": n_captures} if n_captures is not None else {}),
        **({"before_mojibake": n_before_mojibake}
           if n_before_mojibake is not None else {}),
        **({"term_blocked": n_term_blocked}
           if n_term_blocked is not None else {}),
        **({"code_routed": n_code_routed}
           if n_code_routed is not None else {}),
        **({"before_c4_lines": n_before_c4} if n_before_c4 is not None else {}),
        **funnel,
        "splits": splits,
        "chunks": n_chunks,
        **({"sequences": n_sequences} if args.pack_seq_len > 0 else {}),
        **({"shuffled": n_shuffled} if args.shuffle_shards > 0 else {}),
        **({"bpe_merges": n_merges} if args.bpe_merges > 0 else {}),
        **({"lm_buckets": lm_counts} if args.lm_buckets else {}),
    }))


if __name__ == "__main__":
    main()
