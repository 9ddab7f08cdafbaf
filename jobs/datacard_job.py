"""spark-submit entry point for the corpus datacard — the summary table a
released training set ships with (Datasheets for Datasets; Dolma/FineWeb
publish exactly this shape):

    spark-submit --py-files htmlps.zip jobs/datacard_job.py \
        --docs <curated docs parquet dir> --output <dir>

Reads any parquet with (doc_id, text, lang[, split]) — e.g. the
``docs/`` table a curate/flagship run writes — and emits:

* ``datacard.json`` + ONE stdout JSON line: corpus totals (docs, tokens,
  chars, bytes), per-(split, lang) rows with doc/token/char counts and
  corpus share, and token-length percentiles (p50/p90/p99) per split;
* ``card_rows/`` parquet — the same per-(split, lang) rows as a table,
  so the card is queryable, not just printable;
* with ``--manifest-shards N``: ``manifest/`` — per-shard row counts +
  order-insensitive content digests (ops/corpus.shard_manifest), the
  shard-for-shard reproducibility ledger a release ships;
* with ``--compare <old docs>``: ``drift/`` — per-lang share delta vs
  the previous release (ops/corpus.distribution_drift) plus the integer
  total-variation distance in the summary line — the month-over-month
  crawl-mix alarm;
* with ``--mix-weights lang:ppm,... --mix-target N``: ``mixture/`` —
  the epoch-plan table (ops/corpus.mixture_plan: planned tokens and
  epochs per source for an N-token run) plus ``repeated_sources`` in
  the summary line — the "your 2% source is 11 epochs of itself" audit.

Scale shape: ONE partial-agg groupBy(split, lang) for the counts and ONE
``percentile_approx`` aggregate per split for the length quantiles
(t-digest style sketch — mergeable, single pass, no sort of the corpus;
exact percentiles at 10^12 rows would need a full global sort, which no
datacard needs).  Everything else is arithmetic over the tiny aggregate.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_datacard(docs):
    """(per-(split,lang) rows DataFrame, card dict) over (doc_id, text,
    lang[, split]) — shared by the CLI and tests."""
    from pyspark.sql import functions as F

    if "split" not in docs.columns:
        docs = docs.withColumn("split", F.lit("all"))
    base = docs.select(
        "split",
        F.coalesce(F.col("lang"), F.lit("und")).alias("lang"),
        F.size(
            F.filter(
                F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).cast("long").alias("n_tokens"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias(
            "n_chars"
        ),
        F.octet_length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias(
            "n_bytes"
        ),
    )
    rows = (
        base.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_bytes").alias("n_bytes"),
        )
    )
    # distinct-vocabulary estimate per (split, lang): exact
    # count(distinct token) at 10^12 rows is a corpus-sized shuffle of
    # every token string per group; the HLL register sketch
    # (ops/sketch.py) bounds the shuffle at |groups|·m cells and is the
    # number datacards actually publish (FineWeb/Dolma report vocab
    # sizes as estimates).  m=256 → ~6.5% standard error.
    from html_parser_spark.ops.sketch import (
        hll_estimate,
        hll_linear_corrected,
        hll_registers,
    )

    tok = docs.select(
        "split",  # docs was normalized above: the column always exists here
        F.coalesce(F.col("lang"), F.lit("und")).alias("lang"),
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
        ).alias("tok"),
    ).filter(F.length("tok") > 0)
    vocab = hll_linear_corrected(
        hll_estimate(
            hll_registers(tok, "tok", ("split", "lang"), m=256),
            ("split", "lang"),
            m=256,
        ),
        m=256,
    ).select("split", "lang", F.col("est_distinct").alias("vocab_est"))
    rows = rows.join(vocab, ["split", "lang"], "left").na.fill({"vocab_est": 0})
    pct = (
        base.groupBy("split")
        .agg(
            F.percentile_approx(
                "n_tokens", [0.5, 0.9, 0.99], 10_000
            ).alias("p")
        )
        .collect()
    )
    percentiles = {
        r["split"]: {"p50": r["p"][0], "p90": r["p"][1], "p99": r["p"][2]}
        for r in pct
    }
    collected = [r.asDict() for r in rows.collect()]
    total_docs = sum(r["n_docs"] for r in collected)
    total_tokens = sum(r["n_tokens"] for r in collected)
    for r in collected:
        r["doc_share"] = round(r["n_docs"] / total_docs, 6) if total_docs else 0.0
        r["token_share"] = (
            round(r["n_tokens"] / total_tokens, 6) if total_tokens else 0.0
        )
    card = {
        "totals": {
            "docs": total_docs,
            "tokens": total_tokens,
            "chars": sum(r["n_chars"] for r in collected),
            "bytes": sum(r["n_bytes"] for r in collected),
            "langs": len({r["lang"] for r in collected}),
            "splits": sorted({r["split"] for r in collected}),
        },
        "token_length_percentiles": percentiles,
        "rows": sorted(
            collected, key=lambda r: (r["split"], -r["n_docs"], r["lang"])
        ),
    }
    return rows, card


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True,
                    help="parquet dir with (doc_id, text, lang[, split])")
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest-shards", type=int, default=0,
                    help="also write manifest/ — per-shard row counts + "
                         "order-insensitive content digests for release "
                         "integrity (ops/corpus.shard_manifest); shards "
                         "are keyed by md5(doc_id) mod N unless the input "
                         "already carries a 'shard' column (0 = off)")
    ap.add_argument("--concentration", default=None,
                    help="also write concentration/ — the magnitude-bucket "
                         "Lorenz profile of character mass over this key "
                         "column (ops/corpus.concentration_profile; e.g. "
                         "'host' or 'lang'): how much of the corpus sits "
                         "on how few keys, in exact integer ppm; the "
                         "summary line reports the heaviest bucket's "
                         "cumulative share")
    ap.add_argument("--compare", default=None,
                    help="previous release's docs parquet: also write "
                         "drift/ (per-lang share delta vs this release, "
                         "ops/corpus.distribution_drift) and report the "
                         "total-variation distance in the summary line")
    ap.add_argument("--mix-weights", default=None,
                    help="'lang:ppm,lang:ppm,...' target mixture weights: "
                         "also write mixture/ — the epoch-plan table "
                         "(ops/corpus.mixture_plan: planned tokens and "
                         "epochs per source at --mix-target total tokens) "
                         "and report repeated_sources (sources a run "
                         "would see more than one epoch of) in the "
                         "summary line")
    ap.add_argument("--mix-target", type=int, default=0,
                    help="target total training tokens for --mix-weights "
                         "(required with it)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from html_parser_spark.spark.session import active_spark

    spark = active_spark("datacard-job")
    docs = spark.read.parquet(args.docs)
    rows, card = build_datacard(docs)
    os.makedirs(args.output, exist_ok=True)
    rows.write.mode("overwrite").parquet(
        os.path.join(args.output, "card_rows")
    )
    extras = {}
    if args.manifest_shards > 0:
        from html_parser_spark.ops.corpus import shard_manifest

        sharded = docs
        if "shard" not in docs.columns:
            sharded = docs.withColumn(
                "shard",
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("long")
                % args.manifest_shards,
            )
        out_manifest = os.path.join(args.output, "manifest")
        shard_manifest(sharded).write.mode("overwrite").parquet(out_manifest)
        extras["manifest_shards"] = spark.read.parquet(out_manifest).count()
    if args.concentration:
        from html_parser_spark.ops.corpus import concentration_profile

        if args.concentration not in docs.columns:
            raise SystemExit(
                f"--concentration column '{args.concentration}' not in "
                f"input columns {docs.columns}"
            )
        sized = docs.select(
            F.coalesce(
                F.col(args.concentration).cast("string"), F.lit("und")
            ).alias("_key"),
            F.length("text").cast("long").alias("_chars"),
        )
        conc = concentration_profile(sized, "_key", "_chars")
        out_conc = os.path.join(args.output, "concentration")
        conc.write.mode("overwrite").parquet(out_conc)
        top = (
            spark.read.parquet(out_conc)
            .orderBy(F.desc("bucket"))
            .first()
        )
        extras["concentration_top_ppm"] = (
            int(top["cum_total_ppm"]) if top else 0
        )
    if args.compare:
        from html_parser_spark.ops.corpus import distribution_drift

        prev = spark.read.parquet(args.compare)
        lang_of = lambda d: d.select(  # noqa: E731
            F.coalesce(F.col("lang"), F.lit("und")).alias("lang")
        )
        drift = distribution_drift(lang_of(prev), lang_of(docs), "lang")
        out_drift = os.path.join(args.output, "drift")
        drift.write.mode("overwrite").parquet(out_drift)
        tvd2 = (
            spark.read.parquet(out_drift)
            .agg(F.sum("delta_ppm").cast("long").alias("s"))
            .collect()[0]["s"]
        ) or 0
        # TVD = Σ|Δshare|/2; delta is in ppm, so halve the integer sum —
        # report in ppm (of 10^6) so the number stays integer-exact
        extras["drift_tvd_ppm"] = tvd2 // 2
    if args.mix_weights:
        from html_parser_spark.ops.corpus import mixture_plan

        if args.mix_target <= 0:
            raise SystemExit("--mix-weights requires --mix-target > 0")
        try:
            weights = {
                k.strip(): int(v)
                for k, v in (p.split(":") for p in args.mix_weights.split(","))
            }
        except ValueError as e:
            raise SystemExit(f"bad --mix-weights spec: {e}")
        tokd = docs.select(
            F.coalesce(F.col("lang"), F.lit("und")).alias("lang"),
            F.size(
                F.filter(
                    F.split(
                        F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"
                    ),
                    lambda x: F.length(x) > 0,
                )
            ).cast("long").alias("n_tokens"),
        )
        plan = mixture_plan(tokd, weights, args.mix_target)
        out_mix = os.path.join(args.output, "mixture")
        plan.write.mode("overwrite").parquet(out_mix)
        extras["repeated_sources"] = int(
            spark.read.parquet(out_mix).filter(F.col("repeated")).count()
        )
    with open(os.path.join(args.output, "datacard.json"), "w") as f:
        json.dump({**card, **extras}, f, indent=2, sort_keys=True)
    print(json.dumps({"job": "datacard", **card["totals"], **extras}))


if __name__ == "__main__":
    main()
