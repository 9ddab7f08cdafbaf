"""Count-based n-gram language model (stupid backoff) + CCNet-style
perplexity bucketing — the quality signal CCNet (Wenzek et al. 2020)
uses to split Common Crawl into head/middle/tail and that most
LLM-data pipelines since have kept.

Why stupid backoff (Brants et al. 2007, "Large Language Models in
Machine Translation"): it is the n-gram smoothing scheme DESIGNED for
distributed corpus-scale training — no discounting pass, no
normalization across the vocabulary, just raw counts and a constant
backoff penalty — so the whole model is two groupBys over the corpus.
KenLM-style Kneser-Ney (what CCNet ships) needs adjusted counts and a
per-order normalization sweep; stupid backoff is the published
same-family scheme that stays embarrassingly parallel, and Brants
reports it matches KN at large data sizes, which is exactly our
regime.

Everything is integer-exact so results are bit-identical across
engines and shuffle orders: the backoff constant 0.4 is carried as the
rational 2/5 and scores are scaled-integer `div` expressions, never
floats (a float SUM over a shuffle is order-dependent; a BIGINT SUM is
not).  With ``scale=10**6`` the per-token product ``cnt * scale * 2^k``
stays under 2^63 for corpora up to ~2·10^12 tokens of any single
n-gram — beyond that, drop ``scale`` or move the two products to
DECIMAL(38,0); the plan shape is unchanged.

Scale design (100 TB):

* the model is FLAT ``(order, ctx, tok, cnt, ctx_total)`` rows — never
  a driver-side dict: at corpus scale the trigram table is O(corpus)
  and lives as a (bucketable) table, exactly like the inverted index.
* training is ONE explode over all orders + ONE partial-agg
  groupBy(order, ctx, tok), then ONE groupBy(order, ctx) for the
  denominators and an equi-join to attach them.  Both aggregations
  combine map-side; the hot context ("the", "") partially aggregates
  inside each task before the shuffle.
* scoring joins the token-event stream (O(total tokens) rows) against
  the model per order — three LEFT equi-joins on (ctx, tok).  AQE
  skew-join splits the stopword contexts.  The production alternative
  (what CCNet does) is broadcasting a compact binary LM to every
  worker and scoring in a map stage — correct when the model fits one
  machine, impossible when the model itself is corpus-sized; the join
  formulation is the one that survives both regimes.
* bucketing never windows over docs: per-language score HISTOGRAMS
  (bounded by the score scale, not the corpus) are cumulated and the
  thresholds joined back — the CCNet percentile-cutoff trick, exact.

No reference counterpart (the reference is a single-corpus dictionary
parser); this op belongs to the LLM-training-data tier the brief
mandates alongside dedup/quality/tokenization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .text import tokens


def _token_arrays(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("_t"),
    )


def train_stupid_backoff(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Train an order-``n`` stupid-backoff model.

    Returns flat rows ``(order, ctx, tok, cnt, ctx_total)`` where
    ``ctx`` is the space-joined (order-1)-token context ('' for
    unigrams), ``cnt`` = corpus count of (ctx, tok), and ``ctx_total``
    = count of ALL continuations of ctx at that order (the stupid-
    backoff denominator).  For order 1, ``ctx_total`` is the corpus
    token count N.
    """
    toks = _token_arrays(docs, text_col, id_col)
    grams = None
    for k in range(1, n + 1):
        # positions i = k..len; context = tokens[i-k+1 .. i-1]
        g = toks.select(
            F.explode(
                F.when(
                    F.size("_t") >= k,
                    F.expr(
                        f"transform(sequence({k}, size(_t)), i -> struct("
                        f"  concat_ws(' ', slice(_t, i - {k} + 1, {k} - 1)) AS ctx,"
                        f"  element_at(_t, i) AS tok))"
                    ),
                ).otherwise(F.expr("array()")),
            ).alias("g")
        ).select(F.lit(k).alias("order"), "g.ctx", "g.tok")
        grams = g if grams is None else grams.unionByName(g)
    cnt = grams.groupBy("order", "ctx", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = cnt.groupBy("order", "ctx").agg(F.sum("cnt").alias("ctx_total"))
    return cnt.join(totals, ["order", "ctx"])


def score_stupid_backoff(
    docs: DataFrame,
    model: DataFrame,
    n: int = 3,
    scale: int = 10**6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document under the model, integer-exact.

    Per token at position i the scorer uses the LONGEST context
    available at that position (min(i-1, n-1) tokens) and backs off one
    order at a time; ``k`` backoffs multiply the score by (2/5)^k.
    Positions near the start of a document are NOT penalized for
    contexts that cannot exist (k counts backoffs from the longest
    AVAILABLE order, the Brants formulation).  A token absent even from
    the unigram table (possible when the model was trained on a split)
    scores 0 and counts in ``oov``.

    Per-token scaled score (BIGINT, exact):
        hit at available order:  cnt * scale          div ctx_total
        1 backoff:               cnt * scale * 2      div (ctx_total * 5)
        2 backoffs:              cnt * scale * 4      div (ctx_total * 25)

    Returns ``(doc_id, n_tokens, sum_score, hits3, hits2, hits1, oov,
    avg_score)`` — ``avg_score = sum_score div n_tokens`` (scaled
    per-token model fit; HIGHER = better modeled, the inverse
    direction of perplexity).
    """
    if n != 3:
        raise NotImplementedError("scorer is written for the standard n=3")
    # load-bearing persist, not a cache hint: the model is referenced by
    # THREE joins below (m3/m2/m1) and Catalyst does not dedupe subplans,
    # so a lazy model would re-run the full training aggregation once per
    # join (and the training explode twice per run via the totals join).
    # MEMORY_AND_DISK spills instead of OOMing when the n-gram table
    # outgrows executor memory; a production pipeline materializes the
    # model as a bucketBy(ctx) table instead (see module docstring).
    from pyspark import StorageLevel

    model = model.persist(StorageLevel.MEMORY_AND_DISK)
    toks = _token_arrays(docs, text_col, id_col)
    events = toks.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "transform(sequence(1, greatest(size(_t), 1)), i -> struct("
                "  CASE WHEN i <= size(_t) THEN element_at(_t, i) END AS tok,"
                "  CASE WHEN i >= 2 THEN element_at(_t, i - 1) ELSE NULL END AS c1,"
                "  CASE WHEN i >= 3 THEN concat_ws(' ', element_at(_t, i - 2),"
                "       element_at(_t, i - 1)) ELSE NULL END AS c2))"
            )
        ).alias("e"),
    ).select("doc_id", "e.tok", "e.c1", "e.c2")
    # empty docs produce one NULL-token event; drop it but keep the doc
    # via the final left join in callers (n_tokens = 0 rows keep a row
    # here through count(tok)).
    m3 = model.where(F.col("order") == 3).select(
        F.col("ctx").alias("c2"),
        F.col("tok").alias("tok"),
        F.col("cnt").alias("cnt3"),
        F.col("ctx_total").alias("tot3"),
    )
    m2 = model.where(F.col("order") == 2).select(
        F.col("ctx").alias("c1"),
        F.col("tok").alias("tok"),
        F.col("cnt").alias("cnt2"),
        F.col("ctx_total").alias("tot2"),
    )
    m1 = model.where(F.col("order") == 1).select(
        F.col("tok").alias("tok"),
        F.col("cnt").alias("cnt1"),
        F.col("ctx_total").alias("tot1"),
    )
    j = (
        events.join(m3, ["c2", "tok"], "left")
        .join(m2, ["c1", "tok"], "left")
        .join(m1, ["tok"], "left")
    )
    # number of backoffs k = available_order - hit_order, where
    # available context length = min(position-1, 2) is implied by
    # c2/c1 nullability: c2 NULL -> at most a bigram context exists.
    tri = F.col("cnt3").isNotNull()
    bi = F.col("cnt2").isNotNull()
    uni = F.col("cnt1").isNotNull()
    has_c2 = F.col("c2").isNotNull()
    has_c1 = F.col("c1").isNotNull()
    # the integer division is the SQL `div` (via expr) so Spark and the
    # DuckDB oracle evaluate the identical BIGINT expression; the 2/5
    # rationals are powers of the stupid-backoff alpha 0.4 = 2/5, kept
    # rational and folded into literals
    score = (
        F.when(tri, F.expr(f"cnt3 * {int(scale)}L div tot3"))
        .when(
            bi,
            F.when(
                has_c2, F.expr(f"cnt2 * {int(scale)}L * 2 div (tot2 * 5)")
            ).otherwise(F.expr(f"cnt2 * {int(scale)}L div tot2")),
        )
        .when(
            uni,
            F.when(
                has_c2, F.expr(f"cnt1 * {int(scale)}L * 4 div (tot1 * 25)")
            )
            .when(has_c1, F.expr(f"cnt1 * {int(scale)}L * 2 div (tot1 * 5)"))
            .otherwise(F.expr(f"cnt1 * {int(scale)}L div tot1")),
        )
        .when(F.col("tok").isNotNull(), F.lit(0))
        .otherwise(F.lit(None))
    )
    per_tok = j.select(
        "doc_id",
        "tok",
        score.cast("long").alias("_s"),
        tri.cast("int").alias("_h3"),
        (~tri & bi).cast("int").alias("_h2"),
        (~tri & ~bi & uni).cast("int").alias("_h1"),
        (F.col("tok").isNotNull() & ~tri & ~bi & ~uni).cast("int").alias("_oov"),
    )
    agg = per_tok.groupBy("doc_id").agg(
        F.count("tok").cast("long").alias("n_tokens"),
        F.coalesce(F.sum("_s"), F.lit(0)).cast("long").alias("sum_score"),
        F.coalesce(F.sum("_h3"), F.lit(0)).cast("long").alias("hits3"),
        F.coalesce(F.sum("_h2"), F.lit(0)).cast("long").alias("hits2"),
        F.coalesce(F.sum("_h1"), F.lit(0)).cast("long").alias("hits1"),
        F.coalesce(F.sum("_oov"), F.lit(0)).cast("long").alias("oov"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_score",
        "hits3",
        "hits2",
        "hits1",
        "oov",
        F.when(F.col("n_tokens") > 0, F.expr("sum_score div n_tokens"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("avg_score"),
    )


def perplexity_buckets(
    scored: DataFrame, langs: DataFrame, buckets: int = 3
) -> DataFrame:
    """CCNet head/middle/tail assignment, exact and window-free over docs.

    ``scored`` is ``score_stupid_backoff`` output; ``langs`` maps
    ``(doc_id, lang)``.  Within each language, docs are ranked by
    ``avg_score`` DESC (best-modeled first — CCNet's lowest-perplexity
    "head") and cut into ``buckets`` equal-count slices:
    ``bucket = least(buckets-1, strictly_better_docs * buckets div
    lang_total)``, labeled head/middle/tail for buckets=3 (``b0..``
    otherwise).  Docs tying on ``avg_score`` land in the SAME bucket
    (the rank uses only the score, never a row number), which makes the
    assignment independent of partitioning and shuffle order — the
    property a distributed pipeline needs and a bare ntile() lacks.

    Scale shape: ONE groupBy(lang, avg_score) histogram — its size is
    bounded by (#langs × score scale), not the corpus — then a window
    over that bounded histogram for the cumulative, and an equi-join
    back onto the docs.  No window ever partitions over documents.
    """
    from pyspark import StorageLevel

    # persisted because s feeds BOTH the histogram and the final join —
    # without it the whole upstream scoring chain executes twice
    s = scored.join(langs, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    hist = s.groupBy("lang", "avg_score").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("avg_score"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = hist.groupBy("lang").agg(F.sum("_n").alias("_tot"))
    cum = hist.withColumn(
        "_better", F.coalesce(F.sum("_n").over(w), F.lit(0)).cast("long")
    ).join(totals, "lang")
    b = F.least(
        F.lit(buckets - 1),
        F.expr(f"_better * {int(buckets)} div _tot").cast("int"),
    )
    names = (
        F.when(b == 0, "head").when(b == 1, "middle").otherwise("tail")
        if buckets == 3
        else F.concat(F.lit("b"), b.cast("string"))
    )
    cuts = cum.select("lang", "avg_score", names.alias("bucket"))
    return s.join(cuts, ["lang", "avg_score"]).select(
        "doc_id", "lang", "avg_score", "bucket"
    )
