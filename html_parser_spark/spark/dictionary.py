"""Spark integration of the dictionary chain: V1 entries → V2.1, flipper,
order check, quality flags, exports.

Design (SURVEY.md §7.0): the per-entry passes (M1-M10, M15 rules) fuse into
ONE Arrow row UDF (``spark/pipeline.py:row_udf``) over the parse results'
``entries`` column — per-document, no shuffle; the flipper fan-out and the
M12/M13 export pairs are row UDFs of the same form.  The genuinely
relational steps are DataFrame ops:

* M11 flipper — in-UDF candidate fan-out + ``explode`` + one
  ``groupBy(flipped_spelling)`` shuffle (uniform keys);
* M14 alphabetical-order check — ``lag`` window over the corpus order;
* M12/M13 exports — per-row nested transforms, ``explode`` only at the sink
  boundary (unnesting is allowed there — it IS the output shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from html_parser_spark.spark.pipeline import row_udf


EXAMPLE_TYPE = T.StructType(
    [
        T.StructField("raw", T.StringType()),
        T.StructField("src", T.StringType()),
        T.StructField("trl", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)

DEFINITION_TYPE = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)

DEF_DETAILS_TYPE = T.StructType(
    [
        T.StructField("definitions", T.ArrayType(DEFINITION_TYPE)),
        T.StructField("examples", T.ArrayType(EXAMPLE_TYPE)),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)

EXP_DETAILS_TYPE = T.StructType(
    [
        T.StructField("gr", T.StringType()),
        T.StructField("inflection", T.StringType()),
        T.StructField("definitionDetails", T.ArrayType(DEF_DETAILS_TYPE)),
        T.StructField("examples", T.ArrayType(EXAMPLE_TYPE)),
    ]
)

EXPRESSION_V21_TYPE = T.StructType(
    [
        T.StructField("spelling", T.ArrayType(T.StringType())),
        T.StructField("details", T.ArrayType(EXP_DETAILS_TYPE)),
    ]
)

V21_ENTRIES_TYPE = T.ArrayType(EXPRESSION_V21_TYPE)


def _migrate_one_doc(entries: list, dialect: str) -> list[dict]:
    """Full per-document chain: M1-M6 (mapper+merge) → M7/M8 → M9 → M10."""
    from html_parser_spark.engine import postprocess as pp
    from html_parser_spark.engine.core import convert_dictionary_v1_to_v2
    from html_parser_spark.engine.mappers import MAPPERS

    mapper = MAPPERS.get(dialect, MAPPERS["lez_rus_babakhanov"])
    splitter = pp.SPELLING_SPLITTERS.get(dialect, pp.SPELLING_SPLITTERS["lez_rus_babakhanov"])
    v1 = [
        {
            "spelling": e.get("spelling") or "",
            "inflection": e.get("inflection"),
            "definitions": [d for d in (e.get("definitions") or []) if d is not None],
        }
        for e in (entries or [])
        if e is not None
    ]
    v2 = convert_dictionary_v1_to_v2(v1, mapper)
    for expr in v2:
        pp.standardize_expression_tags(expr)
        # the reference runs 02_examplesExtraction only on the Hajiyev and
        # Tabasaran dictionaries (02_examplesExtraction.ts:9-15); Babakhanov
        # goes from cleanTagsOutput straight to the spelling split
        if dialect != "lez_rus_babakhanov":
            pp.extract_examples(expr)
    return [pp.split_spelling(e, splitter) for e in v2]


_DIALECT_BY_LANG = {"lez": "lez_rus_babakhanov", "rus": "rus_lez_hajiyev", "tab": "tab_rus"}


def _migrate_row(entries: list, lang: str | None) -> list[dict]:
    try:
        return _migrate_one_doc(entries, _DIALECT_BY_LANG.get(lang, "lez_rus_babakhanov"))
    except Exception:
        return []


migrate_entries_udf = row_udf(_migrate_row, V21_ENTRIES_TYPE)


def migrate_results(results: DataFrame) -> DataFrame:
    """results(url, lang, entries, …) → + ``entries_v21`` column (fused UDF,
    zero shuffle — stays in the same stage as the parse when pipelined).
    NULL entries migrate as an empty array."""
    return results.withColumn(
        "entries_v21",
        migrate_entries_udf(F.expr("coalesce(entries, array())"), F.col("lang")),
    )


# --- M11 flipper ----------------------------------------------------------


def _flip_row(entries_v21: list) -> list[dict]:
    from html_parser_spark.engine.flipper import _flip_candidates, single_word_filter
    from html_parser_spark.jsstr import js_trim

    cands = []
    for e in entries_v21:
        if e is None:
            continue
        for c in _flip_candidates(e):
            sp = c["spelling"]
            if single_word_filter(sp):
                cands.append(c)
            elif (
                "," in sp and sp != "" and "-" not in sp
                and "{" not in sp and "}" not in sp
            ):
                for part in sp.split(","):
                    p = js_trim(part.replace("(", "").replace(")", ""))
                    if single_word_filter(p):
                        cands.append({"spelling": p, "details": c["details"]})
    return cands


flip_candidates_udf = row_udf(_flip_row, T.ArrayType(T.StructType([
    T.StructField("spelling", T.StringType()),
    T.StructField("details", T.ArrayType(EXP_DETAILS_TYPE)),
])))


def flip_dictionary_df(migrated: DataFrame) -> DataFrame:
    """The one genuine shuffle: per-row candidate fan-out, then
    groupBy(flipped spelling) merging details (flipper.ts:114-125 semantics,
    aliasing-free).  Keys are headwords — uniform, no skew handling needed."""
    cands = migrated.select(
        F.explode(flip_candidates_udf(F.col("entries_v21"))).alias("c")
    ).select(F.col("c.spelling").alias("flipped_spelling"), F.col("c.details").alias("details"))
    return cands.groupBy("flipped_spelling").agg(
        F.flatten(F.collect_list("details")).alias("details"),
        F.count("*").alias("n_sources"),
    )


# --- M14 order check ------------------------------------------------------


def order_violations_df(spellings: DataFrame, alphabet: list[str],
                        spelling_col: str = "spelling", seq_col: str = "seq",
                        partition_col: str | None = "dictionary_id") -> DataFrame:
    """postProcessor/index.ts:46-87 as a real window op: collation index via
    a broadcast alphabet map, lag over the per-dictionary order.

    The window partitions by ``partition_col`` BY DEFAULT so corpus-scale
    input cannot hit a single-partition global sort.  A global ordered window
    (per-dictionary validation of a ~10^4-row input only) requires an
    explicit ``partition_col=None``; a missing partition column is an error,
    not a silent fallback to the global sort."""
    if partition_col is not None and partition_col not in spellings.columns:
        raise ValueError(
            f"order_violations_df: partition column {partition_col!r} not in "
            f"input columns {spellings.columns}; pass partition_col=None to "
            "force a single global sort (small per-dictionary input only)"
        )
    amap = {letter: i for i, letter in enumerate(alphabet)}
    mapping = F.create_map(*[F.lit(x) for pair in amap.items() for x in pair])
    two = F.upper(F.substring(F.col(spelling_col), 1, 2))
    one = F.upper(F.substring(F.col(spelling_col), 1, 1))
    idx = F.coalesce(mapping[two], mapping[one], F.lit(-1))
    if partition_col is not None:
        w = Window.partitionBy(partition_col).orderBy(seq_col)
    else:
        w = Window.orderBy(seq_col)
    flagged = (
        spellings.withColumn("_idx", idx)
        .withColumn("_prev_idx", F.lag("_idx").over(w))
        .withColumn("_prev_spelling", F.lag(spelling_col).over(w))
    )
    keys = [F.col(partition_col)] if partition_col is not None else []
    return flagged.select(
        *keys,
        F.col(seq_col),
        F.col(spelling_col),
        F.col("_prev_spelling").alias("prev_spelling"),
        F.when(F.col("_idx") == -1, F.lit("missing_letter"))
        .when(
            F.col("_prev_idx").isNotNull() & (F.col("_idx") < F.col("_prev_idx")),
            F.lit("out_of_order"),
        )
        .alias("reason"),
    ).filter(F.col("reason").isNotNull())


# --- M12 / M13 exports ----------------------------------------------------


def _corpus_row(entries_v21: list, lang: str | None) -> list[dict]:
    from html_parser_spark.engine.exports import examples_to_parallel_corpus

    lez_key, rus_key = ("src", "trl") if lang != "rus" else ("trl", "src")
    try:
        return examples_to_parallel_corpus(
            [e for e in entries_v21 if e is not None], lez_key, rus_key
        )
    except Exception:
        return []


corpus_pairs_udf = row_udf(_corpus_row, T.ArrayType(T.StructType([
    T.StructField("lez", T.StringType()),
    T.StructField("rus", T.StringType()),
])))


def parallel_corpus_df(migrated: DataFrame) -> DataFrame:
    """M12 — one row per (lez, rus) pair; explode at the sink boundary."""
    return migrated.select(
        F.explode(corpus_pairs_udf(F.col("entries_v21"), F.col("lang"))).alias("p")
    ).select(F.col("p.lez").alias("lez"), F.col("p.rus").alias("rus"))


def _training_row(entries_v21: list, lang: str | None) -> list[dict]:
    from html_parser_spark.engine.exports import expressions_to_training_pairs

    try:
        pairs = expressions_to_training_pairs(
            [e for e in entries_v21 if e is not None], is_src_lezgi=(lang != "rus")
        )
        return [{"rus": r, "lez": l} for r, l in pairs]
    except Exception:
        return []


training_pairs_udf = row_udf(_training_row, T.ArrayType(T.StructType([
    T.StructField("rus", T.StringType()),
    T.StructField("lez", T.StringType()),
])))


def training_rows_df(migrated: DataFrame, use_templates: bool = True) -> DataFrame:
    """M13 — chat-format training rows; deterministic template pick by a
    hash of the pair (seeded analog of the reference's Math.random)."""
    from html_parser_spark.engine.exports import QUESTION_TEMPLATES

    pairs = migrated.select(
        F.explode(training_pairs_udf(F.col("entries_v21"), F.col("lang"))).alias("p")
    ).select(F.col("p.rus").alias("rus"), F.col("p.lez").alias("lez"))
    templates = F.array(*[F.lit(t) for t in QUESTION_TEMPLATES])
    idx = F.pmod(F.abs(F.xxhash64("rus", "lez")), F.lit(len(QUESTION_TEMPLATES))).cast("int")
    user = (
        F.concat(F.element_at(templates, idx + 1), F.lit(": "), F.col("rus"))
        if use_templates
        else F.col("rus")
    )
    return pairs.select(
        user.alias("user"),
        F.col("lez").alias("assistant"),
        F.to_json(
            F.struct(
                F.array(
                    F.struct(F.lit("user").alias("role"), user.alias("content")),
                    F.struct(F.lit("assistant").alias("role"), F.col("lez").alias("content")),
                ).alias("messages")
            )
        ).alias("jsonl"),
    )
