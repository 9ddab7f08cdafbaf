"""The flagship extraction pipeline: pages table → results table.

Physical plan (SURVEY.md §4.3):

    Scan(pages, prune=[url, warc_ts, html, lang])
    → Exchange (salted repartition by xxhash64(url) % P)   # skew defeat
    → ArrowEvalPython [parse_document kernel]              # ONE fused UDF stage
    → Project [url, warc_ts, lang, fmt, extracted_text, entries, n_entries, ...]
    → sink (parquet here; Iceberg MERGE INTO in production)

Everything per-document → the parse is a pure partition-parallel map; the
only exchange is the explicit salting one.  This kernel and the page
kernels in ``ops/`` (main content, markdown, metadata, anchors, the fused
page kernel) each run as one :func:`kernel_stage`.
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

ENTRY_TYPE = T.StructType(
    [
        T.StructField("spelling", T.StringType()),
        T.StructField("inflection", T.StringType()),
        T.StructField("definitions", T.ArrayType(T.StringType())),
    ]
)

PARSED_TYPE = T.StructType(
    [
        T.StructField("fmt", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("entries", T.ArrayType(ENTRY_TYPE)),
        T.StructField("n_entries", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)


def oversized_rows(
    df: DataFrame, schema: T.StructType, fill: dict | None = None
) -> DataFrame:
    """``df`` + one column per ``schema`` field for pages that skip the
    kernel: ``fill[name]`` where the caller gives one, else 0 for numeric
    fields and NULL for the rest."""
    fill = fill or {}

    def value(f: T.StructField):
        if f.name in fill:
            return fill[f.name]
        return F.lit(0) if isinstance(f.dataType, T.NumericType) else F.lit(None)

    return df.select(
        *df.columns, *[value(f).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def route_oversized(
    df: DataFrame,
    max_html_bytes: int | None,
    kernel: Callable[[DataFrame], DataFrame],
    oversized: Callable[[DataFrame], DataFrame],
    html_col: str = "html",
) -> DataFrame:
    """``kernel`` over the pages of at most ``max_html_bytes``, ``oversized``
    over the rest, so a pathological crawl page costs one row, not a stalled
    task.  No cap → ``kernel(df)``.

    Filter+union, NOT ``when()``: a conditional around a Python UDF still
    evaluates the UDF for every row in the Arrow batch.  NULL html goes to
    the kernel side (kernels read it as an empty page); ``length <= cap``
    alone is NULL for it and would drop the row from both branches."""
    if not max_html_bytes:
        return kernel(df)
    fits = F.col(html_col).isNull() | (F.length(html_col) <= max_html_bytes)
    return kernel(df.filter(fits)).unionByName(oversized(df.filter(~fits)))


def kernel_stage(
    df: DataFrame,
    fn: Callable[..., dict],
    schema: T.StructType,
    max_html_bytes: int | None = None,
    *,
    html_col: str = "html",
    url_col: str | None = None,
    fill: dict | None = None,
) -> DataFrame:
    """``df`` + one column per ``schema`` field, computed per row by
    ``fn(html)`` (or ``fn(html, url)`` when ``url_col`` is given), which
    returns a dict keyed by the field names.  NULL html reaches ``fn`` as
    ``b""`` and NULL url as ``""``.

    ONE Arrow UDF returning a struct (one ArrowEvalPython node, no
    shuffle): each batch's columns reach Python as lists and the rows go
    back as one struct array, with no pandas in between.  Its fields are
    expanded next to the input columns.  ``max_html_bytes``
    routes larger pages around it (:func:`route_oversized`); they get
    :func:`oversized_rows` with ``fill``."""
    names = schema.fieldNames()
    row_type = to_arrow_type(schema)

    @F.arrow_udf(schema)
    def kernel(html: pa.Array, *url: pa.Array) -> pa.Array:
        pages = [b if b is not None else b"" for b in html.to_pylist()]
        rows = map(fn, pages, *(u.to_pylist() for u in url))
        return pa.array(list(rows), type=row_type)

    args = [F.col(html_col)]
    if url_col is not None:
        args.append(F.coalesce(F.col(url_col), F.lit("")))

    def run(pages: DataFrame) -> DataFrame:
        out = pages.withColumn("_kernel", kernel(*args))
        return out.select(
            *pages.columns, *[F.col(f"_kernel.{n}").alias(n) for n in names]
        )

    return route_oversized(
        df, max_html_bytes, run, lambda d: oversized_rows(d, schema, fill), html_col
    )


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit skew defeat: hash-repartition on the url itself — a
    high-cardinality deterministic key — spreads hot domains and pathological
    input orderings uniformly (SURVEY.md §4.2).

    NB: do NOT pre-reduce the hash to a small salt range
    (``pmod(xxhash64(url), N)``): Spark re-hashes the partitioning
    expression, so N distinct salt values thrown into N buckets leave ~1/e of
    the partitions empty (balls-in-bins) — measured in tests/test_skew.py.
    Partitioning on the raw key keeps full cardinality and is resume-stable."""
    return df.repartition(num_partitions, F.col("url"))


def _results(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "url",
        "warc_ts",
        "lang",
        "fmt",
        "extracted_text",
        "entries",
        "n_entries",
        F.length("html").alias("n_bytes_in"),
        "error",
    )


def _oversized_fill() -> dict:
    return {
        "fmt": F.lit("oversized"),
        "entries": F.array(),
        "error": F.concat(
            F.lit("oversized: "), F.length("html").cast("string"), F.lit(" bytes")
        ),
    }


def oversized_results(pages: DataFrame) -> DataFrame:
    """The results-table rows of pages routed around every kernel: fmt
    'oversized', no text or entries, and an error note with the size."""
    return _results(oversized_rows(pages, PARSED_TYPE, _oversized_fill()))


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    max_html_bytes: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → results table (one row per url).

    ``max_html_bytes`` (operational guard for crawl-scale inputs): documents
    over the cap are NOT parsed — they come back as
    :func:`oversized_results` rows instead of stalling a task on a
    pathological page.  Off by default so test/golden semantics are exact."""
    from html_parser_spark.kernel import parse_document

    # project early so the scan prunes to exactly the columns we read
    src = pages.select("url", "warc_ts", "html", "lang")
    if num_partitions:
        src = salted_repartition(src, num_partitions)
    return _results(
        kernel_stage(
            src, parse_document, PARSED_TYPE, max_html_bytes, fill=_oversized_fill()
        )
    )


def quality_metrics(results: DataFrame) -> DataFrame:
    """Aggregate job metrics (the reference's console counters, M15-style)."""
    return results.agg(
        F.count("*").alias("docs"),
        F.sum("n_entries").alias("entries"),
        F.sum("n_bytes_in").alias("bytes_in"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        F.sum(F.length("extracted_text")).alias("text_chars"),
    )
