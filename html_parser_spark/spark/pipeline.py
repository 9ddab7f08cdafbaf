"""The flagship extraction pipeline: pages table → results table.

Physical plan (SURVEY.md §4.3):

    Scan(pages, prune=[url, warc_ts, html, lang])
    → Exchange (salted repartition by hash(url) into P)    # skew defeat
    → ArrowEvalPython [kernel(CASE WHEN fits THEN coalesce(html, X'') END)]
                                                           # ONE fused UDF stage
    → Project [url, warc_ts, lang,
               CASE WHEN fits THEN kernel.fmt ELSE 'oversized' END, ...]
    → sink (parquet here; Iceberg MERGE INTO in production)

``fits`` is ``length(html) <= max_html_bytes`` (NULL html fits); without a
cap both CASEs are just the kernel's argument and fields.  Everything
per-document → the parse is a pure partition-parallel map; the only
exchange is the explicit salting one, guard or no guard.  This kernel and
the page kernels in ``ops/`` (main content, markdown, metadata, anchors,
the fused page kernel) each run as one :func:`kernel_stage`.
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from html_parser_spark import _pyworker

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


def _fits(html_col: str, max_html_bytes: int) -> str:
    """SQL predicate: the page goes to the kernel.  NULL html fits (kernels
    read it as an empty page); ``length`` of a binary counts bytes."""
    return f"coalesce(length(`{html_col}`), 0) <= {int(max_html_bytes)}"


def _fill(f: T.StructField, fill: dict | None) -> str:
    """SQL value of field ``f`` for a page that skips the kernel:
    ``fill[name]`` where the caller gives one, else 0 for numeric fields
    and NULL for the rest."""
    default = "0" if isinstance(f.dataType, T.NumericType) else "NULL"
    return f"CAST({(fill or {}).get(f.name, default)} AS {f.dataType.simpleString()})"


def oversized_rows(df: DataFrame, schema: T.StructType, fill: dict | None = None) -> DataFrame:
    """``df`` + one column per ``schema`` field, each its :func:`_fill`
    value: the rows of pages routed around a kernel."""
    return df.selectExpr("*", *(f"{_fill(f, fill)} AS `{f.name}`" for f in schema.fields))


def route_oversized(
    df: DataFrame,
    max_html_bytes: int | None,
    kernel: Callable[[DataFrame], DataFrame],
    oversized: Callable[[DataFrame], DataFrame],
    html_col: str = "html",
) -> DataFrame:
    """``kernel`` over the pages of at most ``max_html_bytes``, ``oversized``
    over the rest; no cap → ``kernel(df)``.

    For a Python stage that is not a :func:`kernel_stage` (``ops/mime.py``'s
    PDF ``mapInPandas``).  The filter+union reads ``df`` twice; a
    :func:`kernel_stage` routes inside its one stage instead."""
    if not max_html_bytes:
        return kernel(df)
    fits = _fits(html_col, max_html_bytes)
    return kernel(df.filter(fits)).unionByName(oversized(df.filter(f"NOT ({fits})")))


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
    expanded next to the input columns.

    ``max_html_bytes`` guards the same stage: a larger page reaches the UDF
    as NULL, which returns a NULL struct without calling ``fn``, and the
    expansion takes each field's :func:`_fill` value (``fill``: field name
    -> SQL expression over ``df``) where the page does not fit.  So a
    guarded stage still reads and shuffles its input once, and no
    oversized byte crosses into Python.  The expressions are SQL text: each
    Column call costs the driver py4j round trips."""
    row_type = to_arrow_type(schema)

    @F.arrow_udf(schema)
    def kernel(html: pa.Array, *url: pa.Array) -> pa.Array:
        args = zip(html.to_pylist(), *(u.to_pylist() for u in url))
        out = pa.array(
            [None if page is None else fn(page, *rest) for page, *rest in args],
            type=row_type,
        )
        _pyworker.settle()
        return out

    page = f"coalesce(`{html_col}`, X'')"
    fields = [f"_kernel.`{f.name}`" for f in schema.fields]
    if max_html_bytes:
        fits = _fits(html_col, max_html_bytes)
        page = f"CASE WHEN {fits} THEN {page} END"
        fields = [
            f"CASE WHEN {fits} THEN {v} ELSE {_fill(f, fill)} END"
            for f, v in zip(schema.fields, fields)
        ]
    args = [F.expr(page)]
    if url_col is not None:
        args.append(F.expr(f"coalesce(`{url_col}`, '')"))
    out = df.withColumn("_kernel", kernel(*args))
    return out.selectExpr(
        "*", *(f"{v} AS `{f.name}`" for f, v in zip(schema.fields, fields))
    ).drop("_kernel")


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
    return parsed.selectExpr(
        "url",
        "warc_ts",
        "lang",
        "fmt",
        "extracted_text",
        "entries",
        "n_entries",
        "length(html) AS n_bytes_in",
        "error",
    )


_OVERSIZED_FILL = {
    "fmt": "'oversized'",
    "entries": "array()",
    "error": "concat('oversized: ', CAST(length(html) AS STRING), ' bytes')",
}


def oversized_results(pages: DataFrame) -> DataFrame:
    """The results-table rows of pages routed around every kernel: fmt
    'oversized', no text or entries, and an error note with the size."""
    return _results(oversized_rows(pages, PARSED_TYPE, _OVERSIZED_FILL))


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
    src = pages.selectExpr("url", "warc_ts", "html", "lang")
    if num_partitions:
        src = salted_repartition(src, num_partitions)
    return _results(
        kernel_stage(src, parse_document, PARSED_TYPE, max_html_bytes, fill=_OVERSIZED_FILL)
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
