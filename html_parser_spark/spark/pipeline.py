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
exchange is the explicit salting one, guard or no guard.  This kernel, the
page kernels in ``ops/`` (main content, markdown, metadata, anchors, the
fused page kernel) and the mixed-payload ``ops/mime.extract_any`` each run
as one :func:`kernel_stage`; every other per-row Python step is a
:func:`row_udf`, the form :func:`kernel_stage` is built on.
"""

from __future__ import annotations

from array import array
from datetime import datetime, timedelta, timezone
from itertools import accumulate, chain, repeat
from operator import is_not
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


_BITS = bytes.maketrans(b"\0\1", b"01")
_INT_CODES = {pa.int32(): "i", pa.int64(): "q"}
_TIMESTAMP = pa.timestamp("us", tz="UTC")
_EPOCH = datetime(1970, 1, 1)
_EPOCH_UTC = _EPOCH.replace(tzinfo=timezone.utc)
_MICROSECOND = timedelta(microseconds=1)
# what a NULL slot holds under its validity bit; lists () and structs {}
_NULL_AS = {
    pa.string(): "", pa.binary(): b"", pa.bool_(): False,
    pa.int32(): 0, pa.int64(): 0, _TIMESTAMP: _EPOCH,
}


def _bitmap(flags: bytes) -> pa.Buffer:
    """Arrow bitmap (slot i = bit i, LSB first) of ``flags``, one 0/1 byte
    per slot: the bytes, reversed and read as base-2 digits, are the
    bitmap's little-endian integer."""
    bits = int(flags[::-1].translate(_BITS) or b"0", 2)
    return pa.py_buffer(bits.to_bytes((len(flags) + 7) // 8, "little"))


def to_arrow(values: list, arrow_type: pa.DataType) -> pa.Array:
    """``values`` (Python rows, None for NULL at any level) as one Arrow
    array of ``arrow_type``, assembled from its validity, offset and data
    buffers.  Types: string, binary, bool, int32, int64,
    ``timestamp[us, UTC]`` (a naive datetime counts as UTC), list and
    struct (dicts keyed by field name; a missing key is NULL).  Any other
    type raises TypeError.  An int outside its field, or more than 2 GiB of
    string or binary data in one array (32-bit offsets), raises
    OverflowError.

    Built with the stdlib and ``pa.Array.from_buffers`` only: pyarrow
    imports pandas the first time ``pa.array`` converts Python objects,
    which costs a Python worker about 27 MB."""
    n = len(values)
    nulls = values.count(None)
    valid = None
    if nulls:
        valid = _bitmap(bytes(map(is_not, values, repeat(None))))
        fill = _NULL_AS.get(arrow_type, {} if pa.types.is_struct(arrow_type) else ())
        values = [fill if v is None else v for v in values]
    if pa.types.is_string(arrow_type) or pa.types.is_binary(arrow_type):
        blobs = list(map(str.encode if pa.types.is_string(arrow_type) else bytes, values))
        offsets = array("i", accumulate(map(len, blobs), initial=0))
        buffers = [valid, pa.py_buffer(offsets), pa.py_buffer(b"".join(blobs))]
        return pa.Array.from_buffers(arrow_type, n, buffers, nulls)
    if arrow_type in _INT_CODES:
        data = array(_INT_CODES[arrow_type], values)
        return pa.Array.from_buffers(arrow_type, n, [valid, pa.py_buffer(data)], nulls)
    if pa.types.is_boolean(arrow_type):
        data = _bitmap(bytes(v is True for v in values))
        return pa.Array.from_buffers(arrow_type, n, [valid, data], nulls)
    if arrow_type == _TIMESTAMP:
        micros = array(
            "q", [(v - (_EPOCH_UTC if v.tzinfo else _EPOCH)) // _MICROSECOND for v in values]
        )
        return pa.Array.from_buffers(arrow_type, n, [valid, pa.py_buffer(micros)], nulls)
    if pa.types.is_list(arrow_type):
        offsets = array("i", accumulate(map(len, values), initial=0))
        child = to_arrow(list(chain.from_iterable(values)), arrow_type.value_type)
        return pa.Array.from_buffers(
            arrow_type, n, [valid, pa.py_buffer(offsets)], nulls, children=[child]
        )
    if pa.types.is_struct(arrow_type):
        children = [
            to_arrow(list(map(dict.get, values, repeat(f.name))), f.type) for f in arrow_type
        ]
        return pa.Array.from_buffers(arrow_type, n, [valid], nulls, children=children)
    raise TypeError(f"to_arrow: no conversion to {arrow_type}")


def row_udf(fn: Callable, return_type: T.DataType):
    """``fn`` applied per row as ONE Arrow UDF of type ``return_type``: the
    one form of every per-row Python step.  Each batch's columns reach
    Python as plain lists (``to_pylist``: lists and dicts, no numpy or
    pandas) and ``fn(*row)`` values go back as one Arrow array built by
    :func:`to_arrow` from raw buffers, not by ``pa.array``, whose first
    call on Python objects loads pandas into the worker.  A NULL first
    argument gives NULL without calling ``fn``.  After each batch the
    worker settles its heap (``_pyworker.settle``)."""
    arrow_type = to_arrow_type(return_type)

    @F.arrow_udf(return_type)
    def per_row(first: pa.Array, *rest: pa.Array) -> pa.Array:
        rows = zip(first.to_pylist(), *(c.to_pylist() for c in rest))
        out = to_arrow(
            [None if head is None else fn(head, *tail) for head, *tail in rows],
            arrow_type,
        )
        _pyworker.settle()
        return out

    return per_row


def kernel_stage(
    df: DataFrame,
    fn: Callable[..., dict],
    schema: T.StructType,
    max_html_bytes: int | None = None,
    *,
    html_col: str = "html",
    args: tuple[str, ...] = (),
    fill: dict | None = None,
) -> DataFrame:
    """``df`` + one column per ``schema`` field, computed per row by
    ``fn(html, *args)``, which returns a dict keyed by the field names.
    NULL html reaches ``fn`` as ``b""``; ``args`` are SQL expressions over
    ``df`` (e.g. ``"coalesce(url, '')"``) whose values follow it.

    ONE :func:`row_udf` returning a struct (one ArrowEvalPython node, no
    shuffle), whose fields are expanded next to the input columns.

    ``max_html_bytes`` guards the same stage: a larger page reaches the UDF
    as NULL, which returns a NULL struct without calling ``fn``, and the
    expansion takes each field's :func:`_fill` value (``fill``: field name
    -> SQL expression over ``df``) where the page does not fit.  So a
    guarded stage still reads and shuffles its input once, and no
    oversized byte crosses into Python.  The expressions are SQL text: each
    Column call costs the driver py4j round trips."""
    page = f"coalesce(`{html_col}`, X'')"
    fields = [f"_kernel.`{f.name}`" for f in schema.fields]
    if max_html_bytes:
        fits = _fits(html_col, max_html_bytes)
        page = f"CASE WHEN {fits} THEN {page} END"
        fields = [
            f"CASE WHEN {fits} THEN {v} ELSE {_fill(f, fill)} END"
            for f, v in zip(schema.fields, fields)
        ]
    kernel = row_udf(fn, schema)
    out = df.withColumn("_kernel", kernel(*(F.expr(a) for a in (page, *args))))
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


def _results(parsed: DataFrame, *extra: str) -> DataFrame:
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
        *extra,
    )


_OVERSIZED_FILL = {
    "fmt": "'oversized'",
    "entries": "array()",
    "error": "concat('oversized: ', CAST(length(html) AS STRING), ' bytes')",
}


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    max_html_bytes: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → results table (one row per url).

    ``max_html_bytes`` (operational guard for crawl-scale inputs): documents
    over the cap are NOT parsed — they come back with fmt 'oversized', no
    text or entries and an error note with the size (``_OVERSIZED_FILL``)
    instead of stalling a task on a pathological page.  Off by default so
    test/golden semantics are exact."""
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
