"""External source/sink connectors beyond parquet/Iceberg (WARC, …),
:func:`read_pages`, the one reader of a job's ``--pages`` spec, and
:func:`load_glob`, the file load both archive readers share."""

from __future__ import annotations

import os


def load_glob(reader, path):
    """``reader.load(path)``.  A wildcard in the last part of a path string
    loads as directory + ``pathGlobFilter``: the same files, but Spark's
    streaming-metadata probe does not stat the literal wildcard path, which
    logs a FileNotFoundException WARN with its stack trace on every read.
    A list of paths loads as given."""
    if isinstance(path, str):
        head, tail = os.path.split(path)
        if "*" in tail and "*" not in head:
            return reader.option("pathGlobFilter", tail).load(head)
    return reader.load(path)


def read_pages(spark, spec: str, include_fixtures: bool, warc_extents: bool = False):
    """Pages DataFrame from a ``--pages`` spec — the one place the spec is
    parsed:

    * ``synth:<sf_dir>`` — ``data/pages.pages_df`` (synthetic pages over
      the table dir, plus the reference fixtures when
      ``include_fixtures``);
    * ``warc:<path-or-glob>`` — a WARC scan (one task per archive, no
      shuffle) as (url, warc_ts, html, content_type, lang); lang is NULL,
      because language ID is a downstream curation op;
    * anything else — a parquet dir, read as stored.

    ``warc_extents=True`` asks for the physical record extents instead:
    a ``warc:`` spec gives its response records with (rec_offset,
    rec_length, source_file, http_status), every other spec gives None —
    such pages have no extents."""
    from pyspark.sql import functions as F

    kind, _, arg = spec.partition(":")
    if kind == "warc":
        from html_parser_spark.sources.warc import read_warc

        if warc_extents:
            return read_warc(spark, arg, with_offsets=True).where(
                F.col("warc_type") == "response"
            )
        return read_warc(spark, arg).select(
            "url", "warc_ts", "html", "content_type",
            F.lit(None).cast("string").alias("lang"),
        )
    if warc_extents:
        return None
    if kind == "synth":
        from html_parser_spark.data.pages import pages_df

        return pages_df(spark, arg, include_fixtures=include_fixtures)
    return spark.read.parquet(spec)
