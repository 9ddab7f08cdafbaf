"""CDXJ capture index — the textual index format crawl archives publish.

Common Crawl's index layout (the ``cc-index`` collections) is a set of
gzip'd text shards, each line ``<SURT key> <ts14> <JSON payload>``, the
shards globally sorted by (key, timestamp), plus a small ``cluster.idx``
secondary index mapping each shard's FIRST key to its filename — so "all
captures of ``*.example.com``" is: binary-search cluster.idx (tiny,
driver-side), open only the shards whose key range intersects, range-scan
inside.  This module reproduces that layout over this repo's capture
frames:

* :func:`cdxj_lines`      — capture rows → formatted CDXJ lines (pure JVM
  expressions: ``surt_key`` + ``date_format`` + ``to_json``);
* :func:`write_cdxj_files` — range-repartition on (key, ts14) +
  sort-within-partitions (total order across shards BY CONSTRUCTION of the
  range exchange), one ``cdx-NNNNN.gz`` per partition via the same
  atomic-rename idiom the WARC sinks use, then ``cluster.idx`` from the
  first line of each shard (O(#shards) driver work — that asymmetry is the
  format's whole point);
* :func:`read_cdxj`       — text scan → regexp split → ``from_json`` →
  typed columns, all JVM-side.

Numeric payload values are JSON **strings** (``"length": "456"``) —
Common Crawl's convention — and the reader casts them back.

Scale: writing is ONE range exchange (the sort Common Crawl itself must
pay to publish a queryable index); reading is a parallel text scan with
zero Python.  At 10^12 captures the cluster.idx is ~10^5 lines — still a
driver-side binary search.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from html_parser_spark.ops.web import surt_key
from html_parser_spark.sources import load_glob

# JSON payload fields, in envelope order (Common Crawl's field set for
# response captures; all values serialized as strings)
_PAYLOAD_FIELDS = ("url", "mime", "status", "digest", "length", "offset", "filename")
_PAYLOAD_JSON_SCHEMA = ", ".join(f"{f} string" for f in _PAYLOAD_FIELDS)


def cdxj_lines(
    captures: DataFrame, url_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """captures(url, warc_ts, mime, status, digest, length, offset,
    filename) → (key, ts14, line): formatted CDXJ lines, pure JVM.

    ``to_json`` over an all-string struct pins the envelope byte-exactly
    (field order = struct order; no numeric formatting ambiguity)."""
    payload = F.to_json(
        F.struct(
            F.col(url_col).cast("string").alias("url"),
            F.col("mime").cast("string").alias("mime"),
            F.col("status").cast("string").alias("status"),
            F.col("digest").cast("string").alias("digest"),
            F.col("length").cast("string").alias("length"),
            F.col("offset").cast("string").alias("offset"),
            F.col("filename").cast("string").alias("filename"),
        )
    )
    key = surt_key(F.col(url_col))
    ts14 = F.date_format(F.col(ts_col), "yyyyMMddHHmmss")
    return captures.select(
        key.alias("key"),
        ts14.alias("ts14"),
        F.concat_ws(" ", key, ts14, payload).alias("line"),
    )


def write_cdxj_files(
    captures: DataFrame,
    out_dir: str,
    num_shards: int = 1,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> int:
    """Publish the sorted-shard CDXJ index: ``cdx-NNNNN.gz`` files globally
    ordered by (SURT key, ts14) plus ``cluster.idx``.  Returns the shard
    count.

    Total order across shards comes from ``repartitionByRange`` (range
    exchange: shard *i*'s keys all precede shard *i+1*'s) + an in-shard
    sort — never a single-partition global sort.  Same shared-filesystem
    requirement as the WARC part writer (driver renames + reads first
    lines); on executor-local disks use a committer instead."""
    lines = cdxj_lines(captures, url_col, ts_col)
    ranged = lines.repartitionByRange(num_shards, "key", "ts14")
    sorted_lines = ranged.sortWithinPartitions("key", "ts14").select("line")

    os.makedirs(out_dir, exist_ok=True)
    # sweep THIS sink's stale outputs only (same reasoning as the WARC
    # family sweep: co-located archives must survive an index re-publish)
    for name in os.listdir(out_dir):
        stem = name.split(".tmp-", 1)[0] if ".tmp-" in name else name
        if (stem.startswith("cdx-") and stem.endswith(".gz")) or stem == "cluster.idx":
            os.remove(os.path.join(out_dir, name))

    def _write(rows) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        first = next(iter(rows), None)
        if first is None:  # empty range → no shard
            return
        final = os.path.join(out_dir, f"cdx-{ctx.partitionId():05d}.gz")
        tmp = f"{final}.tmp-{ctx.taskAttemptId()}"
        with gzip.open(tmp, "wt", encoding="utf-8", newline="\n") as f:
            f.write(first["line"] + "\n")
            for row in rows:
                f.write(row["line"] + "\n")
        os.replace(tmp, final)

    sorted_lines.foreachPartition(_write)

    shards = sorted(
        n for n in os.listdir(out_dir) if n.startswith("cdx-") and n.endswith(".gz")
    )
    # secondary index: first (key, ts14) of each shard → shard name.  One
    # readline per shard, driver-side — the 10^12-capture index has ~10^5
    # shards, and this asymmetry (tiny hot index over huge cold shards) is
    # exactly what makes the format range-scannable
    tmp = os.path.join(out_dir, "cluster.idx.tmp-driver")
    with open(tmp, "w", encoding="utf-8", newline="\n") as idx:
        for name in shards:
            with gzip.open(
                os.path.join(out_dir, name), "rt", encoding="utf-8"
            ) as f:
                head = f.readline().rstrip("\n")
            key, ts14 = head.split(" ", 2)[:2]
            idx.write(f"{key} {ts14}\t{name}\n")
    os.replace(tmp, os.path.join(out_dir, "cluster.idx"))
    return len(shards)


def read_cdxj(spark: SparkSession, paths: "str | list[str]") -> DataFrame:
    """CDXJ shards → typed capture frame (key, ts14, url, mime, status,
    digest, length, offset, filename).  ``paths`` is a glob or an explicit
    shard list (e.g. the output of :func:`cluster_idx_shards_for_prefix`).

    Parallel ``spark.read.text`` scan (gzip decoded by the source), then
    regexp split + ``from_json`` + casts — whole plan JVM-side, zero
    Python.  Numeric payload strings cast back to INT/BIGINT."""
    raw = load_glob(
        spark.read.format("text"),
        paths if isinstance(paths, str) else list(paths),
    )
    key = F.regexp_extract("value", r"^(\S+) (\d{14}) (.*)$", 1)
    ts14 = F.regexp_extract("value", r"^(\S+) (\d{14}) (.*)$", 2)
    js = F.regexp_extract("value", r"^(\S+) (\d{14}) (.*)$", 3)
    p = F.from_json(js, _PAYLOAD_JSON_SCHEMA)
    return raw.select(
        key.alias("key"),
        ts14.alias("ts14"),
        p["url"].alias("url"),
        p["mime"].alias("mime"),
        p["status"].cast("int").alias("status"),
        p["digest"].alias("digest"),
        p["length"].cast("long").alias("length"),
        p["offset"].cast("long").alias("offset"),
        p["filename"].alias("filename"),
    )


def cluster_idx_shards_for_prefix(out_dir: str, key_prefix: str) -> list[str]:
    """The shard files whose key range can contain ``key_prefix`` — the
    driver-side binary-search step of a CDX lookup.  Shard *i* covers
    [first_key(i), first_key(i+1)); a prefix intersects shard *i* iff
    first_key(i) <= prefix+MAX and first_key(i+1) > prefix (string order —
    the same order the range exchange sorted by)."""
    with open(os.path.join(out_dir, "cluster.idx"), encoding="utf-8") as f:
        entries = []
        for ln in f:
            head, name = ln.rstrip("\n").split("\t", 1)
            entries.append((head.split(" ", 1)[0], name))
    hits = []
    hi = key_prefix + "￿"
    for i, (first, name) in enumerate(entries):
        nxt = entries[i + 1][0] if i + 1 < len(entries) else None
        if first <= hi and (nxt is None or nxt > key_prefix):
            hits.append(name)
    return hits
