"""WARC (ISO 28500) source + sink — the Common-Crawl container format.

The north-rule input is "an Iceberg table of Common-Crawl-style web pages
(url, warc_ts, html, …)"; this module is the ingest edge that LANDS crawl
archives into that table, and the export edge that writes one back out:

    read_warc(spark, "s3://commoncrawl/.../*.warc.gz")   →  pages DataFrame
    write_warc_files(pages, out_dir)                     →  part-*.warc.gz

Design for 100 TB:

* **One WARC file = one task.** ``binaryFile`` does not split files, which
  is exactly right here: Common Crawl shards are ~1 GB ``.warc.gz`` files
  and gzip members must be scanned sequentially anyway.  100 TB ≈ 100k
  files ≈ 100k map tasks, no shuffle anywhere in the ingest.  (Mind
  ``spark.sql.sources.binaryFile.maxLength`` — 2 GB hard cap per file.)
* **Record SERIALIZATION is pure column expressions** (concat/encode/md5 —
  whole-stage codegen); Python appears only for per-record gzip members
  (an Arrow row UDF, ``spark/pipeline.py:row_udf``; the gzip itself is the
  cost) and for the record PARSER (mapInArrow; gzip inflate + header scan
  are byte-bound, not row-bound).  Both build their Arrow output with
  ``spark/pipeline.py:to_arrow``, so no worker loads pandas.
* **Per-record gzip members** (the Common Crawl layout): a ``.warc.gz`` is
  a concatenation of independently-deflated members, so a future range
  reader can seek to member boundaries; concatenating part files with
  ``cat`` yields a valid archive.
* **Parsing trusts Content-Length, not delimiters** — bodies may contain
  ``\\r\\n\\r\\n`` or even ``WARC/1.0``; the test plants both.

Record layout written (and accepted back):

    WARC/1.0\\r\\n  WARC-Type/Record-ID/Date/Target-URI, Content-Type:
    application/http; msgtype=response, Content-Length\\r\\n\\r\\n
    HTTP/1.1 200 OK … \\r\\n\\r\\n <body bytes> \\r\\n\\r\\n

``WARC-Record-ID`` is a deterministic uuid derived from ``md5(url)`` so a
re-run writes byte-identical uncompressed records (idempotent sink).
"""

from __future__ import annotations

import gzip
import os
import re
import zlib
from collections.abc import Iterator
from datetime import datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from html_parser_spark.sources import load_glob
from html_parser_spark.spark.pipeline import row_udf, to_arrow

WARC_DATE_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
_PY_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"

WARC_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("source_file", T.StringType()),
    ]
)


# ---------------------------------------------------------------- writer ---


def _uuid_from_md5(url_col):
    m = F.md5(url_col)
    return F.concat_ws(
        "-",
        F.substring(m, 1, 8),
        F.substring(m, 9, 4),
        F.substring(m, 13, 4),
        F.substring(m, 17, 4),
        F.substring(m, 21, 12),
    )


def warc_record_col(url, warc_ts, html, id_extra=None):
    """BINARY column holding one complete WARC response record.

    Entirely JVM-side (concat/encode/length/md5 → whole-stage codegen);
    ``F.length`` on BINARY counts bytes, so Content-Length is byte-exact
    for any payload.

    ``id_extra``: optional string column mixed into the record-id uuid.
    The default id is derived from the url alone (idempotent re-runs write
    byte-identical records); a digest-deduplicated archive can hold TWO
    response records for the same url (same page, different content at
    different dates), so the dedup writer passes the formatted WARC-Date to
    keep ids unique per capture."""
    http_head = F.concat_ws(
        "",
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"),
        F.lit("\r\nContent-Length: "),
        F.length(html).cast("string"),
        F.lit("\r\n\r\n"),
    )
    http = F.concat(F.encode(http_head, "UTF-8"), html)
    id_src = url if id_extra is None else F.concat(url, F.lit("@"), id_extra)
    warc_head = F.concat_ws(
        "",
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:"),
        _uuid_from_md5(id_src),
        F.lit(">\r\nWARC-Date: "),
        F.date_format(warc_ts, WARC_DATE_FMT),
        F.lit("\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nContent-Type: application/http; msgtype=response"),
        F.lit("\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
    )
    return F.concat(
        F.encode(warc_head, "UTF-8"), http, F.encode(F.lit("\r\n\r\n"), "UTF-8")
    )


def wet_record_col(url, warc_ts, text):
    """BINARY column holding one WET-style ``WARC-Type: conversion`` record
    — the extracted-plain-text sidecar format Common Crawl publishes as
    ``*.warc.wet.gz`` next to each response archive.  The body is the
    extracted text (UTF-8), ``Content-Type: text/plain``, and
    ``WARC-Refers-To`` carries the id of the response record
    :func:`warc_record_col` would emit for the same url, so the sidecar
    links back to its source capture exactly as Common Crawl's does.
    Entirely JVM-side, like :func:`warc_record_col`.

    NULL text becomes an EMPTY conversion record, not a NULL one — a NULL
    record column would crash the part writer mid-file on the one error
    row in a billion-page export."""
    body = F.encode(F.coalesce(text, F.lit("")), "UTF-8")
    warc_head = F.concat_ws(
        "",
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:uuid:"),
        _uuid_from_md5(F.concat(url, F.lit("#wet"))),
        F.lit(">\r\nWARC-Refers-To: <urn:uuid:"),
        _uuid_from_md5(url),
        F.lit(">\r\nWARC-Date: "),
        F.date_format(warc_ts, WARC_DATE_FMT),
        F.lit("\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nContent-Type: text/plain"),
        F.lit("\r\nContent-Length: "),
        F.length(body).cast("string"),
        F.lit("\r\n\r\n"),
    )
    return F.concat(
        F.encode(warc_head, "UTF-8"), body, F.encode(F.lit("\r\n\r\n"), "UTF-8")
    )


def wat_record_col(url, warc_ts, payload_json):
    """BINARY column holding one WAT-style ``WARC-Type: metadata`` record
    — the JSON page-metadata sidecar Common Crawl publishes as
    ``*.warc.wat.gz``.  The body is a JSON envelope (here: the
    ``ops/html_meta`` fields — see :func:`wat_payload_col` — rather than
    Common Crawl's full Envelope/Payload-Metadata nesting; the record
    framing and linkage are the format's), ``Content-Type:
    application/json``, ``WARC-Refers-To`` = the response record's id."""
    body = F.encode(F.coalesce(payload_json, F.lit("{}")), "UTF-8")
    warc_head = F.concat_ws(
        "",
        F.lit("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Record-ID: <urn:uuid:"),
        _uuid_from_md5(F.concat(url, F.lit("#wat"))),
        F.lit(">\r\nWARC-Refers-To: <urn:uuid:"),
        _uuid_from_md5(url),
        F.lit(">\r\nWARC-Date: "),
        F.date_format(warc_ts, WARC_DATE_FMT),
        F.lit("\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nContent-Type: application/json"),
        F.lit("\r\nContent-Length: "),
        F.length(body).cast("string"),
        F.lit("\r\n\r\n"),
    )
    return F.concat(
        F.encode(warc_head, "UTF-8"), body, F.encode(F.lit("\r\n\r\n"), "UTF-8")
    )


def wat_payload_col():
    """The WAT JSON envelope as a column over ``extract_page_meta`` output:
    ``to_json`` of the metadata struct (url, title, description, canonical,
    charset, outlinks, n_anchors).  ``to_json`` omits NULL fields — absent
    metadata is absent from the envelope, not ``null``-padded."""
    return F.to_json(
        F.struct(
            F.col("url").alias("url"),
            F.col("title").alias("title"),
            F.col("description").alias("description"),
            F.col("canonical").alias("canonical"),
            F.col("charset").alias("charset"),
            F.col("outlinks").alias("outlinks"),
            F.col("n_anchors").alias("n_anchors"),
        )
    )


def write_wat_files(pages: DataFrame, out_dir: str, compress: bool = True) -> int:
    """WAT sidecar sink over raw ``pages(url, warc_ts, html)``: ONE Arrow
    metadata kernel (``ops/html_meta.extract_page_meta`` — the same stage
    the link-graph tier runs), JVM JSON envelope + record assembly, the
    shared atomic-rename part writer.  Returns the part count."""
    from html_parser_spark.ops.html_meta import extract_page_meta

    meta = extract_page_meta(pages)
    rec = wat_record_col(F.col("url"), F.col("warc_ts"), wat_payload_col())
    records = meta.select(rec.alias("record"))
    if compress:
        records = records.select(_gzip_member_udf("record").alias("record"))
    return _write_part_files(
        records, out_dir, ".warc.wat.gz" if compress else ".warc.wat"
    )


def _gzip_member(rec: bytes) -> bytes:
    # mtime=0 → deterministic member bytes for a given record
    return gzip.compress(rec, compresslevel=6, mtime=0)


_gzip_member_udf = row_udf(_gzip_member, T.BinaryType())


def to_warc_records(pages: DataFrame, compress: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, …) → one-column ``record`` BINARY frame."""
    rec = warc_record_col(F.col("url"), F.col("warc_ts"), F.col("html"))
    out = pages.select(rec.alias("record"))
    if compress:
        out = out.select(_gzip_member_udf("record").alias("record"))
    return out


def to_wet_records(
    docs: DataFrame, compress: bool = True, text_col: str = "text"
) -> DataFrame:
    """docs(url, warc_ts, <text_col>, …) → one-column ``record`` BINARY
    frame of conversion records (the WET sidecar of :func:`to_warc_records`)."""
    rec = wet_record_col(F.col("url"), F.col("warc_ts"), F.col(text_col))
    out = docs.select(rec.alias("record"))
    if compress:
        out = out.select(_gzip_member_udf("record").alias("record"))
    return out


def warcinfo_record_bytes(
    ts, software: str = "html-parser-spark", extra: dict | None = None
) -> bytes:
    """One ``WARC-Type: warcinfo`` record (plain bytes, built driver-side):
    the file-description leader real archives open every ``.warc.gz`` with
    (Common Crawl's warcinfo carries software/format/operator fields).
    Deterministic for a given (ts, fields): the record-id is derived from
    md5 of the body, so an idempotent re-run writes identical bytes."""
    import hashlib

    fields = {"software": software, "format": "WARC File Format 1.0"}
    if extra:
        fields.update(extra)
    body = "".join(f"{k}: {v}\r\n" for k, v in fields.items()).encode()
    m = hashlib.md5(body).hexdigest()
    rid = f"{m[:8]}-{m[8:12]}-{m[12:16]}-{m[16:20]}-{m[20:32]}"
    head = (
        "WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:uuid:"
        f"{rid}>\r\nWARC-Date: {ts.strftime(_PY_DATE_FMT)}\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


# ------------------------------------------------ revisit (digest dedup) ---

REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"
)


def revisit_plan(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
) -> DataFrame:
    """Classify captures for digest-deduplicated archiving (the WARC 1.1
    ``revisit`` mechanism web archives use to stop storing the same payload
    twice — Common Crawl and IA dedupe this way; see ISO 28500 §6.7.2).

    Adds (payload_digest, is_revisit, refers_to_url, refers_to_ts): the
    FIRST capture of each distinct payload — min ``(warc_ts, url)`` struct,
    a deterministic total order, so the plan is partition- and
    shuffle-order-independent — stays a full response; every later capture
    of the same bytes becomes a revisit pointing at it.

    Scale shape: one groupBy over sha1 digests (map-side partial min of a
    16-byte struct — the same single-shuffle shape as exact dedup) and one
    equi-join back on the digest.  Never compares payload bytes pairwise."""
    tagged = pages.withColumn("payload_digest", F.sha1(F.col(html_col)))
    firsts = tagged.groupBy("payload_digest").agg(
        F.min(
            F.struct(F.col(ts_col).alias("ts"), F.col(url_col).alias("url"))
        ).alias("first")
    )
    out = tagged.join(firsts, "payload_digest")
    is_rev = (F.col(ts_col) != F.col("first.ts")) | (
        F.col(url_col) != F.col("first.url")
    )
    return out.select(
        *pages.columns,
        "payload_digest",
        is_rev.alias("is_revisit"),
        F.when(is_rev, F.col("first.url")).alias("refers_to_url"),
        F.when(is_rev, F.col("first.ts")).alias("refers_to_ts"),
    )


def revisit_record_col(url, warc_ts, digest, refers_to_url, refers_to_ts):
    """BINARY column holding one WARC 1.1 ``revisit`` record under the
    identical-payload-digest profile: zero-length block, the payload digest,
    and WARC-Refers-To-Target-URI/-Date naming the stored original.

    Deviation, documented: ``WARC-Payload-Digest`` is ``sha1:<hex>`` — the
    spec fixes the ``algorithm:value`` shape but not the value encoding;
    IIPC tooling conventionally uses base32, which Spark has no builtin
    for, and the reader keeps the label verbatim so round-trips are exact.
    Entirely JVM-side, like :func:`warc_record_col`."""
    warc_head = F.concat_ws(
        "",
        F.lit("WARC/1.1\r\nWARC-Type: revisit\r\nWARC-Record-ID: <urn:uuid:"),
        _uuid_from_md5(
            F.concat(url, F.lit("@"), F.date_format(warc_ts, WARC_DATE_FMT))
        ),
        F.lit(">\r\nWARC-Date: "),
        F.date_format(warc_ts, WARC_DATE_FMT),
        F.lit("\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Profile: " + REVISIT_PROFILE),
        F.lit("\r\nWARC-Payload-Digest: sha1:"),
        digest,
        F.lit("\r\nWARC-Refers-To-Target-URI: "),
        refers_to_url,
        F.lit("\r\nWARC-Refers-To-Date: "),
        F.date_format(refers_to_ts, WARC_DATE_FMT),
        F.lit("\r\nContent-Length: 0\r\n\r\n"),
    )
    return F.concat(
        F.encode(warc_head, "UTF-8"), F.encode(F.lit("\r\n\r\n"), "UTF-8")
    )


def to_warc_records_dedup(pages: DataFrame, compress: bool = True) -> DataFrame:
    """pages → one-column ``record`` frame where each distinct payload is
    stored ONCE (full response record, id salted with the capture date) and
    every repeat capture is a zero-body revisit record.  On real crawls
    (~25-40% url-level duplication round to round) this is the difference
    between re-storing and re-referencing tens of TB."""
    planned = revisit_plan(pages)
    ts_s = F.date_format("warc_ts", WARC_DATE_FMT)
    resp = warc_record_col(F.col("url"), F.col("warc_ts"), F.col("html"), id_extra=ts_s)
    rev = revisit_record_col(
        F.col("url"),
        F.col("warc_ts"),
        F.col("payload_digest"),
        F.col("refers_to_url"),
        F.col("refers_to_ts"),
    )
    out = planned.select(
        F.when(F.col("is_revisit"), rev).otherwise(resp).alias("record")
    )
    if compress:
        out = out.select(_gzip_member_udf("record").alias("record"))
    return out


def resolve_revisits(records: DataFrame) -> DataFrame:
    """Inflate a digest-deduplicated archive back to full pages: each
    ``revisit`` row's payload is filled from the response record its
    (WARC-Refers-To-Target-URI, WARC-Refers-To-Date) names; response rows
    pass through.  ``warc_type`` keeps saying which rows were revisits.

    Input needs the revisit columns — read with
    ``read_warc(..., with_revisits=True)``.  One equi-join of revisits to
    responses on the (url, ts) pair; a dangling revisit (original archived
    in a shard not read) survives with NULL html rather than dropping."""
    base = [f.name for f in WARC_PAGE_SCHEMA.fields]
    resp = records.filter(F.col("warc_type") == "response")
    rev = records.filter(F.col("warc_type") == "revisit")
    originals = resp.select(
        F.col("url").alias("refers_to_url"),
        F.col("warc_ts").alias("refers_to_ts"),
        F.col("html").alias("_orig_html"),
        F.col("content_type").alias("_orig_ct"),
        F.col("http_status").alias("_orig_status"),
    )
    filled = rev.join(originals, ["refers_to_url", "refers_to_ts"], "left").select(
        F.col("url"),
        F.col("warc_ts"),
        F.col("_orig_html").alias("html"),
        F.col("_orig_ct").alias("content_type"),
        F.col("_orig_status").alias("http_status"),
        F.col("warc_type"),
        F.col("record_id"),
        F.col("source_file"),
    )
    return resp.select(*base).unionByName(filled)


def write_warc_files(
    pages: DataFrame,
    out_dir: str,
    compress: bool = True,
    dedup: bool = False,
    warcinfo_ts=None,
) -> int:
    """Sink: one ``part-NNNNN.warc[.gz]`` file per partition of ``pages``.

    Pure partition-parallel (`foreachPartition`), no shuffle: each task
    streams its records to a ``.tmp`` file and renames on success, so a
    retried task never leaves a half-written part visible (rename is atomic
    on POSIX; on an object store use the committer-staged path instead).
    Returns the number of part files written.  Concatenating the parts in
    any order is itself a valid WARC archive.

    ``dedup=True`` stores each distinct payload once and writes WARC 1.1
    ``revisit`` records for repeat captures (:func:`to_warc_records_dedup`)
    — that path adds the one digest shuffle; the plain path stays
    shuffle-free.

    ``warcinfo_ts``: when given (a datetime — callers pass the crawl
    date), every part file OPENS with a ``warcinfo`` file-description
    record, the way real archives do; readers surface it as a
    ``warc_type='warcinfo'`` row.

    The rename+count run driver-side: ``out_dir`` must be storage the
    driver and executors share (local mode, NFS, FUSE-mounted object
    store); on executor-local disks use a distributed committer instead.
    """
    maker = to_warc_records_dedup if dedup else to_warc_records
    records = maker(pages, compress=compress)
    leader = None
    if warcinfo_ts is not None:
        leader = warcinfo_record_bytes(warcinfo_ts)
        if compress:
            leader = gzip.compress(leader, compresslevel=6, mtime=0)
    return _write_part_files(
        records, out_dir, ".warc.gz" if compress else ".warc", leader=leader
    )


def write_wet_files(
    docs: DataFrame, out_dir: str, compress: bool = True, text_col: str = "text"
) -> int:
    """WET sidecar sink: one ``part-NNNNN.warc.wet[.gz]`` per partition of
    ``docs(url, warc_ts, <text_col>)`` — conversion records holding the
    extracted plain text, the format training pipelines consume instead of
    raw response archives.  Same atomic-rename part writer (and the same
    shared-filesystem requirement) as :func:`write_warc_files`."""
    records = to_wet_records(docs, compress=compress, text_col=text_col)
    return _write_part_files(
        records, out_dir, ".warc.wet.gz" if compress else ".warc.wet"
    )


def _write_part_files(
    records: DataFrame, out_dir: str, suffix: str, leader: bytes | None = None
) -> int:
    """Shared per-partition part writer for the WARC/WET sinks: stream each
    partition's BINARY ``record`` rows to a ``.tmp`` file, atomic-rename on
    success, return the part count.  ``leader``: optional bytes (e.g. a
    warcinfo record / gzip member) written at the top of every part."""
    os.makedirs(out_dir, exist_ok=True)
    # clear stale parts of THIS sink's record kind only: a re-run with fewer
    # partitions — or with the opposite compress flag — would otherwise leave
    # old part files mixed into the archive (and inflate the count).  Both
    # compress variants of the kind are swept, but sibling kinds are kept:
    # WET/WAT sidecars are published next to the response archive in the same
    # directory, and sweeping every suffix would destroy a co-located archive
    # another sink just wrote.
    base = suffix[: -len(".gz")] if suffix.endswith(".gz") else suffix
    family = (base, base + ".gz")
    for name in os.listdir(out_dir):
        stem = name.split(".tmp-", 1)[0] if ".tmp-" in name else name
        if stem.endswith(family):
            os.remove(os.path.join(out_dir, name))

    def _write(rows) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        first = next(iter(rows), None)
        if first is None:  # empty partition → no file
            return
        final = os.path.join(out_dir, f"part-{ctx.partitionId():05d}{suffix}")
        tmp = f"{final}.tmp-{ctx.taskAttemptId()}"
        with open(tmp, "wb") as f:
            if leader is not None:
                f.write(leader)
            f.write(first["record"])
            for row in rows:
                f.write(row["record"])
        os.replace(tmp, final)

    records.foreachPartition(_write)
    return len([n for n in os.listdir(out_dir) if n.endswith(suffix)])


# ---------------------------------------------------------------- reader ---


_GZ_CHUNK = 1 << 20


def _iter_gzip_members(blob: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Yield (offset, compressed_length, inflated_bytes) per gzip member.

    Feeds the inflater in 1 MB chunks rather than the whole remaining tail,
    so a shard with many members (Common Crawl: one member per record,
    ~50k/file) inflates in O(n) — ``d.unused_data`` on a whole-tail feed
    would copy the remainder once per member, O(members × filesize)."""
    mv, n = memoryview(blob), len(blob)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(31)  # 16+15: gzip wrapper, 32KB window
        start, out = pos, []
        while pos < n and not d.eof:
            chunk = mv[pos : pos + _GZ_CHUNK]
            out.append(d.decompress(chunk))
            pos += len(chunk) - len(d.unused_data)
        if not d.eof:
            raise ValueError("truncated gzip member in WARC file")
        out.append(d.flush())
        yield start, pos - start, b"".join(out)


def _iter_plain_records(
    data: bytes, base: int = 0
) -> Iterator[tuple[dict, bytes, int, int]]:
    """(headers, payload, offset, length) per record in UNCOMPRESSED bytes.

    Payload extent comes from ``Content-Length`` alone — never from
    scanning for a delimiter — so bodies containing CRLFCRLF or literal
    ``WARC/1.0`` parse correctly.  The extent includes the record's
    trailing CRLFCRLF block, so extents tile the file exactly."""
    pos, n = 0, len(data)
    while pos < n:
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(f"expected WARC/ header at offset {pos}")
        start = pos
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("unterminated WARC header block")
        headers: dict[str, str] = {}
        for line in data[pos:head_end].decode("utf-8", "replace").split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        clen = int(headers["content-length"])
        body_start = head_end + 4
        payload = data[body_start : body_start + clen]
        if len(payload) != clen:
            raise ValueError("truncated WARC record payload")
        pos = body_start + clen
        if data[pos : pos + 4] == b"\r\n\r\n":
            pos += 4
        yield headers, payload, base + start, pos - start


def iter_warc_records_extents(blob: bytes) -> Iterator[tuple[dict, bytes, int, int]]:
    """Yield (headers, payload, offset, length) per record, where
    (offset, length) is the record's SEEKABLE extent within ``blob``:

    * ``.warc.gz`` — the compressed extent of the gzip member holding the
      record (range-read + inflate yields the record; with the
      one-member-per-record Common-Crawl layout this is exact, and a
      multi-record member simply maps all its records to the member);
    * plain ``.warc`` — the record's own byte extent incl. trailing CRLFs.

    These extents are what a CDX-style index stores: fetching
    ``blob[offset : offset+length]`` and re-parsing it recovers the record
    without touching the rest of the file."""
    if blob[:2] == b"\x1f\x8b":
        for m_off, m_len, data in _iter_gzip_members(blob):
            for headers, payload, _, _ in _iter_plain_records(data):
                yield headers, payload, m_off, m_len
    else:
        yield from _iter_plain_records(blob)


def iter_warc_records(blob: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (headers, payload) per record from raw .warc / .warc.gz bytes."""
    for headers, payload, _, _ in iter_warc_records_extents(blob):
        yield headers, payload


def _parse_warc_date(ts: str | None):
    """WARC-Date → datetime, lenient: second precision (WARC 1.0), then
    fractional seconds (legal in WARC 1.1 and present in wild archives),
    then None — ONE unparseable record must not kill a 100k-file ingest
    task (the url/body still land; only the timestamp is lost)."""
    if not ts:
        return None
    try:
        return datetime.strptime(ts, _PY_DATE_FMT)
    except ValueError:
        try:
            return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        except ValueError:
            return None


_HTTP_REQUEST_LINE = re.compile(rb"^[A-Z]+ \S+ HTTP/\d")


def _split_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content_type, body) from an application/http payload.

    Handles both message kinds: responses (``HTTP/1.1 200 OK``, status
    parsed) and requests (``GET /x HTTP/1.1``, status stays NULL but the
    header block is still stripped so the body column is the entity body,
    not raw protocol bytes)."""
    sep = payload.find(b"\r\n\r\n")
    is_response = payload.startswith(b"HTTP/")
    if sep < 0 or not (is_response or _HTTP_REQUEST_LINE.match(payload)):
        return None, None, payload
    head = payload[:sep].decode("utf-8", "replace").split("\r\n")
    status = None
    if is_response:
        try:
            status = int(head[0].split(" ", 2)[1])
        except (IndexError, ValueError):
            status = None
    ctype = None
    for line in head[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, payload[sep + 4 :]


WARC_INDEXED_SCHEMA = T.StructType(
    WARC_PAGE_SCHEMA.fields
    + [
        T.StructField("rec_offset", T.LongType()),
        T.StructField("rec_length", T.LongType()),
    ]
)

_REVISIT_FIELDS = [
    T.StructField("payload_digest", T.StringType()),
    T.StructField("refers_to_url", T.StringType()),
    T.StructField("refers_to_ts", T.TimestampType()),
]


def _reader_schema(with_offsets: bool, with_revisits: bool) -> T.StructType:
    fields = list(
        (WARC_INDEXED_SCHEMA if with_offsets else WARC_PAGE_SCHEMA).fields
    )
    if with_revisits:
        fields += _REVISIT_FIELDS
    return T.StructType(fields)


def _records(path: str, blob: bytes) -> Iterator[dict]:
    """One row per record of ``blob``, with every field of
    :func:`_reader_schema` (a reader keeps the fields of its schema).
    WARC-Date is UTC by spec, so its naive datetimes are UTC."""
    for headers, payload, off, length in iter_warc_records_extents(blob):
        wtype = headers.get("warc-type", "")
        if wtype in ("response", "request"):
            status, ctype, body = _split_http(payload)
        else:  # resource / conversion / revisit / warcinfo carry raw bodies
            status, ctype, body = None, headers.get("content-type"), payload
        yield {
            "url": headers.get("warc-target-uri"),
            "warc_ts": _parse_warc_date(headers.get("warc-date")),
            "html": body,
            "content_type": ctype,
            "http_status": status,
            "warc_type": wtype,
            "record_id": headers.get("warc-record-id"),
            "source_file": path,
            "rec_offset": off,
            "rec_length": length,
            "payload_digest": headers.get("warc-payload-digest"),
            "refers_to_url": headers.get("warc-refers-to-target-uri"),
            "refers_to_ts": _parse_warc_date(headers.get("warc-refers-to-date")),
        }


def _parse_files_fn(with_offsets: bool, with_revisits: bool = False):
    """The mapInArrow body of :func:`read_warc`: (path, content) batches of
    whole files → record batches of :func:`_reader_schema`."""
    arrow_type = to_arrow_type(_reader_schema(with_offsets, with_revisits))

    def _parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            files = zip(batch.column("path").to_pylist(), batch.column("content").to_pylist())
            rows = [rec for path, content in files for rec in _records(path, content)]
            yield pa.RecordBatch.from_struct_array(to_arrow(rows, arrow_type))

    return _parse


def read_warc(
    spark: SparkSession,
    path: str,
    with_offsets: bool = False,
    with_revisits: bool = False,
) -> DataFrame:
    """Crawl archive(s) → pages DataFrame (url, warc_ts, html, …).

    ``binaryFile`` scan (one row/task per file, never split) → ONE
    mapInArrow stage.  The result feeds ``spark.pipeline.extract_pages``
    directly or lands into the Iceberg pages table via a plain write —
    either way the whole ingest is a shuffle-free map.

    ``with_offsets=True`` adds (rec_offset, rec_length) — each record's
    seekable extent in its source file (the member extent for per-record
    ``.warc.gz``).  Projecting (url, warc_ts, source_file, rec_offset,
    rec_length) from that IS the CDX index Common Crawl publishes: point
    lookups then range-read kilobytes via ``fetch_warc_records`` instead
    of re-scanning terabyte shard sets.

    ``with_revisits=True`` adds (payload_digest, refers_to_url,
    refers_to_ts) — the WARC 1.1 revisit headers a digest-deduplicated
    archive needs to be re-inflated (:func:`resolve_revisits`); they are
    NULL on non-revisit records."""
    files = load_glob(spark.read.format("binaryFile"), path)
    return files.select("path", "content").mapInArrow(
        _parse_files_fn(with_offsets, with_revisits),
        schema=_reader_schema(with_offsets, with_revisits),
    )


def _local_path(uri: str) -> str:
    if uri.startswith("file:"):
        p = uri[5:]
        while p.startswith("//"):  # file:///x and file://host/x forms
            p = p[1:]
        return p
    return uri


def fetch_warc_records(index: DataFrame) -> DataFrame:
    """Random access by CDX index: (source_file, rec_offset, rec_length)
    rows → the referenced records, read via seek+read of ONLY those byte
    ranges.  Like ``write_warc_files``, this reads through local
    ``open()``: ``source_file`` must be a local/shared-filesystem path or
    ``file:`` URI visible to every executor (local mode, NFS, a
    FUSE-mounted object store).  A bare ``s3://`` path is NOT handled —
    the seek+read access pattern maps 1:1 onto ranged GETs, but wiring
    that requires an object-store client on the executors.

    The index is repartitioned by file and range-sorted within partitions,
    so each task touches each file once, in ascending-offset order —
    sequential-ish I/O even for thousands of lookups per shard.  When the
    index carries a ``record_id`` column, a multi-record extent (a shared
    gzip member) is filtered back down to the requested record."""
    want_id = "record_id" in index.columns
    cols = ["source_file", "rec_offset", "rec_length"] + (
        ["record_id"] if want_id else []
    )
    ranges = (
        index.select(*cols)
        .repartition("source_file")
        .sortWithinPartitions("source_file", "rec_offset")
    )
    arrow_type = to_arrow_type(WARC_PAGE_SCHEMA)

    def _fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        open_path, fh = None, None
        try:
            for batch in batches:
                rows = []
                for want in batch.to_pylist():
                    if want["source_file"] != open_path:
                        if fh is not None:
                            fh.close()
                        open_path = want["source_file"]
                        fh = open(_local_path(open_path), "rb")
                    fh.seek(want["rec_offset"])
                    blob = fh.read(want["rec_length"])
                    rows.extend(
                        rec
                        for rec in _records(open_path, blob)
                        if not want_id or rec["record_id"] == want["record_id"]
                    )
                yield pa.RecordBatch.from_struct_array(to_arrow(rows, arrow_type))
        finally:
            if fh is not None:
                fh.close()

    return ranges.mapInArrow(_fetch, schema=WARC_PAGE_SCHEMA)
