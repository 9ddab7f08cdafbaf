"""WARC source/sink: byte-exact round-trip, binary-safety, ingest wiring."""

import glob
import gzip
import os

from pyspark.sql import functions as F, types as T


def _pages(spark, rows):
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _adversarial_rows():
    from datetime import datetime

    ts = datetime(2024, 5, 1, 12, 0, 0)
    return [
        # body containing the record separator AND a fake WARC header AND
        # a fake HTTP head — parser must trust Content-Length only
        ("https://a.example.org/1", ts, b"x\r\n\r\nWARC/1.0\r\nHTTP/1.1 200 OK\r\n\r\ny"),
        ("https://a.example.org/2", ts, b""),  # empty body
        ("https://b.example.org/3", ts, "юникод ЦӀnew№".encode()),
        ("https://b.example.org/4", ts, bytes(range(256))),  # full byte range
    ]


def test_warc_roundtrip_gzip_and_plain(spark, tmp_path):
    from html_parser_spark.sources.warc import read_warc, write_warc_files

    pages = _pages(spark, _adversarial_rows()).repartition(2)
    for compress, sub in [(True, "gz"), (False, "plain")]:
        out = str(tmp_path / sub)
        n_files = write_warc_files(pages, out, compress=compress)
        assert 1 <= n_files <= 2
        pat = os.path.join(out, "*.warc.gz" if compress else "*.warc")
        back = read_warc(spark, pat).orderBy("url").collect()
        orig = sorted(_adversarial_rows())
        assert [r["url"] for r in back] == [o[0] for o in orig]
        assert [bytes(r["html"]) for r in back] == [o[2] for o in orig]
        assert all(r["warc_ts"] == orig[0][1] for r in back)
        assert all(r["http_status"] == 200 for r in back)
        assert all(r["warc_type"] == "response" for r in back)
        assert all(r["content_type"] == "text/html; charset=utf-8" for r in back)


def test_warc_rewrite_with_opposite_compress_sweeps_stale_parts(spark, tmp_path):
    """Re-running the sink with the opposite compress flag must not leave
    old-suffix parts mixed into the directory (a corrupt concatenated
    archive and a wrong part count)."""
    from html_parser_spark.sources.warc import read_warc, write_warc_files

    pages = _pages(spark, _adversarial_rows()).repartition(2)
    out = str(tmp_path / "mixed")
    write_warc_files(pages, out, compress=True)
    n_plain = write_warc_files(pages, out, compress=False)
    names = sorted(os.listdir(out))
    assert all(n.endswith(".warc") for n in names), names
    assert len(names) == n_plain
    assert read_warc(spark, os.path.join(out, "*.warc")).count() == 4


def test_warc_gz_members_are_concatenable(spark, tmp_path):
    """Common-Crawl layout: every record its own gzip member, so `cat`-ing
    part files (or members) is itself a valid archive."""
    from html_parser_spark.sources.warc import iter_warc_records, write_warc_files

    pages = _pages(spark, _adversarial_rows()).coalesce(1)
    out = str(tmp_path / "gz")
    write_warc_files(pages, out, compress=True)
    (path,) = glob.glob(os.path.join(out, "*.warc.gz"))
    blob = open(path, "rb").read()
    # member count == record count (each record independently inflatable)
    n_members = 0
    import zlib

    buf = blob
    while buf:
        d = zlib.decompressobj(31)
        d.decompress(buf)
        d.flush()
        n_members += 1
        buf = d.unused_data
    assert n_members == 4
    # doubled archive parses to doubled records
    assert len(list(iter_warc_records(blob + blob))) == 8


def test_warc_deterministic_record_bytes(spark):
    """Uncompressed record serialization is a pure function of the row
    (deterministic record-id from md5(url), fixed date format)."""
    from html_parser_spark.sources.warc import to_warc_records

    pages = _pages(spark, _adversarial_rows())
    a = [bytes(r["record"]) for r in to_warc_records(pages, compress=False).collect()]
    b = [bytes(r["record"]) for r in to_warc_records(pages, compress=False).collect()]
    assert sorted(a) == sorted(b)
    rec = next(x for x in a if b"/doc/1" not in x and b"a.example.org/1" in x)
    assert rec.startswith(b"WARC/1.0\r\nWARC-Type: response\r\n")
    assert b"WARC-Date: 2024-05-01T12:00:00Z" in rec
    assert rec.endswith(b"\r\n\r\n")


def test_warc_reader_rejects_truncation(spark, tmp_path):
    from html_parser_spark.sources.warc import iter_warc_records, to_warc_records
    import pytest

    pages = _pages(spark, _adversarial_rows())
    rec = b"".join(
        bytes(r["record"]) for r in to_warc_records(pages, compress=False).collect()
    )
    with pytest.raises(ValueError):
        list(iter_warc_records(rec[:-10]))
    with pytest.raises(ValueError):
        list(iter_warc_records(gzip.compress(rec)[:-4]))


def test_extract_job_warc_input(spark, tmp_path, capsys):
    """jobs/extract_job.py --pages warc:<glob> runs the full pipeline."""
    import json

    import jobs.extract_job as ej
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.sources.warc import write_warc_files

    pages = synthetic_pages_df(spark, "/root/testdata/sf0.001", paragraphs=1).limit(30)
    crawl = str(tmp_path / "crawl")
    write_warc_files(pages.repartition(3), crawl)
    out = str(tmp_path / "results")
    ej.main([
        "--pages", f"warc:{crawl}/*.warc.gz",
        "--output", out,
        "--partitions", "4",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs"] == 30 and stats["errors"] == 0
    res = spark.read.parquet(f"{out}/data")
    assert res.where("fmt = 'A' AND n_entries >= 1").count() == 30


def test_warc_ingest_feeds_extraction(spark, tmp_path):
    """read_warc output plugs straight into the extraction pipeline."""
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.sources.warc import read_warc, write_warc_files
    from html_parser_spark.spark.pipeline import extract_pages

    pages = synthetic_pages_df(spark, "/root/testdata/sf0.001", paragraphs=1).limit(20)
    out = str(tmp_path / "crawl")
    write_warc_files(pages.repartition(2), out)
    back = read_warc(spark, os.path.join(out, "*.warc.gz"))
    res = extract_pages(back.withColumn("lang", F.lit("lez")))
    rows = res.select("url", "fmt", "n_entries").collect()
    assert len(rows) == 20
    assert all(r["fmt"] == "A" and r["n_entries"] >= 1 for r in rows)


def test_warc_extents_seekable_gz(spark, tmp_path):
    """rec_offset/rec_length on .warc.gz are gzip-member extents: a range
    read of exactly those bytes inflates + parses to that record alone."""
    from html_parser_spark.sources.warc import (
        iter_warc_records,
        read_warc,
        write_warc_files,
    )

    pages = _pages(spark, _adversarial_rows()).repartition(2)
    out = str(tmp_path / "gz")
    write_warc_files(pages, out, compress=True)
    back = read_warc(
        spark, os.path.join(out, "*.warc.gz"), with_offsets=True
    ).collect()
    assert len(back) == 4
    orig = {u: b for u, _, b in _adversarial_rows()}
    for r in back:
        path = r["source_file"]
        path = path[5:].lstrip("/") if path.startswith("file:") else path
        with open("/" + path if not path.startswith("/") else path, "rb") as f:
            f.seek(r["rec_offset"])
            blob = f.read(r["rec_length"])
        ((headers, payload),) = list(iter_warc_records(blob))
        assert headers["warc-target-uri"] == r["url"]
        assert payload.endswith(orig[r["url"]])
    # member extents tile the file: offsets sorted, lengths sum to filesize
    by_file = {}
    for r in back:
        by_file.setdefault(r["source_file"], []).append(
            (r["rec_offset"], r["rec_length"])
        )
    for path, extents in by_file.items():
        p = path[5:] if path.startswith("file:") else path
        extents.sort()
        assert extents[0][0] == 0
        for (o1, l1), (o2, _) in zip(extents, extents[1:]):
            assert o1 + l1 == o2
        assert sum(l for _, l in extents) == os.path.getsize(p)


def test_warc_extents_plain_tile(spark, tmp_path):
    """Plain .warc extents are per-record (incl. trailing CRLFs), start at
    a WARC/ magic, and tile the file with no gaps."""
    from html_parser_spark.sources.warc import read_warc, write_warc_files

    pages = _pages(spark, _adversarial_rows()).coalesce(1)
    out = str(tmp_path / "plain")
    write_warc_files(pages, out, compress=False)
    (path,) = glob.glob(os.path.join(out, "*.warc"))
    data = open(path, "rb").read()
    back = sorted(
        read_warc(spark, os.path.join(out, "*.warc"), with_offsets=True).collect(),
        key=lambda r: r["rec_offset"],
    )
    pos = 0
    for r in back:
        assert r["rec_offset"] == pos
        assert data[pos : pos + 5] == b"WARC/"
        assert data[pos + r["rec_length"] - 4 : pos + r["rec_length"]] == b"\r\n\r\n"
        pos += r["rec_length"]
    assert pos == len(data)


def test_fetch_warc_records_by_index(spark, tmp_path):
    """The CDX pattern end-to-end: build the index once, then random-access
    a subset through fetch_warc_records and get byte-identical records."""
    from html_parser_spark.sources.warc import (
        fetch_warc_records,
        read_warc,
        write_warc_files,
    )

    pages = _pages(spark, _adversarial_rows()).repartition(2)
    out = str(tmp_path / "gz")
    write_warc_files(pages, out, compress=True)
    full = read_warc(spark, os.path.join(out, "*.warc.gz"), with_offsets=True)
    index = full.select("url", "record_id", "source_file", "rec_offset", "rec_length")
    wanted = index.where(F.col("url").contains("b.example.org"))
    got = fetch_warc_records(wanted).orderBy("url").collect()
    orig = {u: (ts, b) for u, ts, b in _adversarial_rows() if "b.example" in u}
    assert [r["url"] for r in got] == sorted(orig)
    for r in got:
        ts, body = orig[r["url"]]
        assert bytes(r["html"]) == body and r["warc_ts"] == ts
        assert r["http_status"] == 200 and r["warc_type"] == "response"
    # plan shape: index-side exchange only (tiny), then one mapInArrow —
    # the archive files themselves are never rescanned
    plan = fetch_warc_records(wanted)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan


def test_request_record_http_split():
    """request records get their HTTP header block stripped (status NULL);
    warcinfo payloads pass through untouched."""
    from html_parser_spark.sources.warc import _split_http

    req = (
        b"GET /index.html HTTP/1.1\r\nHost: a.com\r\n"
        b"Content-Type: text/plain\r\n\r\nreq-body"
    )
    status, ctype, body = _split_http(req)
    assert status is None and ctype == "text/plain" and body == b"req-body"

    resp = b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n<x>"
    assert _split_http(resp) == (404, "text/html", b"<x>")

    info = b"software: test-crawler 1.0\r\nformat: WARC File Format 1.0"
    assert _split_http(info) == (None, None, info)


def test_warc_date_fractional_seconds_and_garbage():
    from datetime import datetime

    from html_parser_spark.sources.warc import _parse_warc_date

    assert _parse_warc_date("2023-06-01T12:00:00Z") == datetime(2023, 6, 1, 12)
    frac = _parse_warc_date("2023-06-01T12:00:00.123Z")
    assert frac is not None and frac.microsecond == 123000
    assert _parse_warc_date("not-a-date") is None
    assert _parse_warc_date(None) is None


def test_write_warc_files_clears_stale_parts(spark, tmp_path):
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.sources.warc import read_warc, write_warc_files

    pages = synthetic_pages_df(spark, "/root/testdata/sf0.001", paragraphs=1).limit(12)
    out = str(tmp_path / "w")
    n1 = write_warc_files(pages.repartition(6), out)
    n2 = write_warc_files(pages.limit(4).repartition(2), out)
    assert n1 == 6 and n2 == 2  # stale parts from run 1 are gone
    assert read_warc(spark, f"{out}/*.warc.gz").count() == 4


def test_colocated_sinks_keep_sibling_archives(spark, tmp_path):
    """The Common Crawl layout publishes WET/WAT sidecars NEXT TO the
    response archive: each sink's stale-part sweep must clear only its own
    record kind (both compress variants), never a sibling's parts."""
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.sources.warc import (
        read_warc,
        write_warc_files,
        write_wat_files,
        write_wet_files,
    )

    pages = synthetic_pages_df(spark, "/root/testdata/sf0.001", paragraphs=1).limit(8)
    docs = pages.select(
        "url", "warc_ts", F.decode("html", "UTF-8").alias("text")
    )
    out = str(tmp_path / "crawl")
    n_warc = write_warc_files(pages.repartition(2), out)
    n_wet = write_wet_files(docs.repartition(2), out)
    n_wat = write_wat_files(pages.repartition(2), out)
    assert (n_warc, n_wet, n_wat) == (2, 2, 2)
    # all three archives coexist and read back in full
    assert read_warc(spark, f"{out}/*.warc.gz").count() == 8
    assert read_warc(spark, f"{out}/*.warc.wet.gz").count() == 8
    assert read_warc(spark, f"{out}/*.warc.wat.gz").count() == 8
    # a re-run with the opposite compress flag sweeps BOTH variants of its
    # own kind (no mixed-archive corruption) but still spares the siblings
    n_plain = write_warc_files(pages.limit(4).repartition(1), out, compress=False)
    assert n_plain == 1
    names = sorted(os.listdir(out))
    assert not any(n.endswith(".warc.gz") for n in names)
    assert sum(n.endswith(".warc.wet.gz") for n in names) == 2
    assert sum(n.endswith(".warc.wat.gz") for n in names) == 2


def _docs_rows():
    from datetime import datetime

    ts = datetime(2024, 5, 1, 12, 0, 0)
    return [
        ("https://a.example.org/1", ts, "plain text body"),
        ("https://a.example.org/2", ts, ""),  # empty text
        ("https://b.example.org/3", ts, "юникод ЦӀnew№"),
        # text containing a fake record separator + fake WARC header —
        # the reader must trust Content-Length only
        ("https://b.example.org/4", ts, "x\r\n\r\nWARC/1.0\r\nfake\r\n\r\ny"),
    ]


def test_wet_roundtrip_gzip_and_plain(spark, tmp_path):
    """WET conversion-record sink → the same reader: text bytes byte-exact,
    conversion type, text/plain, no HTTP splitting, NULL status."""
    from html_parser_spark.sources.warc import read_warc, write_wet_files

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = spark.createDataFrame(_docs_rows(), schema).repartition(2)
    for compress, sub in [(True, "gz"), (False, "plain")]:
        out = str(tmp_path / f"wet-{sub}")
        n_files = write_wet_files(docs, out, compress=compress)
        assert 1 <= n_files <= 2
        pat = os.path.join(out, "*.warc.wet.gz" if compress else "*.warc.wet")
        back = read_warc(spark, pat).orderBy("url").collect()
        orig = sorted(_docs_rows())
        assert [r["url"] for r in back] == [o[0] for o in orig]
        assert [bytes(r["html"]) for r in back] == [o[2].encode() for o in orig]
        assert all(r["warc_type"] == "conversion" for r in back)
        assert all(r["content_type"] == "text/plain" for r in back)
        assert all(r["http_status"] is None for r in back)


def test_wet_refers_to_matches_response_record_id(spark):
    """The sidecar's WARC-Refers-To is the response record's id for the
    same url (both derive from md5(url)), and its own id differs."""
    from html_parser_spark.sources.warc import to_warc_records, to_wet_records

    from datetime import datetime

    ts = datetime(2024, 5, 1, 12, 0, 0)
    url = "https://a.example.org/1"
    pages = _pages(spark, [(url, ts, b"<html>x</html>")])
    docs = spark.createDataFrame(
        [(url, ts, "x")], "url string, warc_ts timestamp, text string"
    )
    resp = bytes(to_warc_records(pages, compress=False).collect()[0]["record"])
    wet = bytes(to_wet_records(docs, compress=False).collect()[0]["record"])
    resp_id = [
        ln for ln in resp.split(b"\r\n") if ln.startswith(b"WARC-Record-ID:")
    ][0].split(b"<", 1)[1].rstrip(b">")
    refers = [
        ln for ln in wet.split(b"\r\n") if ln.startswith(b"WARC-Refers-To:")
    ][0].split(b"<", 1)[1].rstrip(b">")
    wet_id = [
        ln for ln in wet.split(b"\r\n") if ln.startswith(b"WARC-Record-ID:")
    ][0].split(b"<", 1)[1].rstrip(b">")
    assert refers == resp_id
    assert wet_id != resp_id


def test_extract_job_wet_sidecar(spark, tmp_path, capsys):
    """--wet writes the extracted text as WET conversion records whose
    bodies byte-match the parquet extracted_text, url for url."""
    import json

    import jobs.extract_job as ej
    from html_parser_spark.sources.warc import read_warc

    out = str(tmp_path / "results")
    wet = str(tmp_path / "wet")
    ej.main([
        "--pages", "synth:/root/testdata/sf0.001",
        "--output", out,
        "--partitions", "4",
        "--limit", "25",
        "--wet", wet,
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["wet_parts"] >= 1
    res = spark.read.parquet(f"{out}/data").where("extracted_text IS NOT NULL")
    back = read_warc(spark, os.path.join(wet, "*.warc.wet.gz"))
    joined = back.join(res, "url").select(
        "url",
        F.decode("html", "UTF-8").alias("wet_text"),
        "extracted_text",
    )
    assert joined.count() == res.count() == 25
    assert joined.where("wet_text <> extracted_text").count() == 0
    assert set(r["warc_type"] for r in back.select("warc_type").collect()) == {
        "conversion"
    }


def test_wat_roundtrip_and_null_field_omission(spark, tmp_path):
    """WAT metadata records: real kernel fields round-trip through the
    JSON envelope; a page with no metadata yields an envelope WITHOUT
    null-padded keys (to_json omits NULLs) but keeps url/n_anchors."""
    import json as _json
    from datetime import datetime

    from html_parser_spark.sources.warc import read_warc, write_wat_files

    ts = datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        ("https://a.example.org/1", ts,
         b'<html><head><title>Hi</title></head>'
         b'<body><a href="https://x.org/p">x</a></body></html>'),
        ("https://a.example.org/2", ts, b"<html><body>bare</body></html>"),
    ]
    pages = _pages(spark, rows)
    out = str(tmp_path / "wat")
    assert write_wat_files(pages, out) >= 1
    back = {
        r["url"]: _json.loads(bytes(r["html"]).decode())
        for r in read_warc(spark, os.path.join(out, "*.warc.wat.gz")).collect()
    }
    one = back["https://a.example.org/1"]
    assert one["title"] == "Hi" and one["outlinks"] == ["https://x.org/p"]
    assert one["n_anchors"] == 1
    two = back["https://a.example.org/2"]
    assert "title" not in two and "outlinks" in two and two["n_anchors"] == 0
    assert two["url"] == "https://a.example.org/2"


def _revisit_rows():
    """Payload group X captured three times (one ts tie, url tie-break; one
    later date), a unique payload, and ONE url serving different bytes at
    two dates (two originals — record ids must stay distinct)."""
    from datetime import datetime

    t0 = datetime(2024, 5, 1, 12, 0, 0)
    t1 = datetime(2024, 6, 1, 12, 0, 0)
    # large enough that ONE stored copy + two ~350-byte revisit records is
    # clearly smaller than three stored copies
    shared = b"shared-payload \r\n\r\nWARC/1.0 x" * 100
    return [
        ("https://r.example.org/a", t0, shared),
        ("https://r.example.org/b", t0, shared),
        ("https://r.example.org/c", t1, shared),
        ("https://r.example.org/u", t0, b"unique-payload"),
        ("https://r.example.org/m", t0, b"moving-v1"),
        ("https://r.example.org/m", t1, b"moving-v2"),
    ]


def test_revisit_plan_classification(spark):
    """Original per digest = min (warc_ts, url) struct: ts tie broken by
    url, later capture of the same bytes → revisit; distinct payloads from
    ONE url stay two originals."""
    from html_parser_spark.sources.warc import revisit_plan

    pages = _pages(spark, _revisit_rows()).repartition(3)
    got = {
        (r["url"], str(r["warc_ts"])): r
        for r in revisit_plan(pages).collect()
    }
    t0, t1 = "2024-05-01 12:00:00", "2024-06-01 12:00:00"
    assert not got[("https://r.example.org/a", t0)]["is_revisit"]
    for url, ts in [("https://r.example.org/b", t0), ("https://r.example.org/c", t1)]:
        r = got[(url, ts)]
        assert r["is_revisit"]
        assert r["refers_to_url"] == "https://r.example.org/a"
        assert str(r["refers_to_ts"]) == t0
    for url, ts in [
        ("https://r.example.org/u", t0),
        ("https://r.example.org/m", t0),
        ("https://r.example.org/m", t1),
    ]:
        r = got[(url, ts)]
        assert not r["is_revisit"]
        assert r["refers_to_url"] is None and r["refers_to_ts"] is None


def test_warc_dedup_roundtrip_and_resolution(spark, tmp_path):
    """dedup=True stores each payload once + zero-body revisits; reading
    with with_revisits=True and resolve_revisits() reconstructs every
    capture's bytes exactly; record ids stay unique; the dedup archive is
    smaller than the plain one."""
    from html_parser_spark.sources.warc import (
        read_warc,
        resolve_revisits,
        write_warc_files,
    )

    pages = _pages(spark, _revisit_rows()).repartition(2)
    out_d = str(tmp_path / "dedup")
    out_p = str(tmp_path / "plain")
    write_warc_files(pages, out_d, compress=False, dedup=True)
    write_warc_files(pages, out_p, compress=False)

    back = read_warc(spark, os.path.join(out_d, "*.warc"), with_revisits=True)
    rows = back.collect()
    assert len(rows) == 6
    by_type = {t: [r for r in rows if r["warc_type"] == t] for t in
               ("response", "revisit")}
    assert len(by_type["response"]) == 4  # one per distinct payload
    assert len(by_type["revisit"]) == 2
    assert len({r["record_id"] for r in rows}) == 6
    for r in by_type["revisit"]:
        assert bytes(r["html"] or b"") == b""
        assert r["payload_digest"].startswith("sha1:")
        assert r["refers_to_url"] == "https://r.example.org/a"
    for r in by_type["response"]:
        assert r["payload_digest"] is None and r["refers_to_url"] is None

    resolved = resolve_revisits(back).collect()
    got = sorted((r["url"], str(r["warc_ts"]), bytes(r["html"])) for r in resolved)
    want = sorted((u, str(t), b) for u, t, b in _revisit_rows())
    assert got == want
    # revisit rows remain identifiable post-resolution
    assert sum(r["warc_type"] == "revisit" for r in resolved) == 2

    size = lambda d: sum(
        os.path.getsize(os.path.join(d, n)) for n in os.listdir(d)
    )
    assert size(out_d) < size(out_p)


def test_revisit_reader_default_schema_unchanged(spark, tmp_path):
    """A dedup archive read WITHOUT with_revisits keeps the standard page
    schema: revisit rows surface with empty bodies, nothing crashes."""
    from html_parser_spark.sources.warc import (
        WARC_PAGE_SCHEMA,
        read_warc,
        write_warc_files,
    )

    pages = _pages(spark, _revisit_rows())
    out = str(tmp_path / "dedup_gz")
    write_warc_files(pages, out, compress=True, dedup=True)
    back = read_warc(spark, os.path.join(out, "*.warc.gz"))
    assert [f.name for f in back.schema.fields] == [
        f.name for f in WARC_PAGE_SCHEMA.fields
    ]
    assert back.where("warc_type = 'revisit'").count() == 2


def test_extract_job_markdown_mode_and_dedup_warc(spark, tmp_path, capsys):
    """--markdown converts the crawl to structured text; --dedup-warc
    repacks the ingest set with revisit records (dupes in the crawl →
    fewer stored responses)."""
    import json

    import jobs.extract_job as ej
    from html_parser_spark.sources.warc import (
        read_warc,
        resolve_revisits,
        write_warc_files,
    )

    pages = _pages(spark, _revisit_rows())
    crawl = str(tmp_path / "crawl")
    write_warc_files(pages.repartition(2), crawl)
    out = str(tmp_path / "md_out")
    dd = str(tmp_path / "dedup")
    ej.main([
        "--pages", f"warc:{crawl}/*.warc.gz",
        "--output", out,
        "--partitions", "2",
        "--markdown",
        "--dedup-warc", dd,
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["job"] == "extract-markdown"
    assert stats["docs"] == 6 and stats["dedup_warc_parts"] >= 1
    res = spark.read.parquet(f"{out}/data")
    got = {r["url"]: r for r in res.collect()}
    assert len(got) == 5  # /m appears twice; parquet keeps both rows
    assert res.count() == 6
    # payload bytes aren't valid HTML tags, so they flatten to one paragraph
    assert all(r["n_blocks"] >= 1 and r["md_chars"] > 0 for r in got.values())

    # the dedup archive re-inflates to the exact ingest set
    back = read_warc(spark, os.path.join(dd, "*.warc.gz"), with_revisits=True)
    assert back.where("warc_type = 'revisit'").count() == 2
    resolved = resolve_revisits(back)
    want = sorted((u, str(t)) for u, t, _ in _revisit_rows())
    assert sorted((r["url"], str(r["warc_ts"])) for r in resolved.collect()) == want


def test_warcinfo_leader_record(spark, tmp_path):
    """warcinfo_ts=... opens every part with a warcinfo file-description
    record; readers surface it and responses are untouched; parts still
    concatenate into a valid archive."""
    from datetime import datetime

    from html_parser_spark.sources.warc import read_warc, write_warc_files

    pages = _pages(spark, _adversarial_rows()).repartition(2)
    out = str(tmp_path / "wi")
    n = write_warc_files(
        pages, out, compress=True, warcinfo_ts=datetime(2024, 5, 1)
    )
    back = read_warc(spark, os.path.join(out, "*.warc.gz"))
    rows = back.collect()
    info = [r for r in rows if r["warc_type"] == "warcinfo"]
    assert len(info) == n  # one leader per part file
    assert all(b"software: html-parser-spark" in bytes(r["html"]) for r in info)
    assert all(r["url"] is None for r in info)
    resp = [r for r in rows if r["warc_type"] == "response"]
    assert sorted(bytes(r["html"]) for r in resp) == sorted(
        b for _, _, b in _adversarial_rows()
    )
    # concatenated parts (leaders included) still parse record-for-record
    from html_parser_spark.sources.warc import iter_warc_records

    blob = b"".join(
        open(os.path.join(out, p), "rb").read() for p in sorted(os.listdir(out))
    )
    import zlib

    inflated, buf = b"", blob
    while buf:
        d = zlib.decompressobj(31)
        inflated += d.decompress(buf) + d.flush()
        buf = d.unused_data
    assert len(list(iter_warc_records(inflated))) == len(rows)
