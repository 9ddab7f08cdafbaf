"""Charset sniffing + decode (ops/encoding.py): detection precedence,
WHATWG alias folding, UTF-8 validity fallback, and the Arrow decode
kernel's legacy-codec / replacement behavior."""

from pyspark.sql import functions as F

from tests.conftest import assert_one_python_form


def _detect(spark, body):
    from html_parser_spark.ops.encoding import charset_of

    df = spark.createDataFrame([(body,)], "body binary")
    return df.select(charset_of(F.col("body")).alias("c")).first()["c"]


def test_bom_beats_declared_label(spark):
    assert _detect(spark, b"\xef\xbb\xbf<meta charset='koi8-r'>") == "utf-8"
    assert _detect(spark, b"\xff\xfeX\x00") == "utf-16le"
    assert _detect(spark, b"\xfe\xff\x00X") == "utf-16be"


def test_declared_label_and_alias_fold(spark):
    assert _detect(spark, b'<meta charset="Windows-1251">x') == "windows-1251"
    # WHATWG: latin1 / iso-8859-1 / ascii are labels OF windows-1252
    assert _detect(spark, b"<meta charset=latin1>x") == "windows-1252"
    assert _detect(spark, b"<meta charset='iso-8859-1'>x") == "windows-1252"
    assert (
        _detect(spark, b'<?xml version="1.0" encoding="Shift_JIS"?>')
        == "shift_jis"
    )
    assert (
        _detect(
            spark,
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=EUC-JP">',
        )
        == "euc-jp"
    )
    # unknown labels pass through (the decode kernel's codecs fallback owns them)
    assert _detect(spark, b'<meta charset="x-mystery">x') == "x-mystery"


def test_utf8_validity_roundtrip_and_1252_default(spark):
    assert _detect(spark, "höhenmesser".encode("utf-8")) == "utf-8"
    # 0xE9 + space is not valid UTF-8 -> the WHATWG legacy default
    assert _detect(spark, b"caf\xe9 premium") == "windows-1252"
    assert _detect(spark, None) is None


def test_decode_pages_legacy_codecs_and_replacement(spark):
    from html_parser_spark.ops.encoding import decode_pages

    rows = [
        (0, b'<meta charset="windows-1251">' + "привет".encode("cp1251")),
        (1, b"\xef\xbb\xbf" + "мир".encode("utf-8")),  # BOM stripped
        (2, b"tr\xffnc"),  # invalid UTF-8, unlabeled -> cp1252: \xff = U+00FF
        (3, b'<meta charset="x-mystery">caf\xe9'),  # unknown label -> cp1252
        (4, b"bad\x81byte"),  # 0x81 undefined in cp1252 -> U+FFFD, never fails
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body binary")
    out = {r["doc_id"]: r for r in decode_pages(df).collect()}
    assert out[0]["charset"] == "windows-1251"
    assert out[0]["text"] == '<meta charset="windows-1251">привет'
    assert out[1]["text"] == "мир"  # no leading U+FEFF
    assert out[2]["text"] == "trÿnc"
    assert out[3]["text"] == '<meta charset="x-mystery">café'
    assert out[4]["text"] == "bad�byte"
    assert out[5]["text"] is None


def test_decode_plan_is_one_arrow_stage_no_shuffle(spark):
    from html_parser_spark.ops.encoding import decode_pages, normalize_to_utf8

    df = spark.createDataFrame([(1, b"x")], "doc_id long, body binary")
    plan = (
        decode_pages(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert_one_python_form(plan)
    assert_one_python_form(
        normalize_to_utf8(df)._jdf.queryExecution().executedPlan().toString()
    )


def test_http_header_charset_precedence(spark):
    """WHATWG: BOM > transport (Content-Type charset) > in-body meta."""
    from html_parser_spark.ops.encoding import charset_of

    def det(body, ctype):
        df = spark.createDataFrame(
            [(body, ctype)], "body binary, content_type string"
        )
        return df.select(
            charset_of(
                F.col("body"), content_type=F.col("content_type")
            ).alias("c")
        ).first()["c"]

    assert (
        det(b'<meta charset="koi8-r">x', "text/html; charset=windows-1251")
        == "windows-1251"
    )
    assert det(b"\xef\xbb\xbfx", "text/html; charset=koi8-r") == "utf-8"
    # unparameterized header falls through to the meta label
    assert det(b'<meta charset="koi8-r">x', "text/html") == "koi8-r"
    # header alias folds like any declared label
    assert det(b"x", "text/plain; charset=Latin-1") == "windows-1252"


def test_normalize_to_utf8_transcode_and_passthrough(spark):
    from html_parser_spark.ops.encoding import normalize_to_utf8

    rows = [
        (0, "привет".encode("cp1251"), "text/html; charset=windows-1251"),
        (1, "already utf-8 ü".encode("utf-8"), "text/html"),
        (2, b"\xef\xbb\xbf" + "bom".encode("utf-8"), "text/html"),
        (3, None, None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, html binary, content_type string"
    )
    out = {
        r["doc_id"]: r
        for r in normalize_to_utf8(
            df, body_col="html", ctype_col="content_type"
        ).collect()
    }
    assert bytes(out[0]["html"]).decode("utf-8") == "привет"
    assert out[0]["charset"] == "windows-1251"
    # valid UTF-8 without BOM passes through byte-identical
    assert bytes(out[1]["html"]) == "already utf-8 ü".encode("utf-8")
    # UTF-8 BOM is stripped by the normalizer
    assert bytes(out[2]["html"]) == b"bom"
    assert out[3]["html"] is None


# ---------------------------------------------------------------------------
# mojibake / encoding-damage score — ops/encoding.mojibake_score
# ---------------------------------------------------------------------------
def test_mojibake_score_detects_double_encoding(spark):
    from html_parser_spark.ops.encoding import mojibake_score

    # fixtures are real double-encodings, built by the same byte round
    # trip a broken origin performs (utf-8 bytes read back as cp1252);
    # undefined cp1252 bytes (e.g. 0x9D from U+201D) fall back to their
    # C1 codepoints, exactly as browsers and WHATWG decoders do
    def dbl(s: str) -> str:
        return s.encode("utf-8").decode("cp1252", errors="replace").replace(
            "�", ""
        )

    assert dbl("Café cliché") == "CafÃ© clichÃ©"
    rows = [
        (0, "clean text with accents: café naïve Århus âge"),
        (1, dbl("Café cliché")),
        (2, dbl("it’s “quoted”")),
        (3, "lossy � decode �"),
        (4, ""),
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in mojibake_score(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    # legit accents and Nordic/French letters never fire
    assert got[0]["n_double_encoded"] == 0 and got[0]["mojibake_ppm"] == 0
    assert got[1]["n_double_encoded"] == 2
    assert got[2]["n_double_encoded"] == 3   # ' " and the C1-tail "
    assert got[3]["n_replacement"] == 2 and got[3]["n_double_encoded"] == 0
    # empty text: ppm degrades to 0, never NULL / divide-by-zero
    assert got[4]["n_chars"] == 0 and got[4]["mojibake_ppm"] == 0
    assert got[1]["mojibake_ppm"] == 2 * 1000000 // got[1]["n_chars"]


def test_mojibake_regex_portable_to_re2(spark):
    """The signature classes must compile identically under RE2 (the
    DuckDB oracle's engine): literal codepoints only, no Java-isms."""
    import duckdb

    from html_parser_spark.ops.encoding import MOJIBAKE_RE

    probe = "Café it’s ok".encode("utf-8").decode("latin-1")
    n = duckdb.sql(
        f"SELECT len(regexp_extract_all('{probe}', '{MOJIBAKE_RE}'))"
    ).fetchone()[0]
    # 'Ã©' from é, then 'â'+U+0080 from ’ (non-overlapping: the third
    # byte U+0099 has no lead char left to pair with)
    assert n == 2
