"""Native PDF text extraction — the "PDF/layout parse" leg of the north rule.

The reference corpus is dictionary PDFs that were pre-converted to HTML by
idrviewer and pdf2htmlEX (`/root/reference/tab-rus-25k/index.ts:51-75`,
`/root/reference/rus-lez-phrasebook/index.ts:1-21`); this engine already
parses those HTML forms (`formats/format_c.py`, `formats/format_d.py`).  At
crawl scale, though, the archive rows carry the *original* ``%PDF`` binary
in the payload column — a real extraction tier must read it directly, the
way CCNet/RefinedWeb route ``application/pdf`` captures through a text
extractor instead of dropping them.  This module is that extractor, written
from scratch on the stdlib (``zlib`` + ``re``), no Poppler/MuPDF:

* a PDF **lexer/object parser** (ISO 32000-1 §7.2-7.3): literal strings with
  escape/octal/line-continuation handling, hex strings, names with ``#xx``
  escapes, numbers, dicts, arrays, ``N G R`` indirect references;
* **body scan** for ``N G obj … endobj`` objects with stream payloads
  (``/Length``-guided with an ``endstream`` fallback, so a corrupt length
  degrades instead of derailing the scan);
* **FlateDecode** via ``zlib`` (the only compression our writer emits and by
  far the dominant one in the wild); unknown filters skip the stream rather
  than raising — total functions only, a crawl payload is hostile input;
* **page-tree walk** from ``trailer /Root`` → ``/Catalog`` → ``/Pages`` →
  ``/Kids`` (recursive, cycle-guarded), falling back to ``/Type /Page``
  objects in object-number order when the trailer is damaged;
* a **content-stream text interpreter** covering the text-positioning and
  text-showing operators: ``BT/ET``, ``Td``, ``TD``, ``Tm``, ``T*``, ``TL``,
  ``Tj``, ``'``, ``"``, and ``TJ`` arrays (kern adjustments ≤ -200/1000 em
  become a space — the standard extraction heuristic, made deterministic);
* **layout line assembly**: runs carry the text-matrix (x, y); lines group
  by y, order top-to-bottom, and runs within a line order left-to-right
  (emission order breaks x ties) — the same geometric ordering the
  column-offset histogram uses for the PDF-derived HTML
  (`formats/layout.py`);
* string decoding per §7.9.2: ``FE FF`` BOM → UTF-16BE, else
  PDFDocEncoding-as-latin-1.

The module also ships :func:`make_text_pdf`, a deterministic PDF *writer*
(correct xref offsets, Flate-compressed streams, all four string/positioning
variants).  Tests and the ``q_pdf_text`` oracle synthesize PDFs from known
text through it, so extraction correctness is closed-form: writer(text) →
parser → text, byte-identical, with the DuckDB oracle reconstructing the
expected text symbolically from the source table.

Scale notes (100 TB): :func:`pdf_text` is ONE Arrow row UDF over
column-pruned input (id + payload), one output row per input row, zero
shuffle; partitioning follows the scan exactly like the HTML kernel
(`spark/pipeline.py:row_udf`).  ``ops/mime.extract_any`` calls the same
:func:`pdf_row` inside its one kernel stage.  Parsing is bounded per
document (one pass to index objects, one pass per content stream) and
total — any parse failure yields a NULL-text row, never a task failure.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame, functions as F, types as T

from html_parser_spark.spark.pipeline import row_udf

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Ref({self.num})"


class _Name(str):
    """PDF name object (distinct from a decoded string)."""


class _Lexer:
    """Tokenizer shared by the object parser and the content interpreter."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.n = len(data)

    def _skip_ws(self) -> None:
        d, n = self.data, self.n
        i = self.pos
        while i < n:
            c = d[i : i + 1]
            if c in (b"\x00", b"\t", b"\n", b"\x0c", b"\r", b" "):
                i += 1
            elif c == b"%":  # comment to EOL
                j = i + 1
                while j < n and d[j : j + 1] not in (b"\r", b"\n"):
                    j += 1
                i = j
            else:
                break
        self.pos = i

    def next(self):
        """Return (kind, value) where kind ∈ {num, name, str, kw, dict_open,
        dict_close, arr_open, arr_close, eof}."""
        self._skip_ws()
        d, n = self.data, self.n
        i = self.pos
        if i >= n:
            return ("eof", None)
        c = d[i : i + 1]
        if c == b"<":
            if d[i + 1 : i + 2] == b"<":
                self.pos = i + 2
                return ("dict_open", None)
            return ("str", self._hex_string(i + 1))
        if c == b">":
            if d[i + 1 : i + 2] == b">":
                self.pos = i + 2
                return ("dict_close", None)
            self.pos = i + 1  # stray '>' — swallow
            return self.next()
        if c == b"[":
            self.pos = i + 1
            return ("arr_open", None)
        if c == b"]":
            self.pos = i + 1
            return ("arr_close", None)
        if c == b"(":
            return ("str", self._literal_string(i + 1))
        if c == b"/":
            return ("name", self._name(i + 1))
        if c in b"+-.0123456789":
            return self._number(i)
        if c in b"{}":  # PostScript-calculator braces — not object syntax
            self.pos = i + 1
            return ("kw", c.decode("latin-1"))
        # keyword / operator: run of regular characters
        j = i
        while j < n and d[j : j + 1] not in _WS and d[j : j + 1] not in _DELIM:
            j += 1
        if j == i:  # unexpected delimiter — consume one byte defensively
            j = i + 1
        self.pos = j
        return ("kw", d[i:j].decode("latin-1"))

    def _number(self, i: int):
        d, n = self.data, self.n
        j = i
        if d[j : j + 1] in b"+-":
            j += 1
        seen_dot = False
        while j < n:
            c = d[j : j + 1]
            if c == b"." and not seen_dot:
                seen_dot = True
                j += 1
            elif c.isdigit():
                j += 1
            else:
                break
        self.pos = j
        tok = d[i:j]
        try:
            return ("num", float(tok) if seen_dot else int(tok))
        except ValueError:  # bare '+' / '-' / '.'
            return ("num", 0)

    def _name(self, i: int) -> _Name:
        d, n = self.data, self.n
        out = bytearray()
        j = i
        while j < n:
            c = d[j : j + 1]
            if c in _WS or c in _DELIM:
                break
            if c == b"#" and j + 2 < n:
                try:
                    out.append(int(d[j + 1 : j + 3], 16))
                    j += 3
                    continue
                except ValueError:
                    pass
            out += c
            j += 1
        self.pos = j
        return _Name(out.decode("latin-1"))

    def _hex_string(self, i: int) -> bytes:
        d = self.data
        end = d.find(b">", i)
        if end < 0:
            end = self.n
        hx = re.sub(rb"\s+", b"", d[i:end])
        if len(hx) % 2:
            hx += b"0"
        self.pos = end + 1
        try:
            return bytes.fromhex(hx.decode("latin-1"))
        except ValueError:
            return b""

    def _literal_string(self, i: int) -> bytes:
        d, n = self.data, self.n
        out = bytearray()
        depth = 1
        j = i
        while j < n and depth:
            c = d[j : j + 1]
            if c == b"\\":
                e = d[j + 1 : j + 2]
                if e == b"n":
                    out += b"\n"
                elif e == b"r":
                    out += b"\r"
                elif e == b"t":
                    out += b"\t"
                elif e == b"b":
                    out += b"\b"
                elif e == b"f":
                    out += b"\x0c"
                elif e in (b"(", b")", b"\\"):
                    out += e
                elif e and e in b"01234567":  # up to 3 octal digits
                    k = j + 1
                    oct_digits = b""
                    while k < n and len(oct_digits) < 3 and d[k : k + 1] in b"01234567":
                        oct_digits += d[k : k + 1]
                        k += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                    j = k
                    continue
                elif e in (b"\r", b"\n"):  # line continuation
                    j += 2
                    if e == b"\r" and d[j : j + 1] == b"\n":
                        j += 1
                    continue
                else:
                    out += e  # unknown escape: the byte itself (§7.3.4.2)
                j += 2
                continue
            if c == b"(":
                depth += 1
                out += c
            elif c == b")":
                depth -= 1
                if depth:
                    out += c
            else:
                out += c
            j += 1
        self.pos = j
        return bytes(out)


def _reduce_refs(items: list) -> list:
    """Collapse ``int int kw('R')`` triples into :class:`_Ref`."""
    out: list = []
    for it in items:
        if (
            isinstance(it, str)
            and not isinstance(it, _Name)
            and it == "R"
            and len(out) >= 2
            and isinstance(out[-1], int)
            and isinstance(out[-2], int)
        ):
            gen = out.pop()  # noqa: F841 — generation number, always 0 here
            num = out.pop()
            out.append(_Ref(num))
        else:
            out.append(it)
    return out


def _parse_value(lx: _Lexer, kind, val):
    """Parse ONE object value given its first token."""
    if kind == "dict_open":
        items: list = []
        while True:
            k, v = lx.next()
            if k in ("dict_close", "eof"):
                break
            items.append(_parse_value(lx, k, v))
        items = _reduce_refs(items)
        d: dict = {}
        i = 0
        while i + 1 < len(items):
            if isinstance(items[i], _Name):
                d[str(items[i])] = items[i + 1]
                i += 2
            else:
                i += 1
        return d
    if kind == "arr_open":
        items = []
        while True:
            k, v = lx.next()
            if k in ("arr_close", "eof"):
                break
            items.append(_parse_value(lx, k, v))
        return _reduce_refs(items)
    if kind == "kw":
        if val == "true":
            return True
        if val == "false":
            return False
        if val == "null":
            return None
        return val  # bare keyword (R handled by _reduce_refs)
    return val  # num / name / str


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _scan_objects(blob: bytes) -> dict[int, tuple[object, bytes | None]]:
    """Sequential body scan: {obj_num: (value, stream_bytes|None)}.

    Sequential (each match consumed before searching on) so byte patterns
    INSIDE stream payloads can never be mistaken for object headers."""
    objects: dict[int, tuple[object, bytes | None]] = {}
    pos = 0
    n = len(blob)
    while pos < n:
        m = _OBJ_RE.search(blob, pos)
        if not m:
            break
        num = int(m.group(1))
        lx = _Lexer(blob, m.end())
        k, v = lx.next()
        value = _parse_value(lx, k, v)
        stream: bytes | None = None
        k2, v2 = lx.next()
        if k2 == "kw" and v2 == "stream":
            start = lx.pos
            if blob[start : start + 2] == b"\r\n":
                start += 2
            elif blob[start : start + 1] in (b"\n", b"\r"):
                start += 1
            length = value.get("Length") if isinstance(value, dict) else None
            end = -1
            if isinstance(length, int) and 0 <= length <= n - start:
                cand = start + length
                # trust /Length only if 'endstream' actually follows it
                if blob[cand : cand + 32].lstrip(b"\r\n ").startswith(b"endstream"):
                    end = cand
            if end < 0:
                end = blob.find(b"endstream", start)
                if end < 0:
                    end = n
                while end > start and blob[end - 1 : end] in (b"\r", b"\n"):
                    end -= 1
            stream = blob[start:end]
            pos = blob.find(b"endobj", end)
            pos = (pos + 6) if pos >= 0 else end
        else:
            pos = lx.pos
        objects[num] = (value, stream)
    return objects


def _decode_stream(value: dict, stream: bytes) -> bytes | None:
    filt = value.get("Filter")
    filters = filt if isinstance(filt, list) else ([filt] if filt else [])
    data = stream
    for f in filters:
        if str(f) == "FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error:
                return None
        else:
            return None  # unsupported filter — skip, never raise
    return data


def _deref(objects: dict, v):
    seen = 0
    while isinstance(v, _Ref):
        got = objects.get(v.num)
        v = got[0] if got else None
        seen += 1
        if seen > 32:  # reference cycle guard
            return None
    return v


def _page_order(objects: dict) -> list[dict]:
    """Walk Root→Pages→Kids; fall back to /Type /Page by object number."""
    root_pages = None
    for _num, (val, _s) in sorted(objects.items()):
        if isinstance(val, dict) and str(val.get("Type")) == "Catalog":
            root_pages = _deref(objects, val.get("Pages"))
            break
    pages: list[dict] = []

    def walk(node, depth: int = 0) -> None:
        if not isinstance(node, dict) or depth > 64:
            return
        t = str(node.get("Type"))
        if t == "Page":
            pages.append(node)
        elif t == "Pages":
            kids = _deref(objects, node.get("Kids")) or []
            if isinstance(kids, list):
                for kid in kids:
                    walk(_deref(objects, kid), depth + 1)

    walk(root_pages)
    if not pages:
        for _num, (val, _s) in sorted(objects.items()):
            if isinstance(val, dict) and str(val.get("Type")) == "Page":
                pages.append(val)
    return pages


def _decode_pdf_string(raw: bytes) -> str:
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


_KERN_SPACE = -200  # TJ adjustment (1/1000 em) at or below which a space


def _page_runs(content: bytes) -> list[tuple[float, float, int, str]]:
    """Interpret text operators → [(y, x, seq, text)] runs."""
    lx = _Lexer(content)
    operands: list = []
    runs: list[tuple[float, float, int, str]] = []
    x = y = lx_ = ly_ = 0.0
    leading = 0.0
    seq = 0

    def shown(raw) -> None:
        nonlocal seq
        if isinstance(raw, bytes):
            runs.append((y, x, seq, _decode_pdf_string(raw)))
            seq += 1

    def newline() -> None:
        nonlocal x, y, ly_
        ly_ -= leading
        x, y = lx_, ly_

    while True:
        k, v = lx.next()
        if k == "eof":
            break
        if k in ("num", "str", "name"):
            operands.append(v)
            continue
        if k == "arr_open":
            items: list = []
            while True:
                k2, v2 = lx.next()
                if k2 in ("arr_close", "eof"):
                    break
                items.append(_parse_value(lx, k2, v2))
            operands.append(items)
            continue
        if k == "dict_open":  # e.g. BDC property lists — parse and drop
            _parse_value(lx, k, v)
            operands = []
            continue
        if k != "kw":
            operands = []
            continue
        op = v
        try:
            if op == "BT":
                x = y = lx_ = ly_ = 0.0
            elif op == "Tm" and len(operands) >= 6:
                x = lx_ = float(operands[-2])
                y = ly_ = float(operands[-1])
            elif op == "Td" and len(operands) >= 2:
                lx_ += float(operands[-2])
                ly_ += float(operands[-1])
                x, y = lx_, ly_
            elif op == "TD" and len(operands) >= 2:
                leading = -float(operands[-1])
                lx_ += float(operands[-2])
                ly_ += float(operands[-1])
                x, y = lx_, ly_
            elif op == "T*":
                newline()
            elif op == "TL" and operands:
                leading = float(operands[-1])
            elif op == "Tj" and operands:
                shown(operands[-1])
            elif op == "'" and operands:
                newline()
                shown(operands[-1])
            elif op == '"' and len(operands) >= 3:
                newline()
                shown(operands[-1])
            elif op == "TJ" and operands and isinstance(operands[-1], list):
                parts: list[str] = []
                for el in operands[-1]:
                    if isinstance(el, bytes):
                        parts.append(_decode_pdf_string(el))
                    elif isinstance(el, (int, float)) and el <= _KERN_SPACE:
                        parts.append(" ")
                if parts:
                    runs.append((y, x, seq, "".join(parts)))
                    seq += 1
        except (TypeError, ValueError):
            pass
        operands = []
    return runs


def _assemble_text(runs: list[tuple[float, float, int, str]]) -> str:
    """Geometric line assembly: group by y (quantized), top-to-bottom;
    within a line left-to-right, emission order breaking x ties."""
    lines: dict[float, list[tuple[float, int, str]]] = {}
    for y, x, seq, text in runs:
        lines.setdefault(round(y, 3), []).append((round(x, 3), seq, text))
    out = []
    for y in sorted(lines, reverse=True):
        out.append("".join(t for _x, _s, t in sorted(lines[y], key=lambda r: (r[0], r[1]))))
    return "\n".join(out)


_VERSION_RE = re.compile(rb"%PDF-(\d+\.\d+)")


def extract_pdf(blob: bytes) -> dict | None:
    """bytes → {version, n_pages, page_texts, text} or None when the
    payload is not a PDF.  Total: damaged bodies degrade to fewer pages /
    empty text, never an exception."""
    if not blob.startswith(b"%PDF-"):
        return None
    m = _VERSION_RE.match(blob)
    version = m.group(1).decode("latin-1") if m else None
    objects = _scan_objects(blob)
    pages = _page_order(objects)
    page_texts: list[str] = []
    for page in pages:
        contents = page.get("Contents")
        refs = contents if isinstance(contents, list) else [contents]
        chunks: list[bytes] = []
        for ref in refs:
            if not isinstance(ref, _Ref):
                continue
            got = objects.get(ref.num)
            if not got or got[1] is None or not isinstance(got[0], dict):
                continue
            data = _decode_stream(got[0], got[1])
            if data is not None:
                chunks.append(data)
        page_texts.append(_assemble_text(_page_runs(b"\n".join(chunks))))
    return {
        "version": version,
        "n_pages": len(pages),
        "page_texts": page_texts,
        "text": "\n".join(page_texts),
    }


# --- Spark operator ----------------------------------------------------------

PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("pdf_version", T.StringType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("pdf_text", T.StringType()),
    ]
)


def pdf_row(payload) -> dict | None:
    """One payload → :func:`extract_pdf`'s dict, or None.  Total: a NULL
    payload or any parse failure gives None, never a task failure, and a
    str payload (an ill-typed column, plausible for external parquet fed
    via --mixed — mime_sniff matches '%PDF' on strings too) is read as
    latin-1."""
    try:
        if isinstance(payload, str):
            return extract_pdf(payload.encode("latin-1", "replace"))
        return extract_pdf(bytes(payload))
    except Exception:  # hostile input: total, never a task death
        return None


def _pdf_text_row(payload) -> dict:
    parsed = pdf_row(payload) or {"version": None, "n_pages": 0, "text": None}
    return {
        "pdf_version": parsed["version"],
        "n_pages": parsed["n_pages"],
        "n_chars": len(parsed["text"] or ""),
        "pdf_text": parsed["text"],
    }


def pdf_text(
    pages: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """PDF payloads → extracted text: ONE Arrow row UDF
    (:func:`~html_parser_spark.spark.pipeline.row_udf`), column-pruned
    input, one output row per input row, zero shuffle — the stage shape
    of the HTML kernel.  Non-PDF / unparsable / NULL payloads yield
    (version NULL, 0 pages, NULL text) rather than failing the task."""
    parse = row_udf(_pdf_text_row, T.StructType(PDF_TEXT_SCHEMA.fields[1:]))
    # a NULL payload parses as an empty one: a NULL-text row, not a NULL struct
    empty = F.lit("").cast(pages.schema[payload_col].dataType)
    return pages.select(
        F.col(id_col).cast("long").alias("doc_id"),
        parse(F.coalesce(F.col(payload_col), empty)).alias("_pdf"),
    ).select("doc_id", "_pdf.*")


# --- deterministic PDF writer (test/oracle fixture) --------------------------


def _esc_literal(s: str) -> bytes:
    """Literal-string encoding with escape coverage: specials escaped,
    non-printables octal-escaped; caller guarantees latin-1 range."""
    out = bytearray(b"(")
    for ch in s.encode("latin-1"):
        if ch in (0x28, 0x29, 0x5C):  # ( ) \
            out += b"\\" + bytes([ch])
        elif ch < 0x20 or ch > 0x7E:
            out += b"\\%03o" % ch
        else:
            out.append(ch)
    out += b")"
    return bytes(out)


def _hex_str(s: str, force_utf16: bool = False) -> bytes:
    try:
        raw = s.encode("latin-1") if not force_utf16 else None
    except UnicodeEncodeError:
        raw = None
    if raw is None:
        raw = b"\xfe\xff" + s.encode("utf-16-be")
    return b"<" + raw.hex().encode("ascii") + b">"


def _pdf_string(s: str, hex_mode: bool) -> bytes:
    """Pick the encoding a real writer would: literal/hex for latin-1
    text, UTF-16BE hex for anything wider."""
    try:
        s.encode("latin-1")
    except UnicodeEncodeError:
        return _hex_str(s, force_utf16=True)
    return _hex_str(s) if hex_mode else _esc_literal(s)


def _content_stream(lines: list[str], variant: int) -> bytes:
    """Render one page's lines in one of four operator styles; all four
    extract back to '\\n'.join(lines)."""
    y0, dy = 720, 16
    parts = [b"BT /F1 12 Tf"]
    if variant == 0:
        # Td steps + literal strings
        parts.append(b"72 %d Td" % y0)
        for i, ln in enumerate(lines):
            if i:
                parts.append(b"0 -%d Td" % dy)
            parts.append(_pdf_string(ln, hex_mode=False) + b" Tj")
    elif variant == 1:
        # TL + ' (move-and-show), first line via Td/Tj
        parts.append(b"%d TL" % dy)
        parts.append(b"72 %d Td" % y0)
        for i, ln in enumerate(lines):
            s = _pdf_string(ln, hex_mode=False)
            parts.append(s + (b" Tj" if i == 0 else b" '"))
    elif variant == 2:
        # Tm absolute positioning + hex strings + TJ kerning:
        # a -250 kern re-inserts a removed space; -50 must NOT
        for i, ln in enumerate(lines):
            parts.append(b"1 0 0 1 72 %d Tm" % (y0 - i * dy))
            sp = ln.find(" ", 1)
            if sp > 0:
                a, b = ln[:sp], ln[sp + 1 :]
                parts.append(
                    b"[" + _pdf_string(a, True) + b" -250 " + _pdf_string(b, True) + b"] TJ"
                )
            elif len(ln) > 2:
                a, b = ln[:2], ln[2:]
                parts.append(
                    b"[" + _pdf_string(a, True) + b" -50 " + _pdf_string(b, True) + b"] TJ"
                )
            else:
                parts.append(_pdf_string(ln, True) + b" Tj")
    else:
        # split runs on one line (x-ordered reassembly) + TD newline steps
        for i, ln in enumerate(lines):
            yy = y0 - i * dy
            mid = len(ln) // 2
            a, b = ln[:mid], ln[mid:]
            parts.append(b"1 0 0 1 72 %d Tm" % yy)
            parts.append(_pdf_string(a, i % 2 == 0) + b" Tj")
            if b:
                parts.append(b"172 %d Td 1 0 0 1 172 %d Tm" % (yy, yy))
                parts.append(_pdf_string(b, i % 2 == 1) + b" Tj")
    parts.append(b"ET")
    return b"\n".join(parts)


def make_text_pdf(
    page_lines: list[list[str]], variant: int = 0, compress: bool | None = None
) -> bytes:
    """Deterministic multi-page text PDF: catalog → pages → page/content
    objects, correct xref offsets + trailer.  ``variant`` selects the
    operator/string style (0: Td+literal, 1: TL+' , 2: Tm+hex+TJ kerning,
    3: split runs + mixed encodings); variants 1 and 3 Flate-compress the
    content streams unless ``compress`` overrides."""
    variant %= 4
    if compress is None:
        compress = variant in (1, 3)
    n_pages = len(page_lines)
    font_num = 3 + 2 * n_pages
    objs: list[tuple[int, bytes]] = []
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(n_pages))
    objs.append((1, b"<< /Type /Catalog /Pages 2 0 R >>"))
    objs.append(
        (2, b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages)
    )
    streams: dict[int, bytes] = {}
    for i, lines in enumerate(page_lines):
        pnum, cnum = 3 + 2 * i, 4 + 2 * i
        objs.append(
            (
                pnum,
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
                % (font_num, cnum),
            )
        )
        content = _content_stream(lines, variant)
        if compress:
            data = zlib.compress(content, 9)
            dct = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        else:
            data = content
            dct = b"<< /Length %d >>" % len(data)
        objs.append((cnum, dct))
        streams[cnum] = data
    objs.append(
        (font_num, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    )

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num, body in objs:
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + body
        if num in streams:
            buf += b"\nstream\n" + streams[num] + b"\nendstream"
        buf += b"\nendobj\n"
    xref_at = len(buf)
    size = font_num + 1
    buf += b"xref\n0 %d\n" % size
    buf += b"0000000000 65535 f \n"
    for num in range(1, size):
        buf += b"%010d 00000 n \n" % offsets[num]
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, xref_at)
    )
    return bytes(buf)


def _text_pdf(text: str, variant: int) -> bytes:
    lines = [text[0:40], text[40:80], text[80:120]]
    return make_text_pdf([lines[:2], lines[2:]], variant=int(variant))


def make_text_pdf_udf():
    """Arrow row UDF that writes fixture PDFs: (text, variant) → PDF bytes
    with the q_pdf_text page split (2 pages: lines 1-2 then line 3, 40
    chars each; NULL text is '').  Fixture generation only — the OPERATOR
    under test is :func:`pdf_text`."""
    make = row_udf(_text_pdf, T.BinaryType())
    return lambda text, variant: make(F.coalesce(text, F.lit("")), variant)
