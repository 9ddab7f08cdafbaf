"""Format C — idrviewer PDF→HTML (absolutely-positioned spans).

Reimplements ``/root/reference/tab-rus-25k/index.ts`` (P12-P17 in SURVEY.md
§2.3) browser-free:

* P12 span scan (index.ts:51-75): every ``<span>`` → TextObject
  ``{text, isUpperCase, style: {fontFamily, fontSize, left, bottom}}``;
  styles resolved from the page's own ``.sN_page`` / ``#tN_page`` rules
  (the spans are ``white-space: pre`` leaves, so innerText == textContent)
* P13 palochka-aware uppercase detector (index.ts:56-61): strip Ӏ and I,
  count ``\\p{Uppercase}`` chars > 1, and text ≠ lowercase(text)
* P14 page-title drop (index.ts:79-85): drop the first span iff it is the
  only span at its ``bottom`` coordinate
* P15 hyphenation repair (index.ts:16,88): remove every ``'- '`` — note the
  reference applies this only from the SECOND span on (the loop starts at
  i=1), a quirk we keep
* P16 positioned-run coalescing (index.ts:93-111)
* P17 entry segmentation (index.ts:114-135): uppercase run starts an entry;
  first ``-``-leading lowercase run with no definitions yet → inflection;
  otherwise a definition typed by font (plain→Plain, bold→Example,
  italic→Tag)

The reference runs ``postProcessing`` ONCE over the span stream of ALL pages
concatenated (htmlReader.ts:36-55 accumulates, then getResultDictionary
post-processes) — entries legitimately span page breaks.  ``scan_spans`` /
``postprocess_spans`` are exposed separately so callers can reproduce that
corpus-level fold (golden parity tests) while the Spark kernel stays
per-document (each url parsed independently).

Paths: ``kernel.parse_document`` first runs ``fastscan.scan_format_c``, a
one-pass scanner that builds no DOM and must equal this module (plus the
P20 flatten) on every page it takes (tests/test_fastscan_styled.py).  This
module is the executable spec, and the path for pages that scanner declines.
"""

from __future__ import annotations

from html_parser_spark.css import StyleResolver
from html_parser_spark.dom import parse_html
from html_parser_spark.jsstr import js_trim

VERTICAL_LINES = {"Ӏ", "I"}
WORD_BREAK = "- "

PLAIN = "Plain"
EXAMPLE = "Example"
TAG = "Tag"


def _is_uppercase(text: str) -> bool:
    """P13 — JS ``\\p{Uppercase}`` count (>1) after stripping palochka/I,
    plus text ≠ toLowerCase(text)."""
    if text == text.lower():
        return False
    stripped = text.replace("Ӏ", "").replace("I", "")
    return sum(map(str.isupper, stripped)) > 1


def font_style_props(font_family: str) -> tuple[bool, bool, bool]:
    """index.ts:31-38 — (isItalic, isBold, isPlain) from fontFamily substring."""
    low = font_family.lower()
    is_italic = "italic" in low
    is_bold = "bold" in low
    return is_italic, is_bold, (not is_bold and not is_italic)


def scan_spans(html_text: str) -> list[dict]:
    """P12/P13 — one page's spans → TextObject dicts, document order."""
    return scan_spans_doc(parse_html(html_text))


def text_object(text: str, st: dict) -> dict:
    """P12 — one span's TextObject from its text and computed style."""
    return {
        "text": text,
        "isUpperCase": _is_uppercase(text),
        "style": {
            "fontFamily": st["font-family"],
            "fontSize": st["font-size"],
            "left": st["left"],
            "bottom": st["bottom"],
        },
    }


def scan_spans_doc(doc) -> list[dict]:
    styles = StyleResolver(doc)
    return [
        text_object(el.text_content, styles.computed(el))
        for el in doc.query_selector_all("span")
    ]


def postprocess_spans(extracted: list[dict]) -> list[dict]:
    """P14-P17 — index.ts:77-138 over a span stream (one page or a corpus)."""
    if not extracted:
        return []
    combined: list[dict] = []
    # P14 — title drop
    first_bottom = extracted[0]["style"]["bottom"]
    n_at_first_bottom = sum(1 for t in extracted if t["style"]["bottom"] == first_bottom)
    if n_at_first_bottom != 1:
        combined.append({**extracted[0]})
    for i in range(1, len(extracted)):
        cur = extracted[i]
        cur["text"] = cur["text"].replace(WORD_BREAK, "")  # P15 (i>=1 only)
        if not combined:
            combined.append({**cur})
            continue
        last = combined[-1]
        both_upper = last["isUpperCase"] and cur["isUpperCase"]
        last_char = last["text"][-1] if last["text"] else None
        ends_vertical = last_char in VERTICAL_LINES
        both_lower = (not last["isUpperCase"]) and (not cur["isUpperCase"])
        li, lb, lp = font_style_props(last["style"]["fontFamily"])
        ci, cb, cp = font_style_props(cur["style"]["fontFamily"])
        same_font = (li and ci) or (lb and cb) or (lp and cp)
        if (
            both_upper
            or cur["text"] in VERTICAL_LINES
            or ends_vertical
            or (both_lower and same_font)
        ):
            last["text"] += cur["text"]
        else:
            combined.append({**cur})

    # P17 — entry segmentation
    expressions: list[dict] = []
    for part in combined:
        if part["isUpperCase"]:
            expressions.append({"spelling": part["text"], "definitions": []})
        elif expressions:
            last_exp = expressions[-1]
            pi, pb, pp = font_style_props(part["style"]["fontFamily"])
            if len(last_exp["definitions"]) == 0 and js_trim(part["text"]).startswith("-"):
                last_exp["inflection"] = part["text"]
            else:
                last_exp["definitions"].append(
                    {"text": part["text"], "type": PLAIN if pp else (EXAMPLE if pb else TAG)}
                )
    return expressions


def parse_format_c(html_text: str) -> list[dict]:
    """Per-document kernel: one page → entries (typed definitions)."""
    return postprocess_spans(scan_spans(html_text))


def parse_format_c_doc(doc) -> list[dict]:
    return postprocess_spans(scan_spans_doc(doc))


def refine(expressions: list[dict]) -> list[dict]:
    """refinement.ts:31-41 — uppercase spelling, drop falsy inflection,
    aggregate typed definitions to one markup string."""
    from html_parser_spark.formats.format_a import aggregate_definitions

    out = []
    for exp in expressions:
        rec = {
            "spelling": exp["spelling"].upper(),
            "definitions": aggregate_definitions(exp["definitions"]),
        }
        infl = exp.get("inflection")
        if infl:  # JS truthiness — '' dropped too
            rec = {
                "spelling": rec["spelling"],
                "inflection": infl,
                "definitions": rec["definitions"],
            }
        out.append(rec)
    return out
