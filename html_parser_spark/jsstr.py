"""JavaScript string-semantics helpers.

The reference parsers (LekiTech/html-parser) run in Node/Chromium, so every
string operation follows ECMAScript semantics. Python's defaults differ in
small ways that break the byte-identical invariant (BASELINE.json north_star):

* ``String.prototype.trim`` strips the ECMAScript WhiteSpace+LineTerminator
  set, which includes U+FEFF (BOM) and U+00A0 (nbsp).  Python ``str.strip()``
  does NOT strip U+FEFF.
* ``/^\\s/`` in JS matches that same set; Python ``re`` ``\\s`` does not match
  U+FEFF.
* JS truthiness: empty string is falsy (the reference relies on this in
  ``lez-rus-35k/index.ts:119-127`` — ``if (obj.spelling)``).

All helpers here replicate the JS behaviour exactly and carry unit tests in
``tests/test_jsstr.py``.
"""

from __future__ import annotations

import re

# ECMAScript WhiteSpace (table 37) + LineTerminator code points.
# <TAB> <VT> <FF> <SP> <NBSP> <ZWNBSP=FEFF> + Zs category + LF CR LS PS
JS_WS_CHARS = (
    "\t\n\x0b\x0c\r \xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)

_JS_WS_CLASS = "[" + JS_WS_CHARS + "]"
JS_WS_RE = re.compile(_JS_WS_CLASS)
# "has any non-whitespace char" — the allocation-free truthiness probe for
# JS `s.match(/[^\s]+/g)` (sub-to-empty-and-test builds a throwaway string)
JS_NON_WS_RE = re.compile("[^" + JS_WS_CHARS + "]")
# JS `/\s{2,}/g`: a run of two or more JS whitespace characters (P20's final
# collapse; Python's `\s` adds U+001C-U+001F and U+0085 and lacks U+FEFF)
JS_WS_COLLAPSE_RE = re.compile(_JS_WS_CLASS + "{2,}")
_LEADING_WS_RE = re.compile("^" + _JS_WS_CLASS)
_TRAILING_WS_RE = re.compile(_JS_WS_CLASS + "$")


def js_trim(s: str) -> str:
    """``String.prototype.trim`` — strips the JS whitespace set from both ends."""
    return s.strip(JS_WS_CHARS)


def js_trim_start(s: str) -> str:
    """``String.prototype.trimStart``."""
    return s.lstrip(JS_WS_CHARS)


def js_trim_end(s: str) -> str:
    """``String.prototype.trimEnd``."""
    return s.rstrip(JS_WS_CHARS)


def has_leading_ws(s: str) -> bool:
    """JS ``/^\\s/.test(s)`` (utils.ts:6).  First-char membership test —
    identical to the anchored regex, without the regex call overhead."""
    return bool(s) and s[0] in JS_WS_CHARS


def has_trailing_ws(s: str) -> bool:
    """JS ``/\\s$/.test(s)`` (utils.ts:7)."""
    return bool(s) and s[-1] in JS_WS_CHARS


def truthy(v) -> bool:
    """JS truthiness for the value shapes the reference passes around
    (undefined/None, strings, numbers, lists, dicts)."""
    if v is None:
        return False
    if isinstance(v, bool):
        return v
    if isinstance(v, str):
        return len(v) > 0
    if isinstance(v, (int, float)):
        return v != 0 and v == v  # NaN falsy
    # objects/arrays are always truthy in JS (even empty ones)
    return True


def to_lower_case_lezgi(s: str, capitalize: bool = False) -> str:
    """Reference ``toLowerCaseLezgi`` (utils.ts:47-56): lowercase then
    normalize palochka look-alikes after к/п/т/ц/ч to capital I."""
    lowered = re.sub(r"(?<=[кптцчКПТЦЧ])[i1lӏ|!]", "I", s.lower())
    if capitalize:
        return lowered[:1].upper() + lowered[1:]
    return lowered
