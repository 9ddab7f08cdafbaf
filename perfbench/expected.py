"""Expected outputs, computed in-process with the program's own kernels.

Each page's expected row is hashed (``row_hash``) and the hashes are cached
per (workload, seed, source digest) under ``.perfbench/cache``.  The Spark
output is hashed the same way after the timed region and compared page by
page.  For the curate stage the expectation is derived from the expected
main-content text with the gates the job applies and its near-duplicate
rule (MinHash over word trigrams, LSH bands, connected components) redone
in Python: every curated row must belong to the expected survivors of the
quality gate, and each near-duplicate cluster must keep exactly one row.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import re
from collections import Counter

from session import ROOT, WORK, ncpus

DICT_FIELDS = ("fmt", "extracted_text", "entries", "n_entries", "error")
CRAWL_FIELDS = (
    "main_text",
    "n_blocks",
    "n_content_blocks",
    "content_chars",
    "boiler_chars",
    "outlinks",
    "robots",
)


def row_hash(row: dict, fields) -> str:
    payload = json.dumps(
        [row.get(f) for f in fields], ensure_ascii=False, sort_keys=True, separators=(",", ":")
    )
    return hashlib.sha1(payload.encode("utf-8")).hexdigest()


def oversized_row(n_bytes: int) -> dict:
    """``extract_pages``'s row for a page routed around the kernel."""
    return {
        "fmt": "oversized",
        "extracted_text": None,
        "entries": [],
        "n_entries": 0,
        "error": f"oversized: {n_bytes} bytes",
    }


def _dict_chunk(args):
    pages, guard = args
    from html_parser_spark.dom import decode_html_bytes
    from html_parser_spark.formats.detect import FORMAT_A, detect_format
    from html_parser_spark.formats.fastscan import scan_format_a
    from html_parser_spark.kernel import parse_document

    out = []
    for url, html in pages:
        text = decode_html_bytes(html)
        fmt = detect_format(text)
        hit = scan_format_a(text) is not None if fmt == FORMAT_A else None
        row = oversized_row(len(html)) if guard and len(html) > guard else parse_document(html)
        out.append((url, row_hash(row, DICT_FIELDS), fmt, hit))
    return out


def _crawl_chunk(pages):
    from html_parser_spark.ops.page_kernel import extract_page_full_kernel

    out = []
    for url, html in pages:
        row = extract_page_full_kernel(html, url)
        out.append((url, row_hash(row, CRAWL_FIELDS), row["main_text"], row["robots"]))
    return out


def _parallel(fn, items, extra=None):
    n = max(1, min(ncpus(), len(items) // 50 or 1))
    chunks = [items[i::n] for i in range(n)]
    args = [(c, extra) for c in chunks] if extra is not None else chunks
    # fork: the caller runs this before Spark or Arrow start any thread, and
    # fork leaves no semaphore tracker process behind
    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(n) as pool:
        parts = pool.map(fn, args)
    # undo the round-robin split: page order is the generator's
    out = [None] * len(items)
    for k, part in enumerate(parts):
        out[k::n] = part
    return out


def source_digest() -> str:
    """Digest of the program and benchmark sources: a cached expectation is
    reused only for the code that produced it."""
    h = hashlib.sha1()
    for top in ("html_parser_spark", "jobs", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    with open(os.path.join(dirpath, name), "rb") as f:
                        h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def _cached(key: str, build):
    path = os.path.join(WORK, "cache", f"{key}-{source_digest()}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        pass
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def dictionary_expectation(key: str, rows: list[dict], guard: int | None) -> dict:
    """url -> {"hash", "fmt" (detected), "hit" (fastscan result or None)}."""

    def build():
        res = _parallel(_dict_chunk, [(r["url"], r["html"]) for r in rows], guard or 0)
        return {u: {"hash": h, "fmt": f, "hit": hit} for u, h, f, hit in res}

    return _cached(key, build)


# --- curate gates (jobs/curate_job.curate_docs defaults) ----------------------

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java regex \s


def repetition_stats(text: str) -> tuple[int, float, float]:
    """(n_tokens, top_word_frac, dup_bigram_frac) as ``ops.corpus.
    repetition_stats`` computes them: trim spaces, split on ``\\s+``."""
    toks = _JAVA_WS.split(text.strip(" "))
    n = len(toks)
    top = max(Counter(toks).values())
    bigrams = Counter(a + " " + b for a, b in zip(toks, toks[1:]))
    total = sum(bigrams.values())
    dup = round(sum(c for c in bigrams.values() if c > 1) / total, 4) if total else 0.0
    return n, round(top / n, 4), dup


def passes_quality(text: str, min_tokens: int = 10) -> bool:
    n, top, dup = repetition_stats(text)
    return n >= min_tokens and top <= 0.5 and dup <= 0.9


def noindex(robots: str | None) -> bool:
    return bool({"noindex", "none"} & set(re.split(r"[,\s]+", robots or "")))


def row_key(text: str, lang: str) -> str:
    return hashlib.sha1(f"{text}\x1f{lang}".encode("utf-8")).hexdigest()[:16]


# jobs/flagship_job defaults: --num-hashes 8 --bands 4, word trigrams
NUM_HASHES, BANDS, SHINGLE_K = 8, 4, 3


def _minhash_chunk(texts):
    """``ops.dedup.minhash_signature``: sig_i = min md5-hex of "i|shingle"
    over the word trigrams of the space-trimmed, ``\\s+``-split text."""
    out = []
    for text in texts:
        toks = _JAVA_WS.split(text.strip(" "))
        shingles = {" ".join(toks[i : i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1)}
        out.append([
            min(hashlib.md5(f"{i}|{s}".encode("utf-8")).hexdigest() for s in shingles)
            if shingles else None
            for i in range(NUM_HASHES)
        ])
    return out


def near_dup_components(texts: list[str]) -> list[int]:
    """Component index of each text: texts sharing any LSH band of their
    MinHash signatures are joined, transitively."""
    sigs = _parallel(_minhash_chunk, texts)
    parent = list(range(len(texts)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    rows = NUM_HASHES // BANDS
    for b in range(BANDS):
        first: dict[str, int] = {}
        for i, sig in enumerate(sigs):
            key = "|".join(h for h in sig[b * rows : (b + 1) * rows] if h is not None)
            j = first.setdefault(key, i)
            parent[find(i)] = find(j)
    roots: dict[int, int] = {}
    return [roots.setdefault(find(i), len(roots)) for i in range(len(texts))]


def crawl_expectation(key: str, rows: list[dict]) -> dict:
    """{"pages": url -> {"hash", "main_text", "robots"},
    "curate": {"components", "component": row_key -> component,
    "clustered": urls whose text shares a component with another text}}."""

    def build():
        res = _parallel(_crawl_chunk, [(r["url"], r["html"]) for r in rows])
        pages = {u: {"hash": h, "main_text": t, "robots": rb} for u, h, t, rb in res}
        lang = {r["url"]: r["lang"] for r in rows}
        kept = [
            u for u, p in pages.items()
            if p["main_text"] is not None
            and not noindex(p["robots"])
            and passes_quality(p["main_text"])
        ]
        texts = sorted({pages[u]["main_text"] for u in kept})
        comp_of = dict(zip(texts, near_dup_components(texts)))
        size = Counter(comp_of.values())
        return {
            "pages": pages,
            "curate": {
                "components": len(size),
                "component": {
                    row_key(pages[u]["main_text"], lang[u]): comp_of[pages[u]["main_text"]]
                    for u in kept
                },
                "clustered": sorted(u for u in kept if size[comp_of[pages[u]["main_text"]]] > 1),
            },
        }

    return _cached(key, build)


def check_curate(docs, want: dict) -> int:
    """Failures among the curated (text, lang) rows: rows that are no
    survivor of the quality gate, plus clusters kept other than once."""
    comp = want["component"]
    kept: Counter = Counter()
    failed = 0
    for text, lang in docs:
        c = comp.get(row_key(text, lang))
        if c is None:
            failed += 1
        else:
            kept[c] += 1
    return failed + sum(abs(kept[c] - 1) for c in range(want["components"]))
