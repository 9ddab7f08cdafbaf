"""Regenerate golden fixtures.

Run: ``python tests/make_golden.py``  (writes tests/golden/*.json)

* ``kernel_paths.json``: per kernel path (format A fastscan, A-dom, B, C, D,
  generic), the sha256 of the ``parse_document`` rows of seeded
  ``perfbench/gen.py`` pages.  Needs no reference checkout; pinned by
  ``tests/test_kernel_goldens.py``.
* ``fixture_index.json`` / ``samples.json``: per-fixture-page md5 of
  (extracted_text, entries-JSON) + full entry dumps for one sample page per
  format.  Written only when the reference fixture pages are present (an
  absent checkout leaves the committed files as they are).

The golden files pin the CURRENT kernel behavior so any semantic drift in
dom/css/format parsers fails ``tests/test_golden.py`` and
``tests/test_kernel_goldens.py``.  Structural parity with the reference is
separately asserted by ``tests/test_parity_tab.py`` against the reference's
committed output.
"""

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from html_parser_spark.data.pages import fixture_pages_rows
from html_parser_spark.kernel import parse_document

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")

SAMPLES = {
    "lez-rus-35k/dictionary/letters/A_Bukva.html",
    "rus-lez-35k/dictionary/BUKVA1.HTM",
    "tab-rus-25k/dictionary/40.html",
    "lez-eng/dictionary/Lezgi-English-Dictionary_cleanup_1-15p.html",
}

# one generator shape per kernel path; sizes follow the dict-mixed recipe
# (log-normal around 7 kB, sigma 0.9) plus one page near its 96 KiB guard
KERNEL_PATHS = ("A", "A-dom", "B", "C", "D", "generic")
KERNEL_PATH_SEED = 1301
KERNEL_PATH_PAGES = 14
KERNEL_PATH_LARGE = 85_000


def canon(obj) -> str:
    return json.dumps(obj, ensure_ascii=False, sort_keys=True, separators=(",", ":"))


def kernel_path_pages(shape: str) -> list[bytes]:
    from perfbench import gen

    mix = {shape: 1.0}
    rows = gen.dictionary_pages(KERNEL_PATH_SEED, KERNEL_PATH_PAGES, mix, 7000, 0.9)
    rows += gen.dictionary_pages(KERNEL_PATH_SEED + 1, 1, mix, KERNEL_PATH_LARGE, 0.0)
    return [r["html"] for r in rows]


def kernel_path_digest(rows: list[dict]) -> str:
    """sha256 over the canonical JSON of ``parse_document`` rows."""
    h = hashlib.sha256()
    for row in rows:
        h.update(canon(row).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def kernel_path_goldens() -> dict:
    out = {}
    for shape in KERNEL_PATHS:
        pages = kernel_path_pages(shape)
        out[shape] = {
            "pages": len(pages),
            "bytes": sum(len(p) for p in pages),
            "sha256": kernel_path_digest([parse_document(p) for p in pages]),
        }
    return out


def main():
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    with open(os.path.join(GOLDEN_DIR, "kernel_paths.json"), "w", encoding="utf-8") as f:
        json.dump(kernel_path_goldens(), f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote kernel-path goldens for {len(KERNEL_PATHS)} paths")
    rows = fixture_pages_rows()
    if not rows:
        print("no reference fixture pages found; fixture goldens left as they are")
        return
    index = {}
    samples = {}
    for url, _ts, html, _text, lang in rows:
        rel = url.replace("file:///", "")
        res = parse_document(bytes(html))
        assert res["error"] is None, (rel, res["error"])
        text = res["extracted_text"] or ""
        entries_json = canon(res["entries"])
        index[rel] = {
            "fmt": res["fmt"],
            "n_entries": res["n_entries"],
            "text_len": len(text),
            "text_md5": hashlib.md5(text.encode("utf-8")).hexdigest(),
            "entries_md5": hashlib.md5(entries_json.encode("utf-8")).hexdigest(),
        }
        if rel in SAMPLES:
            samples[rel] = {
                "extracted_text_head": text[:400],
                "entries_head": res["entries"][:8],
            }
    with open(os.path.join(GOLDEN_DIR, "fixture_index.json"), "w", encoding="utf-8") as f:
        json.dump(index, f, ensure_ascii=False, indent=1, sort_keys=True)
    with open(os.path.join(GOLDEN_DIR, "samples.json"), "w", encoding="utf-8") as f:
        json.dump(samples, f, ensure_ascii=False, indent=1, sort_keys=True)
    print(f"wrote golden for {len(index)} fixture pages")


if __name__ == "__main__":
    main()
