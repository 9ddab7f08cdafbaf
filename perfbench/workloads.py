"""The workloads: inputs from a seed, one job of each, and the check of its
output against the in-process expectation.

* ``dict-fastscan``: format-A dictionary pages of ~7 KB (2% with markup that
  forces the DOM fallback) through ``spark.pipeline.extract_pages``.
  Fastscan does nearly all the kernel work, so the Arrow UDF boundary is a
  large share of the wall.
* ``dict-mixed``: a seeded mix of A (fastscan), A with markup that forces
  the DOM fallback, B, C, D and generic pages with log-normal sizes, a few
  over the ``max_html_bytes`` guard.  The DOM tokenizer, the CSS cascade and
  the four format folds do the work; the guard's filter+union branch runs.

``CRAWL`` is the page set the traced run feeds to ``jobs/flagship_job.main``
(extract, graph, curate, parquet writes): generic pages with
Zipf-distributed hosts and outlinks and seeded exact and near duplicates.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
from dataclasses import dataclass, field

import expected
import gen

# shape -> what detect_format must say, and whether fastscan must succeed
SHAPE_FORMAT = {"A": "A", "A-dom": "A", "B": "B", "C": "C", "D": "D", "generic": "generic"}
SHAPE_FASTSCAN = {"A": True, "A-dom": False}
# a near-dup page must land in a cluster; LSH misses a few at Jaccard ~0.8
MIN_NEAR_DUP_CLUSTERED = 0.9


class RecipeError(RuntimeError):
    """The generated pages are not what the workload's recipe asked for."""


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    pages: int
    params: dict = field(default_factory=dict)
    max_html_bytes: int | None = None

    def rows(self, seed: int) -> list[dict]:
        return gen.dictionary_pages(seed, self.pages, guard_bytes=self.max_html_bytes or 0,
                                    **self.params)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "dict-fastscan",
            "format-A pages: fastscan does nearly all kernel work, so the UDF boundary is a "
            "large share of the wall",
            1500,
            {"mix": {"A": 0.98, "A-dom": 0.02}, "median_bytes": 7000, "sigma": 0.2},
        ),
        Workload(
            "dict-mixed",
            "A, DOM-fallback A, B, C, D and generic pages with log-normal sizes and a few "
            "oversized: DOM, CSS and format folds do the work, fastscan little",
            1000,
            {
                "mix": {"A": 0.3, "A-dom": 0.1, "B": 0.15, "C": 0.15, "D": 0.15, "generic": 0.15},
                "median_bytes": 7000,
                "sigma": 0.9,
                "oversized": 0.02,
            },
            max_html_bytes=96 * 1024,
        ),
    )
}

CRAWL = {
    "n": 1200,
    "hosts": 80,
    "zipf_s": 1.1,
    "dup_frac": 0.1,
    "thin_frac": 0.05,
    "noindex_frac": 0.03,
    "median_bytes": 4000,
    "sigma": 0.6,
    "edit_frac": 0.03,
}


def crawl_rows(seed: int) -> list[dict]:
    return gen.crawl_pages(seed, **CRAWL)


# --- inputs ------------------------------------------------------------------------


def write_pages(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("lang", pa.string()),
        ]
    )
    table = pa.Table.from_pylist(
        [{k: r[k] for k in schema.names} for r in rows], schema=schema
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def check_recipe(w: Workload, rows: list[dict], exp: dict) -> dict:
    """Assert the kernel sees the shapes the recipe built; returns the
    observed shape counts."""
    seen: dict[str, int] = {}
    for r in rows:
        e = exp[r["url"]]
        want = SHAPE_FORMAT[r["shape"]]
        if e["fmt"] != want:
            raise RecipeError(
                f"{w.name}: page {r['url']} built as {r['shape']} is detected as {e['fmt']}"
            )
        hit = SHAPE_FASTSCAN.get(r["shape"])
        if hit is not None and e["hit"] != hit:
            raise RecipeError(
                f"{w.name}: page {r['url']} built as {r['shape']} has fastscan "
                f"{'declining' if hit else 'succeeding'}"
            )
        seen[r["shape"]] = seen.get(r["shape"], 0) + 1
    return seen


def check_crawl_recipe(rows: list[dict], exp: dict) -> dict:
    seen: dict[str, int] = {}
    pages = exp["pages"]
    for r in rows:
        p = pages[r["url"]]
        n = expected.repetition_stats(p["main_text"] or "")[0]
        indexable = n >= 30 and not expected.noindex(p["robots"])
        ok = {
            "article": indexable,
            "dup": indexable,
            "near-dup": indexable,
            "thin": n < 10,
            "noindex": expected.noindex(p["robots"]),
        }[r["shape"]]
        if not ok:
            raise RecipeError(
                f"crawl: page {r['url']} built as {r['shape']} extracts {n} tokens, "
                f"robots={p['robots']!r}"
            )
        seen[r["shape"]] = seen.get(r["shape"], 0) + 1
    clustered = set(exp["curate"]["clustered"])
    near = [r["url"] for r in rows if r["shape"] == "near-dup"]
    caught = sum(u in clustered for u in near)
    if near and caught < MIN_NEAR_DUP_CLUSTERED * len(near):
        raise RecipeError(f"crawl: only {caught} of {len(near)} near-dup pages cluster")
    seen["near-dup-clustered"] = caught
    return seen


# --- one job -----------------------------------------------------------------------


def extract_df(spark, w: Workload, path: str, partitions: int):
    """The workload's job as a DataFrame: ``extract_pages`` over its pages."""
    from html_parser_spark.spark.pipeline import extract_pages

    pages = spark.read.parquet(path)
    return extract_pages(pages, num_partitions=partitions, max_html_bytes=w.max_html_bytes)


def run_job(spark, w: Workload, inp: str, out: str, partitions: int) -> None:
    extract_df(spark, w, inp, partitions).write.mode("overwrite").parquet(out)


def run_flagship(inp: str, out: str, partitions: int) -> dict:
    """``jobs/flagship_job.main`` into a fresh ``out``; returns its report."""
    from jobs import flagship_job

    shutil.rmtree(out, ignore_errors=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        flagship_job.main(["--pages", inp, "--output", out, "--partitions", str(partitions)])
    return json.loads(buf.getvalue().strip().splitlines()[-1])


# --- checks ------------------------------------------------------------------------


def _compare(table_rows, exp_pages: dict, fields) -> tuple[int, int]:
    """(attempted, failed): rows that differ, are missing or unexpected."""
    seen = set()
    failed = 0
    for row in table_rows:
        url = row["url"]
        e = exp_pages.get(url)
        if e is None or url in seen or expected.row_hash(row, fields) != e["hash"]:
            failed += 1
        seen.add(url)
    failed += sum(1 for u in exp_pages if u not in seen)
    return len(exp_pages), failed


def _read(path: str, columns) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=list(columns)).to_pylist()


def check_output(out: str, exp: dict) -> tuple[int, int]:
    """(attempted, failed) for one ``extract_pages`` output directory."""
    return _compare(_read(out, ("url",) + expected.DICT_FIELDS), exp, expected.DICT_FIELDS)


def check_flagship(out: str, exp: dict) -> tuple[int, int]:
    """(attempted, failed) for the flagship job's extract and curate output."""
    attempted, failed = _compare(
        _read(os.path.join(out, "extract", "data"), ("url",) + expected.CRAWL_FIELDS),
        exp["pages"],
        expected.CRAWL_FIELDS,
    )
    docs = _read(os.path.join(out, "curate", "docs"), ("text", "lang"))
    failed += expected.check_curate(((d["text"], d["lang"]) for d in docs), exp["curate"])
    return attempted, failed
