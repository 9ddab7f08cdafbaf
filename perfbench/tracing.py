"""Spans around the kernel layers, installed from the benchmark's side.

``Tracer.patch`` swaps a module attribute for a timing wrapper and puts the
original back on exit.  The wrappers go around the public functions that
``kernel.parse_document`` and ``ops.page_kernel.extract_page_full_kernel``
call, so the program's code is measured unchanged.  Spans (name, start,
end, parent span, document) are kept in memory and written out by the
caller when the run ends; a layer's self time is its span's duration minus
the time its child spans cover.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (name, t0, t1, parent index, doc)
        self.counts: Counter = Counter()
        self.doc = -1
        self._stack: list[int] = []

    def wrap(self, name: str, fn, on_result=None):
        spans, stack = self.spans, self._stack
        clock = time.perf_counter

        def traced(*args, **kwargs):
            idx = len(spans)
            spans.append(None)
            parent = stack[-1] if stack else -1
            stack.append(idx)
            t0 = clock()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = clock()
                stack.pop()
                spans[idx] = (name, t0, t1, parent, self.doc)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    def count(self, name: str, fn):
        counts = self.counts

        def counted(*args, **kwargs):
            counts[name] += 1
            return fn(*args, **kwargs)

        return counted

    @contextmanager
    def patch(self, targets):
        """``targets``: (module, attribute, wrapper-factory) triples."""
        saved = []
        try:
            for mod, attr, make in targets:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, make(orig))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def self_times(self, start: int = 0) -> dict[str, float]:
        """Self time per span name over the spans recorded from ``start``."""
        child: dict[int, float] = defaultdict(float)
        for _, t0, t1, parent, _ in self.spans[start:]:
            if parent >= start:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans[start:], start):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def totals(self, start: int = 0) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, _, _ in self.spans[start:]:
            out[name] += t1 - t0
        return dict(out)

    def docs_with(self, name: str, start: int = 0) -> int:
        return len({doc for n, _, _, _, doc in self.spans[start:] if n == name})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"fields": ["name", "t0", "t1", "parent", "doc"], "spans": self.spans,
                 "counts": dict(self.counts)},
                f,
            )


def _timed(fn, docs) -> float:
    t0 = time.perf_counter()
    for d in docs:
        fn(*d)
    return time.perf_counter() - t0


# untraced and traced passes alternate this many times: the machine's speed
# drifts by several percent between single passes
KERNEL_ROUNDS = 3


def kernel_layer(htmls: list[bytes], tracer: Tracer) -> dict:
    """``kernel.parse_document`` on one core over ``htmls``: after an untimed
    pass that warms the memos, untraced passes (docs/s) alternate with
    traced passes (the per-function split, reported per pass)."""
    import html_parser_spark.dom as dom
    import html_parser_spark.kernel as kernel

    docs = [(h,) for h in htmls]
    _timed(kernel.parse_document, docs)

    hits = Counter()

    def scan_result(r):
        hits["scan"] += 1
        hits["hit"] += r is not None

    w = tracer.wrap
    targets = [
        (kernel, "decode_html_bytes", lambda f: w("decode", f)),
        (kernel, "detect_format", lambda f: w("detect", f)),
        (kernel, "scan_format_a", lambda f: w("fastscan", f, scan_result)),
        (kernel, "parse_html", lambda f: w("dom_parse", f)),
        (dom, "parse_html_slow", lambda f: tracer.count("slow_dom", f)),
        (kernel, "extract_text_doc", lambda f: w("textflat", f)),
        (kernel, "post_process", lambda f: w("post_process", f)),
    ] + [
        (kernel, name, lambda f: w("fold", f))
        for name in (
            "parse_format_a_doc",
            "parse_format_b_doc",
            "parse_format_c_doc",
            "refine",
            "parse_format_d_entries",
        )
    ]
    parse = w("parse_document", kernel.parse_document)
    errors = 0
    first = len(tracer.spans)
    slow0 = tracer.counts["slow_dom"]
    untraced, traced = [], []
    for _ in range(KERNEL_ROUNDS):
        untraced.append(_timed(kernel.parse_document, docs))
        with tracer.patch(targets):
            t0 = time.perf_counter()
            for i, h in enumerate(htmls):
                tracer.doc = i
                errors += parse(h)["error"] is not None
            traced.append(time.perf_counter() - t0)
    # every pass runs the same documents: totals are KERNEL_ROUNDS x one pass
    self_t = {k: v / KERNEL_ROUNDS for k, v in tracer.self_times(first).items()}
    total = tracer.totals(first).get("parse_document", 0.0) / KERNEL_ROUNDS
    parts = ("decode", "detect", "fastscan", "dom_parse", "textflat", "fold", "post_process")
    covered = sum(self_t.get(p, 0.0) for p in parts)
    return {
        "kernel.docs_per_s": len(htmls) / statistics.median(untraced),
        "kernel.decode_s": self_t.get("decode", 0.0),
        "kernel.detect_s": self_t.get("detect", 0.0),
        "kernel.fastscan_s": self_t.get("fastscan", 0.0),
        "kernel.dom_parse_s": self_t.get("dom_parse", 0.0),
        "kernel.slow_dom_calls": (tracer.counts["slow_dom"] - slow0) // KERNEL_ROUNDS,
        "kernel.textflat_s": self_t.get("textflat", 0.0),
        "kernel.fold_s": self_t.get("fold", 0.0),
        "kernel.post_process_s": self_t.get("post_process", 0.0),
        "kernel.path_fastscan": hits["hit"] // KERNEL_ROUNDS,
        "kernel.path_dom": tracer.docs_with("dom_parse", first),
        "kernel.fastscan_hit_ratio": hits["hit"] / hits["scan"] if hits["scan"] else 0.0,
        "kernel.errors": errors // KERNEL_ROUNDS,
        "kernel.span_cover_frac": covered / total if total else 0.0,
        "trace.overhead_frac": statistics.median(1.0 - u / t for u, t in zip(untraced, traced)),
    }


def page_kernel_layer(pages: list[tuple[bytes, str]], tracer: Tracer) -> dict:
    """``extract_page_full_kernel`` on one core: docs/s untraced, then the
    parse / main-content walk / metadata walk split."""
    import html_parser_spark.dom as dom
    import html_parser_spark.ops.page_kernel as pk

    _timed(pk.extract_page_full_kernel, pages)
    untraced = _timed(pk.extract_page_full_kernel, pages)
    w = tracer.wrap
    targets = [
        (dom, "decode_html_bytes", lambda f: w("pk.parse", f)),
        (dom, "parse_html", lambda f: w("pk.parse", f)),
        (pk, "extract_main_from_root", lambda f: w("pk.main_walk", f)),
        (pk, "extract_meta_from_root", lambda f: w("pk.meta_walk", f)),
    ]
    first = len(tracer.spans)
    with tracer.patch(targets):
        for i, (html, url) in enumerate(pages):
            tracer.doc = i
            pk.extract_page_full_kernel(html, url)
    t = tracer.totals(first)
    return {
        "page_kernel.docs_per_s": len(pages) / untraced,
        "page_kernel.parse_s": t["pk.parse"],
        "page_kernel.main_walk_s": t["pk.main_walk"],
        "page_kernel.meta_walk_s": t["pk.meta_walk"],
    }
