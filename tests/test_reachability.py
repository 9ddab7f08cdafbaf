"""Every library module under ``ops/`` and ``sources/`` is imported, directly
or through other package modules, by some job in ``jobs/``; and every public
function in ``ops/`` is reached by name from a job, the benchmark or
``entry()``.  Code that nothing reaches has no caller: wire it into a job or
delete it."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "html_parser_spark"


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _imports(path: str, module: str) -> set[str]:
    """Package modules ``path`` imports anywhere (function bodies too).
    ``module`` is its dotted name, used to resolve relative imports."""
    is_pkg = path.endswith("__init__.py")
    out = set()
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = module.split(".")
                anchor = parts if is_pkg else parts[:-1]
                anchor = anchor[: len(anchor) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return {m for m in out if m.split(".")[0] == PKG and _module_file(m)}


def reached_from_jobs() -> set[str]:
    todo = []
    for job in glob.glob(os.path.join(ROOT, "jobs", "*.py")):
        todo.extend(_imports(job, "jobs." + os.path.basename(job)[:-3]))
    seen = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(_module_file(name), name))
    return seen


def test_every_ops_and_sources_module_is_reached_from_a_job():
    reached = reached_from_jobs()
    modules = {
        f"{PKG}.{sub}.{os.path.basename(p)[:-3]}"
        for sub in ("ops", "sources")
        for p in glob.glob(os.path.join(ROOT, PKG, sub, "*.py"))
        if not p.endswith("__init__.py")
    }
    assert modules
    assert sorted(modules - reached) == []


# ops/ functions no job runs that stay on purpose; each is a walk root too
KEPT = {
    "extract_main": "boilerplate strip, the post-processing BASELINE.json asks for",
    "extract_main_content": "boilerplate strip as a Spark stage (q_main_content)",
    "decode_pages": "charset decode stage (q_charset)",
    "decode_text_udf": "the row UDF decode_pages applies",
    "extract_anchors": "anchor-text stage (q_anchor_stats)",
    "extract_page_anchors": "the per-page walk extract_anchors applies",
    "anchor_text_stats": "anchor-text aggregate (q_anchor_stats)",
    "make_text_pdf": "PDF writer the PDF-parse tests and q_pdf_text read back",
    "make_text_pdf_udf": "the Spark form of make_text_pdf (q_pdf_text)",
    "pdf_text": "PDF parse as a Spark stage, which BASELINE.json asks for (q_pdf_text)",
    "fetch_plan": "only oracle of crawl_delays, which frontier_job runs (q_crawl_plan)",
    "hll_merge": "only oracle of hll_estimate, which datacard_job runs (q_hll_distinct)",
    "domain_stats": "only oracle of host_blocklist_filter (q_domain_stats, q_blocklist)",
    "bpe_encode": "reference of curate_job's BPE training test (q_bpe_encode)",
    "temperature_mix_plan": "reference of temperature_sample's test (q_temperature_mix)",
}


# ops/ functions that only a contract query (and their own tests) call: the
# rest of ROADMAP item 4's deletion list, each mapped to the query that
# checks it.  Delete a function with its query and tests; a function a job
# comes to call leaves this list.
QUEUED = {
    "bowtie_profile": "q_bowtie",
    "bpe_decode": "q_bpe_roundtrip",
    "bpe_roundtrip_check": "q_bpe_roundtrip",
    "build_vocab": "q_vocab",
    "clean_web_text": "q_text_clean",
    "count_invisibles": "q_text_clean",
    "crawl_diff": "q_crawl_diff",
    "date_cutoff_filter": "none (tests only)",
    "dedup_prf": "q_dedup_prf",
    "diff_status": "q_crawl_diff",
    "edit_distance_pairs": "q_fuzzy_pairs",
    "exact_duplicates": "q_exact_dedup",
    "exact_quantiles": "q_exact_quantiles",
    "exact_substring_dedup": "q_exact_substring",
    "freq_spectrum": "q_freq_spectrum",
    "frequent_lines": "q_frequent_lines",
    "jsonld_blocks": "q_jsonld",
    "mirror_candidates": "q_mirrors",
    "nfc_normalize_udf": "q_text_clean",
    "normalized_duplicates": "q_norm_dedup",
    "normalized_text_key": "q_norm_dedup",
    "pack_shards": "q_pack_shards",
    "paragraph_dedup": "q_paragraph_dedup",
    "pii_scan": "q_pii_scan",
    "readability_profile": "q_readability",
    "reordered_duplicates": "q_reordered_dedup",
    "resolve_redirects": "q_redirects",
    "robots_sitemaps": "q_robots_sitemaps",
    "sentence_split": "q_sentence_split",
    "sitemap_coverage": "q_sitemap_coverage",
    "sitemap_urls": "q_sitemap",
    "stratified_sample": "q_stratified_sample",
    "strip_frequent_lines": "q_strip_lines",
    "strip_invisibles": "q_text_clean",
    "url_survival": "q_url_survival",
    "vocab_growth": "q_vocab_growth",
    "winnow_fingerprints": "q_winnow_fingerprint",
}


def _names(node) -> set[str]:
    """Every name ``node`` loads or reads as an attribute."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _package_defs():
    """(defs, live): top-level function, class and assignment names of the
    package -> the names each reads, and the names module-level statements
    (which run on import) read."""
    defs: dict[str, set[str]] = {}
    live: set[str] = set()
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        for node in ast.parse(open(path, encoding="utf-8").read()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, set()).update(_names(node))
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, set()).update(_names(node.value))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                live |= _names(node)
    return defs, live


def reached_names() -> set[str]:
    """Names reached from ``jobs/*.py``, ``perfbench/*.py``, ``entry()`` and
    ``KEPT``, followed through package definitions to a fixed point.  A
    reference counts whatever module the name lives in, so the walk keeps
    too much rather than too little.  Contract queries are not roots."""
    defs, todo = _package_defs()
    todo |= set(KEPT)
    for path in glob.glob(os.path.join(ROOT, "jobs", "*.py")) + glob.glob(
        os.path.join(ROOT, "perfbench", "*.py")
    ):
        todo |= _names(ast.parse(open(path, encoding="utf-8").read()))
    entry = ast.parse(open(os.path.join(ROOT, "__spark_entry__.py"), encoding="utf-8").read())
    todo |= _names(next(n for n in entry.body if getattr(n, "name", None) == "entry"))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= defs.get(name, set()) - seen
    return seen


def test_every_public_ops_function_is_reached():
    reached = reached_names()
    public = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "ops", "*.py")):
        for node in ast.parse(open(path, encoding="utf-8").read()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                public[node.name] = os.path.basename(path)
    assert set(KEPT) <= set(public)
    # a queued name is still defined and still has no caller
    assert sorted(n for n in QUEUED if n not in public or n in reached) == []
    unreached = set(public) - reached - set(QUEUED)
    assert sorted(f"{public[n]}:{n}" for n in unreached) == []
