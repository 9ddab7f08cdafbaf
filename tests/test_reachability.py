"""Every library module under ``ops/`` and ``sources/`` is imported, directly
or through other package modules, by some job in ``jobs/``.  A module that no
job reaches is code with no caller: wire it into a job or delete it."""

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
