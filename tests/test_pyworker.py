"""html_parser_spark/_pyworker.py: importing the package makes
``importlib.invalidate_caches()`` skip the zip-directory re-read of an
archive that did not change, and still re-read a changed, replaced or
missing one; ``settle()`` freezes a worker's heap once, after its first
kernel batch."""

import gc
import importlib
import inspect
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F, types as T

import html_parser_spark
from html_parser_spark import _pyworker
from html_parser_spark.spark.pipeline import kernel_stage


def _write_zip(path, pkg, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/sub/__init__.py", "")
        for name, src in files.items():
            z.writestr(f"{pkg}/sub/{name}.py", src)


@pytest.fixture
def zipped(tmp_path, monkeypatch, request):
    """(zip path, package name): a package with a subpackage imported from
    a temp zip; its modules leave sys.modules afterwards."""
    pkg = "zpkg_" + request.node.name.replace("[", "_").replace("]", "")
    path = str(tmp_path / "lib.zip")
    _write_zip(path, pkg, {"mod": "VALUE = 1\n", "other": "VALUE = 3\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{pkg}.sub.mod")
    yield path, pkg
    for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
        del sys.modules[name]


def _reads(monkeypatch) -> list:
    calls = []
    orig = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_no_reread_when_unchanged(zipped, monkeypatch):
    importlib.invalidate_caches()  # records the archives' stat
    calls = _reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []


@pytest.mark.parametrize("how", ["rewritten", "replaced", "missing"])
def test_reread_when_changed(zipped, tmp_path, how):
    path, pkg = zipped
    importlib.invalidate_caches()
    if how == "missing":
        os.remove(path)
    else:
        new = path if how == "rewritten" else str(tmp_path / "new.zip")
        _write_zip(new, pkg, {"mod": "VALUE = 2\n", "new": "VALUE = 4\n"})
        if new != path:
            os.replace(new, path)
    importlib.invalidate_caches()
    if how == "missing":
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module(f"{pkg}.sub.other")
        return
    assert importlib.import_module(f"{pkg}.sub.new").VALUE == 4
    assert importlib.reload(sys.modules[f"{pkg}.sub.mod"]).VALUE == 2


def test_install_is_idempotent():
    from html_parser_spark import _pyworker

    _pyworker.install()
    importlib.reload(_pyworker).install()
    importlib.reload(html_parser_spark)
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper.stat_checked
    assert inspect.unwrap(wrapper) is wrapper.__wrapped__  # one layer


def test_worker_skips_reread_after_a_kernel_task(spark):
    """Every probe row is a kernel task of its own.  A worker's zip
    importers must hold the very directory objects they held at the end
    of that worker's previous probe task: nothing was re-read in
    between."""

    def probe(_html):
        # a package kernel imports the package when it is unpickled; this
        # one is pickled by value, so it imports it here
        import html_parser_spark  # noqa: F401

        now = {
            (f.archive, f.prefix): f._files
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
        }
        before = getattr(sys, "_zip_dirs_probe", None)
        sys._zip_dirs_probe = now
        same = None
        if before is not None:
            same = all(now[k] is v for k, v in before.items() if k in now)
        return {"importers": len(now), "same": same}

    schema = T.StructType(
        [T.StructField("importers", T.IntegerType()), T.StructField("same", T.BooleanType())]
    )
    pages = spark.range(0, 16, 1, 16).select(F.lit(b"").alias("html"))
    rows = [
        r for _ in range(2) for r in kernel_stage(pages, probe, schema).collect()
    ]
    assert min(r["importers"] for r in rows) > 0  # workers import from zips
    seen_twice = [r["same"] for r in rows if r["same"] is not None]
    assert seen_twice and all(seen_twice)


_SETTLE_CHECK = """
import gc
import weakref

from html_parser_spark import _pyworker


class Node:
    pass


assert gc.get_freeze_count() == 0
gc.disable()  # no automatic collection before settle() runs
a, b = Node(), Node()
a.other, b.other = b, a
dead = weakref.ref(a)
del a, b  # a cycle: only the collector can free it
assert dead() is not None
_pyworker.settle()
assert dead() is None  # collected, not frozen
frozen = gc.get_freeze_count()
assert frozen > 0
keep = [Node() for _ in range(100)]
_pyworker.settle()  # idempotent: nothing new is frozen
assert gc.get_freeze_count() == frozen, (gc.get_freeze_count(), frozen)
"""


def test_settle_collects_cycles_then_freezes_once():
    """settle() acts on the whole heap of its process, so it runs in a
    fresh interpreter: in this one, the Spark session's Py4J threads can
    free frozen objects between the two reads of the freeze count."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    ))
    proc = subprocess.run(
        [sys.executable, "-c", _SETTLE_CHECK],
        cwd=root, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_settle_reads_the_freeze_count_once(monkeypatch):
    """``gc.get_freeze_count()`` walks the whole permanent generation, and
    settle() runs after every batch: only its first call may read it."""
    calls = []
    fake_gc = types.SimpleNamespace(
        get_freeze_count=lambda: calls.append("get_freeze_count") or 0,
        collect=lambda: calls.append("collect"),
        freeze=lambda: calls.append("freeze"),
    )
    monkeypatch.setattr(_pyworker, "gc", fake_gc)
    monkeypatch.setattr(_pyworker, "_settled", False)
    _pyworker.settle()
    assert calls == ["get_freeze_count", "collect", "freeze"]
    _pyworker.settle()
    assert calls == ["get_freeze_count", "collect", "freeze"]


def test_worker_heap_frozen_after_a_kernel_task(spark):
    """Every probe row is a kernel task of its own: from a worker's second
    task on, its import-time heap is frozen, so the daemon's per-task
    collection no longer walks it."""

    def probe(_html):
        import gc

        before = getattr(sys, "_gc_probe_seen", False)
        sys._gc_probe_seen = True
        return {"seen": before, "frozen": gc.get_freeze_count()}

    schema = T.StructType(
        [T.StructField("seen", T.BooleanType()), T.StructField("frozen", T.LongType())]
    )
    pages = spark.range(0, 16, 1, 16).select(F.lit(b"").alias("html"))
    rows = [r for _ in range(2) for r in kernel_stage(pages, probe, schema).collect()]
    later = [r["frozen"] for r in rows if r["seen"]]
    assert later and min(later) > 0
