"""Python-worker set-up that importing the package runs once per process.

PySpark calls ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``).  On CPython 3.11 that makes every
``zipimporter`` re-read the whole central directory of its archive, and a
worker holds one importer per package directory it imported from
``pyspark.zip`` (and from a ``--py-files`` archive such as ``htmlps.zip``):
each task re-parses thousands of directory entries that did not change.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that the re-read
runs only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from
the one seen at its last re-read.  The importers of one archive share that
re-read.  A changed, replaced or missing archive is re-read exactly as
before.  Every kernel UDF imports the package when it is unpickled, so from
a worker's second task on the per-task re-read is gone.

PySpark's daemon also runs a full ``gc.collect()`` after every task, which
walks all of a worker's ~74k import-time objects (pyspark, pyarrow, the
kernel) each time.  :func:`settle`, which ``kernel_stage`` runs after each
batch, moves them to the permanent generation once, after the first batch,
so the per-task collection walks only what later tasks allocate.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# archive path -> (stat stamp, directory read at or after that stamp)
_seen: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent), then re-read
    each archive already imported from once, so the next call can skip."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_checked", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        # stat BEFORE the re-read: a change after it shows at the next call
        stamp = _stamp(self.archive)
        seen = _seen.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        reread(self)
        if stamp is None:
            _seen.pop(self.archive, None)
        else:
            _seen[self.archive] = (stamp, self._files)

    invalidate_caches.stat_checked = True
    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()


_settled = False


def settle() -> None:
    """Collect, then freeze what survives, unless this process's heap is
    frozen already (so only its first call does anything).

    Run after a worker's first kernel batch, not at package import: the
    Arrow serializers and the kernel's own lazy imports load after the UDF
    is unpickled.  The collect runs first, so earlier cyclic garbage is
    freed, not frozen; later garbage is collected as before.  Whether it
    ran is kept in a module flag: ``gc.get_freeze_count()`` walks the whole
    permanent generation (about 2 ms once a worker's heap is frozen), and
    this runs after every batch."""
    global _settled
    if _settled:
        return
    _settled = True
    if not gc.get_freeze_count():
        gc.collect()
        gc.freeze()
