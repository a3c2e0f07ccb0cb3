"""A Python worker's per-task import-cache invalidation, gated on the archives.

Every task a PySpark worker runs starts in ``setup_spark_files``
(``pyspark/worker_util.py``), which calls ``importlib.invalidate_caches()``
so that files added with ``addPyFile`` become importable.  Under CPython 3.11
that call makes each cached ``zipimporter`` re-read its archive's central
directory: 16 of them in a worker (``pyspark.zip`` twelve times, the
``spark-core`` jar and the py4j zip twice each), 0.15–0.25 s of CPU per task
before it reads a row.

:func:`install` swaps the ``importlib`` that ``pyspark.worker_util`` calls for
a :class:`_Importlib` whose ``invalidate_caches`` does what CPython 3.11's
``importlib.invalidate_caches`` and ``PathFinder.invalidate_caches`` do, with
one exception: a zipimporter re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since its last read.  The package
``__init__`` calls it, so it takes effect in any worker that unpickles a
function of the package, from that worker's second task on.
"""

from __future__ import annotations

import importlib
import os
import sys
import types
import zipimport
from importlib._bootstrap_external import PathFinder, _NamespacePath, _path_isabs

__all__ = ["install"]


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


class _Importlib(types.ModuleType):
    """``importlib`` with a stat-gated ``invalidate_caches``; every other
    attribute is the real module's."""

    def __init__(self):
        super().__init__(importlib.__name__, importlib.__doc__)
        # path entry -> (its zipimporter, the archive's stamp when it was
        # read); installed during a task, after that task's set-up re-read
        # every archive cached now
        self._read = {
            name: (finder, _stamp(finder.archive))
            for name, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        }

    def __getattr__(self, name):
        return getattr(importlib, name)

    def invalidate_caches(self):
        for finder in sys.meta_path:
            if finder is PathFinder:
                self._invalidate_path_finders()
            elif hasattr(finder, "invalidate_caches"):
                finder.invalidate_caches()

    def _invalidate_path_finders(self):
        for name, finder in list(sys.path_importer_cache.items()):
            if finder is None or not _path_isabs(name):
                del sys.path_importer_cache[name]
            elif isinstance(finder, zipimport.zipimporter):
                stamp = _stamp(finder.archive)
                if self._read.get(name) != (finder, stamp):
                    finder.invalidate_caches()
                    self._read[name] = (finder, stamp)
            elif hasattr(finder, "invalidate_caches"):
                finder.invalidate_caches()
        _NamespacePath._epoch += 1


def install() -> None:
    """Swap in :class:`_Importlib` inside a Python worker; idempotent, and a
    no-op in a process that has not loaded ``pyspark.worker_util`` (the
    driver) or runs another CPython than the 3.11 whose semantics it keeps."""
    worker_util = sys.modules.get("pyspark.worker_util")
    if sys.version_info[:2] != (3, 11) or worker_util is None:
        return
    if not isinstance(worker_util.importlib, _Importlib):
        worker_util.importlib = _Importlib()
