"""Per-process setup of the Python workers — free of pyspark imports.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of EVERY task (``worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory, and a worker holds one zipimporter per package directory it
imported from ``pyspark.zip`` (~16). Measured on 4 cores: consecutive
tasks of an identity ``mapInPandas`` on one reused worker started
~210 ms apart, ~50 ms with this module's setup installed — the
difference is more than most kernels here take per task. CPython 3.13
made the call lazy. :func:`lazy_zip_invalidation` gives older
interpreters the same effect: an archive's directory is re-read only
when the archive file changed, so a changed or newly shipped zip
(``--py-files``) is still picked up, and an unchanged one is never
re-parsed.

Installed on a worker's first task by importing
:mod:`pyrate_spark.operators.udf_kernels` (every keyed kernel) and by
:func:`warm_worker`, the body of ``grouped.warm_python_workers``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def lazy_zip_invalidation() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` with one that
    re-reads an archive's directory only when the archive's
    ``(st_mtime_ns, st_size)`` differs from the stamp taken when that
    directory was last read. The stamp is per archive, so the many
    importers of one zip share one read: the first re-reads, the rest
    adopt zipimport's cached directory. Idempotent; a no-op on
    CPython >= 3.13, whose ``invalidate_caches`` is already lazy."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) \
            or hasattr(zi.invalidate_caches, "__wrapped__"):
        return
    reread = zi.invalidate_caches
    read_at = {}   # archive -> stamp its cached directory was read at

    def invalidate_caches(self):
        # stat BEFORE reading: a change racing the read re-reads next time
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None \
                or read_at.get(self.archive) != stamp:
            reread(self)
            read_at[self.archive] = stamp
        else:
            self._files = files

    invalidate_caches.__wrapped__ = reread
    zi.invalidate_caches = invalidate_caches


def warm_worker(pdf):
    """Pass-through ``applyInPandas`` body that installs this module's
    setup in the worker it runs in."""
    lazy_zip_invalidation()
    return pdf
