"""Stat-gated ``zipimporter.invalidate_caches``.

Why: PySpark's Python worker calls ``importlib.invalidate_caches()`` at
the start of every task (``pyspark/worker_util.py:144``, after adding
the task's ``addPyFile`` archives to ``sys.path``).  That reaches every
path-entry finder in ``sys.path_importer_cache``, and on CPython
3.10-3.12 a ``zipimporter`` answers by re-reading its archive's whole
central directory (``zipimport.py:329-336`` in 3.11.7; the same method
is in 3.10.13 and 3.12.1).  A worker holds one importer per
(archive, package prefix) it has imported from, 16 of them in a
PySpark 4.1 worker running pandas UDFs (mostly over the 1328-entry
``pyspark.zip``), so every task re-parses those directories before
its UDF body starts: 0.17-0.24 CPU-s per task on CPython 3.11.7
(4 vCPU), which is most of a 1000-row scoring call.  On 3.13 the
method only drops the cache entry and the next import re-reads it
lazily.

:func:`install` wraps the method once so the original runs only when
the archive's ``(st_ino, st_mtime_ns, st_size)`` differs from what
that importer saw on its last call, or when ``os.stat`` fails.  The
last-seen stat lives on the importer instance.  An archive rewritten
on disk (a new ``addPyFile`` zip, say) is still re-read; an unchanged
one is not.  Importing ``xgboost_spark`` installs it.  A worker
imports the package when it unpickles a UDF that references package
code, as the sketch, the barrier job and serving do; the first gated
call seeds each importer, and from then on a reused worker's tasks,
user UDFs included, skip the re-reads.
"""

from __future__ import annotations

import functools
import os
import threading
import zipimport

# serialises check-then-read, so a racing rewrite can't pair an older
# directory with a newer stat
_LOCK = threading.Lock()


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install():
    """Wrap ``zipimporter.invalidate_caches``; a second call is a no-op."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_stat_gated", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        # stat before reading: a rewrite racing the read leaves the
        # older key behind, so the next call reads again
        with _LOCK:
            key = _stat_key(self.archive)
            if key is None or key != getattr(self, "_seen_stat", None):
                original(self)
            self._seen_stat = key

    invalidate_caches._stat_gated = True
    cls.invalidate_caches = invalidate_caches
