"""PySpark worker daemon that re-reads a zip archive's directory only when
the archive changed.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On Python 3.11 that makes every
cached ``zipimport.zipimporter`` re-read its archive's whole central
directory, and a worker holds about 16 importers of ``pyspark.zip``
(1,328 entries), one per imported sub-package.  That re-read is ~0.25 s
of every Python task, whatever the task computes.

``get_spark`` names this module in ``spark.python.daemon.module``, so
Spark starts it as ``python -m`` in place of ``pyspark.daemon``.  It
swaps ``zipimporter.invalidate_caches`` for ``invalidate_if_changed``
and runs ``pyspark.daemon.manager()``; the workers it forks inherit the
swap.  An importer refreshes when its archive's ``(st_mtime_ns,
st_size)`` differs from the stamp taken at its last refresh, or when
the archive cannot be stat'ed, so a rewritten zip is still re-read and
``addPyFile`` archives still import.  Only public zipimport API is
used, so the swap stays correct on Python >= 3.12, where invalidation
is already lazy (and this daemon saves nothing).

The module is imported in the daemon before every fork and its stdout
carries the daemon's port: it must import little and print nothing.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        # Stamped before the re-read: a write racing the read leaves an
        # older stamp, so the next call re-reads again.
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        # A missing archive always goes to the original, and its None
        # stamp matches no later archive, however it is stamped.
        stamp = None
    if stamp is None or getattr(self, "_archive_stamp", None) != stamp:
        _original(self)
        self._archive_stamp = stamp


def install() -> None:
    """Swap the method in and stamp every importer cached so far, so
    forked workers start with nothing to re-read."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon

    install()
    pyspark.daemon.manager()
