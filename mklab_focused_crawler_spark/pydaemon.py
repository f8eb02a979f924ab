"""Python worker daemon: PySpark's stock daemon with a cheap import-cache
invalidation.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``), so that a
file shipped with ``addPyFile`` after the worker started is importable.
On CPython < 3.13 every ``zipimporter`` answers that call by re-parsing
its archive's whole central directory. A warm worker holds one per
package directory inside an archive on its path — 12-13 on
``pyspark.zip`` (1,328 entries), 2 on the spark-core jar (5,359), 2 on
py4j — so ~27k entries are parsed per task: a fixed ~0.3 s on every
Python stage, whatever its kernel does.

:func:`install` makes ``zipimporter.invalidate_caches`` re-read an
archive only when its ``(inode, size, mtime_ns)`` changed since that
importer last read it. A rewritten or newly added archive is still
re-read, so the contract of ``invalidate_caches`` is unchanged.

Run as ``python -m mklab_focused_crawler_spark.pydaemon <worker module>``
(``spark.python.daemon.module``, set by ``session.get_spark`` when the
worker can import this package): it installs the patch in the daemon,
primes every importer the daemon already holds, and then runs the stock
``pyspark.daemon.manager()``. Forked workers inherit both. Imports only
the standard library before handing over to PySpark.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAT_ATTR = "_archive_stat"


def _archive_stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent). The stat is
    taken BEFORE the re-read, so an archive rewritten during the read
    differs from the recorded key and is read again next time."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_reads_on_change", False):
        return

    def invalidate_caches(self):
        key = _archive_stat(self.archive)
        if key is not None and key == getattr(self, _STAT_ATTR, None):
            return
        stock(self)
        setattr(self, _STAT_ATTR, key)

    invalidate_caches._reads_on_change = True
    invalidate_caches.__doc__ = stock.__doc__
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    patch = sys.version_info < (3, 13)  # 3.13+ already re-reads lazily
    if patch:
        install()
    from pyspark.daemon import manager  # imports pyspark.worker too

    if patch:
        import importlib

        importlib.invalidate_caches()  # record every held archive's key once
    manager()


if __name__ == "__main__":
    main()
