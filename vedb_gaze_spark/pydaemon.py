"""Python-worker daemon that re-reads a zip archive's directory only when
the archive changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``). On Python 3.11
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, once per importer: a worker's ``sys.path``
holds ``pyspark.zip`` (1,328 entries, one importer per imported
subpackage), the py4j zip and the spark-core jar (5,359 entries), so a
reused worker spent about 0.2 s of every task on those reads (4-core
host; PERF_NOTES "Python-worker task start").

This module wraps ``invalidate_caches`` so that an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the stamp taken before the last read, reads the directory once in the
daemon so forked workers inherit the stamps, and then runs pyspark's own
daemon. ``session.get_spark`` names it as ``spark.python.daemon.module``
for the local master only, where the daemon starts from the driver's
working directory and ``PYTHONPATH`` and can import this package.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before the directory
# now in zipimport._zip_directory_cache was read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        # the archive is unchanged since the directory in the cache was
        # read; an importer made before that read takes the same dict a
        # new importer of this archive would
        self._files = cached
        return
    _stock_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
