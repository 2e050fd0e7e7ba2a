"""Python worker daemon: PySpark's stock daemon minus a per-task re-read.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that makes
every ``zipimporter`` re-read its archive's whole directory, and a reused
worker holds 16 over ``pyspark.zip``, py4j and the spark-core jar: ~0.3 s
of each task on a 4-vCPU host, before any user code runs. Here an archive is
re-read only when its (inode, size, mtime) differs from this process's last
read of it; otherwise the importer rebinds to the shared cached directory.
Python 3.13 drops the cached directory and re-reads it lazily on the next
lookup, so nothing is patched there. Workers fork from the daemon and
inherit the patch. ``get_spark`` sets ``spark.python.daemon.module`` here.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    # Stamp taken before the read: a rewrite during it shows up next time.
    _read_stamps[self.archive] = stamp
    _stock_invalidate_caches(self)


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        # Stamp the archives the daemon already imports from, so that
        # forked workers start with nothing to re-read.
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
