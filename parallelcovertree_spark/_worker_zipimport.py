"""Stop Python workers from re-reading zip archives on every task.

Every PySpark task calls ``importlib.invalidate_caches()`` while it sets up
its files (``pyspark/worker_util.py``, ``setup_spark_files``). Before CPython
3.13, ``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory at once, and a worker holds one zipimporter per package directory it
has imported from ``pyspark.zip`` (14 after an Arrow UDF). So each task parses
that directory 14 times before its UDF starts: 0.1-0.25 s per task on a
4-vCPU host. CPython 3.13 made the re-read lazy.

The package imports this module first. Every engine UDF's pickled closure
refers to a package function, so unpickling it imports the package in the
worker, and the worker's later tasks run with the replacement below: it
re-reads an archive only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since its last read, and falls back to the stock method when
``stat`` fails. No option, no plan change.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its last directory read
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    try:
        st = os.stat(self.archive)
    except (OSError, ValueError):
        _stock(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _stamps.get(self.archive) != stamp:
        # stat before the read: a rewrite in between leaves an old stamp,
        # so the next call reads again
        _stock(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
