"""PySpark worker daemon whose workers re-read a zip archive only when it changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 and 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's central
directory eagerly, and a worker holds one importer per package it loaded
from ``pyspark.zip``: 16 reads of a 1,328-entry directory, ~80-100 ms of
every task, before the task reads its first input batch.

Run as the daemon (``python -m twittercrawler_spark.worker_daemon``, which
``session.get_spark`` selects through ``spark.python.daemon.module``), this
module replaces that method before ``pyspark.daemon.manager()`` forks any
worker, so every worker inherits the replacement. It reads an archive again
only when the archive's ``(st_mtime_ns, st_size)`` differs from what it was
at this process's last read; an importer of an unchanged archive adopts the
directory that read left in ``zipimport._zip_directory_cache``. A changed
archive (say, a zip added with ``addPyFile`` during a session) is re-read
exactly as before. On CPython 3.13, where the stock method only drops the
cache entry, the replacement is the same code and merely skips that drop.

The module must be importable when the daemon starts. A ``spark-submit
--py-files`` zip reaches the workers per task, after that, so the
spark-submit path (``tools/submit_crawl.py``) keeps the stock daemon.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> its (st_mtime_ns, st_size) before this process last read
# it; process-wide, like the zipimport._zip_directory_cache it validates
_read_at: dict[str, tuple[int, int] | None] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the read of an unchanged archive."""
    # stat BEFORE the read: a write racing the read leaves an older
    # signature on record, so the next call reads again
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _read_at.get(self.archive) == sig:
        self._files = files
        return
    _stock_invalidate_caches(self)
    _read_at[self.archive] = sig


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # import under the package name, so the method workers see names this
    # module rather than __main__
    from twittercrawler_spark.worker_daemon import main as _main

    _main()
