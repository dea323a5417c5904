"""The Python worker daemon of the sessions ``session.get_spark`` builds:
``pyspark.daemon`` with a lazy zip-directory reload.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython before 3.12
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory in pure Python. A worker's ``sys.path`` holds four archives
(``pyspark.zip``, the py4j zip, the spark-core jar and the package zip
``session._ship_package`` adds), and each package imported from an
archive has its own importer, so the call re-reads each archive several
times: about 170 ms of every task, reused worker or not, against under
1 ms for the rest of the task's setup (4 cores, Python 3.11). With
:func:`lazy_zip_reload` an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the one it had when its
directory was last read, so a rewritten ``addPyFile`` zip is still
seen. CPython 3.12 made the reload lazy itself; there the daemon is
stock.

Run as ``python -m project_clinical_data_etl_pipeline_spark.pyworker``;
Spark starts it so when ``spark.python.daemon.module`` names it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def lazy_zip_reload() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the archive changed since this process last read it through
    that method; otherwise the importer takes the cached directory.
    Idempotent; a no-op on CPython 3.12 and later."""
    reload = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(reload, "lazy", False):
        return
    read_at: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        # stat before reading: a rewrite during the read leaves the old
        # stamp, so the next call reads again
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and read_at.get(self.archive) == stamp:
            self._files = cached
            return
        reload(self)
        read_at[self.archive] = stamp

    invalidate_caches.lazy = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    lazy_zip_reload()
    from pyspark import daemon

    # read the daemon's archives once here, so that forked workers
    # inherit their stamps and no task re-reads them
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
