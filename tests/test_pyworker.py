"""The Python worker daemon of ``session.get_spark`` sessions
(``pyworker``): an archive on a worker's ``sys.path`` is re-read only
when it changed. Pinned by counts of directory reads, not by timings."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from project_clinical_data_etl_pipeline_spark import pyworker
from project_clinical_data_etl_pipeline_spark.session import DAEMON_MODULE

def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("lazy_zip_mod.py", source)


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 reloads zip directories lazily"
)
def test_unchanged_archive_is_read_once_and_a_rewritten_one_again(
    tmp_path, monkeypatch
):
    # restored at teardown, so the wrap stays inside this test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pyworker.lazy_zip_reload()
    pyworker.lazy_zip_reload()  # idempotent: one wrap, not two
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, "VALUE = 1\n")
    importer = zipimport.zipimporter(archive)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]
    # a second importer of the same archive takes the directory read
    # through the first
    zipimport.zipimporter(archive).invalidate_caches()
    assert reads == [archive]

    # a rewritten archive (a changed addPyFile zip) is read again and
    # its new contents are seen
    _write_zip(archive, "VALUE = 22\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importer.invalidate_caches()
    assert reads == [archive, archive]
    spec = importer.find_spec("lazy_zip_mod")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.VALUE == 22
    importer.invalidate_caches()
    assert reads == [archive, archive]


def test_python_task_rereads_no_archive(spark):
    """Inside a Python task, after the task's own setup invalidated the
    import caches, invalidating them again reads no zip directory. A
    stock ``pyspark.daemon`` worker reads each archive on its path once
    per importer here: 16 reads on pyspark 4.1, Python 3.11."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE

    def count_reads(_):
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return [len(reads)]

    for _ in range(2):
        assert spark.sparkContext.parallelize([0], 1).mapPartitions(
            count_reads
        ).collect() == [0]
