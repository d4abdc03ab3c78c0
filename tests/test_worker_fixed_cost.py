"""A Python task costs its rows: PySpark's per-task
``importlib.invalidate_caches()`` must not make a reused worker re-read
every zip archive's directory (``pipeline._install_zip_dir_cache``)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from unfurl_spark.operators import pipeline
from unfurl_spark.operators.pipeline import map_rows

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 zipimport no longer re-reads on invalidation")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def counted_reads(monkeypatch):
    """Calls of ``zipimport._read_directory``, by archive."""
    real = zipimport._read_directory
    reads: list = []

    def counted(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_zip_directory_reread_only_when_the_archive_changes(
        tmp_path, monkeypatch, counted_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zdc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import zdc_first

    assert zdc_first.X == 1
    # install afresh over the original (a kernel run in this process may
    # have installed it already); the previous state returns at teardown
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", getattr(
        cls.invalidate_caches, "__wrapped__", cls.invalidate_caches))
    pipeline._install_zip_dir_cache()
    wrapped = zipimport.zipimporter.invalidate_caches
    pipeline._install_zip_dir_cache()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert not hasattr(wrapped.__wrapped__, "__wrapped__")  # wrapped once

    counted_reads.clear()                          # the import's read
    importlib.invalidate_caches()
    assert archive not in counted_reads            # unchanged: not re-read

    _write_zip(archive, {"zdc_first": "X = 1\n", "zdc_second": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert archive in counted_reads                # rewritten: re-read
    import zdc_second

    assert zdc_second.Y == 2
    for name in ("zdc_first", "zdc_second"):
        sys.modules.pop(name, None)


def test_reused_worker_rereads_no_zip_directory(spark):
    """Over 3 × defaultParallelism one-row tasks, every task a worker runs
    after its first sees no zip directory re-read: the re-reads PySpark's
    per-task ``invalidate_caches`` would make are counted per worker pid
    by a ``_read_directory`` wrapper that each worker's first task
    installs."""

    def open_rows():
        import zipimport

        reads = getattr(zipimport._read_directory, "reads", None)
        first = reads is None
        if first:
            real = zipimport._read_directory

            def counted(path):
                counted.reads[0] += 1
                return real(path)

            counted.reads = reads = [0]
            zipimport._read_directory = counted
        seen, reads[0] = reads[0], 0
        return lambda _id: [(os.getpid(), first, seen)]

    n = spark.sparkContext.defaultParallelism
    rows = map_rows(spark.range(0, 3 * n, 1, 3 * n),
                    "pid long, first boolean, reads long",
                    open_rows).collect()
    later = [r for r in rows if not r["first"]]
    assert len(rows) == 3 * n
    assert later                      # some worker ran more than one task
    assert [r["reads"] for r in later] == [0] * len(later)
