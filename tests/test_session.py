"""Session defaults come from the machine; the env vars override them.
Importing the package keeps Python workers from re-reading unchanged
zip archives on every task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import bloom_filters_spark
from bloom_filters_spark.session import default_resources

lazy_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport re-reads lazily since 3.12 (gh-103200)")


def test_default_resources_follow_machine_and_env():
    cores, mem = default_resources({})
    assert cores == len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert mem.endswith("m") and abs(int(mem[:-1]) - ram_mb // 2) <= 1
    assert default_resources({"SPARK_GRAFT_CPUS": "3",
                              "SPARK_GRAFT_DRIVER_MEM": "2g"}) == (3, "2g")
    assert default_resources({"SPARK_GRAFT_CPUS": "3"})[1] == mem


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@lazy_zipimport
def test_invalidate_caches_keeps_unchanged_zip_directory(tmp_path,
                                                         monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, {"zpkg/__init__.py": "V = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    try:
        import zpkg
        assert zpkg.V == 1
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads.count(archive) == 0
        # installing again changes nothing
        patched = zipimport.zipimporter.invalidate_caches
        bloom_filters_spark._stamp_zip_directories()
        assert zipimport.zipimporter.invalidate_caches is patched
        assert zipimport._read_directory is counting

        # a changed archive is still picked up
        _write_zip(archive, {"zpkg/__init__.py": "V = 1\n",
                             "zpkg/extra.py": "W = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import zpkg.extra
        assert zpkg.extra.W == 2

        # stat fails: the stock re-read runs and drops the directory
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        sys.modules.pop("zpkg.extra", None)
        sys.modules.pop("zpkg", None)
        sys.path_importer_cache.pop(archive, None)


@lazy_zipimport
def test_python_workers_keep_stamped_invalidate_caches(spark):
    """Reused Python workers keep the patch the package installs: after
    a warm-up job that imports the library in every idle worker, each
    task's ``importlib.invalidate_caches()`` re-reads no zip archive."""
    n = spark.sparkContext.defaultParallelism

    def warm(batches):
        from bloom_filters_spark import __version__
        for b in batches:
            yield b.assign(id=len(__version__))

    spark.range(4 * n, numPartitions=4 * n).mapInPandas(
        warm, "id long").collect()

    def report(batches):
        import importlib
        import os
        import zipimport
        for _ in batches:
            pass
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "stamped": [zipimport.zipimporter.invalidate_caches.__module__
                        == "bloom_filters_spark"],
            "rereads": [len(reads)]})

    rows = (spark.range(n, numPartitions=n)
            .mapInPandas(report, "pid long, stamped boolean, rereads long")
            .collect())
    assert len(rows) == n
    assert all(r.stamped for r in rows), rows
    assert all(r.rereads == 0 for r in rows), rows
