"""The engine's worker daemon: a zipimport cache that re-reads an archive
only when it changed, and the session conf that puts it in the workers."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from twittercrawler_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def counted_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in call order,
    with the engine's ``invalidate_caches`` installed for the test."""
    reads = []
    stock_read = zipimport._read_directory

    def read_directory(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    return reads


def test_unchanged_archive_is_read_once(tmp_path, counted_reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    assert counted_reads == [archive]  # the importer's own first read

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert counted_reads == [archive, archive]
    assert importer.find_spec("zmod_a") is not None

    # a second importer of the same unchanged archive adopts that read
    zipimport.zipimporter(archive).invalidate_caches()
    assert counted_reads == [archive, archive]


def test_changed_archive_is_read_again(tmp_path, counted_reads, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zmod_b": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_b", "zmod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_b").X == 1

    importlib.invalidate_caches()
    n = counted_reads.count(archive)
    importlib.invalidate_caches()
    assert counted_reads.count(archive) == n

    _write_zip(archive, {"zmod_b": "X = 1\n", "zmod_c": "Y = 2\n"})
    importlib.invalidate_caches()
    assert counted_reads.count(archive) == n + 1
    assert importlib.import_module("zmod_c").Y == 2


def test_workers_run_the_engine_daemon(spark):
    """Fails if get_spark's spark.python.daemon.module stops taking effect."""

    def probe(batches):
        import zipimport as zi

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zi.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(2, numPartitions=2).mapInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {worker_daemon.__name__}
