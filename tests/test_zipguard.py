"""The zip-import guard (graphscope_spark._zipguard): inside a Spark Python
worker, ``importlib.invalidate_caches()`` re-reads a zip's directory only
when the zip changed; the driver keeps the stock importer."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.core.files import SparkFiles

from graphscope_spark import _zipguard


def _write_zip(path: str, modules: dict) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def guarded(monkeypatch):
    """The guard as a worker installs it, undone after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert _zipguard.install()
    assert not _zipguard.install()  # idempotent: wrapped once


def test_install_is_a_no_op_on_the_driver(monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    stock = zipimport.zipimporter.invalidate_caches
    assert not _zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    assert stock.__module__ == "zipimport"


def test_unchanged_zip_is_not_reread_changed_zip_is(tmp_path, monkeypatch,
                                                    guarded):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"gs_zipguard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("gs_zipguard_a", "gs_zipguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gs_zipguard_a").X == 1
    importlib.invalidate_caches()  # first guarded call: reads, keys

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"gs_zipguard_a": "X = 1\n",
                         "gs_zipguard_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("gs_zipguard_b").Y == 2


def test_worker_runs_the_guard_driver_keeps_stock(spark):
    def _report(it):
        import graphscope_spark  # noqa: F401  (installs the guard)

        importlib.invalidate_caches()  # keys every importer
        zips = [v for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)]
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        method = zipimport.zipimporter.invalidate_caches
        for _ in it:
            pass
        yield pd.DataFrame({"guarded": [hasattr(method, "stock")],
                            "module": [method.__module__],
                            "zips": [len(zips)], "reads": [len(reads)]})

    schema = "guarded boolean, module string, zips long, reads long"
    for _ in range(2):  # later jobs run on reused workers
        rows = (spark.range(2).repartition(2)
                .mapInPandas(_report, schema).collect())
        assert len(rows) == 2
        for r in rows:
            assert r["guarded"] and r["module"] == "graphscope_spark._zipguard"
            assert r["zips"] > 0 and r["reads"] == 0, r
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == "zipimport" and not hasattr(method, "stock")
