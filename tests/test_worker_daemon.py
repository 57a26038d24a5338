"""The engine's Python worker daemon (gdal_spark.worker_daemon)."""

import importlib.util
import os
import zipfile
import zipimport

import pandas as pd

from gdal_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path,
                                                          monkeypatch):
    arch = str(tmp_path / "mods.zip")
    _write_zip(arch, {"zd_first": "X = 1\n"})
    imp = zipimport.zipimporter(arch)

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 1
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 1

    _write_zip(arch, {"zd_first": "X = 1\n", "zd_second": "Y = 2\n"})
    worker_daemon.invalidate_caches(imp)
    assert len(reads) == 2
    spec = imp.find_spec("zd_second")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_missing_archive_takes_the_stdlib_path(tmp_path):
    arch = str(tmp_path / "gone.zip")
    _write_zip(arch, {"zd_gone": "Z = 3\n"})
    imp = zipimport.zipimporter(arch)
    os.remove(arch)
    worker_daemon.invalidate_caches(imp)
    assert imp._files == {}


def test_workers_fork_from_the_engine_daemon(spark):
    def probe(batches):
        import gc
        import zipimport as zi
        for _ in batches:
            yield pd.DataFrame({
                "module": [zi.zipimporter.invalidate_caches.__module__],
                "frozen": [gc.get_freeze_count()]})

    row = spark.range(4).repartition(1).mapInPandas(
        probe, "module string, frozen long").collect()[0]
    assert row.module == "gdal_spark.worker_daemon"
    assert row.frozen > 0
