"""The worker daemon's stat-checked zip importers: pyspark calls
``importlib.invalidate_caches()`` before every Python task, and the stock
zipimporter answers by re-reading the whole archive directory (~170 ms
per task over pyspark.zip on CPython 3.11). The daemon's
``zipimporter.invalidate_caches`` re-reads only when the archive changed on
disk (daemon_preload.py)."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from vector_tile_go_spark import daemon_preload

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the hook is installed only where invalidate_caches re-reads")


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def isolated_import_state(monkeypatch):
    # install the hook into copies of the import state, restored afterwards
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon_preload._stock_invalidate_caches)
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.setattr(sys, "path", list(sys.path))
    names = [f"zipprobe_{uuid.uuid4().hex[:12]}_m{i}" for i in (1, 2)]
    yield names
    for name in names:
        sys.modules.pop(name, None)


@needs_eager_zip_invalidation
def test_stat_checked_importer(tmp_path, isolated_import_state):
    m1, m2 = isolated_import_state
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {m1: 1})
    daemon_preload.install_stat_checked_zip_importers()
    assert (zipimport.zipimporter.invalidate_caches
            is daemon_preload._stat_checked_invalidate_caches)
    sys.path.insert(0, archive)
    assert importlib.import_module(m1).VALUE == 1
    imp = sys.path_importer_cache[archive]
    assert type(imp) is zipimport.zipimporter

    # unchanged archive: no re-read (the stock method re-reads)
    importlib.invalidate_caches()
    files = imp._files
    importlib.invalidate_caches()
    assert imp._files is files
    stock = zipimport.zipimporter(archive)
    before = stock._files
    daemon_preload._stock_invalidate_caches(stock)
    assert stock._files is not before

    # rewritten archive: picked up
    _write_zip(archive, {m1: 1, m2: 2})
    with pytest.raises(ImportError):
        importlib.import_module(m2)  # negative lookups are cached too
    importlib.invalidate_caches()
    assert imp._files is not files
    assert importlib.import_module(m2).VALUE == 2

    # deleted archive: same state as the stock method leaves
    stock = zipimport.zipimporter(archive)
    os.remove(archive)
    importlib.invalidate_caches()
    daemon_preload._stock_invalidate_caches(stock)
    assert imp._files == stock._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert imp.find_spec(m1) is None and stock.find_spec(m1) is None


@needs_eager_zip_invalidation
def test_existing_importers_are_stat_checked(tmp_path, isolated_import_state):
    # an importer created before the install (as pyspark's are in the
    # daemon) stops re-reading too, and stays its modules' __loader__
    m1, _ = isolated_import_state
    archive = str(tmp_path / "early.zip")
    _write_zip(archive, {m1: 1})
    sys.path.insert(0, archive)
    module = importlib.import_module(m1)
    imp = sys.path_importer_cache[archive]
    daemon_preload.install_stat_checked_zip_importers()
    assert sys.path_importer_cache[archive] is imp is module.__loader__
    files = imp._files
    importlib.invalidate_caches()
    assert imp._files is files


def test_preload_failure_is_reported(monkeypatch, capsys):
    monkeypatch.setattr(daemon_preload, "_PRELOAD",
                        ("numpy", "vector_tile_go_spark.no_such_module"))
    daemon_preload._preload()  # must not raise
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1
    assert "vector_tile_go_spark.no_such_module" in err[0]


@needs_eager_zip_invalidation
def test_worker_zipimporters_are_stat_checked(spark, tmp_path):
    # inside an actual python worker, every zip importer — pyspark's own
    # and one for a zip shipped with addPyFile — is stat-checked: a second
    # invalidate_caches() leaves every archive directory unread
    name = f"pyfile_{uuid.uuid4().hex[:12]}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: 7})
    spark.sparkContext.addPyFile(archive)

    def probe(batches):
        import pandas as pd
        value = importlib.import_module(name).VALUE
        zips = {path: imp for path, imp in sys.path_importer_cache.items()
                if isinstance(imp, zipimport.zipimporter)}
        importlib.invalidate_caches()  # the addPyFile importer's first read
        files = {path: imp._files for path, imp in zips.items()}
        importlib.invalidate_caches()
        rows = [[path, type(imp).invalidate_caches.__name__,
                 str(imp._files is files[path])]
                for path, imp in zips.items()]
        for _ in batches:
            pass
        yield pd.DataFrame({"value": [value], "zips": [rows]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "value long, zips array<array<string>>")
           .collect()[0])
    assert row["value"] == 7
    paths = [path for path, _, _ in row["zips"]]
    assert any(p.endswith("pyspark.zip") for p in paths)
    assert any(p.endswith(f"{name}.zip") for p in paths)
    assert {(method, unread) for _, method, unread in row["zips"]} == {
        ("_stat_checked_invalidate_caches", "True")}
