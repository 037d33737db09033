"""The worker-side zipimporter fix: importlib.invalidate_caches() re-reads a
zip archive's central directory only when the archive changed."""

import importlib
import sys
import types
import zipfile
import zipimport

import pyarrow as pa
import pytest

from epichypersketch_jl_spark import session


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_read_once_changed_archive_reread(tmp_path, monkeypatch):
    # the engine's method on the driver, with fresh stamps; monkeypatch
    # restores the stdlib method afterwards
    monkeypatch.setattr(session, "_ZIP_STAMPS", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", session._reuse_zip_directory)
    archive = tmp_path / "zr_lib.zip"
    _write_zip(archive, {"zr_alpha": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zr_alpha").X == 1
        importlib.invalidate_caches()  # first call records the stamp

        reads = []
        real_read = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
        )
        for _ in range(5):
            importlib.invalidate_caches()
        assert str(archive) not in reads

        _write_zip(archive, {"zr_alpha": "X = 1\n", "zr_beta": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("zr_beta").Y == 2
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
    finally:
        for name in ("zr_alpha", "zr_beta"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_install_only_in_worker_with_eager_stdlib(monkeypatch):
    stdlib = session._EAGER_ZIP_INVALIDATE
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    session.install_zip_directory_reuse()
    assert zipimport.zipimporter.invalidate_caches is stdlib  # driver: untouched

    monkeypatch.setitem(sys.modules, "pyspark.worker", types.ModuleType("pyspark.worker"))
    session.install_zip_directory_reuse()
    expected = stdlib if hasattr(zipimport.zipimporter, "_get_files") else session._reuse_zip_directory
    assert zipimport.zipimporter.invalidate_caches is expected


def test_worker_uses_engine_invalidate(spark):
    """A task that references an engine function runs in a worker whose
    zipimporter.invalidate_caches is the engine's."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        pytest.skip("this CPython's zipimporter reads lazily; nothing to install")
    reuse = session._reuse_zip_directory
    schema = pa.schema([("engine", pa.bool_())])

    def probe(batches):
        import zipimport as zi

        for b in batches:
            flag = zi.zipimporter.invalidate_caches is reuse
            yield pa.RecordBatch.from_pydict({"engine": [flag] * b.num_rows}, schema=schema)

    rows = spark.range(0, 8, numPartitions=4).mapInArrow(probe, "engine boolean").collect()
    assert len(rows) == 8 and all(r.engine for r in rows)
