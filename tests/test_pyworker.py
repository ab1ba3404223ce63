"""The local Python worker daemon (`citegraph_spark.pyworker`): a task's
`importlib.invalidate_caches()` re-reads no zip archive that has not
changed, and still sees archives and modules that are new or changed."""

from __future__ import annotations

import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from citegraph_spark import pyworker


@pytest.fixture
def read_counter(monkeypatch):
    """Count `zipimport._read_directory` calls (one per archive read)."""
    calls = []
    stock = zipimport._read_directory

    def counted(path):
        calls.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    module = type(sys)(name)
    spec.loader.exec_module(module)
    return module


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stock method kept from 3.13")
def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch, read_counter):
    monkeypatch.setattr(pyworker, "_directories", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    pyworker.install()
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"mod_a": "VALUE = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    read_counter.clear()

    # unchanged: read at most once, however many invalidations
    imp.invalidate_caches()
    imp.invalidate_caches()
    zipimport.zipimporter(str(archive)).invalidate_caches()
    assert len(read_counter) <= 1
    assert _load(imp, "mod_a").VALUE == 1

    # rewritten with a new size: read again, and the new module imports
    _write_zip(archive, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    read_counter.clear()
    imp.invalidate_caches()
    assert len(read_counter) == 1
    assert _load(imp, "mod_b").VALUE == 2

    # same size, new mtime: read again
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    read_counter.clear()
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert len(read_counter) == 1

    # deleted: the importer holds no files
    archive.unlink()
    imp.invalidate_caches()
    assert imp._files == {}


def test_install_keeps_stock_method_from_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_local_workers_run_the_daemon(spark):
    def _worker_invalidation(batches):
        """mapInArrow body: which `invalidate_caches` the worker runs, and how
        many archives `importlib.invalidate_caches()` re-reads in it."""
        import importlib
        import zipimport

        import pyarrow as pa

        calls = []
        stock = zipimport._read_directory

        def counted(path):
            calls.append(path)
            return stock(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"method": [f"{method.__module__}.{method.__qualname__}"], "reads": [len(calls)]}
        )

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "citegraph_spark.pyworker"
    df = spark.range(800).coalesce(1)
    for _ in range(2):
        (row,) = df.mapInArrow(_worker_invalidation, "method string, reads long").collect()
    if sys.version_info < (3, 13):
        assert row["method"] == "citegraph_spark.pyworker._invalidate_caches"
    else:
        assert row["method"] == "zipimport.zipimporter.invalidate_caches"
    assert row["reads"] == 0


def test_added_py_files_import_in_the_next_task(spark, tmp_path):
    """Files shipped with `addPyFile` mid-session, a module and a zip
    archive, import in the next Python task."""
    import pyarrow as pa

    tag = uuid.uuid4().hex[:12]
    py_name, zip_name = f"shipped_py_{tag}", f"shipped_zip_{tag}"
    py_file = tmp_path / f"{py_name}.py"
    py_file.write_text("VALUE = 3\n")
    zip_file = tmp_path / f"{zip_name}.zip"
    _write_zip(zip_file, {zip_name: "VALUE = 4\n"})
    sc = spark.sparkContext
    df = spark.range(1).coalesce(1)
    df.mapInArrow(lambda it: it, df.schema).collect()  # a warm worker
    sc.addPyFile(str(py_file))
    sc.addPyFile(str(zip_file))

    def imports(batches):
        import importlib

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"v": [importlib.import_module(m).VALUE for m in (py_name, zip_name)]}
        )

    got = [r["v"] for r in df.mapInArrow(imports, "v long").collect()]
    assert sorted(got) == [3, 4]
