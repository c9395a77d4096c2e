"""The worker-only zip-import stamp rule (``bloom_filter_spark.zipcache``).

The unit tests install the hook in the test process with
``TaskContext.get`` patched to return a stub, and count
``zipimport._read_directory`` calls over a temporary archive; the Spark test
counts them inside real engine tasks.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from bloom_filter_spark import zipcache


@pytest.fixture
def in_task(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    yield
    zipimport.zipimporter.invalidate_caches = original


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_module(archive, 1)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "m", raising=False)
    yield archive
    sys.modules.pop("m", None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.fixture
def reads(monkeypatch):
    calls = []
    original = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _write_module(archive, value):
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m.py", f"VALUE = {value}\n")


def test_unchanged_archive_is_not_reread(in_task, zip_module, reads):
    import m
    assert m.VALUE == 1
    assert zipcache.install()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(zip_module) not in reads


def test_rewritten_archive_is_reread(in_task, zip_module, reads):
    import m
    assert m.VALUE == 1
    assert zipcache.install()
    reads.clear()
    _write_module(zip_module, 22)
    importlib.invalidate_caches()
    assert reads.count(str(zip_module)) == 1
    del sys.modules["m"]
    import m
    assert m.VALUE == 22
    importlib.invalidate_caches()
    assert reads.count(str(zip_module)) == 1


def test_deleted_archive_falls_back(in_task, zip_module, reads):
    import m  # noqa: F401
    assert zipcache.install()
    reads.clear()
    zip_module.unlink()
    importlib.invalidate_caches()
    assert reads.count(str(zip_module)) == 1
    assert sys.path_importer_cache[str(zip_module)]._files == {}


def test_second_install_is_a_no_op(in_task):
    assert zipcache.install()
    hooked = zipimport.zipimporter.invalidate_caches
    assert zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is hooked
    assert hooked.__wrapped__.__module__ == "zipimport"


def test_not_installed_outside_a_task(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: None))
    assert not zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_not_installed_on_python_3_13(in_task, monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_engine_tasks_read_no_zip_directory(spark):
    """Every engine task reports the hook on and no zip directory re-read;
    the driver's importers are untouched."""
    import pyarrow as pa

    def probe(batches):
        import importlib as il
        import zipimport as zi

        import bloom_filter_spark
        calls = []
        original = zi._read_directory

        def counted(archive):
            calls.append(archive)
            return original(archive)

        zi._read_directory = counted
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = original
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "installed": [bloom_filter_spark.zipcache.installed()],
            "reads": pa.array([len(calls)], pa.int32()),
        })

    original = zipimport.zipimporter.invalidate_caches
    rows = (spark.range(0, 16, numPartitions=16)
            .mapInArrow(probe, "installed boolean, reads int").collect())
    assert len(rows) == 16
    assert all(r.installed for r in rows), rows
    assert [r.reads for r in rows] == [0] * 16
    assert zipimport.zipimporter.invalidate_caches is original
    assert not zipcache.installed()
