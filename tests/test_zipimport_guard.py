"""The worker-side zipimport guard (cuckoo_filter_spark/zipimport_guard.py):
a repeat importlib.invalidate_caches() must not re-read an unchanged zip
archive's directory, must still re-read a changed one, must fall back to
the original behaviour for a removed one, and is a no-op on CPython >=
3.12 and outside Spark tasks."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from cuckoo_filter_spark import zipimport_guard

needs_eager_rescan = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 re-reads zip directories lazily")


@pytest.fixture
def in_task(monkeypatch):
    """Pretend to be inside a Spark task; restore zipimporter after."""
    from pyspark.taskcontext import TaskContext

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(TaskContext, "_taskContext", object())


def _write_zip(path, module, value):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{module}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """(archive path, module name) of a fresh zip on sys.path."""
    archive = str(tmp_path / "mods.zip")
    module = f"zg_{uuid.uuid4().hex}"
    _write_zip(archive, module, 1)
    monkeypatch.syspath_prepend(archive)
    yield archive, module
    sys.modules.pop(module, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose directory zipimport reads, in call order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@needs_eager_rescan
def test_unchanged_archive_is_not_reread(in_task, zip_module, reads):
    archive, module = zip_module
    assert zipimport_guard.install()
    assert importlib.import_module(module).VALUE == 1
    importlib.invalidate_caches()  # first sighting: a real read
    primed = reads.count(archive)
    assert primed >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == primed
    importer = sys.path_importer_cache[archive]
    assert importer._files is zipimport._zip_directory_cache[archive]


@needs_eager_rescan
def test_rewritten_archive_is_reread(in_task, zip_module, reads):
    archive, module = zip_module
    assert zipimport_guard.install()
    assert importlib.import_module(module).VALUE == 1
    importlib.invalidate_caches()
    primed = reads.count(archive)
    _write_zip(archive, module, "two")
    sys.modules.pop(module)
    importlib.invalidate_caches()
    assert reads.count(archive) == primed + 1
    assert importlib.import_module(module).VALUE == "two"


@needs_eager_rescan
def test_removed_archive_takes_the_original_path(in_task, zip_module):
    archive, module = zip_module
    assert zipimport_guard.install()
    assert importlib.import_module(module).VALUE == 1
    importlib.invalidate_caches()
    os.remove(archive)
    sys.modules.pop(module)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(module)


def test_install_is_idempotent(in_task):
    original = zipimport.zipimporter.invalidate_caches
    installed = zipimport_guard.install()
    assert installed == (sys.version_info < (3, 12))
    guarded = zipimport.zipimporter.invalidate_caches
    assert zipimport_guard.install() == installed
    assert zipimport.zipimporter.invalidate_caches is guarded
    if installed:
        assert guarded.__wrapped__ is original


def test_noop_on_312_and_later(in_task, monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not zipimport_guard.install()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not zipimport_guard.installed()


def test_noop_outside_a_task(monkeypatch):
    """The driver's interpreter is never touched."""
    from pyspark.taskcontext import TaskContext

    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(TaskContext, "_taskContext", None)
    assert not zipimport_guard.install()
    assert zipimport.zipimporter.invalidate_caches is original


@needs_eager_rescan
def test_workers_skip_the_per_task_rescan(spark):
    """A task that imports the package installs the guard in its worker;
    after that a worker's importlib.invalidate_caches() (pyspark calls it
    before every task) no longer re-reads the Spark jar and pyspark.zip
    (100-260 ms per call without the guard)."""
    df = spark.range(0, 4, numPartitions=4)

    def load(batches):
        import cuckoo_filter_spark  # noqa: F401

        yield from batches

    df.mapInArrow(load, df.schema).collect()

    def report(batches):
        import importlib
        import os
        import time

        import pyarrow as pa

        from cuckoo_filter_spark import zipimport_guard

        # a worker the first job did not use stamps its archives here
        importlib.invalidate_caches()
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [zipimport_guard.installed()],
            "ms": [ms]})

    rows = df.mapInArrow(
        report, "pid long, installed boolean, ms double").collect()
    assert len(rows) == 4
    assert all(r["installed"] for r in rows), rows
    assert max(r["ms"] for r in rows) < 50, rows
