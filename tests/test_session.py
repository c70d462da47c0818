"""Per-task Python worker costs that importing ``sketch_spark`` removes.

Zip import index re-reads (``session.skip_unchanged_zip_rereads``): PySpark's
worker calls ``importlib.invalidate_caches()`` before every task; on CPython
3.11 each call made every cached ``zipimporter`` re-read its archive's
central directory. Importing ``sketch_spark`` installs a wrapper that
re-reads only when the archive's ``(st_mtime_ns, st_size)`` changed.

The worker heap freeze (``session.freeze_worker_heap``): Spark's worker
daemon runs a full ``gc.collect()`` after every task in a reused worker;
importing ``sketch_spark`` in a daemon-forked worker freezes the import heap
once, so that collection no longer walks it. Other processes are untouched.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import sketch_spark.spark.session as session


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding one module, on ``sys.path``, the module imported."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipstamp_a"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zipstamp_a").NAME == "zipstamp_a"
    yield archive
    for name in ("zipstamp_a", "zipstamp_b", "zipstamp_c"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def read_count(monkeypatch):
    """Counts ``zipimport._read_directory`` calls from now on."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(zip_on_path, read_count):
    # the importer's first call re-reads once and stamps it: a stamp taken
    # later than the importer's own read could hide a change made in between
    importlib.invalidate_caches()
    assert zip_on_path in read_count
    read_count.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_count == []


def test_rewritten_archive_is_reread(zip_on_path, read_count):
    # rewritten before the importer's first invalidation: no stamp yet must
    # mean a re-read, or the new module stays invisible
    _write_zip(zip_on_path, ["zipstamp_a", "zipstamp_b"])
    importlib.invalidate_caches()
    assert importlib.import_module("zipstamp_b").NAME == "zipstamp_b"
    # and once more after a stamped, skipped invalidation
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ["zipstamp_a", "zipstamp_b", "zipstamp_c"])
    read_count.clear()
    importlib.invalidate_caches()
    assert read_count == [zip_on_path]
    assert importlib.import_module("zipstamp_c").NAME == "zipstamp_c"


def test_wraps_once():
    installed = zipimport.zipimporter.invalidate_caches
    session.skip_unchanged_zip_rereads()
    session.skip_unchanged_zip_rereads()
    importlib.reload(session)
    session.skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_warm_executor_worker_reads_no_zip_directory(spark):
    sc = spark.sparkContext

    def import_package(it):
        import sketch_spark  # noqa: F401

        yield 1

    def reads_during_invalidate(it):
        import importlib
        import sys
        import zipimport

        calls = []
        real = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield len(calls), zips

    # many more tasks than idle workers: every pooled worker (the pool hands
    # out the longest-idle one first) imports the package, installing the
    # wrapper; the next task's pre-task invalidation stamps its importers
    n = sc.defaultParallelism
    warm = sc.parallelize(range(8 * n), 8 * n).mapPartitions(import_package)
    assert sum(warm.collect()) == 8 * n
    got = sc.parallelize(range(n), n).mapPartitions(reads_during_invalidate).collect()
    assert len(got) == n
    # the workers do import from zips (pyspark.zip, py4j, Spark's core jar)
    assert all(zips > 0 for _, zips in got)
    assert [reads for reads, _ in got] == [0] * n


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(code):
    """stdout of ``code`` run by a fresh interpreter that can import the
    package."""
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-c", code], env=env, check=True, capture_output=True, text=True
    ).stdout.split()


def test_driver_heap_is_not_frozen():
    assert _python("import sketch_spark, gc; print(gc.get_freeze_count())") == ["0"]


def test_daemon_worker_freezes_once():
    # a process whose __main__ is pyspark.daemon, as in a forked worker
    got = _python(
        "import gc, sys, types\n"
        "sys.modules['__main__'].__spec__ = types.SimpleNamespace(name='pyspark.daemon')\n"
        "import sketch_spark\n"
        "from sketch_spark.spark.session import freeze_worker_heap\n"
        "first = gc.get_freeze_count()\n"
        "freeze_worker_heap()\n"
        "print(first, gc.get_freeze_count(), 'pyarrow.parquet' in sys.modules)"
    )
    assert int(got[0]) > 0 and got[1] == got[0] and got[2] == "True"


def test_warm_executor_worker_heap_is_frozen(spark):
    sc = spark.sparkContext

    def import_package(it):
        import sketch_spark  # noqa: F401

        yield 1

    def gc_probe(it):
        import gc

        from sketch_spark.spark.session import freeze_worker_heap

        frozen, live = gc.get_freeze_count(), len(gc.get_objects())
        freeze_worker_heap()
        yield frozen, live, gc.get_freeze_count()

    # every pooled worker imports the package (see the zip test above)
    n = sc.defaultParallelism
    warm = sc.parallelize(range(8 * n), 8 * n).mapPartitions(import_package)
    assert sum(warm.collect()) == 8 * n
    got = sc.parallelize(range(n), n).mapPartitions(gc_probe).collect()
    assert len(got) == n
    for frozen, live, again in got:
        assert frozen > 0
        # what the per-task gc.collect() still walks: the probe task itself
        assert live < frozen / 100
        assert again == frozen  # a second call freezes nothing new
