"""SparkSession builder tuned for the sketch workload (local or cluster), the
zip-import fix that every process importing the package applies, the driver
and each Python worker alike, and the heap freeze that only a reused Python
worker applies."""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark.sql import SparkSession


def skip_unchanged_zip_rereads() -> None:
    """Make a zip archive's import index re-read only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every task
    body. On CPython 3.11 and 3.12 that makes every cached ``zipimporter``
    re-read its archive's central directory: ``pyspark.zip`` (1 328 entries)
    once per imported pyspark subpackage and Spark's core jar (5 359
    entries, also on the worker ``PYTHONPATH``), 0.1-0.3 s per task in a
    warm worker. Wrap ``zipimporter.invalidate_caches`` so it calls the
    original only when the archive's ``(st_mtime_ns, st_size)`` differs from
    the stamp taken at that importer's last re-read; a failed ``os.stat``
    always re-reads. That is the rule ``FileFinder`` applies to directories.
    An importer with no stamp yet re-reads once, because a stamp taken later
    than its own read could hide a change made in between. On 3.13, where
    the original only drops the cached index, the same rule holds.

    Idempotent: a second call, a second import or a reload wraps once. Known
    limit: a fresh worker's first task still pays the re-read, because the
    wrapper is installed only when that task imports ``sketch_spark``; its
    second task pays it once more, stamping each importer.
    """
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def freeze_worker_heap() -> None:
    """Move a reused Python worker's import heap out of the cyclic collector.

    Spark's worker daemon (``pyspark.daemon``) forks the Python workers and
    runs a full ``gc.collect()`` after every task in a reused one. Once the
    package is imported, that collection walks about 75 000 tracked objects,
    32-70 ms per worker per task, while the driver folds the job's states
    and launches the next job. In a process whose ``__main__`` is
    ``pyspark.daemon`` (a forked worker; the daemon itself never imports the
    package), import ``pyarrow.parquet``, the one heavy module the task
    bodies import lazily, run one ``gc.collect()`` and ``gc.freeze()``: the
    per-task collection then takes about 0.1 ms. Every other process (the
    driver, a script, a non-daemon worker) is left alone.

    Idempotent: nothing happens once the process holds frozen objects.
    Known limit: every object alive at that first import is frozen too, and
    the cyclic collector never reclaims it. That is the first task's
    deserialized command, once per worker lifetime. Modules imported by
    later tasks stay unfrozen; after global and keyed builds a warm worker
    held 75 251 frozen objects and 50 unfrozen ones.
    """
    main = sys.modules.get("__main__")
    if getattr(getattr(main, "__spec__", None), "name", None) != "pyspark.daemon":
        return
    if gc.get_freeze_count():
        return
    import pyarrow.parquet  # noqa: F401

    gc.collect()
    gc.freeze()


def get_spark(
    cores: int | None = None,
    app: str = "sketch_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with the knobs that matter for Arrow-batched sketch builds.

    On a real cluster these come from spark-submit; in the sandbox we run
    local[N]. AQE stays on (runtime coalescing + skew-join splitting), Arrow
    exchange on, and maxRecordsPerBatch sized so a batch of token arrays
    (~256 tokens/row) stays in the tens-of-MB range per the SURVEY.md §7
    risk note.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # make the package importable in executor Python workers no matter where
    # the driver script lives (cluster deploys ship it via spark-submit
    # --py-files; local workers read PYTHONPATH at launch)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
