"""Checkpointed, resumable sketch builds with per-file lineage.

The unit of lineage is the input *file* (stable across runs, unlike Spark
partition ids): each input parquet file's sketch states are written to a
parquet checkpoint table of (file, name, state) rows. Resume = list files,
drop the ones already in the checkpoint, compute only the missing ones,
then tree-merge everything. Because every sketch update is deterministic
(seeded hashes, registerwise max/add merges), the resumed global estimate is
byte-identical to an uninterrupted run — the reference's serialization
round-trip guarantee (testsrc/serial_test.cpp:25-39) lifted to job level.

Each pending file is built by the parquet-direct task body
(``files._feed_units`` over one whole-file unit, fed through
:class:`~sketch_spark.spark.agg.TaskFeed`), so its columns go parquet →
Arrow → NumPy inside the task with no JVM row→Arrow exchange, and
expands its own id→count partials: ``lineage_report``, the SQL functions
and ``rollup_states`` read the rows as finished sketches. Lineage keys are
the absolute paths the driver lists, whatever form ``input_path`` was
given in — so a re-run from a relative path finds its files done (and
checkpoints whose keys came from Spark's absolute ``input_file_name()``
still match). A checkpoint holds one spec set: resuming it with different
spec names raises instead of silently merging a partial set.

This is the Iceberg-snapshot pattern from SURVEY.md §4 implemented over
plain parquet (Iceberg's runtime jars aren't in this sandbox; the layout —
append-only state files + lineage key — is identical, and the writer is a
single `mode=append` swap away from an Iceberg `writeTo`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sketch_spark.sketches.base import Sketch
from sketch_spark.spark.agg import SketchSpec, expand_partials, tree_merge_states
from sketch_spark.spark.files import _feed_units, _n_slices, list_parquet_files


def checkpointed_build(
    spark: SparkSession,
    input_path: str,
    specs: list[SketchSpec],
    ckpt_dir: str,
    fail_after_files: int | None = None,
) -> dict[str, Sketch]:
    """Build global sketches over a parquet directory with per-file
    checkpointing; safe to kill and re-run. Each checkpoint row holds a
    finished sketch: exactly one (file, name, state) row per file and
    spec, never an id→count partial, so a checkpoint table reads like any
    keyed-states table.

    ``fail_after_files`` injects a crash after K files for resume tests.
    """
    all_files = [os.path.abspath(f) for f in list_parquet_files(input_path)]
    if not all_files:
        raise ValueError(f"no parquet files under {input_path!r}")
    done: set[str] = set()
    if os.path.exists(ckpt_dir) and any(
        f.endswith(".parquet") for f in os.listdir(ckpt_dir)
    ):
        seen = spark.read.parquet(ckpt_dir).select("file", "name").distinct().collect()
        done = {r["file"] for r in seen}
        stored, wanted = {r["name"] for r in seen}, {s.name for s in specs}
        if stored != wanted:
            raise ValueError(
                f"checkpoint {ckpt_dir!r} holds specs {sorted(stored)}, not the "
                f"requested {sorted(wanted)} (added {sorted(wanted - stored)}, "
                f"missing {sorted(stored - wanted)}): use a new checkpoint directory"
            )
    pending = [f for f in all_files if f not in done]
    todo = pending[:fail_after_files] if fail_after_files is not None else pending
    if todo:
        def task(files):
            for f in files:
                feed = _feed_units([(f, None, None)], specs)
                for (_, name), sk in expand_partials(feed.partial()).items():
                    yield f, name, sk.to_bytes()

        rows = spark.sparkContext.parallelize(todo, _n_slices(spark, len(todo))).mapPartitions(task)
        states = spark.createDataFrame(rows, "file string, name string, state binary")
        states.write.mode("append").parquet(ckpt_dir)
    if len(todo) < len(pending):
        raise RuntimeError("injected failure: checkpoint incomplete")

    # final merge over all checkpointed states (tiny: |files|×|specs| rows)
    return tree_merge_states(spark.read.parquet(ckpt_dir))


def lineage_report(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Which input files are covered by the checkpoint (audit surface)."""
    return (
        spark.read.parquet(ckpt_dir)
        .groupBy("file")
        .agg(F.count("*").alias("n_states"), F.collect_set("name").alias("sketches"))
        .orderBy("file")
    )
