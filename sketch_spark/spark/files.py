"""Parquet-direct distributed sketch build: Spark schedules file tasks,
pyarrow reads columns inside them.

Why this path exists: Spark's Python exchange converts a parquet scan
columnar→InternalRow→Arrow *per row* before a `mapInArrow` UDF sees it. For
wide `array<int32>` token columns that JVM conversion costs ~10× more than
the sketch kernels themselves (measured: an 18M-token scan spends ~13-18 s
in conversion vs ~0.25 s/partition in NumPy updates). Reading the parquet
columns directly with pyarrow inside each task skips the double conversion
— the bytes go parquet → Arrow → NumPy zero-copy — and gives *true* column
pruning (only the sketched columns are read at all).

Scale design: the work unit is the input file (at 100 TB, files ≫ cores, so
Spark's scheduler balances them) or, with fewer files than cores, a
row-group range; units are range-sliced into about one task per core, and
per-task pyarrow runs single-threaded to avoid oversubscribing executor
cores — Spark owns the parallelism. Each task emits at most one
(name, state) pair per spec or counted column, and the pairs merge
through the one log-fanout tree of ``agg.tree_merge_states``, kilobytes
to a few MB per task regardless of input size.
This is the same execution shape as the reference's MPI job
(mpiParallelIO.cpp: chunked parallel read → local sketch → gathered merge)
with Spark doing the scheduling, retries, and the tree correctly (the
reference's own tree combine is disabled as buggy, mpiParallelIO.cpp:83-84).

Vocabulary pre-aggregation: every task body here — global, grouped and
checkpointed — feeds one :class:`~sketch_spark.spark.agg.TaskFeed`, the
library's only update loop, and ends in its ``partial()``. Segments whose
ids all lie in [0, 2^22) (``agg.DENSE_CAP``) are bincounted per (column,
key), within DENSE_CAP int64 counters per column per task; every other
segment and kind — the batch-boundary-dependent pccm/cbf/pcbf/vac/hk
included — gets the raw stream. A counted (column, key) ships as one
exact id→count partial in place of the sketches whose kind declares
``Sketch.preaggregate`` when that is the cheaper state. Partials sum in
the same folds as every other state, and the last fold feeds the merged
distinct ids once to those sketches (``agg.expand_partials``): the
driver's fold of the global tree, or the keyed reducer. Only the
checkpoint expands in the task, so each of its rows is a finished sketch.
A tokenizer vocabulary that repeats 50 k ids millions of times is hashed
once per job (or key) instead of once per token, and the pre-aggregating
kinds give the same bytes under any split of their input.

The DataFrame path (`sketch_spark.spark.agg`) remains the general route for
sketching *derived* DataFrames (post-filter/join/column-expr); this module
is the fast path for whole-table builds, and the two produce byte-identical
states (tested)."""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import SparkSession

from sketch_spark.sketches.base import Sketch
from sketch_spark.spark.agg import (
    FLUSH_KEYS,
    SketchSpec,
    TaskFeed,
    _keyed_partial,
    _per_spec,
    merge_keyed_states,
    tree_merge_states,
)


def list_parquet_files(path_or_files: str | list[str]) -> list[str]:
    if isinstance(path_or_files, (list, tuple)):
        return sorted(path_or_files)
    if os.path.isfile(path_or_files):
        return [path_or_files]
    return sorted(
        os.path.join(path_or_files, f)
        for f in os.listdir(path_or_files)
        if f.endswith(".parquet")
    )


def _read_unit(unit: tuple, cols: list[str]) -> pa.Table:
    """Read one work unit's columns with single-threaded pyarrow (Spark owns
    core-level parallelism). A unit is (path, rg_lo, rg_hi): a contiguous
    row-group range, or the whole file when rg_lo is None."""
    import pyarrow.parquet as pq

    path, rg_lo, rg_hi = unit
    with pq.ParquetFile(path) as pf:
        if rg_lo is None:
            # ParquetFile.read, not pq.read_table: the same table without the
            # dataset layer's per-call set-up (≈ 1 ms per file)
            return pf.read(columns=cols, use_threads=False)
        return pf.read_row_groups(list(range(rg_lo, rg_hi)), columns=cols, use_threads=False)


def _feed_units(
    units: Iterable[tuple], specs: list[SketchSpec], row_filter=None, extra_columns=()
) -> TaskFeed | None:
    """Task body: read the needed columns of each work unit and feed them
    to one :class:`~sketch_spark.spark.agg.TaskFeed`; None when there were
    no units."""
    task = TaskFeed(specs)
    cols = sorted({s.col for s in specs} | set(extra_columns))
    any_unit = False
    for unit in units:
        any_unit = True
        table = _read_unit(unit, cols)
        if row_filter is not None:
            table = row_filter(table)
        task.feed(table)
    return task if any_unit else None


def _build_states_for_units(
    units: Iterable[tuple],
    specs: list[SketchSpec],
    row_filter=None,
    extra_columns=(),
) -> Iterator[tuple[str, bytes]]:
    """The (name, state bytes) pairs of the fed task's
    :meth:`~sketch_spark.spark.agg.TaskFeed.partial`, and nothing when
    there were no units."""
    task = _feed_units(units, specs, row_filter, extra_columns)
    if task is not None:
        for (_, name), sk in task.partial().items():
            yield name, sk.to_bytes()


def _n_slices(spark: SparkSession, n_units: int) -> int:
    """Tasks sized to the cluster: ~1 slice per core (each task pre-merges
    its units locally and ships ONE state set), but never fewer than
    units/8 so a straggler unit can't dominate a slice on a big cluster."""
    return min(n_units, max(spark.sparkContext.defaultParallelism, n_units // 8))


def _plan_units(files: list[str], target: int) -> list[tuple]:
    """Work units sized to the cluster. With files ≫ cores (the 100 TB
    case) each unit is a whole file. With FEWER files than cores (one big
    parquet per table — the driver's testdata shape), split each file into
    contiguous row-group ranges so the scan still uses every core; the
    row group is parquet's natural split unit (footer metadata only —
    no data read at planning time)."""
    if len(files) >= target:
        return [(f, None, None) for f in files]
    import pyarrow.parquet as pq

    per_file = max(1, target // len(files))
    units: list[tuple] = []
    for f in files:
        n_rg = pq.ParquetFile(f).metadata.num_row_groups
        k = min(per_file, n_rg)
        bounds = [round(i * n_rg / k) for i in range(k + 1)]
        units.extend((f, bounds[i], bounds[i + 1]) for i in range(k) if bounds[i] < bounds[i + 1])
    return units


# Spark SQL type → the Arrow type Spark's Python runner expects for that
# column in a mapInArrow OUTPUT batch (Spark does not cast here — the task
# normalizes parquet-dialect types like large_string to these). Timestamp
# keys are handled separately: their Arrow type carries the session
# timezone, read from the conf at plan time.
_SPARK_TO_ARROW = {
    "tinyint": pa.int8(),
    "smallint": pa.int16(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "string": pa.string(),
    "date": pa.date32(),
    "boolean": pa.bool_(),
}

# minimal pyarrow → Spark SQL type map for GROUP-KEY columns (the key rides
# through the phase-1 partial batches and the phase-2 merge schema; value
# columns never need this — they stay NumPy inside the task)
_ARROW_TO_SPARK = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "date32[day]": "date",
    "bool": "boolean",
}


def sketch_by_key_from_parquet(
    spark: SparkSession,
    path_or_files: str | list[str],
    key: str | list[str],
    specs: list[SketchSpec],
    weight_col: str | None = None,
    flush_keys: int | None = None,
) -> "DataFrame":
    """Grouped sketches, parquet-direct: the fast path of
    :func:`sketch_spark.spark.agg.sketch_by_key` for whole-table builds.

    Same two-phase shape — map-side per-key partials, one shuffle of
    kilobyte states — but phase 1 reads the parquet columns with pyarrow
    inside each Spark task instead of going through the JVM row→Arrow
    exchange, which for array<int32> token columns costs ~8× the kernels
    themselves (module docstring above; measured). Output contract is
    identical to ``sketch_by_key``: a DataFrame (keys..., name, state)
    with the key column(s) in their native types; ``key`` may be one
    column or a list (fine-granularity builds for
    :func:`sketch_spark.spark.agg.rollup_states`).

    Each task feeds its whole unit tables to one keyed
    :class:`~sketch_spark.spark.agg.TaskFeed`, which pre-aggregates dense
    ids per (column, key) as the global builds do, and ships its
    ``partial()``; the keyed reducer expands the partials. States are
    byte-identical to the DataFrame path for the partitioning-invariant
    kinds (hll/bloom/cms/minhash/…, the §5 merge invariant) —
    regression-tested; the batch-boundary-dependent kinds see one update
    per unit here and one per Arrow batch there."""
    import pyarrow.parquet as pq

    files = list_parquet_files(path_or_files)
    if not files:
        raise ValueError(f"no parquet files under {path_or_files!r}")
    keys = [key] if isinstance(key, str) else list(key)
    schema_arrow = pq.ParquetFile(files[0]).schema_arrow
    key_types = []
    for k in keys:
        arrow_key_t = str(schema_arrow.field(k).type)
        kt = _ARROW_TO_SPARK.get(arrow_key_t)
        if kt is None:
            if arrow_key_t.startswith("timestamp"):
                kt = "timestamp"
            else:
                raise ValueError(f"unsupported group-key arrow type {arrow_key_t!r}")
        key_types.append(kt)
    cols = sorted({s.col for s in specs} | set(keys) | ({weight_col} if weight_col else set()))

    units = _plan_units(files, spark.sparkContext.defaultParallelism)

    # Arrow-native phase-1 handoff: the partial batches `_keyed_partial`
    # emits are ALREADY Arrow, so ship them through mapInArrow unchanged
    # instead of round-tripping per-key states through to_pylist() +
    # createDataFrame (Python-object materialization of every state blob).
    # The units ride in as a tiny DataFrame built from a parallelize() RDD,
    # which keeps the deterministic range slicing of the unit list (a
    # repartition() round-robin would not be retry-stable, and unit→task
    # assignment is part of the byte-identity story for the
    # batch-boundary-dependent kinds).
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    target = pa.schema(
        [
            pa.field(
                k,
                pa.timestamp("us", tz=session_tz) if t == "timestamp" else _SPARK_TO_ARROW[t],
            )
            for k, t in zip(keys, key_types)
        ]
        + [pa.field("name", pa.string()), pa.field("state", pa.binary())]
    )

    def task(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tables = (
            _read_unit(unit, cols)
            for b in it
            for unit in zip(*(b.column(i).to_pylist() for i in range(3)))
        )
        for out in _keyed_partial(tables, keys, specs, weight_col, flush_keys or FLUSH_KEYS):
            # parquet key types can differ in spelling from Spark's Arrow
            # dialect (large_string, naive timestamps) — normalize
            yield out if out.schema == target else out.cast(target)

    unit_rows = spark.sparkContext.parallelize(units, _n_slices(spark, len(units)))
    units_df = spark.createDataFrame(unit_rows, "path string, rg_lo int, rg_hi int")
    schema = ", ".join([f"{k} {t}" for k, t in zip(keys, key_types)] + ["name string", "state binary"])
    partials = units_df.mapInArrow(task, schema)
    return merge_keyed_states(partials, keys, key_types)


def build_sketches_from_parquet(
    spark: SparkSession,
    path_or_files: str | list[str],
    specs: list[SketchSpec],
    row_filter=None,
    extra_columns: tuple[str, ...] = (),
) -> dict[str, Sketch]:
    """Whole-table sketch build, parquet-direct: the input files are
    planned into work units (whole files, or row-group ranges when there
    are fewer files than cores), the units are range-sliced into about one
    Spark task per core, and each task feeds its units to one
    :class:`~sketch_spark.spark.agg.TaskFeed` and ships its
    ``partial()``: a state per raw-fed spec plus, per counted column, an
    exact id→count partial in place of the pre-aggregating sketches when
    that is smaller. The states go through the merge tree of
    :func:`~sketch_spark.spark.agg.tree_merge_states`, the partials summing
    like any other state, and its driver fold feeds the merged counts once
    to the specs they stand in for. Returns one sketch per spec name, in
    spec order, byte-identical to a build that fed every task's ids in the
    task.

    ``row_filter``: optional ``pa.Table -> pa.Table`` applied per unit (the
    pushdown hook for simple predicates; must be deterministic).
    ``extra_columns``: columns the filter needs beyond the sketched ones."""
    files = list_parquet_files(path_or_files)
    if not files:
        raise ValueError(f"no parquet files under {path_or_files!r}")
    # fewer files than cores → row-group splitting keeps the scan full-width
    units = _plan_units(files, spark.sparkContext.defaultParallelism)
    pairs = spark.sparkContext.parallelize(units, _n_slices(spark, len(units))).mapPartitions(
        lambda part: _build_states_for_units(part, specs, row_filter, extra_columns)
    )
    return _per_spec(tree_merge_states(pairs), specs)
