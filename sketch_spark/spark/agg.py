"""Distributed sketch aggregation over Spark DataFrames.

The execution shape is the Spark-native restatement of the reference's
MPI job (/root/reference/include/sketch/mpiParallelIO.cpp):

    reference                         here
    ---------                         ----
    MPI_File_read_at per rank      →  parquet scan, Spark plans the splits
    sketchKmers → local sketch     →  mapInArrow: per-partition NumPy update
    MPI_Gather to rank 0 + re-add  →  log-depth keyed tree merge (the
      (flat gather :257-299;          reference's own binomial tree is
       buggy tree :301-345)           "buggy, so should not be used" :83-84 —
                                      Spark's shuffle machinery does it right)
    rank-0 estimate                →  driver-side estimate on merged state

Everything per-row is NumPy over Arrow batches — no per-row Python
(north-rule requirement). The partial-aggregate output is one tiny row per
(partition × spec): (name, state BinaryType, n_rows, n_values, wall_ms), so
the shuffle that follows moves kilobytes per partition regardless of input
size. At 100 TB the scan dominates, which is exactly the profile you want.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from sketch_spark.hashing import hash_strings
from sketch_spark.sketches import base as _base
from sketch_spark.sketches.base import Sketch, from_bytes, make_sketch

_STATE_SCHEMA = "name string, state binary, n_rows long, n_values long, wall_ms double"


@dataclass
class SketchSpec:
    """One sketch to build: over which column, with which parameters.

    ``col`` may be a scalar numeric column, a string column (identified by a
    deterministic 64-bit pre-hash), or an array<int> token column (flattened
    zero-copy from the Arrow ListArray). Quantile sketches (kll / tdigest)
    interpret values as float64; id sketches (hll / bloom / cms /
    countsketch / minhash / counting_minhash) interpret them as uint64 ids.
    """

    name: str
    kind: str
    col: str
    params: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        # fail fast on the driver: an invalid kind/params combination should
        # not surface as an executor-side task failure
        self.new()

    def new(self) -> Sketch:
        return make_sketch(self.kind, **self.params)

    @property
    def is_quantile(self) -> bool:
        return self.kind in ("kll", "tdigest", "ddsketch")


def _extract_from_array(arr, want_float: bool) -> np.ndarray:
    """Flatten one Arrow array/chunked-array to a contiguous NumPy batch.

    array<int*> → flattened element values; string → FNV64+WangHash ids;
    numeric → direct (cast to float64 for quantile sketches, uint64 ids
    otherwise).
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        flat = arr.flatten()
        vals = flat.to_numpy(zero_copy_only=False)
    elif pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        return hash_strings(arr.to_numpy(zero_copy_only=False))
    else:
        vals = arr.to_numpy(zero_copy_only=False)
    if want_float:
        return np.asarray(vals, dtype=np.float64)
    v = np.asarray(vals)
    if v.dtype.kind == "f":
        v = v.astype(np.int64)
    return v


def _extract_column(batch: pa.RecordBatch, col: str, want_float: bool) -> np.ndarray:
    return _extract_from_array(batch.column(batch.schema.get_field_index(col)), want_float)


# Vocabulary pre-aggregation gate (TaskFeed): a unit's ids are bincounted
# only when all of them lie in [0, DENSE_CAP). The per-column accumulator is
# sized to the largest id seen, so it stays within DENSE_CAP int64 counters
# (32 MB) per column per task.
DENSE_CAP = 1 << 22


def _is_dense(vals: np.ndarray) -> bool:
    return (
        len(vals) > 0
        and vals.dtype.kind in "iu"
        and (vals.dtype.kind == "u" or int(vals.min()) >= 0)
        and int(vals.max()) < DENSE_CAP
    )


class TaskFeed:
    """One task's sketch set, fed unit by unit: the single task body of the
    global builds (DataFrame partitions, streaming micro-batches and
    parquet-direct units).

    Each unit's columns are extracted once and shared by every spec that
    reads them. When a unit's ids pass the dense gate, the specs whose kind
    declares ``Sketch.preaggregate`` do not see them yet: the ids go into
    one bincount accumulator per column, and :meth:`finish` feeds the
    distinct ids once per task (with their counts for additive kinds). Every
    other spec — float/quantile specs, undeclared kinds, units that fail the
    gate — gets the raw stream in fixed UPDATE_SUPER slices: bounded
    transients, and the batch-boundary-dependent kinds (pccm/cbf/pcbf/vac/hk)
    see a slicing that is a pure function of the unit, so re-runs and
    kill/resume stay byte-identical. Both routes give the same state bytes."""

    def __init__(self, spec_list: list[tuple]):
        self.sketches = {name: make_sketch(kind, **params) for name, kind, _, params, _ in spec_list}
        self.n_values = dict.fromkeys(self.sketches, 0)
        # (col, want_float) -> (pre-aggregating spec names, raw-fed spec names)
        self._columns: dict[tuple[str, bool], tuple[list[str], list[str]]] = {}
        for name, _, col, _, want_float in spec_list:
            pre, raw = self._columns.setdefault((col, want_float), ([], []))
            eligible = not want_float and self.sketches[name].preaggregate is not None
            (pre if eligible else raw).append(name)
        self._counts: dict[tuple[str, bool], np.ndarray] = {}

    def feed(self, unit) -> None:
        """Absorb one unit (an Arrow Table or RecordBatch)."""
        for key, (pre, raw) in self._columns.items():
            col, want_float = key
            vals = _extract_column(unit, col, want_float)
            for name in pre + raw:
                self.n_values[name] += len(vals)
            direct = pre + raw
            if pre and _is_dense(vals):
                self._count(key, vals)
                direct = raw
            for name in direct:
                for s in range(0, len(vals), _base.UPDATE_SUPER):
                    self.sketches[name].update(vals[s : s + _base.UPDATE_SUPER])

    def _count(self, key: tuple[str, bool], vals: np.ndarray) -> None:
        # sliced so the intp copy bincount needs stays O(UPDATE_SUPER)
        acc = self._counts.get(key, np.zeros(0, dtype=np.int64))
        step = _base.UPDATE_SUPER
        for s in range(0, len(vals), step):
            c = np.bincount(vals[s : s + step].astype(np.intp, copy=False))
            if len(acc) < len(c):
                acc, c = c, acc
            acc[: len(c)] += c
        self._counts[key] = acc

    def finish(self) -> dict[str, Sketch]:
        """Feed the counted ids and return the sketches."""
        for key, acc in self._counts.items():
            ids = np.flatnonzero(acc)
            for name in self._columns[key][0]:
                sk = self.sketches[name]
                if sk.preaggregate == "counts":
                    sk.update(ids, counts=acc[ids])
                else:
                    sk.update(ids)
        self._counts.clear()
        return self.sketches


def partition_states(df: DataFrame, specs: list[SketchSpec]) -> DataFrame:
    """Partial aggregation: one serialized sketch state per (partition, spec).

    Also emits per-partition lineage/throughput metrics (rows, values,
    wall ms) — the Spark analog of the reference's per-phase timers
    (mpiParallelIO.cpp:91-99).
    """
    spec_list = [(s.name, s.kind, s.col, dict(s.params), s.is_quantile) for s in specs]

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.perf_counter()
        task = TaskFeed(spec_list)
        n_rows = 0
        for batch in batches:
            n_rows += batch.num_rows
            task.feed(batch)
        sketches = task.finish()
        n_values = task.n_values
        wall_ms = (time.perf_counter() - t0) * 1e3
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([name for name, *_ in spec_list], pa.string()),
                pa.array([sketches[name].to_bytes() for name, *_ in spec_list], pa.binary()),
                pa.array([n_rows] * len(spec_list), pa.int64()),
                pa.array([n_values[name] for name, *_ in spec_list], pa.int64()),
                pa.array([wall_ms] * len(spec_list), pa.float64()),
            ],
            names=["name", "state", "n_rows", "n_values", "wall_ms"],
        )

    cols = sorted({s.col for s in specs})
    return df.select(*cols).mapInArrow(build, _STATE_SCHEMA)


def _merge_bytes(a: bytes, b: bytes) -> bytes:
    sa = from_bytes(bytes(a))
    sa.merge(from_bytes(bytes(b)))
    return sa.to_bytes()


def _fold_named_states(rows) -> "Iterator[tuple[str, bytes]]":
    """Partition-local fold of (name, state) pairs: each incoming state is
    deserialized once, the accumulator serialized once — a pairwise reduce
    would pay compress/decompress per step."""
    acc: dict[str, Sketch] = {}
    for name, blob in rows:
        sk = from_bytes(bytes(blob))
        if name in acc:
            acc[name].merge(sk)
        else:
            acc[name] = sk
    for name, sk in acc.items():
        yield name, sk.to_bytes()


def tree_merge_states(states: DataFrame, fanout: int = 16) -> dict[str, Sketch]:
    """Log-fanout tree merge of serialized states → driver dict.

    Each level coalesces the partition count by ``fanout`` and folds the
    co-located states with a single deserialize-once pass, so no task ever
    re-serializes per pair: the correct version of the reference's disabled
    binomial-tree reduction (mpiParallelIO.cpp:301-345).
    """
    rdd = states.select("name", "state").rdd.map(lambda r: (r[0], bytes(r[1])))
    nparts = max(1, rdd.getNumPartitions())
    rdd = rdd.mapPartitions(_fold_named_states)
    while nparts > fanout:
        nparts = max(fanout, nparts // fanout)
        # shuffle=True: narrow coalesce would collapse the upstream partial-
        # aggregation stage to `nparts` tasks; the shuffle moves only states
        rdd = rdd.coalesce(nparts, shuffle=True).mapPartitions(_fold_named_states)
    out: dict[str, Sketch] = {}
    for name, blob in rdd.collect():
        sk = from_bytes(blob)
        if name in out:
            out[name].merge(sk)
        else:
            out[name] = sk
    return out


def build_sketches(df: DataFrame, specs: list[SketchSpec], fanout: int = 16) -> dict[str, Sketch]:
    """scan → per-partition partial sketches → tree merge → {name: Sketch}.
    An empty input yields the identity (empty) sketch for every spec."""
    out = tree_merge_states(partition_states(df, specs), fanout=fanout)
    for s in specs:
        out.setdefault(s.name, s.new())
    return out


def build_weighted_sketch(
    df: DataFrame,
    kind: str,
    value_col: str,
    weight_col: str,
    params: dict | None = None,
    fanout: int = 16,
) -> Sketch:
    """Weighted build: one sketch over (value, weight) PAIR rows — for kinds
    whose ``update(values, counts=...)`` takes per-item weights (cms,
    countsketch, topk, pccm, pmh). Same partial → tree-merge shape as
    :func:`build_sketches`; weights ride the scan, never a shuffle.

    For P-MinHash note the monoid semantics: cross-partition merge
    max-combines a feature's weight (sketches/pmh.py docstring) — aggregate
    additive weights per feature first (one groupBy) when sum semantics are
    required."""
    params = dict(params or {})

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = make_sketch(kind, **params)
        for batch in batches:
            vals = _extract_column(batch, value_col, want_float=False)
            wts = _extract_column(batch, weight_col, want_float=True)
            if len(vals):
                sk.update(vals, counts=wts)
        yield pa.RecordBatch.from_arrays(
            [pa.array(["w"], pa.string()), pa.array([sk.to_bytes()], pa.binary())],
            names=["name", "state"],
        )

    states = df.select(value_col, weight_col).mapInArrow(build, "name string, state binary")
    out = tree_merge_states(states, fanout=fanout)
    return out.get("w", make_sketch(kind, **params))


def sketch_by_key(
    df: DataFrame,
    key: str | list[str],
    specs: list[SketchSpec],
    weight_col: str | None = None,
    flush_keys: int | None = None,
) -> DataFrame:
    """Grouped sketches, two-phase (scales to high-cardinality keys).

    Phase 1 (map side): within each partition, group Arrow batches by key in
    NumPy and update one sketch per (key, spec) — the partial aggregate.
    Phase 2 (one shuffle of tiny states): groupBy(key, name) + applyInPandas
    merge. The shuffle moves |keys|×|specs| states per partition, never raw
    rows — map-side combine done manually since Spark has no Python UDAF
    with partial aggregation.

    ``weight_col`` (optional): a numeric per-row weight fed through every
    spec's ``update(values, counts=...)`` — the grouped form of
    :func:`build_weighted_sketch`, one pass for ALL keys instead of one
    filtered build per key. For list/token value columns the row's weight
    applies to each of its tokens. Requires every spec's kind to accept
    ``counts=`` (cms / countsketch / topk / pccm / pmh / icws / ws / csvec /
    wzcs / hk / counting_minhash); the same per-kind merge-semantics caveats as
    the ungrouped weighted build apply.

    The output ``key`` column keeps the input column's type (string, any
    numeric, date/timestamp); null keys form their own group, matching
    Spark's groupBy semantics. ``key`` may also be a LIST of columns —
    composite fine-granularity keys whose states feed
    :func:`rollup_states` (each key column keeps its native type; the
    composite group id costs one extra np.unique per batch).

    ``flush_keys`` (default :data:`FLUSH_KEYS`): map-side accumulator cap —
    task memory stays O(flush_keys × state size) at ANY key cardinality;
    exceeding it emits a partial-state batch that the reduce merge absorbs.
    """
    spec_list = [(s.name, s.kind, s.col, dict(s.params), s.is_quantile) for s in specs]
    keys = [key] if isinstance(key, str) else list(key)
    dtypes = dict(df.dtypes)
    key_types = [dtypes[k] for k in keys]

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _keyed_partial(
            batches, keys, spec_list, weight_col, flush_keys or FLUSH_KEYS
        )

    cols = sorted({s.col for s in specs} | set(keys) | ({weight_col} if weight_col else set()))
    key_schema = ", ".join(f"{k} {t}" for k, t in zip(keys, key_types))
    partials = df.select(*cols).mapInArrow(partial, f"{key_schema}, name string, state binary")

    return merge_keyed_states(partials, keys, key_types)


def _encode_keys(batch: pa.RecordBatch, keys: list[str]):
    """Dictionary-encode the key columns of one batch into a dense group
    id per row plus the per-group key tuples and arrow types. Single-key
    batches reuse the dictionary indices directly (no extra pass); the
    multi-key composite pays one np.unique remap."""
    per_inv, per_uniq, arrow_types = [], [], []
    for k in keys:
        karr = batch.column(batch.schema.get_field_index(k))
        arrow_types.append(karr.type)
        # Arrow dictionary-encode keeps the native type (to_pandas would
        # promote nullable ints to float64) — no silent stringification
        # of numeric/date keys; null keys get their own trailing group
        denc = karr.dictionary_encode()
        uniq = denc.dictionary.to_pylist()
        if denc.indices.null_count:
            inv = denc.indices.fill_null(len(uniq)).to_numpy(zero_copy_only=False).astype(np.int64)
            uniq = uniq + [None]
        else:
            inv = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        per_inv.append(inv)
        per_uniq.append(uniq)
    if len(keys) == 1:
        # dictionary indices are already dense 0..nu-1 over present values
        return per_inv[0], [(u,) for u in per_uniq[0]], arrow_types
    # fold columns into a composite code, REMAPPING to dense ids after each
    # step: the remapped id is < batch rows, so the next step's product is
    # bounded by rows × cardinality and can never overflow int64 (an
    # unremapped mixed-radix code over several near-unique columns would
    # exceed 2^63 and wrap silently)
    combined = per_inv[0]
    for inv, uniq in zip(per_inv[1:], per_uniq[1:]):
        _, combined = np.unique(combined, return_inverse=True)
        combined = combined * len(uniq) + inv
    _, first_idx, dense = np.unique(combined, return_index=True, return_inverse=True)
    tuples = [
        tuple(per_uniq[c][per_inv[c][row]] for c in range(len(keys)))
        for row in first_idx
    ]
    return dense, tuples, arrow_types


# Map-side accumulator cap for grouped builds: one sketch per (key, spec)
# lives in task memory until emitted, so UNBOUNDED key cardinality would be
# unbounded memory (10M distinct keys x a 16 KB HLL = 160 GB — the classic
# grouped-agg OOM). When the accumulator passes this many entries it is
# FLUSHED as a partial-state batch and cleared; the reduce side already
# merges any number of partials per key, so results are unchanged (the same
# merge invariance partitioning relies on) and task memory is O(cap x state
# size) regardless of group count. At the default, worst-case p=14 dense
# HLLs hold ~0.5 GB; typical grouped sketches are far smaller.
FLUSH_KEYS = 32_768


def _keyed_partial(
    batches: Iterator[pa.RecordBatch], keys: list[str], spec_list: list[tuple],
    weight_col: str | None, flush_keys: int = FLUSH_KEYS,
) -> Iterator[pa.RecordBatch]:
    """Shared map-side combine for grouped builds: fold an Arrow batch
    stream into one sketch per (key tuple, spec), emitting a
    (keys..., name, state) partial batch at the end — and earlier whenever
    the accumulator exceeds ``flush_keys`` entries (bounded memory at any
    key cardinality). Used by both the DataFrame path
    (:func:`sketch_by_key`) and the parquet-direct path
    (:func:`sketch_spark.spark.files.sketch_by_key_from_parquet`)."""

    def emit(acc, arrow_types):
        items = sorted(acc.items(), key=lambda kv: (repr(kv[0][0]), kv[0][1]))
        key_cols = [
            pa.array([k[i] for (k, _), _ in items], arrow_types[i]) for i in range(len(keys))
        ]
        return pa.RecordBatch.from_arrays(
            key_cols
            + [
                pa.array([n for (_, n), _ in items], pa.string()),
                pa.array([s.to_bytes() for _, s in items], pa.binary()),
            ],
            names=list(keys) + ["name", "state"],
        )

    acc: dict[tuple[tuple, str], Sketch] = {}
    arrow_types = None
    for batch in batches:
        inv, uniq, arrow_types = _encode_keys(batch, keys)
        wrow = (
            _extract_column(batch, weight_col, want_float=True)
            if weight_col is not None
            else None
        )
        for name, kind, col, params, want_float in spec_list:
            arr = batch.column(batch.schema.get_field_index(col))
            is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
            vals = _extract_column(batch, col, want_float)
            if is_list:
                # repeat each row's group id (and weight) over its tokens
                lens = np.diff(arr.offsets.to_numpy(zero_copy_only=False))
                vinv = np.repeat(inv, lens)
                wv = np.repeat(wrow, lens) if wrow is not None else None
            else:
                vinv = inv
                wv = wrow
            # group-segment extraction, cardinality-aware: a stable argsort
            # over millions of near-constant group ids is its own worst case
            # (measured 7.6 s vs 0.35 s for 10M values / 4 keys), and few-key
            # tables (source, event_type, language…) are the hot grouped
            # shape — so low cardinality takes one boolean mask per key and
            # only high cardinality pays the sort
            nu = len(uniq)
            if nu == 1:
                segments = [(0, vals, wv)]
            elif nu <= 64:
                segments = [
                    (gi, vals[m], (wv[m] if wv is not None else None))
                    for gi in range(nu)
                    for m in (vinv == gi,)
                ]
            else:
                order = np.argsort(vinv, kind="stable")
                sv, so = vals[order], vinv[order]
                sw = wv[order] if wv is not None else None
                bounds = np.searchsorted(so, np.arange(nu + 1))
                segments = [
                    (gi, sv[bounds[gi] : bounds[gi + 1]],
                     (sw[bounds[gi] : bounds[gi + 1]] if sw is not None else None))
                    for gi in range(nu)
                ]
            for gi, seg, segw in segments:
                if len(seg) == 0:
                    continue
                kval = uniq[gi]
                sk = acc.get((kval, name))
                if sk is None:
                    sk = acc[(kval, name)] = make_sketch(kind, **params)
                if segw is None:
                    sk.update(seg)
                else:
                    sk.update(seg, counts=segw)
        if len(acc) > flush_keys:
            yield emit(acc, arrow_types)
            acc.clear()
    if acc:
        yield emit(acc, arrow_types)


def merge_keyed_states(
    partials: DataFrame, key: str | list[str], key_type: str | list[str]
) -> DataFrame:
    """Phase 2 of a grouped build: groupBy(keys, name) reduce-merge of the
    (keys..., name, state) partials — one tiny shuffle of kilobyte states.
    The output key columns keep their types (no silent stringification)."""
    keys = [key] if isinstance(key, str) else list(key)
    key_types = [key_type] if isinstance(key_type, str) else list(key_type)

    def final_merge(pdf):
        sk = from_bytes(bytes(pdf["state"].iloc[0]))
        for blob in pdf["state"].iloc[1:]:
            sk.merge(from_bytes(bytes(blob)))
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row["name"] = [pdf["name"].iloc[0]]
        row["state"] = [sk.to_bytes()]
        return pd.DataFrame(row)

    schema = ", ".join(
        [f"{k} {t}" for k, t in zip(keys, key_types)] + ["name string", "state binary"]
    )
    return partials.groupBy(*keys, "name").applyInPandas(final_merge, schema)


def rollup_states(states: DataFrame, keys: list[str]) -> DataFrame:
    """Roll a keyed state table up to coarser granularity by MERGING states
    — the OLAP rollup that mergeability buys: build once per fine key
    (e.g. (source, day)), then answer any coarser grouping ((source,),
    (day,), or global) by folding kilobyte states, never rescanning data.

    ``states``: any (key columns..., name, state) DataFrame produced by
    :func:`sketch_by_key` / ``sketch_by_key_from_parquet`` / a checkpoint
    table. ``keys``: the key columns to KEEP (may be empty — global merge
    per spec name). Dropped key dimensions are merged away. For the
    partitioning-invariant kinds the rolled-up state is byte-identical to
    a direct build at the coarser granularity (the §5 merge invariant), so
    rollup tables can be layered arbitrarily deep without error
    accumulation — the reference's combine phase generalized from one
    global merge to any lattice of groupings."""
    dtypes = dict(states.dtypes)
    missing = [c for c in (*keys, "name", "state") if c not in dtypes]
    if missing:
        raise ValueError(
            f"rollup_states input is missing column(s) {missing}: expected a "
            "keyed-states table (key columns..., name, state) as produced by "
            "sketch_by_key / sketch_by_key_from_parquet, not a raw data table"
        )
    key_types = [dtypes[k] for k in keys]
    return merge_keyed_states(states.select(*keys, "name", "state"), list(keys), key_types)


# ---- state-query column functions (drive estimates inside DataFrames) -------


def estimate_udf():
    """pandas UDF: BinaryType sketch state → double estimate.

    Works for any state kind with a scalar summary: hll/minhash →
    cardinality, bloom → fill-ratio cardinality, cms → total count.
    """
    @pandas_udf("double")
    def _est(states: pd.Series) -> pd.Series:
        out = []
        for blob in states:
            sk = from_bytes(bytes(blob))
            if hasattr(sk, "estimate"):
                out.append(sk.estimate())
            elif hasattr(sk, "cardinality_estimate"):
                out.append(sk.cardinality_estimate())
            elif hasattr(sk, "total"):
                out.append(float(sk.total()))
            else:
                out.append(float("nan"))
        return pd.Series(out)

    return _est


def quantile_udf(qs: list[float]):
    """pandas UDF: quantile-sketch state → array<double> at the given qs."""
    @pandas_udf("array<double>")
    def _q(states: pd.Series) -> pd.Series:
        return pd.Series(
            [list(np.atleast_1d(from_bytes(bytes(b)).quantile(np.array(qs)))) for b in states]
        )

    return _q


def merge_states_expr(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """groupBy(group_cols, name) reduce-merge of a states DataFrame."""

    def m(pdf):
        sk = from_bytes(bytes(pdf["state"].iloc[0]))
        for blob in pdf["state"].iloc[1:]:
            sk.merge(from_bytes(bytes(blob)))
        row = {c: [pdf[c].iloc[0]] for c in group_cols}
        row["name"] = [pdf["name"].iloc[0]]
        row["state"] = [sk.to_bytes()]
        return pd.DataFrame(row)

    schema = ", ".join([f"{c} string" for c in group_cols] + ["name string", "state binary"])
    return df.groupBy(*group_cols, "name").applyInPandas(m, schema)
