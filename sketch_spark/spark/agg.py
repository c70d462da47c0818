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
(partition × state): (name, state BinaryType, n_rows, n_values, wall_ms), so
the shuffle that follows moves kilobytes per partition regardless of input
size. At 100 TB the scan dominates, which is exactly the profile you want.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark import RDD
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from sketch_spark.hashing import hash_strings
from sketch_spark.sketches import base as _base
from sketch_spark.sketches.base import Sketch, from_bytes, make_sketch, register

_STATE_SCHEMA = "name string, state binary, n_rows long, n_values long, wall_ms double"

# State-name prefix of a column's id→count partial (TaskFeed.partial): no
# SketchSpec may use it, so a partial never collides with a spec's state.
_PARTIAL = "\0ids:"


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
        if self.name.startswith(_PARTIAL):
            raise ValueError(f"spec names starting with {_PARTIAL!r} are reserved")
        # fail fast on the driver: an invalid kind/params combination should
        # not surface as an executor-side task failure
        self.new()

    def new(self) -> Sketch:
        return make_sketch(self.kind, **self.params)

    @property
    def is_quantile(self) -> bool:
        return self.kind in ("kll", "tdigest", "ddsketch")


def _is_list(t: pa.DataType) -> bool:
    return pa.types.is_list(t) or pa.types.is_large_list(t)


def _extract_kept(arr, want_float: bool) -> tuple[np.ndarray, np.ndarray | None]:
    """Flatten one Arrow array/chunked-array to a contiguous NumPy batch,
    skipping nulls (Spark's ``approx_count_distinct`` semantics) and NaN,
    as the streaming operators' pandas hand-over does.

    array<…> → flattened element values (a null row has none); string →
    FNV64+WangHash ids; numeric → direct (cast to float64 for quantile
    sketches, uint64 ids otherwise). Also returns the mask of the flattened
    positions kept, or None when none was dropped (no pass over a
    non-float column), so a caller can drop the same positions from
    values it aligned to them.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if _is_list(arr.type):
        arr = arr.flatten()
    kept = None
    if pa.types.is_floating(arr.type):
        ok = pc.fill_null(pc.invert(pc.is_nan(arr)), False)
    else:
        ok = arr.is_valid() if arr.null_count else None
    if ok is not None and ok.false_count:
        kept = ok.to_numpy(zero_copy_only=False)
        arr = arr.filter(ok)
    if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        return hash_strings(arr.to_numpy(zero_copy_only=False)), kept
    vals = arr.to_numpy(zero_copy_only=False)
    if want_float:
        return np.asarray(vals, dtype=np.float64), kept
    v = np.asarray(vals)
    if v.dtype.kind == "f":
        v = v.astype(np.int64)
    return v, kept


def _batch_matrix(arr: pa.Array) -> np.ndarray:
    """(n, d) matrix from an Arrow list column of fixed dimension d, in the
    column's value dtype (zero-copy flatten; a ragged column raises)."""
    lens = np.diff(arr.offsets.to_numpy(zero_copy_only=False))
    d = int(lens[0]) if len(lens) else 0
    if len(lens) and not (lens == d).all():
        raise ValueError("ragged embedding column")
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(-1, d) if d else flat.reshape(0, 0)


def _extract_rows(arr) -> tuple[np.ndarray, np.ndarray | None]:
    """:func:`_extract_kept` for a vector spec (``Sketch.consumes_vectors``):
    a fixed-dimension list column as an (n, d) float64 matrix, one row per
    non-null row, and the mask of the rows kept (None when none was null)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    kept = None
    if arr.null_count:
        kept = arr.is_valid().to_numpy(zero_copy_only=False)
        arr = arr.drop_null()
    if not len(arr):
        return np.empty((0, 0)), kept
    return _batch_matrix(arr).astype(np.float64, copy=False), kept


def _extract_from_array(arr, want_float: bool) -> np.ndarray:
    """:func:`_extract_kept`'s values alone."""
    return _extract_kept(arr, want_float)[0]


def _extract_column(batch: pa.RecordBatch, col: str, want_float: bool) -> np.ndarray:
    return _extract_from_array(batch.column(batch.schema.get_field_index(col)), want_float)


# Vocabulary pre-aggregation gate (TaskFeed): a segment's ids are bincounted
# only when all of them lie in [0, DENSE_CAP), and a column's accumulators
# (one per key, each sized to the largest id it has seen) hold at most
# DENSE_CAP int64 counters (32 MB) in total per task.
DENSE_CAP = 1 << 22


def _dense_len(vals: np.ndarray) -> int:
    """The accumulator length ``vals`` needs (largest id + 1) when every id
    lies in [0, DENSE_CAP), else 0."""
    kind = vals.dtype.kind
    ok = len(vals) > 0 and kind in "iu" and (kind == "u" or int(vals.min()) >= 0)
    top = int(vals.max()) if ok else DENSE_CAP
    return top + 1 if top < DENSE_CAP else 0


def _uint_for(top: int) -> np.dtype:
    """The narrowest unsigned dtype holding [0, top]."""
    for dt in (np.uint8, np.uint16, np.uint32):
        if top <= np.iinfo(dt).max:
            return np.dtype(dt)
    return np.dtype(np.uint64)


@register
class _IdCounts(Sketch):
    """Exact id → count map over non-negative ids: a task's counted
    vocabulary of one column, shipped by :meth:`TaskFeed.partial` in place
    of the pre-aggregating sketches it would have fed, under the state name
    ``_PARTIAL + col``. Sorted unique ``ids`` with their ``counts`` (int64
    in memory, the narrowest unsigned dtypes on the wire); merge sums counts
    over the union — a dense add while the largest id is below DENSE_CAP,
    which every counted id is. Its parameters name the specs it stands in
    for, ``(name, kind, params)``: partials of different specs never merge."""

    kind = "_idcounts"

    def __init__(self, ids=None, counts=None, specs=()):
        self.ids = np.zeros(0, np.int64) if ids is None else ids
        self.counts = np.zeros(0, np.int64) if counts is None else counts
        self.specs = [[n, k, dict(p)] for n, k, p in specs]

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> "_IdCounts":
        v = np.asarray(values).astype(np.int64)
        if len(v) and v.min() < 0:
            raise ValueError("_idcounts holds non-negative ids only")
        ids, inv = np.unique(v, return_inverse=True)
        c = np.zeros(len(ids), np.int64)
        np.add.at(c, inv, 1 if counts is None else np.asarray(counts).astype(np.int64))
        return self.merge(_IdCounts(ids, c, self.specs))

    def merge(self, other: "_IdCounts") -> "_IdCounts":
        self._check_mergeable(other)
        parts = [p for p in (self, other) if len(p.ids)]
        top = max((int(p.ids[-1]) for p in parts), default=-1)
        if top < DENSE_CAP:
            acc = np.zeros(top + 1, np.int64)
            for p in parts:
                acc[p.ids] += p.counts  # ids are unique within a part
            ids = np.flatnonzero(acc)
            self.ids, self.counts = ids, acc[ids]
        else:
            counts = np.concatenate([p.counts for p in parts])
            self.ids, inv = np.unique(np.concatenate([p.ids for p in parts]), return_inverse=True)
            self.counts = np.zeros(len(self.ids), np.int64)
            np.add.at(self.counts, inv, counts)
        return self

    def _params(self) -> dict[str, Any]:
        return {"specs": self.specs}

    def _arrays(self) -> dict[str, np.ndarray]:
        top_id = int(self.ids[-1]) if len(self.ids) else 0
        top_count = int(self.counts.max()) if len(self.ids) else 0
        return {
            "ids": self.ids.astype(_uint_for(top_id)),
            "counts": self.counts.astype(_uint_for(top_count)),
        }

    @classmethod
    def _from_state(cls, params, arrays) -> "_IdCounts":
        return cls(arrays["ids"].astype(np.int64), arrays["counts"].astype(np.int64), params["specs"])


def _preaggregates(spec: SketchSpec) -> bool:
    """Whether an unweighted build may feed ``spec`` counted distinct ids."""
    return not spec.is_quantile and bool(_base._REGISTRY[spec.kind].preaggregate)


def _feed_counted(sk: Sketch, part: _IdCounts) -> Sketch:
    if sk.preaggregate == "counts":
        return sk.update(part.ids, counts=part.counts)
    return sk.update(part.ids)


def expand_partials(states: dict) -> dict:
    """Feed each id→count partial in ``states`` (``{(key, name): state}``)
    once to the specs it stands in for — with counts for the ``"counts"``
    kinds — creating any sketch that no unit fed, and drop the partial;
    other states pass through undecoded. The pre-aggregating kinds give the
    same bytes under any split of their input, so this equals feeding each
    task's ids where they were counted. The last fold of every build runs
    it (:func:`tree_merge_states`, :func:`merge_keyed_states`)."""
    out = {k: v for k, v in states.items() if not k[1].startswith(_PARTIAL)}
    for (key, name), part in states.items():
        if not name.startswith(_PARTIAL):
            continue
        part = _as_sketch(part)
        for n, kind, params in part.specs:
            sk = out.get((key, n))
            out[(key, n)] = _feed_counted(make_sketch(kind, **params) if sk is None else _as_sketch(sk), part)
    return out


def _nbytes(sk: Sketch) -> int:
    """In-memory bytes of a sketch's NumPy arrays."""
    return sum(a.nbytes for a in vars(sk).values() if isinstance(a, np.ndarray))


def _ships(part: _IdCounts, fresh: list[Sketch]) -> bool:
    """The size rule: a task ships its id→count partial when the partial's
    in-memory arrays (int64 ids and counts, 16 B per distinct id) are
    smaller than those of the fresh sketches it replaces. The driver feeds
    the union of every task's ids serially, where the tasks would feed
    their own ids in parallel; on the flagship specs (10.5 MB of fresh
    tables) this rule picked the faster route on inputs from 39 k to 807 k
    distinct ids per task (ROADMAP.md, direction 1)."""
    return _nbytes(part) < sum(_nbytes(sk) for sk in fresh)


def _segments(vals: np.ndarray, gid: np.ndarray | None, w: np.ndarray | None, n_groups: int):
    """(group, values, weights) for each group of a unit. Cardinality-aware:
    a stable argsort over millions of near-constant group ids is its own
    worst case (measured 7.6 s vs 0.35 s for 10M values / 4 keys), and
    few-key tables (source, event_type, language…) are the hot grouped
    shape, so up to 64 groups take one boolean mask each and only more
    groups pay the sort."""
    if n_groups == 1:
        yield 0, vals, w
    elif n_groups <= 64:
        for g in range(n_groups):
            m = gid == g
            yield g, vals[m], None if w is None else w[m]
    else:
        order = np.argsort(gid, kind="stable")
        bounds = np.searchsorted(gid[order], np.arange(n_groups + 1))
        vals = vals[order]
        w = None if w is None else w[order]
        for g in range(n_groups):
            lo, hi = bounds[g], bounds[g + 1]
            yield g, vals[lo:hi], None if w is None else w[lo:hi]


# TaskFeed column-key mode of a vector spec: one (n, d) matrix row per row.
_ROWS = "rows"


def _column_key(spec: SketchSpec) -> tuple[str, Any]:
    """How TaskFeed extracts ``spec``'s column: (col, _ROWS) for a vector
    kind, else (col, want_float)."""
    return spec.col, _ROWS if _base._REGISTRY[spec.kind].consumes_vectors else spec.is_quantile


class TaskFeed:
    """One task's sketches, fed unit by unit: the only update loop of the
    global, grouped and weighted builds (DataFrame partitions, streaming
    micro-batches and state-store triggers, parquet-direct units). A global
    build has no ``keys``: one group, key ``()``.

    Per unit, keys are encoded once and each column is extracted and
    segmented by group once; a list column's tokens inherit their row's
    group and weight. A spec whose kind sets ``Sketch.consumes_vectors``
    gets its column as an (n, d) float64 matrix, one row per row. A
    segment that passes the dense gate is not fed yet to the specs whose
    kind declares ``Sketch.preaggregate``: it goes into one bincount
    accumulator per (column, key), within DENSE_CAP counters per column
    across keys. Everything else — float/quantile, vector and weighted
    specs, undeclared kinds, segments past the gate or the budget — gets
    the raw stream in fixed UPDATE_SUPER slices: bounded transients, and a
    slicing that is a pure function of the unit, so the
    batch-boundary-dependent kinds (pccm/cbf/pcbf/vac/hk) stay
    byte-identical across re-runs and kill/resume.

    One end: :meth:`partial` ships each (column, key) accumulator as one
    exact id→count partial (:class:`_IdCounts`) in place of the sketches it
    would have fed when :func:`_ships` says so, and feeds them otherwise;
    the build's last fold expands it. Both routes give the same bytes.

    :meth:`resume` continues a sketch that holds state already (the state
    store's, in the streaming operators): later units update it in place,
    which is not the same as merging a fresh sketch into it for every kind
    (ws numbers occurrences from its own prior counts)."""

    def __init__(self, specs: list[SketchSpec], keys=(), weight_col: str | None = None):
        self.specs = {s.name: s for s in specs}
        self.keys = list(keys)
        self.weight_col = weight_col
        self.key_types: list[pa.DataType] = []
        self.sketches: dict[tuple[tuple, str], Sketch] = {}
        self.n_values = dict.fromkeys(self.specs, 0)
        # (col, want_float) -> (pre-aggregating spec names, raw-fed spec names);
        # a vector spec's column is keyed (col, _ROWS)
        self._columns: dict[tuple[str, Any], tuple[list[str], list[str]]] = {}
        for s in specs:
            pre, raw = self._columns.setdefault(_column_key(s), ([], []))
            (pre if weight_col is None and _preaggregates(s) else raw).append(s.name)
        # column key -> {key: accumulator}, and its counter total
        self._counts: dict[tuple[str, Any], dict[tuple, np.ndarray]] = {}
        self._held = dict.fromkeys(self._columns, 0)
        # (column, key) pairs whose pre-aggregating sketches hold state of
        # their own (raw segments, or resumed): a shipped partial is fed into
        # them, not put in their place
        self._own_pre: set[tuple] = set()

    def feed(self, unit) -> None:
        """Absorb one unit (an Arrow Table or RecordBatch). A row with a null
        weight is skipped, tokens and all."""
        w = None
        if self.weight_col is not None:
            wcol = unit.column(self.weight_col)
            if wcol.null_count:
                unit = unit.filter(wcol.is_valid())
                wcol = unit.column(self.weight_col)
            w = np.asarray(wcol.to_numpy(zero_copy_only=False), np.float64)
        if self.keys:
            gid, groups, self.key_types = _encode_keys(unit, self.keys)
        else:
            gid, groups = None, [()]
        for ck, (pre, raw) in self._columns.items():
            col, how = ck
            arr = unit.column(unit.schema.get_field_index(col))
            vals, kept = _extract_rows(arr) if how is _ROWS else _extract_kept(arr, how)
            for name in pre + raw:
                self.n_values[name] += len(vals)
            g, wv = gid, w
            if len(groups) > 1 or w is not None:
                if _is_list(arr.type) and how is not _ROWS:
                    lens = pc.list_value_length(arr).fill_null(0).to_numpy()
                    g = None if gid is None else np.repeat(gid, lens)
                    wv = None if w is None else np.repeat(w, lens)
                if kept is not None:
                    g = None if g is None else g[kept]
                    wv = None if wv is None else wv[kept]
            for gi, seg, segw in _segments(vals, g, wv, len(groups)):
                if len(seg):
                    self._feed_segment(ck, groups[gi], seg, segw)

    def _feed_segment(self, ck, key: tuple, seg: np.ndarray, w: np.ndarray | None) -> None:
        pre, raw = self._columns[ck]
        direct = pre + raw
        if pre and self._count(ck, key, seg, _dense_len(seg)):
            for name in pre:  # held, so a keyed feed's flush_keys counts them
                self._sketch(key, name)
            direct = raw
        elif pre:
            self._own_pre.add((ck, key))
        step = _base.UPDATE_SUPER
        for name in direct:
            sk = self._sketch(key, name)
            for s in range(0, len(seg), step):
                if w is None:
                    sk.update(seg[s : s + step])
                else:
                    sk.update(seg[s : s + step], counts=w[s : s + step])

    def resume(self, key: tuple, name: str, sketch: Sketch) -> None:
        """Make ``sketch`` the (key, name) sketch, which later units update
        in place; a shipped partial is fed into it, never replaces it."""
        self.sketches[(key, name)] = sketch
        ck = _column_key(self.specs[name])
        if name in self._columns[ck][0]:
            self._own_pre.add((ck, key))

    def _sketch(self, key: tuple, name: str) -> Sketch:
        sk = self.sketches.get((key, name))
        if sk is None:
            sk = self.sketches[(key, name)] = self.specs[name].new()
        return sk

    def _count(self, ck, key: tuple, vals: np.ndarray, need: int) -> bool:
        """Add ``vals`` to the (column, key) accumulator, which must grow to
        ``need`` counters; refuse (False) when ``need`` is 0 or the growth
        would take the column past DENSE_CAP counters."""
        accs = self._counts.setdefault(ck, {})
        acc = accs.get(key, np.zeros(0, dtype=np.int64))
        grow = max(need - len(acc), 0)
        if need == 0 or self._held[ck] + grow > DENSE_CAP:
            return False
        self._held[ck] += grow
        # sliced so the intp copy bincount needs stays O(UPDATE_SUPER)
        step = _base.UPDATE_SUPER
        for s in range(0, len(vals), step):
            c = np.bincount(vals[s : s + step].astype(np.intp, copy=False))
            if len(acc) < len(c):
                acc, c = c, acc
            acc[: len(c)] += c
        accs[key] = acc
        return True

    def partial(self) -> dict[tuple[tuple, str], Sketch]:
        """Return ``{(key, name): state}`` and leave the feed empty: every
        raw-fed sketch, plus one id→count partial per counted (column, key)
        under the name ``_PARTIAL + col`` where the size rule ships it. A
        shipped partial replaces its key's pre-aggregating sketches unless
        raw segments fed them too or one was resumed. With no keys every
        other spec has a state, fed or not."""
        out, self.sketches = self.sketches, {}
        if not self.keys:  # every spec, in spec order
            out = {((), n): out[((), n)] if ((), n) in out else s.new() for n, s in self.specs.items()}
        for ck, accs in self._counts.items():
            pre = self._columns[ck][0]
            fresh = [self.specs[n].new() for n in pre]
            named = [(n, self.specs[n].kind, self.specs[n].params) for n in pre]
            for key, acc in accs.items():
                ids = np.flatnonzero(acc)
                part = _IdCounts(ids, acc[ids], named)
                if not _ships(part, fresh):
                    for n in pre:
                        _feed_counted(out[(key, n)], part)
                    continue
                if (ck, key) not in self._own_pre:
                    for n in pre:
                        del out[(key, n)]
                out[(key, _PARTIAL + ck[0])] = part
        self._counts.clear()
        self._held = dict.fromkeys(self._columns, 0)
        self._own_pre.clear()
        return out


def partition_states(
    df: DataFrame, specs: list[SketchSpec], weight_col: str | None = None
) -> DataFrame:
    """Partial aggregation: one serialized state per (partition, state
    name) — :meth:`TaskFeed.partial`'s, so a row may hold an id→count
    partial; :func:`tree_merge_states` folds and expands them.

    ``weight_col`` (optional): a numeric per-row weight fed to every spec
    as ``update(values, counts=...)``; for list columns a row's weight
    applies to each of its tokens.

    Also emits per-partition lineage/throughput metrics (rows, values of the
    row's column, wall ms), the reference's per-phase timers
    (mpiParallelIO.cpp:91-99); zero on a partial beside its specs' own
    states, so a spec's and its partial's rows count each partition once.
    """

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.perf_counter()
        task = TaskFeed(specs, weight_col=weight_col)
        n_rows = 0
        for batch in batches:
            n_rows += batch.num_rows
            task.feed(batch)
        states = {name: sk for (_, name), sk in task.partial().items()}
        wall_ms = (time.perf_counter() - t0) * 1e3

        def metrics(name, sk):
            if name.startswith(_PARTIAL):
                if any(n in states for n, _, _ in sk.specs):
                    return 0, 0, 0.0
                name = sk.specs[0][0]
            return n_rows, task.n_values[name], wall_ms

        m = [metrics(n, sk) for n, sk in states.items()]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(list(states), pa.string()),
                pa.array([sk.to_bytes() for sk in states.values()], pa.binary()),
                pa.array([r for r, _, _ in m], pa.int64()),
                pa.array([v for _, v, _ in m], pa.int64()),
                pa.array([t for _, _, t in m], pa.float64()),
            ],
            names=["name", "state", "n_rows", "n_values", "wall_ms"],
        )

    cols = sorted({s.col for s in specs} | ({weight_col} if weight_col else set()))
    return df.select(*cols).mapInArrow(build, _STATE_SCHEMA)


def fold_states(pairs: Iterable[tuple[Any, bytes]]) -> dict[Any, Sketch | bytes]:
    """The one state fold: (key, state bytes) pairs → one state per key.

    Each input is deserialized once (a pairwise reduce would pay
    compress/decompress per step). A key seen once keeps its input bytes
    untouched, so a partition that already holds one state per key — every
    partial-aggregation task — passes through with no decode or re-encode;
    a merged key holds a :class:`Sketch`. :func:`_as_bytes` and
    :func:`_as_sketch` normalize the values."""
    out: dict[Any, Sketch | bytes] = {}
    for key, blob in pairs:
        cur = out.get(key)
        if cur is None:
            out[key] = blob
            continue
        if not isinstance(cur, Sketch):
            cur = out[key] = from_bytes(bytes(cur))
        cur.merge(from_bytes(bytes(blob)))
    return out


def _as_bytes(state: Sketch | bytes) -> bytes:
    return state.to_bytes() if isinstance(state, Sketch) else bytes(state)


def _as_sketch(state: Sketch | bytes) -> Sketch:
    return state if isinstance(state, Sketch) else from_bytes(bytes(state))


def _fold_partition(pairs) -> Iterator[tuple[Any, bytes]]:
    return ((key, _as_bytes(state)) for key, state in fold_states(pairs).items())


# Fanout of the merge tree: a level runs only while more than TREE_FANOUT
# partitions remain, so the serial driver fold sees at most TREE_FANOUT
# states per name and each level is one shuffle of kilobyte states.
TREE_FANOUT = 16


def tree_merge_states(states: DataFrame | RDD) -> dict[str, Sketch]:
    """Log-fanout tree merge of serialized states → driver dict. ``states``
    is a (name, state) DataFrame or an RDD of (name, state bytes) pairs.

    Every partition is folded in place, then each level coalesces the
    partition count by :data:`TREE_FANOUT` and folds the co-located states
    again: the correct version of the reference's disabled binomial-tree
    reduction (mpiParallelIO.cpp:301-345). The driver's fold, the last,
    expands the id→count partials: the result holds only spec names."""
    rdd = states.select("name", "state").rdd if isinstance(states, DataFrame) else states
    nparts = max(1, rdd.getNumPartitions())
    rdd = rdd.mapPartitions(_fold_partition)
    while nparts > TREE_FANOUT:
        nparts = max(TREE_FANOUT, nparts // TREE_FANOUT)
        # shuffle=True: narrow coalesce would collapse the upstream partial-
        # aggregation stage to `nparts` tasks; the shuffle moves only states
        rdd = rdd.coalesce(nparts, shuffle=True).mapPartitions(_fold_partition)
    merged = {((), name): _as_sketch(state) for name, state in fold_states(rdd.collect()).items()}
    return {name: sk for (_, name), sk in expand_partials(merged).items()}


def _per_spec(merged: dict[str, Sketch], specs: list[SketchSpec]) -> dict[str, Sketch]:
    """One sketch per spec, in spec order; empty where no task fed it."""
    return {s.name: merged[s.name] if s.name in merged else s.new() for s in specs}


def build_sketches(df: DataFrame, specs: list[SketchSpec]) -> dict[str, Sketch]:
    """scan → per-partition partial sketches → tree merge → {name: Sketch}.
    An empty input yields the identity (empty) sketch for every spec."""
    return _per_spec(tree_merge_states(partition_states(df, specs)), specs)


def build_weighted_sketch(
    df: DataFrame,
    kind: str,
    value_col: str,
    weight_col: str,
    params: dict | None = None,
) -> Sketch:
    """Weighted build: one sketch over (value, weight) PAIR rows — for kinds
    whose ``update(values, counts=...)`` takes per-item weights (cms,
    countsketch, topk, pccm, pmh): :func:`partition_states` with a weight
    column, then the merge tree. Weights ride the scan, never a shuffle; for
    list/token value columns the row's weight applies to each of its tokens.

    For P-MinHash note the monoid semantics: cross-partition merge
    max-combines a feature's weight (sketches/pmh.py docstring) — aggregate
    additive weights per feature first (one groupBy) when sum semantics are
    required."""
    spec = SketchSpec("w", kind, value_col, dict(params or {}))
    return _per_spec(tree_merge_states(partition_states(df, [spec], weight_col)), [spec])["w"]


def sketch_by_key(
    df: DataFrame,
    key: str | list[str],
    specs: list[SketchSpec],
    weight_col: str | None = None,
    flush_keys: int | None = None,
) -> DataFrame:
    """Grouped sketches, two-phase (scales to high-cardinality keys).

    Phase 1 (map side): each partition feeds its Arrow batches to one keyed
    :class:`TaskFeed` and ships its ``partial()`` — the partial aggregate.
    Phase 2 (one shuffle of tiny states): :func:`merge_keyed_states`. The
    shuffle moves at most |keys|×|specs| states per partition, never raw
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
    keys = [key] if isinstance(key, str) else list(key)
    dtypes = dict(df.dtypes)
    key_types = [dtypes[k] for k in keys]

    cols = sorted({s.col for s in specs} | set(keys) | ({weight_col} if weight_col else set()))
    key_schema = ", ".join(f"{k} {t}" for k, t in zip(keys, key_types))
    partials = df.select(*cols).mapInArrow(
        lambda batches: _keyed_partial(batches, keys, specs, weight_col, flush_keys or FLUSH_KEYS),
        f"{key_schema}, name string, state binary",
    )

    return merge_keyed_states(partials, keys, key_types)


def _encode_keys(batch: pa.RecordBatch | pa.Table, keys: list[str]):
    """Dictionary-encode the key columns of one batch or table into a dense
    group id per row plus the per-group key tuples and arrow types.
    Single-key batches reuse the dictionary indices directly (no extra
    pass); the multi-key composite pays one np.unique remap."""
    per_inv, per_uniq, arrow_types = [], [], []
    for k in keys:
        karr = batch.column(batch.schema.get_field_index(k))
        if isinstance(karr, pa.ChunkedArray):
            karr = karr.combine_chunks()  # one dictionary for the whole unit
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
# lives in task memory until emitted, so unbounded key cardinality would be
# unbounded memory (10M keys x a 16 KB HLL = 160 GB). Past this many
# sketches the task flushes a partial-state batch; the reduce merge absorbs
# any number of partials per key, so results are unchanged and task memory
# is O(cap x state size) — worst case ~0.5 GB of p=14 dense HLLs.
FLUSH_KEYS = 32_768


def _keyed_partial(
    units: Iterable, keys: list[str], specs: list[SketchSpec],
    weight_col: str | None, flush_keys: int = FLUSH_KEYS,
) -> Iterator[pa.RecordBatch]:
    """Shared map-side combine for grouped builds: feed a stream of Arrow
    batches or tables to one keyed :class:`TaskFeed` and emit its
    ``partial()`` as a (keys..., name, state) batch at the end — and
    earlier whenever it holds more than ``flush_keys`` sketches (bounded
    memory at any key cardinality). Used by both the DataFrame path
    (:func:`sketch_by_key`) and the parquet-direct path
    (:func:`sketch_spark.spark.files.sketch_by_key_from_parquet`)."""

    def emit(sketches):
        items = sorted(sketches.items(), key=lambda kv: (repr(kv[0][0]), kv[0][1]))
        cols = [pa.array([k[i] for (k, _), _ in items], t) for i, t in enumerate(feed.key_types)]
        cols.append(pa.array([n for (_, n), _ in items], pa.string()))
        cols.append(pa.array([s.to_bytes() for _, s in items], pa.binary()))
        return pa.RecordBatch.from_arrays(cols, names=list(keys) + ["name", "state"])

    feed = TaskFeed(specs, keys, weight_col)
    for unit in units:
        feed.feed(unit)
        if len(feed.sketches) > flush_keys:
            yield emit(feed.partial())
    if feed.sketches:
        yield emit(feed.partial())


def merge_keyed_states(
    partials: DataFrame, key: str | list[str], key_type: str | list[str]
) -> DataFrame:
    """Phase 2 of a grouped build, its last fold: one groupBy over the keys
    alone folds each key's rows by name, expands its id→count partials and
    emits one row per spec name, key types kept; a key with one state per
    name and no partial passes through undecoded."""
    keys = [key] if isinstance(key, str) else list(key)
    key_types = [key_type] if isinstance(key_type, str) else list(key_type)

    def final_merge(pdf):
        folded = fold_states((((), name), blob) for name, blob in zip(pdf["name"], pdf["state"]))
        states = expand_partials(folded)
        row = {k: [pdf[k].iloc[0]] * len(states) for k in keys}
        row["name"] = [name for _, name in states]
        row["state"] = [_as_bytes(st) for st in states.values()]
        return pd.DataFrame(row)

    schema = ", ".join([f"{k} {t}" for k, t in zip(keys, key_types)] + ["name string", "state binary"])
    return partials.groupBy(*keys).applyInPandas(final_merge, schema)


def rollup_states(states: DataFrame, keys: list[str]) -> DataFrame:
    """Roll a keyed state table up to coarser granularity by MERGING states
    — the OLAP rollup that mergeability buys: build once per fine key
    (e.g. (source, day)), then answer any coarser grouping ((source,),
    (day,), or global) by folding kilobyte states, never rescanning data.

    ``states``: any (key columns..., name, state) DataFrame produced by
    :func:`sketch_by_key` / ``sketch_by_key_from_parquet`` / a checkpoint
    table. ``keys``: the key columns to KEEP (may be empty — one global
    group, merged per spec name). Dropped key dimensions are merged away.
    For the partitioning-invariant kinds the rolled-up state is
    byte-identical to a direct build at the coarser granularity (the §5
    merge invariant), so rollup tables can be layered arbitrarily deep
    without error accumulation — the reference's combine phase generalized
    from one global merge to any lattice of groupings."""
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
