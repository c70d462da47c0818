"""Vocabulary pre-aggregation in the global task body (spark.agg.TaskFeed):
a unit whose ids are all in [0, DENSE_CAP) is bincounted once per column,
and the kinds that declare ``Sketch.preaggregate`` get the distinct ids (and
their counts) once per task. Every state must be byte-identical to the raw
feed, which is what these tests check — per kind over the whole registry,
and per edge case through the parquet-direct task body."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import sketch_spark.sketches  # noqa: F401  (registers every kind)
import sketch_spark.sketches.base as base_mod
from sketch_spark.sketches.base import _REGISTRY, from_bytes, make_sketch
from sketch_spark.spark.agg import (
    DENSE_CAP,
    SketchSpec,
    TaskFeed,
    _extract_column,
    _is_dense,
    build_sketches,
)
from sketch_spark.spark.files import (
    _build_states_for_units,
    _fold_objects,
    _fold_states,
    build_sketches_from_parquet,
    list_parquet_files,
)


def _zipf_ids(n: int, vocab: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, vocab + 1) ** 1.2
    cdf = np.cumsum(w) / w.sum()
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), vocab - 1)
    return rng.permutation(vocab).astype(np.int32)[ranks]


@pytest.mark.parametrize("kind", sorted(_REGISTRY))
def test_declared_kind_preaggregates_byte_identically(kind):
    """A kind that declares pre-aggregation must give the raw feed's exact
    bytes from the distinct ids (``"set"``) or ids with counts
    (``"counts"``); run over the whole registry, so a new kind cannot claim
    the attribute — or inherit it from a base class — unchecked."""
    mode = _REGISTRY[kind].preaggregate
    assert mode in (None, "set", "counts")
    if mode is None:
        return
    vals = _zipf_ids(300_000, 20_000, seed=5)
    raw = make_sketch(kind)
    for chunk in np.array_split(vals, 3):
        raw.update(chunk)
    acc = np.bincount(vals)
    ids = np.flatnonzero(acc)
    assert len(ids) < len(vals) // 5  # the fixture really repeats ids
    pre = make_sketch(kind)
    if mode == "counts":
        pre.update(ids, counts=acc[ids])
    else:
        pre.update(ids)
    assert pre.to_bytes() == raw.to_bytes()


def test_declared_kinds():
    declared = {k: c.preaggregate for k, c in _REGISTRY.items() if c.preaggregate}
    assert declared == {"hll": "set", "dhll": "set", "bloom": "set", "minhash": "set", "cms": "counts"}


# ---- task body -------------------------------------------------------------

def _raw_states(units, spec_list, row_filter=None):
    """The task body without pre-aggregation: every spec extracts its
    column per unit and takes the raw stream in UPDATE_SUPER slices."""
    sketches = {name: make_sketch(kind, **params) for name, kind, _, params, _ in spec_list}
    cols = sorted({c for _, _, c, _, _ in spec_list})
    for path, rg_lo, rg_hi in units:
        if rg_lo is None:
            table = pq.read_table(path, columns=cols)
        else:
            table = pq.ParquetFile(path).read_row_groups(list(range(rg_lo, rg_hi)), columns=cols)
        if row_filter is not None:
            table = row_filter(table)
        for name, _, col, _, want_float in spec_list:
            vals = _extract_column(table, col, want_float)
            step = base_mod.UPDATE_SUPER
            for s in range(0, len(vals), step):
                sketches[name].update(vals[s : s + step])
    return {name: sk.to_bytes() for name, sk in sketches.items()}


def _spec_list(specs):
    return [(s.name, s.kind, s.col, dict(s.params), s.is_quantile) for s in specs]


def _write(path, tokens, row_group_size=None, typ=pa.int64()):
    table = pa.table(
        {
            "tokens": pa.array(tokens, pa.list_(typ)),
            "n_tok": pa.array([len(t) for t in tokens], pa.int32()),
            "word": pa.array([f"w{t[0] % 97 if t and t[0] is not None else 0}" for t in tokens]),
        }
    )
    pq.write_table(table, path, row_group_size=row_group_size)
    return str(path)


def _docs(ids: np.ndarray, per_doc: int = 50) -> list[list[int]]:
    return [ids[i : i + per_doc].tolist() for i in range(0, len(ids), per_doc)]


SPECS = [
    SketchSpec("h", "hll", "tokens", {"p": 12}),
    SketchSpec("h10", "hll", "tokens", {"p": 10, "seed": 3}),
    SketchSpec("d", "dhll", "tokens", {"p": 10}),
    SketchSpec("c", "cms", "tokens", {"l2sz": 12, "nh": 4}),
    SketchSpec("c2", "cms", "tokens", {"l2sz": 10, "nh": 3, "seed": 9}),
    SketchSpec("b", "bloom", "tokens", {"l2sz": 16, "nh": 3}),
    SketchSpec("m", "minhash", "tokens", {"k": 256}),
    SketchSpec("cbf", "cbf", "tokens", {"l2sz": 15, "nh": 3}),
    SketchSpec("k", "kll", "n_tok", {"k": 64}),
    SketchSpec("hw", "hll", "word", {"p": 10}),
]


@pytest.fixture
def dense_spy(monkeypatch):
    """Counts the units that took the bincount route, so a case cannot pass
    by never reaching it; shrinks UPDATE_SUPER so the raw slicing that the
    batch-boundary-dependent kinds see is exercised at test size."""
    calls = []
    real = TaskFeed._count

    def spy(self, key, vals):
        calls.append((key, len(vals)))
        return real(self, key, vals)

    monkeypatch.setattr(TaskFeed, "_count", spy)
    monkeypatch.setattr(base_mod, "UPDATE_SUPER", 1_000)
    return calls


def _check(units, dense_spy, specs=SPECS, row_filter=None):
    spec_list = _spec_list(specs)
    out = list(_build_states_for_units(units, spec_list, row_filter))
    assert len(out) == 1
    assert out[0] == _raw_states(units, spec_list, row_filter)
    return out[0]


def test_mixed_dense_and_sparse_units(tmp_path, dense_spy):
    rng = np.random.default_rng(1)
    dense = _write(tmp_path / "a.parquet", _docs(_zipf_ids(6_000, 2_000, seed=2)))
    sparse = _write(tmp_path / "b.parquet", _docs(rng.integers(0, 2**40, 4_000)))
    dense2 = _write(tmp_path / "c.parquet", _docs(_zipf_ids(5_000, 3_000, seed=3)))
    _check([(dense, None, None), (sparse, None, None), (dense2, None, None)], dense_spy)
    assert [n for (col, _), n in dense_spy] == [6_000, 5_000]


def test_negative_ids_fall_back(tmp_path, dense_spy):
    ids = _zipf_ids(4_000, 500, seed=4).astype(np.int64)
    ids[17] = -3
    neg = _write(tmp_path / "neg.parquet", _docs(ids))
    ok = _write(tmp_path / "ok.parquet", _docs(np.abs(ids)))
    _check([(neg, None, None), (ok, None, None)], dense_spy)
    assert len(dense_spy) == 1


def test_dense_cap_boundary(tmp_path, dense_spy):
    base = _zipf_ids(3_000, 800, seed=6).astype(np.int64)
    at_cap = _write(tmp_path / "cap.parquet", _docs(np.append(base, DENSE_CAP)))
    below = _write(tmp_path / "below.parquet", _docs(np.append(base, DENSE_CAP - 1)))
    _check([(at_cap, None, None), (below, None, None)], dense_spy)
    # only the unit whose max id is DENSE_CAP - 1 was counted, and the
    # accumulator is sized to that largest id, not beyond it
    assert len(dense_spy) == 1
    feed = TaskFeed(_spec_list(SPECS[:1]))
    feed.feed(pq.read_table(below))
    assert len(feed._counts[("tokens", False)]) == DENSE_CAP


@pytest.mark.filterwarnings("ignore:invalid value encountered in cast")
def test_null_list_element_keeps_todays_state(tmp_path, dense_spy):
    """A null element extracts to the INT64_MIN sentinel: the unit fails
    the gate and its state is whatever the raw feed makes of it."""
    docs = _docs(_zipf_ids(3_000, 700, seed=7).astype(np.int64))
    docs[3][5] = None
    with_null = _write(tmp_path / "null.parquet", docs)
    vals = _extract_column(pq.read_table(with_null, columns=["tokens"]), "tokens", False)
    assert vals.min() == np.iinfo(np.int64).min
    _check([(with_null, None, None)], dense_spy)
    assert dense_spy == []


def test_string_and_int32_columns(tmp_path, dense_spy):
    """Strings hash to uint64 ids (far above the cap: raw route); an int32
    token column takes the dense route with int64 ids at finish."""
    f = _write(tmp_path / "i32.parquet", _docs(_zipf_ids(5_000, 1_000, seed=8)), typ=pa.int32())
    _check([(f, None, None)], dense_spy)
    assert [key for key, _ in dense_spy] == [("tokens", False)]


def test_row_group_and_empty_units(tmp_path, dense_spy):
    f = _write(tmp_path / "rg.parquet", _docs(_zipf_ids(8_000, 1_500, seed=10)), row_group_size=40)
    assert pq.ParquetFile(f).metadata.num_row_groups == 4
    empty = _write(tmp_path / "empty.parquet", [])
    units = [(f, 0, 1), (f, 1, 1), (empty, None, None), (f, 1, 4), (empty, 0, 0)]
    _check(units, dense_spy)
    assert [n for _, n in dense_spy] == [2_000, 6_000]


def test_row_filter_dropping_every_row(tmp_path, dense_spy):
    f = _write(tmp_path / "a.parquet", _docs(_zipf_ids(2_000, 300, seed=11)))
    states = _check([(f, None, None)], dense_spy, row_filter=lambda t: t.slice(0, 0))
    assert from_bytes(states["h"]).estimate() == 0.0
    assert dense_spy == []


def test_no_units_yields_nothing():
    assert list(_build_states_for_units([], _spec_list(SPECS))) == []


def test_batch_dependent_kind_stays_raw(tmp_path, dense_spy):
    """cbf shares the column with counted specs but must see the raw stream,
    sliced the same way the raw task body slices it."""
    feed = TaskFeed(_spec_list(SPECS))
    pre, raw = feed._columns[("tokens", False)]
    assert pre == ["h", "h10", "d", "c", "c2", "b", "m"] and raw == ["cbf"]
    assert feed._columns[("n_tok", True)] == ([], ["k"])
    f = _write(tmp_path / "a.parquet", _docs(_zipf_ids(7_000, 900, seed=12)))
    specs = [SketchSpec("cbf", "cbf", "tokens", {"l2sz": 15, "nh": 3}), SPECS[0]]
    states = _check([(f, None, None)], dense_spy, specs=specs)
    whole = make_sketch("cbf", l2sz=15, nh=3).update(
        _extract_column(pq.read_table(f), "tokens", False)
    )
    assert states["cbf"] != whole.to_bytes()  # slicing matters for cbf


def test_task_feed_counts_values_per_spec(tmp_path):
    ids = _zipf_ids(1_000, 100, seed=13)
    f = _write(tmp_path / "a.parquet", _docs(ids))
    feed = TaskFeed(_spec_list(SPECS))
    feed.feed(pq.read_table(f))
    feed.feed(pq.read_table(f))
    assert feed.n_values["h"] == feed.n_values["cbf"] == 2_000
    # sized to the largest id seen, not to DENSE_CAP
    assert len(feed._counts[("tokens", False)]) == ids.max() + 1
    assert feed.n_values["k"] == feed.n_values["hw"] == 40


def test_fold_states_wraps_fold_objects():
    rng = np.random.default_rng(14)
    dicts = [
        {"h": make_sketch("hll", p=8).update(rng.integers(0, 10**6, 500)).to_bytes()}
        for _ in range(3)
    ]
    (folded,) = list(_fold_states(iter(dicts)))
    assert folded == {"h": _fold_objects(dicts)["h"].to_bytes()}
    assert list(_fold_states(iter([]))) == []
    with pytest.raises(ValueError, match="no states"):
        _fold_objects([])


def test_dense_gate():
    assert _is_dense(np.array([0, 5, DENSE_CAP - 1], dtype=np.int32))
    assert _is_dense(np.array([7], dtype=np.uint64))
    assert not _is_dense(np.array([0, DENSE_CAP], dtype=np.int64))
    assert not _is_dense(np.array([-1, 3], dtype=np.int64))
    assert not _is_dense(np.array([], dtype=np.int64))
    assert not _is_dense(np.array([1.0, 2.0]))
    assert not _is_dense(np.array([True, False]))


def test_spark_builds_match_a_raw_local_build(spark, fixtures):
    """Both global build paths pre-aggregate the Zipf fixture's tokens (per
    task, over different units) and still equal one local raw-fed sketch."""
    path = os.path.join(fixtures[0], "zipf")
    specs = [s for s in SPECS if s.name in ("h", "d", "c", "b", "m")]
    via_files = build_sketches_from_parquet(spark, path, specs)
    via_df = build_sketches(spark.read.parquet(path), specs)
    local = _raw_states([(f, None, None) for f in list_parquet_files(path)], _spec_list(specs))
    for s in specs:
        assert via_files[s.name].to_bytes() == via_df[s.name].to_bytes() == local[s.name]
