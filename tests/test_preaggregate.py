"""Vocabulary pre-aggregation in the task body (spark.agg.TaskFeed): a
segment whose ids are all in [0, DENSE_CAP) is bincounted once per (column,
key), and the kinds that declare ``Sketch.preaggregate`` get the distinct
ids (and their counts) once per task. Every state must be byte-identical to
the raw feed, which is what these tests check — per kind over the whole
registry, per edge case through the parquet-direct task body, and per key
through the grouped builds."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import sketch_spark.sketches  # noqa: F401  (registers every kind)
import sketch_spark.sketches.base as base_mod
from sketch_spark.sketches.base import _REGISTRY, from_bytes, make_sketch, merge_all
from sketch_spark.spark import agg, files
from sketch_spark.spark.agg import (
    _PARTIAL,
    DENSE_CAP,
    SketchSpec,
    TaskFeed,
    _as_bytes,
    _IdCounts,
    _dense_len,
    _extract_column,
    _fold_partition,
    _keyed_partial,
    build_sketches,
    expand_partials,
    fold_states,
    partition_states,
    sketch_by_key,
    tree_merge_states,
)
from sketch_spark.spark.files import (
    _build_states_for_units,
    _feed_units,
    _read_unit,
    build_sketches_from_parquet,
    list_parquet_files,
    sketch_by_key_from_parquet,
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
    assert {s.kind for s in GROUPED_SPECS} == set(declared)  # the grouped tests cover each


# ---- task body -------------------------------------------------------------

def _raw_states(units, specs, row_filter=None):
    """The task body without pre-aggregation: every spec extracts its
    column per unit and takes the raw stream in UPDATE_SUPER slices."""
    sketches = {s.name: s.new() for s in specs}
    cols = sorted({s.col for s in specs})
    for path, rg_lo, rg_hi in units:
        if rg_lo is None:
            table = pq.read_table(path, columns=cols)
        else:
            table = pq.ParquetFile(path).read_row_groups(list(range(rg_lo, rg_hi)), columns=cols)
        if row_filter is not None:
            table = row_filter(table)
        for spec in specs:
            vals = _extract_column(table, spec.col, spec.is_quantile)
            step = base_mod.UPDATE_SUPER
            for s in range(0, len(vals), step):
                sketches[spec.name].update(vals[s : s + step])
    return {name: sk.to_bytes() for name, sk in sketches.items()}


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

    def spy(self, col_key, key, vals, need):
        counted = real(self, col_key, key, vals, need)
        if counted:
            calls.append((col_key, len(vals)))
        return counted

    monkeypatch.setattr(TaskFeed, "_count", spy)
    monkeypatch.setattr(base_mod, "UPDATE_SUPER", 1_000)
    return calls


def _expanded(pairs):
    """The driver's end of a parquet-direct build over (name, state) pairs:
    fold, then feed the merged partials to the specs they stand in for."""
    merged = {((), n): st for n, st in fold_states(pairs).items()}
    return {name: _as_bytes(st) for (_, name), st in expand_partials(merged).items()}


def _check(units, dense_spy, specs=SPECS, row_filter=None):
    """Both places a task's partials expand — in the task, as the
    checkpoint does, and after the fold, as the driver does — give the raw
    feed's bytes."""
    finished = expand_partials(_feed_units(units, specs, row_filter).partial())
    pairs = [(name, sk.to_bytes()) for (_, name), sk in finished.items()]
    states = dict(pairs)
    assert len(pairs) == len(states) == len(specs)  # one state per spec
    raw = _raw_states(units, specs, row_filter)
    assert states == raw
    counted = list(dense_spy)
    partial = list(_build_states_for_units(units, specs, row_filter))
    assert dense_spy[len(counted):] == counted  # the same units were counted
    del dense_spy[len(counted):]
    assert len(partial) == len(dict(partial))  # one state per name
    assert _expanded(partial) == raw
    return states


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
    feed = TaskFeed(SPECS[:1])
    feed.feed(pq.read_table(below))
    assert len(feed._counts[("tokens", False)][()]) == DENSE_CAP


def test_null_list_element_is_skipped(tmp_path, dense_spy):
    """A null element is skipped at extraction: the unit still passes the
    gate, and every state is the raw feed's over the other ids."""
    ids = _zipf_ids(3_000, 700, seed=7).astype(np.int64)
    docs = _docs(ids)
    docs[3][5] = None
    with_null = _write(tmp_path / "null.parquet", docs)
    vals = _extract_column(pq.read_table(with_null, columns=["tokens"]), "tokens", False)
    assert len(vals) == len(ids) - 1 and vals.min() >= 0
    _check([(with_null, None, None)], dense_spy)
    assert [n for _, n in dense_spy] == [len(ids) - 1]


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
    assert list(_build_states_for_units([], SPECS)) == []


def test_batch_dependent_kind_stays_raw(tmp_path, dense_spy):
    """cbf shares the column with counted specs but must see the raw stream,
    sliced the same way the raw task body slices it."""
    feed = TaskFeed(SPECS)
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
    feed = TaskFeed(SPECS)
    feed.feed(pq.read_table(f))
    feed.feed(pq.read_table(f))
    assert feed.n_values["h"] == feed.n_values["cbf"] == 2_000
    # sized to the largest id seen, not to DENSE_CAP
    assert len(feed._counts[("tokens", False)][()]) == ids.max() + 1
    assert feed.n_values["k"] == feed.n_values["hw"] == 40


def test_fold_states_decodes_each_state_once():
    rng = np.random.default_rng(14)
    blobs = [
        make_sketch("hll", p=8).update(rng.integers(0, 10**6, 500)).to_bytes()
        for _ in range(3)
    ]
    folded = fold_states(("h", b) for b in blobs)
    assert list(folded) == ["h"]
    assert _as_bytes(folded["h"]) == merge_all([from_bytes(b) for b in blobs]).to_bytes()
    assert fold_states([]) == {}
    assert list(_fold_partition(iter([]))) == []


def test_dense_gate():
    assert _dense_len(np.array([0, 5, DENSE_CAP - 1], dtype=np.int32)) == DENSE_CAP
    assert _dense_len(np.array([7], dtype=np.uint64)) == 8
    assert not _dense_len(np.array([0, DENSE_CAP], dtype=np.int64))
    assert not _dense_len(np.array([-1, 3], dtype=np.int64))
    assert not _dense_len(np.array([], dtype=np.int64))
    assert not _dense_len(np.array([1.0, 2.0]))
    assert not _dense_len(np.array([True, False]))


def test_spark_builds_match_a_raw_local_build(spark, fixtures):
    """Both global build paths pre-aggregate the Zipf fixture's tokens (per
    task, over different units) and still equal one local raw-fed sketch."""
    path = os.path.join(fixtures[0], "zipf")
    specs = [s for s in SPECS if s.name in ("h", "d", "c", "b", "m")]
    via_files = build_sketches_from_parquet(spark, path, specs)
    via_df = build_sketches(spark.read.parquet(path), specs)
    local = _raw_states([(f, None, None) for f in list_parquet_files(path)], specs)
    for s in specs:
        assert via_files[s.name].to_bytes() == via_df[s.name].to_bytes() == local[s.name]


# ---- id->count partials (TaskFeed.partial) --------------------------------

def _idcounts(ids):
    return _IdCounts().update(np.asarray(ids, dtype=np.int64))


def test_partial_merge_laws():
    a, b, c = (_idcounts(_zipf_ids(5_000, 3_000, seed=s)) for s in (20, 21, 22))
    ab_c = _idcounts([]).merge(a).merge(b).merge(c)
    a_bc = a.copy().merge(b.copy().merge(c))
    assert ab_c.to_bytes() == a_bc.to_bytes()  # associative
    assert a.copy().merge(b).to_bytes() == b.copy().merge(a).to_bytes()  # commutative
    assert a.copy().merge(_idcounts([])).to_bytes() == a.to_bytes()  # empty identity
    assert _idcounts([]).merge(a).to_bytes() == a.to_bytes()
    # an exact sum: the merged map is the bincount of the three streams
    every = np.concatenate([_zipf_ids(5_000, 3_000, seed=s) for s in (20, 21, 22)])
    acc = np.bincount(every)
    assert np.array_equal(ab_c.ids, np.flatnonzero(acc))
    assert np.array_equal(ab_c.counts, acc[ab_c.ids])


def test_partial_wire_round_trip_at_wide_ids_and_counts():
    ids = np.array([0, 7, 2**31 - 2, 2**31 + 5], dtype=np.int64)
    counts = np.array([1, 2**33, 3, 2**40 + 1], dtype=np.int64)
    part = _IdCounts(ids, counts)
    blob = part.to_bytes()
    back = from_bytes(blob)
    assert isinstance(back, _IdCounts) and back.to_bytes() == blob
    assert back.ids.dtype == back.counts.dtype == np.int64
    assert np.array_equal(back.ids, ids) and np.array_equal(back.counts, counts)
    assert {k: a.dtype for k, a in part._arrays().items()} == {
        "ids": np.uint32, "counts": np.uint64,
    }
    # a merge past DENSE_CAP takes the sparse union and stays exact
    both = back.merge(_IdCounts(ids[1:2], counts[1:2]))
    assert np.array_equal(both.counts, counts * np.array([1, 2, 1, 1]))


def test_partial_rejects_negative_ids():
    with pytest.raises(ValueError, match="non-negative"):
        _idcounts([3, -1])


@pytest.fixture(params=["ship", "feed"])
def route(request, monkeypatch):
    """Forces the size rule: "ship" always ships the partial, "feed" never."""
    ship = request.param == "ship"
    monkeypatch.setattr(agg, "_ships", lambda part, fresh: ship)
    return request.param


def test_both_routes_give_the_raw_bytes_for_every_preaggregate_kind(fixtures, route):
    path = os.path.join(fixtures[0], "zipf")
    files = list_parquet_files(path)
    specs = GROUPED_SPECS + [SketchSpec("k", "kll", "n_tok", {"k": 64})]
    tasks = [[(f, None, None) for f in files[t::3]] for t in range(3)]
    pairs = []
    for units in tasks:
        shipped = list(_build_states_for_units(units, specs))
        names = [n for n, _ in shipped]
        if route == "ship":
            assert names == ["k", _PARTIAL + "tokens"]
        else:
            assert names == [s.name for s in specs]
        pairs += shipped
    got = _expanded(pairs)
    assert sorted(got) == sorted(s.name for s in specs)
    # kll rides along raw-fed; its bytes depend on the task split
    local = _raw_states([u for units in tasks for u in units], GROUPED_SPECS)
    assert {n: got[n] for n in local} == local


def test_raw_fed_sketch_and_partial_ship_from_one_task(tmp_path, dense_spy):
    """A sparse unit feeds the counted column's sketches raw; the dense
    units' partial ships beside them and expands to the raw-fed bytes."""
    rng = np.random.default_rng(23)
    dense = _write(tmp_path / "a.parquet", _docs(_zipf_ids(6_000, 2_000, seed=24)))
    sparse = _write(tmp_path / "b.parquet", _docs(rng.integers(0, 2**40, 3_000)))
    units = [(dense, None, None), (sparse, None, None)]
    specs = [s for s in SPECS if s.name in ("h", "c", "b", "k")]
    shipped = dict(_build_states_for_units(units, specs))
    assert sorted(shipped) == sorted(["h", "c", "b", "k", _PARTIAL + "tokens"])
    assert from_bytes(shipped["h"]).estimate() > 0  # the raw-fed part
    assert _expanded(shipped.items()) == _raw_states(units, specs)
    assert len(dense_spy) == 1


def test_kll_only_feed_ships_no_partial(tmp_path):
    f = _write(tmp_path / "a.parquet", _docs(_zipf_ids(3_000, 500, seed=25)))
    specs = [SketchSpec("k", "kll", "n_tok", {"k": 64}), SketchSpec("t", "kll", "tokens", {"k": 64})]
    feed = TaskFeed(specs)
    feed.feed(pq.read_table(f))
    assert feed._counts == {}
    assert list(feed.partial()) == [((), "k"), ((), "t")]


def test_size_rule_keeps_sketches_when_the_partial_is_larger(tmp_path):
    """4 000 distinct ids (64 KB in memory) ship in place of a 128 KB CMS,
    not of a 256 B HLL."""
    f = _write(tmp_path / "a.parquet", _docs(np.arange(4_000)))
    feed = TaskFeed([SketchSpec("h", "hll", "tokens", {"p": 8})])
    feed.feed(pq.read_table(f))
    assert list(feed.partial()) == [((), "h")]
    feed = TaskFeed([SketchSpec("c", "cms", "tokens", {"l2sz": 12, "nh": 4})])
    feed.feed(pq.read_table(f))
    assert list(feed.partial()) == [((), _PARTIAL + "tokens")]


def test_spec_rejects_the_reserved_name():
    with pytest.raises(ValueError, match="reserved"):
        SketchSpec(_PARTIAL + "tokens", "hll", "tokens")


def test_parquet_build_returns_exactly_the_spec_names(spark, fixtures):
    path = os.path.join(fixtures[0], "zipf")
    specs = GROUPED_SPECS + [SketchSpec("k", "kll", "n_tok", {"k": 64})]
    out = build_sketches_from_parquet(spark, path, specs)
    assert list(out) == [s.name for s in specs]
    local = _raw_states([(f, None, None) for f in list_parquet_files(path)], specs[:-1])
    assert {n: sk.to_bytes() for n, sk in out.items() if n != "k"} == local


# ---- grouped builds --------------------------------------------------------

# every kind that declares pre-aggregation, at test-size parameters
GROUPED_SPECS = [
    SketchSpec("h", "hll", "tokens", {"p": 10}),
    SketchSpec("d", "dhll", "tokens", {"p": 8}),
    SketchSpec("b", "bloom", "tokens", {"l2sz": 14, "nh": 3}),
    SketchSpec("m", "minhash", "tokens", {"k": 64}),
    SketchSpec("c", "cms", "tokens", {"l2sz": 10, "nh": 3}),
]

# the zipf fixture has 4 sources (mask segmenting) and ~950 distinct doc
# lengths (argsort segmenting)
GROUP_KEYS = ["source", "n_tok"]


def _per_key_states(path, key, specs):
    """One direct raw-fed sketch per (key, spec) over the key's tokens."""
    t = pq.read_table(path, columns=[key, "tokens"])
    uniq, inv = np.unique(np.array(t.column(key).to_pylist(), dtype=object), return_inverse=True)
    toks = t.column("tokens").combine_chunks()
    tok_inv = np.repeat(inv, np.diff(toks.offsets.to_numpy()))
    order = np.argsort(tok_inv, kind="stable")
    flat = toks.flatten().to_numpy()[order]
    bounds = np.searchsorted(tok_inv[order], np.arange(len(uniq) + 1))
    return {
        (k, s.name): s.new().update(flat[bounds[g] : bounds[g + 1]]).to_bytes()
        for g, k in enumerate(uniq.tolist())
        for s in specs
    }


def _grouped_states(batches, key):
    """{(key, name): state bytes} of a grouped task's batches, each key's
    id->count partial expanded as the keyed reducer does."""
    out = {}
    for b in batches:
        d = b.to_pydict()
        for k, name, state in zip(d[key], d["name"], d["state"]):
            assert ((k,), name) not in out
            out[((k,), name)] = bytes(state)
    return {(k, name): _as_bytes(st) for ((k,), name), st in expand_partials(out).items()}


@pytest.fixture
def budget_spy(monkeypatch):
    """Every pre-aggregation attempt: (key, counted, counters the column's
    accumulators hold afterwards)."""
    calls = []
    real = TaskFeed._count

    def spy(self, col_key, key, vals, need):
        counted = real(self, col_key, key, vals, need)
        held = sum(len(a) for a in self._counts.get(col_key, {}).values())
        calls.append((key, counted, held))
        return counted

    monkeypatch.setattr(TaskFeed, "_count", spy)
    return calls


@pytest.mark.parametrize("key", GROUP_KEYS)
@pytest.mark.parametrize("shape", ["tables", "batches"])
def test_grouped_task_body_preaggregates_per_key(fixtures, budget_spy, key, shape):
    """The grouped task body over whole parquet units (the parquet-direct
    path) or over small record batches (the DataFrame path's shape) gives
    the per-key direct bytes, and the bincount route really ran."""
    path = os.path.join(fixtures[0], "zipf")
    tables = (_read_unit((f, None, None), ["tokens", key]) for f in list_parquet_files(path))
    units = tables if shape == "tables" else (b for t in tables for b in t.to_batches(500))
    got = _grouped_states(_keyed_partial(units, [key], GROUPED_SPECS, None), key)
    assert got == _per_key_states(path, key, GROUPED_SPECS)
    counted = {k for k, ok, _ in budget_spy if ok}
    assert counted and max(held for _, _, held in budget_spy) <= DENSE_CAP
    if key == "source":
        assert counted == {("web",), ("code",), ("books",), ("wiki",)}


def test_grouped_dense_budget_spans_keys(fixtures, budget_spy, monkeypatch):
    """A column's accumulators share one DENSE_CAP budget across keys: once
    it is spent, later keys take the raw route, and the bytes do not
    change."""
    cap = 120_000  # about two sources' worth of zipf ids (< 50 000 each)
    monkeypatch.setattr(agg, "DENSE_CAP", cap)
    path = os.path.join(fixtures[0], "zipf")
    units = (_read_unit((f, None, None), ["tokens", "source"]) for f in list_parquet_files(path))
    got = _grouped_states(_keyed_partial(units, ["source"], GROUPED_SPECS, None), "source")
    assert got == _per_key_states(path, "source", GROUPED_SPECS)
    assert max(held for _, _, held in budget_spy) <= cap
    counted = {k for k, ok, _ in budget_spy if ok}
    refused = {k for k, ok, _ in budget_spy if not ok} - counted
    assert counted and refused  # some keys never got an accumulator


@pytest.mark.parametrize("key", GROUP_KEYS)
def test_grouped_builds_match_per_key_builds(spark, fixtures, key):
    """Both grouped build paths pre-aggregate inside their tasks and still
    equal a direct raw-fed build per key, byte for byte."""
    path = os.path.join(fixtures[0], "zipf")
    want = _per_key_states(path, key, GROUPED_SPECS)
    via_df = sketch_by_key(spark.read.parquet(path), key, GROUPED_SPECS)
    via_files = sketch_by_key_from_parquet(spark, path, key, GROUPED_SPECS)
    for out in (via_df, via_files):
        assert {(r[key], r["name"]): bytes(r["state"]) for r in out.collect()} == want


# ---- one end: every build ships partials, the last fold expands them --------

# fresh tables (2 MB of CMS) far above 16 B per distinct zipf id of a task or
# key, so the size rule ships the partial on every route
SHIP_SPECS = [
    SketchSpec("h", "hll", "tokens", {"p": 14}),
    SketchSpec("c", "cms", "tokens", {"l2sz": 16, "nh": 4}),
    SketchSpec("b", "bloom", "tokens", {"l2sz": 20, "nh": 3}),
]


def test_partition_states_ship_a_partial_the_tree_expands(spark, fixtures):
    path = os.path.join(fixtures[0], "zipf")
    states = partition_states(spark.read.parquet(path), SHIP_SPECS)
    assert _PARTIAL + "tokens" in {r["name"] for r in states.select("name").collect()}
    out = tree_merge_states(states)
    assert sorted(out) == sorted(s.name for s in SHIP_SPECS)
    local = _raw_states([(f, None, None) for f in list_parquet_files(path)], SHIP_SPECS)
    assert {n: sk.to_bytes() for n, sk in out.items()} == local


@pytest.mark.parametrize("route", ["dataframe", "parquet"])
def test_grouped_builds_ship_partials_the_reducer_expands(spark, fixtures, monkeypatch, route):
    """Phase 1 ships a partial per key; the keyed reducer's output holds
    exactly keys x specs rows, no reserved name, each the per-key direct
    bytes."""
    path = os.path.join(fixtures[0], "zipf")
    phase1 = []
    real = agg.merge_keyed_states

    def spy(partials, *args):
        phase1.append(partials)
        return real(partials, *args)

    monkeypatch.setattr(agg, "merge_keyed_states", spy)
    monkeypatch.setattr(files, "merge_keyed_states", spy)
    if route == "dataframe":
        out = sketch_by_key(spark.read.parquet(path), "source", SHIP_SPECS)
    else:
        out = sketch_by_key_from_parquet(spark, path, "source", SHIP_SPECS)
    shipped = [r["name"] for r in phase1[0].select("name").collect()]
    assert shipped.count(_PARTIAL + "tokens") >= 4  # at least one per source
    rows = out.collect()
    want = _per_key_states(path, "source", SHIP_SPECS)
    assert len(rows) == len(want) == 4 * len(SHIP_SPECS)
    assert not any(r["name"].startswith(_PARTIAL) for r in rows)
    assert {(r["source"], r["name"]): bytes(r["state"]) for r in rows} == want


def test_partial_names_the_specs_it_stands_in_for():
    ids, counts = np.array([1, 5]), np.array([3, 1])
    a = _IdCounts(ids, counts, [("h", "hll", {"p": 10})])
    back = from_bytes(a.to_bytes())
    assert back.specs == a.specs and back.copy().merge(a).counts.tolist() == [6, 2]
    for other in ([("h", "hll", {"p": 12})], [("h", "hll", {"p": 10}), ("b", "bloom", {})], []):
        with pytest.raises(ValueError, match="mismatch"):
            a.copy().merge(_IdCounts(ids, counts, other))
    # expanded from the partial alone: the spec's sketch, built from nothing
    out = expand_partials({((), _PARTIAL + "v"): back, ((), "k"): b"left undecoded"})
    assert out[((), "k")] == b"left undecoded"
    assert out[((), "h")].to_bytes() == make_sketch("hll", p=10).update(ids).to_bytes()
