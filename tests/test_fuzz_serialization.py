"""Hypothesis fuzz: for every sketch kind, random parameters × random data
must round-trip byte-identically through to_bytes/from_bytes, and the
restored sketch must keep updating identically to the original (SURVEY.md
§5 item 5 generalized across the whole registry). Also: the payload codec
choice, and that frames with zlib payloads (what older code wrote into
checkpoint and streaming state directories) still load."""

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from sketch_spark.sketches.base import _REGISTRY, from_bytes, make_sketch


def _header(buf: bytes) -> dict:
    hlen = int.from_bytes(buf[6:10], "little")
    return json.loads(buf[10 : 10 + hlen].decode())


def _raw_payload(buf: bytes) -> bytes:
    """The uncompressed array payload of a frame written by this code."""
    header = _header(buf)
    payload = buf[10 + int.from_bytes(buf[6:10], "little") :]
    if header["comp"] == "raw":
        return payload
    assert header["comp"] == "zstd"
    size = sum(
        np.dtype(m["dtype"]).itemsize * int(np.prod(m["shape"], dtype=np.int64))
        for m in header["arrays"]
    )
    return pa.Codec("zstd").decompress(payload, size, asbytes=True)


def _reframe(buf: bytes, comp: str, payload: bytes, **fields) -> bytes:
    header = {**_header(buf), **fields}
    header["comp"] = comp
    h2 = json.dumps(header, separators=(",", ":"), sort_keys=True).encode()
    return buf[:6] + len(h2).to_bytes(4, "little") + h2 + payload


def _to_zlib(buf: bytes) -> bytes:
    """Rewrite a state frame with a zlib-1 payload, as older code wrote it."""
    return _reframe(buf, "zlib", zlib.compress(_raw_payload(buf), 1))


PARAM_STRATEGIES = {
    # the private id->count partial of the parquet-direct global build
    "_idcounts": st.just({}),
    "hll": st.fixed_dictionaries({"p": st.integers(4, 14)}),
    "bloom": st.fixed_dictionaries({"l2sz": st.integers(6, 18), "nh": st.integers(1, 6)}),
    "cms": st.fixed_dictionaries({"l2sz": st.integers(4, 14), "nh": st.integers(1, 6)}),
    "countsketch": st.fixed_dictionaries({"l2sz": st.integers(4, 14), "nh": st.integers(1, 7)}),
    "cs4w": st.fixed_dictionaries({"l2sz": st.integers(4, 14), "nh": st.integers(1, 7)}),
    "minhash": st.fixed_dictionaries({"k": st.integers(1, 2048)}),
    "counting_minhash": st.fixed_dictionaries({"k": st.integers(1, 2048)}),
    "kminhash": st.fixed_dictionaries({"k": st.integers(1, 512)}),
    "kll": st.fixed_dictionaries({"k": st.integers(8, 400)}),
    "tdigest": st.fixed_dictionaries({"delta": st.floats(10, 500)}),
    "topk": st.fixed_dictionaries({"m": st.integers(1, 512)}),
    "multiplicity": st.fixed_dictionaries({"r": st.integers(0, 12)}),
    "bbmh": st.fixed_dictionaries({"p": st.integers(4, 12), "b": st.integers(1, 16)}),
    "divbbmh": st.fixed_dictionaries(
        {"nbuckets": st.integers(16, 4096), "b": st.integers(1, 16)}
    ),
    "smh": st.fixed_dictionaries({"m": st.integers(16, 512)}),
    "hmh": st.fixed_dictionaries({"p": st.integers(4, 12), "r": st.integers(2, 14)}),
    "dhll": st.fixed_dictionaries({"p": st.integers(4, 14)}),
    "modsketch": st.fixed_dictionaries({"m": st.integers(1, 4096)}),
    "pccm": st.fixed_dictionaries(
        {"l2sz": st.integers(4, 14), "nh": st.integers(1, 6), "nbits": st.integers(2, 8)}
    ),
    "csvec": st.fixed_dictionaries({"d_out": st.integers(2, 4096), "ns": st.integers(1, 8)}),
    "wzcs": st.fixed_dictionaries(
        {
            "d_out": st.integers(2, 4096),
            "ns": st.integers(1, 8),
            "p": st.floats(0.1, 10.0, allow_nan=False),
        }
    ),
    "phll": st.fixed_dictionaries({"p": st.integers(4, 14)}),
    "pmh": st.fixed_dictionaries({"m": st.integers(1, 512)}),
    "icws": st.fixed_dictionaries({"m": st.integers(1, 512)}),
    "hk": st.fixed_dictionaries(
        {
            "nbuckets": st.integers(16, 4096),
            "nh": st.integers(1, 4),
            "fpbits": st.integers(8, 32),
            "ctrbits": st.integers(8, 32),
        }
    ),
    "hlf": st.fixed_dictionaries({"p": st.integers(4, 12), "l2ss": st.integers(0, 4)}),
    "vac": st.fixed_dictionaries({"p": st.integers(4, 12), "n_levels": st.integers(2, 20)}),
    "ddsketch": st.fixed_dictionaries(
        {"alpha": st.floats(0.005, 0.1), "maxbins": st.integers(8, 2048)}
    ),
    "cbf": st.fixed_dictionaries(
        {"l2sz": st.integers(10, 16), "n_levels": st.integers(2, 12), "nh": st.integers(1, 4)}
    ),
    "pcbf": st.fixed_dictionaries(
        {"l2sz": st.integers(10, 16), "n_levels": st.integers(2, 10), "nh": st.integers(1, 4), "hllp": st.integers(6, 12)}
    ),
    "realccm": st.fixed_dictionaries(
        {"l2sz": st.integers(4, 14), "nh": st.integers(1, 6), "gamma": st.floats(0.5, 1.0)}
    ),
    "tensorsketch": st.fixed_dictionaries(
        {
            "d": st.integers(1, 64),
            "d_out": st.integers(2, 1024),
            "degree": st.integers(1, 4),
            "ns": st.integers(1, 6),
        }
    ),
    "ws": st.fixed_dictionaries(
        {
            "base_kind": st.sampled_from(["minhash", "bbmh", "smh"]),
            "base_params": st.just({}),
            "l2sz": st.integers(10, 16),
            "nh": st.integers(1, 4),
            "pair_hasher": st.sampled_from(["wang", "xxh3"]),
        }
    ),
}


def _draw_sketch(kind, data):
    params = data.draw(PARAM_STRATEGIES[kind])
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    n = data.draw(st.integers(0, 5000))
    if kind == "tensorsketch":
        # vector-set sketch: (n, d) float matrices, not 1-D streams
        vals = rng.normal(size=(min(n, 64), params["d"]))
        more = rng.normal(size=(8, params["d"]))
    elif kind in ("kll", "tdigest"):
        vals = rng.lognormal(0, 2, n)
        more = rng.lognormal(1, 1, 100)
    else:
        vals = rng.integers(0, 2**40, n, dtype=np.int64)
        more = rng.integers(0, 2**40, 100, dtype=np.int64)
    return make_sketch(kind, **params).update(vals), more


def test_every_registered_kind_has_a_fuzz_strategy():
    assert set(PARAM_STRATEGIES) == set(_REGISTRY)


@pytest.mark.parametrize("kind", sorted(PARAM_STRATEGIES))
@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_roundtrip_and_resume(kind, data):
    sk, more = _draw_sketch(kind, data)
    blob = sk.to_bytes()
    back = from_bytes(blob)
    assert back.to_bytes() == blob
    # codec rule: zstd only above 4096 B and only when under 0.9x raw
    raw = _raw_payload(blob)
    zstd = pa.Codec("zstd", compression_level=1).compress(raw)
    keep_raw = len(raw) <= 4096 or len(zstd) >= 0.9 * len(raw)
    assert _header(blob)["comp"] == ("raw" if keep_raw else "zstd")
    # the restored sketch must keep evolving identically
    assert back.update(more).to_bytes() == sk.update(more).to_bytes()


@pytest.mark.parametrize("kind", sorted(PARAM_STRATEGIES))
@settings(max_examples=5, deadline=None)
@given(data=st.data())
def test_zlib_frames_still_load(kind, data):
    sk, _ = _draw_sketch(kind, data)
    blob = sk.to_bytes()
    old = _to_zlib(blob)
    assert _header(old)["comp"] == "zlib"
    # loads as the original sketch, and re-serializes to the current frame
    assert from_bytes(old).to_bytes() == blob


@pytest.mark.parametrize(
    "kind,kw,n,comp",
    [
        # 64 KB of mostly-zero counters
        ("cms", {"l2sz": 14, "nh": 4}, 100, "zstd"),
        # 8 KB of bits about half set: near-random, zstd saves < 10%
        ("bloom", {"l2sz": 16, "nh": 4}, 12_000, "raw"),
        # 1 KB of registers: under the 4096 B threshold
        ("hll", {"p": 10}, 100_000, "raw"),
    ],
)
def test_codec_choice(kind, kw, n, comp):
    sk = make_sketch(kind, **kw).update(np.arange(n, dtype=np.int64))
    blob = sk.to_bytes()
    assert _header(blob)["comp"] == comp
    if kind == "bloom":
        assert 0.4 < sk.popcount() / sk.m < 0.6
    assert from_bytes(blob).to_bytes() == blob


def test_unknown_codec_raises_naming_it():
    sk = make_sketch("cms", l2sz=14, nh=4).update(np.arange(100, dtype=np.int64))
    blob = sk.to_bytes()
    with pytest.raises(ValueError, match="lz77"):
        from_bytes(_reframe(blob, "lz77", zlib.compress(_raw_payload(blob), 1)))


def test_checkpoint_resume_over_zlib_frames(spark, fixtures, tmp_path):
    """A checkpoint whose first half was written by older code (zlib
    frames) resumes to the bytes of an uninterrupted build."""
    import pyarrow.parquet as pq

    from sketch_spark.spark.agg import SketchSpec
    from sketch_spark.spark.checkpoint import checkpointed_build

    specs = [
        SketchSpec("h", "hll", "tokens", {"p": 12}),
        SketchSpec("c", "cms", "tokens", {"l2sz": 14, "nh": 4}),
        SketchSpec("b", "bloom", "tokens", {"l2sz": 16, "nh": 3}),
        SketchSpec("s", "smh", "tokens", {"m": 128}),
    ]
    input_path = os.path.join(fixtures[0], "uniform")
    n_files = len([f for f in os.listdir(input_path) if f.endswith(".parquet")])
    control = checkpointed_build(spark, input_path, specs, str(tmp_path / "control"))

    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpointed_build(spark, input_path, specs, ckpt, fail_after_files=n_files // 2)
    table = pq.read_table(ckpt)
    states = table.column("state").to_pylist()
    assert any(_header(b)["comp"] == "zstd" for b in states)
    shutil.rmtree(ckpt)
    os.makedirs(ckpt)
    old = pa.array([_to_zlib(b) for b in states], pa.binary())
    pq.write_table(table.set_column(2, "state", old), os.path.join(ckpt, "part-old.parquet"))

    resumed = checkpointed_build(spark, input_path, specs, ckpt)
    for s in specs:
        assert resumed[s.name].to_bytes() == control[s.name].to_bytes(), s.name


# ---- hash-family wire guard -------------------------------------------------
# Bloom/CMS bit positions moved from nh seeded WangHashes to Kirsch-
# Mitzenmacher double hashing in round 4. States persisted by pre-KM code
# (checkpoint resume dirs) carry no "hf" tag; loading one into KM code and
# merging would silently mix unrelated bit positions. from_bytes() must
# refuse instead.

import json as _json

import pytest as _pytest

from sketch_spark.sketches import base as _base_mod
from sketch_spark.sketches.base import from_bytes as _from_bytes
from sketch_spark.sketches.base import make_sketch as _make_sketch


def _strip_hf(buf: bytes) -> bytes:
    """Rewrite a state frame as pre-KM code would have written it (no hf)."""
    hlen = int.from_bytes(buf[6:10], "little")
    header = _json.loads(buf[10 : 10 + hlen].decode())
    header["params"].pop("hf")
    h2 = _json.dumps(header, separators=(",", ":"), sort_keys=True).encode()
    return buf[:6] + len(h2).to_bytes(4, "little") + h2 + buf[10 + hlen :]


@_pytest.mark.parametrize(
    "kind,kw",
    [
        ("bloom", {"l2sz": 10, "nh": 4}),
        ("cms", {"l2sz": 8, "nh": 4}),
        ("pccm", {"l2sz": 8, "nh": 4}),
        ("realccm", {"l2sz": 8, "nh": 4}),
    ],
)
def test_pre_km_states_refuse_to_load(kind, kw):
    import numpy as _np

    sk = _make_sketch(kind, **kw).update(_np.arange(100, dtype=_np.int64))
    buf = sk.to_bytes()
    assert _from_bytes(buf) == sk  # tagged round-trip still fine
    with _pytest.raises(ValueError, match="hash-family mismatch"):
        _from_bytes(_strip_hf(buf))


def test_hf_tag_rides_in_params_only_for_km_kinds():
    import numpy as _np

    km = _make_sketch("bloom", l2sz=10, nh=4)
    untagged = _make_sketch("hll", p=10)
    for sk, expect in ((km, "km2008"), (untagged, None)):
        buf = sk.to_bytes()
        hlen = int.from_bytes(buf[6:10], "little")
        header = _json.loads(buf[10 : 10 + hlen].decode())
        assert header["params"].get("hf") == expect


# ---- patched counter tables -------------------------------------------------
# cms / countsketch / cs4w tables ship as int8 with the cells that do not fit
# zeroed, plus their flat indices and values, whenever that is smaller than
# the narrowest full-width table. A patched frame has no "table" array, so
# code that predates patches raises instead of reading the zeroed cells.

TABLE_KINDS = ["cms", "countsketch", "cs4w"]


def _dtypes(buf: bytes) -> dict[str, str]:
    return {m["name"]: m["dtype"] for m in _header(buf)["arrays"]}


def _table_sketch(kind: str, hot: dict[int, int], fill: np.ndarray):
    sk = make_sketch(kind, l2sz=12, nh=4)
    sk.table[...] = fill.reshape(sk.table.shape)
    sk.table.reshape(-1)[list(hot)] = list(hot.values())
    return sk


def _small_counts(kind: str, size: int) -> np.ndarray:
    """Cells like a partition's table: mostly small, signed for count sketches."""
    c = np.random.default_rng(4).poisson(2, size)
    return c if kind == "cms" else c - 2


def _table_frame(sk, dtype, comp: str) -> bytes:
    """The frame code before patched tables wrote: the whole table at one
    dtype, zstd-1 or zlib-1 compressed."""
    raw = sk.table.astype(dtype).tobytes()
    payload = (
        pa.Codec("zstd", compression_level=1).compress(raw, asbytes=True)
        if comp == "zstd"
        else zlib.compress(raw, 1)
    )
    arrays = [{"name": "table", "dtype": np.dtype(dtype).str, "shape": list(sk.table.shape)}]
    return _reframe(sk.to_bytes(), comp, payload, arrays=arrays)


PATCHED = {"table_i8": "|i1", "patch_idx": "<i4"}


@pytest.mark.parametrize("kind", TABLE_KINDS)
@pytest.mark.parametrize(
    "hot,fill,want",
    [
        ({}, 0, {"table": "|i1"}),  # all zero
        ({9: 127}, "small", {"table": "|i1"}),
        ({777: 1000}, "small", {**PATCHED, "patch_val": "<i2"}),  # one hot cell
        ({5: 2**40}, "small", {**PATCHED, "patch_val": "<i8"}),
        ({}, 1000, {"table": "<i2"}),  # every cell overflows: full width
        ({}, 2**33, {"table": "<i8"}),
    ],
)
def test_patched_table_form(kind, hot, fill, want):
    size = 4 << 12
    fill = _small_counts(kind, size) if fill == "small" else np.full(size, fill)
    sk = _table_sketch(kind, hot, fill)
    blob = sk.to_bytes()
    assert _dtypes(blob) == want
    back = from_bytes(blob)
    assert back.table.dtype == np.int64 and np.array_equal(back.table, sk.table)
    assert back.to_bytes() == blob


@pytest.mark.parametrize("kind", ["countsketch", "cs4w"])
def test_patched_table_negative_overflow(kind):
    hot = {3: -5000, 4000: -129, 4001: 300, 4002: -128}
    sk = _table_sketch(kind, hot, _small_counts(kind, 4 << 12))
    blob = sk.to_bytes()
    assert _dtypes(blob) == {**PATCHED, "patch_val": "<i2"}
    shapes = {m["name"]: m["shape"] for m in _header(blob)["arrays"]}
    assert shapes["patch_idx"] == [3]  # -128 fits int8
    assert np.array_equal(from_bytes(blob).table, sk.table)


@pytest.mark.parametrize("kind", TABLE_KINDS)
@pytest.mark.parametrize("dtype", [np.int8, np.int16, np.int32, np.int64])
@pytest.mark.parametrize("comp", ["zstd", "zlib"])
def test_full_width_table_frames_still_load(kind, dtype, comp):
    fill = _small_counts(kind, 4 << 12)
    hot = {} if dtype == np.int8 else {777: int(np.iinfo(dtype).max)}
    sk = _table_sketch(kind, hot, fill)
    old = _table_frame(sk, dtype, comp)
    back = from_bytes(old)
    assert np.array_equal(back.table, sk.table)
    assert back.to_bytes() == sk.to_bytes()


@pytest.mark.parametrize("kind", TABLE_KINDS)
def test_patched_frame_smaller_than_int32_frame(kind):
    """One hot cell beyond int16 made the whole table int32 on the wire."""
    sk = _table_sketch(kind, {777: 100_000}, _small_counts(kind, 4 << 12))
    blob = sk.to_bytes()
    assert len(blob) < len(_table_frame(sk, np.int32, "zstd"))
    assert "table" not in _dtypes(blob)


def test_pccm_uint8_cells_roundtrip():
    """pccm cells are uint8 exponents: cells above 127 ship unchanged as
    |u1, neither widened nor patched away."""
    sk = make_sketch("pccm", l2sz=4, nh=2)
    sk.table[0, :4] = [200, 200, 200, 5]
    sk.rounds = 3
    blob = sk.to_bytes()
    assert _dtypes(blob) == {"table": "|u1", "rounds": "<u8"}
    back = from_bytes(blob)
    assert back.table.dtype == np.uint8 and np.array_equal(back.table, sk.table)
    assert back.rounds == 3 and back.to_bytes() == blob
