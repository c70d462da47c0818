"""Sketch base protocol + self-describing binary serialization.

Every sketch is a commutative monoid:
    update(batch)   — absorb a NumPy batch of items (uint64 ids or float64s)
    merge(other)    — associative & commutative; parameter/seed mismatch raises
    to_bytes()      — self-describing state (header JSON + raw arrays)

The reference serializes sketches as [param header][raw register bytes] to
gzip files (/root/reference/include/sketch/hll.h:1013-1060) and asserts
byte-identical round-trips (testsrc/serial_test.cpp:25-39). We do the same
framing in a language-portable way: magic, version, JSON header (kind +
params + array manifest), then the raw little-endian array payloads. The
state travels through Spark as a BinaryType column and through parquet
checkpoint tables unchanged.

Merging sketches with mismatched parameters or seeds raises ValueError,
mirroring the reference's PREC_REQ checks (hll.h:935, ccm.h:369-370).
"""

from __future__ import annotations

import json
import zlib
from typing import Any, ClassVar

import numpy as np

# Shared sub-batch size for kernels whose update is exactly splittable
# (min-monoids, additive bucket sums, bottom-k absorbs): a parquet-direct
# task can hand update() a whole ~19M-value file unit, and materializing
# O(batch) hash/index temporaries at that size costs hundreds of MB per
# worker. Updates loop over this many values at a time instead — bounded
# transients, identical state (each user documents why its split is exact).
UPDATE_SUPER = 1 << 21


def subbatched(fn):
    """Wrap an update(values[, counts]) whose result is BYTE-IDENTICAL under
    any batch split (probe-verified per kind) so it processes at most
    UPDATE_SUPER values per inner call — bounded transients for file-unit
    batches with zero semantic change. Kinds whose state is deliberately
    batch-boundary-dependent (pccm/cbf/pcbf/vac/hk — counter-seeded draws)
    must NOT use this; their batch shaping belongs to the caller."""
    import functools
    import inspect

    has_counts = "counts" in inspect.signature(fn).parameters

    @functools.wraps(fn)
    def wrapper(self, values, counts=None):
        if counts is not None and not has_counts:
            raise TypeError(f"{fn.__qualname__} takes no counts")
        # UPDATE_SUPER read at call time so tests can shrink it
        step = UPDATE_SUPER
        if len(values) <= step:
            return fn(self, values, counts) if has_counts else fn(self, values)
        for s in range(0, len(values), step):
            sub = values[s : s + step]
            if has_counts:
                fn(self, sub, counts[s : s + step] if counts is not None else None)
            else:
                fn(self, sub)
        return self

    return wrapper

_MAGIC = b"SKSP"
_VERSION = 1

_REGISTRY: dict[str, type["Sketch"]] = {}


def register(cls: type["Sketch"]) -> type["Sketch"]:
    _REGISTRY[cls.kind] = cls
    return cls


class Sketch:
    """Base class. Subclasses define:

    - ``kind``: registry name (also the serialized type tag)
    - ``_params()``: dict of constructor params (JSON-serializable)
    - ``_arrays()``: dict name -> np.ndarray of state payloads
    - ``_from_state(params, arrays)``: classmethod rebuild
    - ``update(values)``, ``merge(other)``, and query methods.
    """

    kind: ClassVar[str] = "?"

    # Wire-level hash-family tag. Kinds whose row/bit hash family has ever
    # changed (Bloom/CMS moved from nh independent seeded WangHashes to
    # Kirsch-Mitzenmacher double hashing) set this; it rides in the
    # serialized params as "hf" and from_bytes() REFUSES to deserialize a
    # state whose recorded family differs from the running code's — states
    # persisted by pre-KM code would otherwise merge cleanly while indexing
    # different bit positions, silently corrupting membership/count results
    # (checkpoint resume dirs are exactly where such states live).
    hash_family: ClassVar[str | None] = None

    # Kinds whose update() consumes fixed-dimension VECTORS (one (n, d)
    # matrix per batch — tensorsketch) rather than a flat value stream.
    # Generic feeders (e.g. the streaming state-store path) stack list
    # columns row-wise for these instead of concatenating them flat.
    consumes_vectors: ClassVar[bool] = False

    # Whether a task body may count a column's small non-negative ids first
    # and feed each distinct id once (spark.agg.TaskFeed). "set": the state
    # depends only on which ids were seen, so update(distinct ids) equals
    # the raw stream byte for byte. "counts": update(ids, counts=n) equals
    # feeding each id n times. None: raw stream only — the default, and
    # required for batch-boundary-dependent kinds. Every declaring kind is
    # checked against its raw feed in tests/test_preaggregate.py.
    preaggregate: ClassVar[str | None] = None

    # ---- abstract-ish API -------------------------------------------------
    def _params(self) -> dict[str, Any]:
        raise NotImplementedError

    def _arrays(self) -> dict[str, np.ndarray]:
        raise NotImplementedError

    @classmethod
    def _from_state(cls, params: dict[str, Any], arrays: dict[str, np.ndarray]) -> "Sketch":
        raise NotImplementedError

    def update(self, values: np.ndarray) -> "Sketch":
        raise NotImplementedError

    def merge(self, other: "Sketch") -> "Sketch":
        """In-place associative merge; returns self for chaining."""
        raise NotImplementedError

    # ---- shared helpers ---------------------------------------------------
    def _check_mergeable(self, other: "Sketch") -> None:
        if type(self) is not type(other):
            raise ValueError(f"cannot merge {type(self).__name__} with {type(other).__name__}")
        if self._params() != other._params():
            raise ValueError(
                f"{self.kind}: parameter mismatch on merge: {self._params()} != {other._params()}"
            )

    def copy(self) -> "Sketch":
        return from_bytes(self.to_bytes())

    # ---- serialization ----------------------------------------------------
    def to_bytes(self) -> bytes:
        """Self-describing frame. Large register arrays (partition-level CMS /
        Bloom tables are mostly zeros) are zlib-compressed when that shrinks
        them — the shuffle/treeReduce payload per task drops from MBs to KBs,
        which is what keeps the merge stage network-free at scale. The
        reference gzips its states for the same reason (hll.h:1013-1060)."""
        arrays = self._arrays()
        manifest = []
        payloads = []
        for name, arr in arrays.items():
            a = np.ascontiguousarray(arr)
            if a.dtype.byteorder == ">":
                a = a.astype(a.dtype.newbyteorder("<"))
            manifest.append({"name": name, "dtype": a.dtype.str, "shape": list(a.shape)})
            payloads.append(a.tobytes())
        raw = b"".join(payloads)
        comp = "raw"
        if len(raw) > 4096:
            z = zlib.compress(raw, 1)
            if len(z) < len(raw) * 0.9:
                raw, comp = z, "zlib"
        params = dict(self._params())
        if self.hash_family is not None:
            params["hf"] = self.hash_family
        header = json.dumps(
            {"kind": self.kind, "params": params, "arrays": manifest, "comp": comp},
            separators=(",", ":"),
            sort_keys=True,
        ).encode()
        out = bytearray()
        out += _MAGIC
        out += _VERSION.to_bytes(2, "little")
        out += len(header).to_bytes(4, "little")
        out += header
        out += raw
        return bytes(out)

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Sketch) and self.to_bytes() == other.to_bytes()

    def __hash__(self) -> int:  # pragma: no cover
        return hash(self.to_bytes())


def from_bytes(buf: bytes) -> Sketch:
    """Rebuild any registered sketch from its ``to_bytes()`` frame."""
    if buf[:4] != _MAGIC:
        raise ValueError("not a sketch_spark state blob (bad magic)")
    ver = int.from_bytes(buf[4:6], "little")
    if ver != _VERSION:
        raise ValueError(f"unsupported state version {ver}")
    hlen = int.from_bytes(buf[6:10], "little")
    header = json.loads(buf[10 : 10 + hlen].decode())
    cls = _REGISTRY.get(header["kind"])
    if cls is None:
        raise ValueError(f"unknown sketch kind {header['kind']!r}")
    payload = buf[10 + hlen :]
    if header.get("comp") == "zlib":
        payload = zlib.decompress(payload)
    arrays: dict[str, np.ndarray] = {}
    off = 0
    for m in header["arrays"]:
        dt = np.dtype(m["dtype"])
        count = int(np.prod(m["shape"])) if m["shape"] else 1
        nbytes = dt.itemsize * count
        arr = np.frombuffer(payload[off : off + nbytes], dtype=dt).reshape(m["shape"]).copy()
        arrays[m["name"]] = arr
        off += nbytes
    params = dict(header["params"])
    hf = params.pop("hf", None)
    if hf != cls.hash_family:
        raise ValueError(
            f"{header['kind']}: hash-family mismatch: state was built with "
            f"{hf or 'the pre-KM seeded family'}, this code uses "
            f"{cls.hash_family or 'an untagged family'} — re-build the sketch "
            f"(merging across families would mix unrelated bit positions)"
        )
    return cls._from_state(params, arrays)


def make_sketch(kind: str, **params: Any) -> Sketch:
    """Factory: make_sketch('hll', p=14) etc."""
    cls = _REGISTRY.get(kind)
    if cls is None:
        raise ValueError(f"unknown sketch kind {kind!r}; have {sorted(_REGISTRY)}")
    # every task body starts here — the interval-limited huge-page re-probe
    # lets long-lived executors catch a THP compaction regime that appears
    # after import (see mem.maybe_retune; ~ns no-op within the interval)
    from sketch_spark import mem

    mem.maybe_retune()
    return cls(**params)


def merge_all(sketches) -> Sketch:
    """Left fold of ``merge`` — associativity makes any fold order equivalent."""
    it = iter(sketches)
    acc = next(it).copy()
    for s in it:
        acc.merge(s)
    return acc
