"""Bloom filter over a uint64 bit-word array — vectorized NumPy kernel.

Semantics mirror the reference `bfbase_t` (/root/reference/include/sketch/
bf.h:40-745): m = 2^l2sz bits held in uint64 words, nh seeded subhashes per
element (bf.h:364-381 derives several index fields per hash word; we derive
one index per seeded WangHash — same guarantee, simpler layout), merge =
bitwise OR (bf.h:486-511), plus the popcount-based estimates:

  * false-positive-rate estimate (popcount/m)^nh  (bf.h:199-202)
  * cardinality from fill ratio  -m/nh * log1p(-popcount/m)  (bf.h:73-76)
  * set algebra |, &, ^ and Jaccard/union/intersection size estimates via
    popcounts of combined filters (bf.h:232-361, 435-520)

optimal nh for a target n: ln2 * m / n (bf.h:15-20).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from sketch_spark.hashing import CHUNK, double_hashes, splitmix64
from sketch_spark.sketches.base import Sketch, register

_U64 = np.uint64


# popcount of every byte value — one 256-entry table instead of unpacking
# the filter to one byte PER BIT (the old unpackbits path allocated an 8×
# transient: 1 GB for a 2^33-bit filter, per popcount call).
_BYTE_POP = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1, dtype=np.int64
)


def _popcount(words: np.ndarray) -> int:
    """Total set bits: byte histogram · per-byte popcount table — a single
    vectorized pass with O(1) extra memory."""
    b = words.view(np.uint8)
    return int(np.bincount(b, minlength=256) @ _BYTE_POP)


def optimal_nhashes(m_bits: int, n_items: int) -> int:
    return max(1, round(math.log(2) * m_bits / max(n_items, 1)))


# Fill ratio beyond which a Bloom filter's answers stop meaning anything:
# at fill = 0.5 the filter is at its design point (optimal nh lands there);
# past ~0.8 the FPR is tens of percent for any nh and the log1p cardinality
# inversion is on the near-vertical part of its curve (BASELINE.md records a
# 2^27-bit filter saturating outright — fill → 1.0, estimate → inf — at
# ~5×10^8 distinct). Queries warn loudly rather than silently degrade.
SATURATION_FILL = 0.8


def optimal_params(n_items: int, target_fpr: float = 0.01) -> dict:
    """Size a filter for `n_items` distinct keys at `target_fpr`: the
    standard m = -n·ln(p)/ln(2)² bits rounded up to a power of two, and
    nh = ln2·m/n (bf.h:15-20). Feed `n_items` from an HLL pre-estimate
    (`size_for_hll`) when the distinct count is unknown — the usual case
    at corpus scale, and exactly the mistake the BASELINE.md saturation
    entry documents (a filter sized by guess saturating half-way through
    the build)."""
    if not 0.0 < target_fpr < 1.0:
        raise ValueError("target_fpr must be in (0, 1)")
    n = max(int(n_items), 1)
    m = -n * math.log(target_fpr) / (math.log(2) ** 2)
    l2sz = max(6, min(36, math.ceil(math.log2(m))))
    return {"l2sz": l2sz, "nh": optimal_nhashes(1 << l2sz, n)}


def size_for_hll(hll_sketch, target_fpr: float = 0.01, headroom: float = 1.2) -> dict:
    """Bloom params from an HLL pre-estimate of the key cardinality (one
    cheap first pass — HLL state is KBs where the Bloom filter is GBs), with
    `headroom` covering the HLL's own ±1.04/√m error band."""
    return optimal_params(int(hll_sketch.estimate() * headroom), target_fpr)


@register
class BloomFilter(Sketch):
    kind = "bloom"
    # bit positions come from KM double hashing since round 4 — tag the wire
    # state so pre-KM persisted states refuse to load (see base.hash_family)
    hash_family = "km2008"
    preaggregate = "set"  # OR-monoid bits

    def __init__(self, l2sz: int = 20, nh: int = 4, seed: int = 1337):
        if not 6 <= l2sz <= 36:
            raise ValueError("l2sz must be in [6, 36]")
        self.l2sz = int(l2sz)
        self.nh = int(nh)
        self.seed = int(seed)
        self.m = 1 << l2sz
        self.words = np.zeros(self.m >> 6, dtype=np.uint64)
        self._seeds = splitmix64(self.seed, self.nh)
        # Kirsch–Mitzenmacher base-hash seeds (hashing.double_hashes) — the
        # construction KM 2008 proves FPR-preserving for exactly this use.
        self._dhseeds = splitmix64(self.seed ^ 0xD1B54A32D192ED03, 2)

    # -- monoid ops ----------------------------------------------------------
    def _indices(self, values: np.ndarray) -> np.ndarray:
        """(nh, n) bit indices in [0, m)."""
        hs = double_hashes(
            np.asarray(values), int(self._dhseeds[0]), int(self._dhseeds[1]), self.nh
        )
        return (hs & _U64(self.m - 1)).astype(np.int64)

    # Byte-flag scatter path: above this filter size the transient 1-byte-
    # per-bit array (m bytes) is too much memory per task; below it, but
    # with too little work to amortize the unpack+pack (~0.7 ns/bit), the
    # direct bitwise_or path wins — hence the work gate in update().
    _FLAGS_MAX_BITS = 1 << 28

    def update(self, values: np.ndarray) -> "BloomFilter":
        v = np.asarray(values)
        if len(v) == 0:
            return self
        # Two exact, bit-identical scatter strategies (OR is idempotent and
        # order-free): for big batches, unpack the filter to one byte per
        # bit once, fancy-store 1s (a plain scatter store — ~6× faster than
        # bitwise_or.at, which has no NumPy indexed-loop fast path), repack;
        # for small batches the unpack+pack overhead (~0.7 ns/bit) would
        # dominate, so OR bytes in place.
        use_flags = self.m <= self._FLAGS_MAX_BITS and len(v) * self.nh >= (self.m >> 6)
        if use_flags:
            flags = np.unpackbits(self.words.view(np.uint8), bitorder="little")
            for i in range(0, len(v), CHUNK):
                idx = self._indices(v[i : i + CHUNK]).ravel()
                flags[idx] = 1
            self.words = np.packbits(flags, bitorder="little").view(np.uint64)
        else:
            w8 = self.words.view(np.uint8)
            for i in range(0, len(v), CHUNK):
                idx = self._indices(v[i : i + CHUNK]).ravel()
                np.bitwise_or.at(
                    w8, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8)
                )
        return self

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        self._check_mergeable(other)
        np.bitwise_or(self.words, other.words, out=self.words)
        return self

    def intersect(self, other: "BloomFilter") -> "BloomFilter":
        """Bitwise AND (reference `&=` bf.h:439): a filter that may-contain
        only items present in both (superset of the true intersection)."""
        self._check_mergeable(other)
        np.bitwise_and(self.words, other.words, out=self.words)
        return self

    def symmetric_difference(self, other: "BloomFilter") -> "BloomFilter":
        """Bitwise XOR (reference `^=` bf.h:465): bit-level symmetric
        difference (popcount ≈ bits unique to either side)."""
        self._check_mergeable(other)
        np.bitwise_xor(self.words, other.words, out=self.words)
        return self

    # -- queries ---------------------------------------------------------------
    def _warn_if_saturated(self, fill: float) -> None:
        """Loud one-time warning when the filter is past the fill ratio
        where its answers are meaningless (see SATURATION_FILL). One-time
        per sketch object: query paths run per Arrow batch and a warning
        per batch would drown the log."""
        if fill >= SATURATION_FILL and not getattr(self, "_saturation_warned", False):
            self._saturation_warned = True
            import warnings

            warnings.warn(
                f"BloomFilter is {fill:.0%} full (m=2^{self.l2sz}, nh={self.nh}): "
                f"FPR ~{fill ** self.nh:.2f} and cardinality estimates are "
                f"unreliable past {SATURATION_FILL:.0%} fill. Re-size with "
                f"bloom.optimal_params(n, fpr) — use an HLL pre-estimate "
                f"(bloom.size_for_hll) when the distinct count is unknown.",
                RuntimeWarning,
                stacklevel=3,
            )

    # Words sampled for may_contain's advisory saturation check: uniform
    # hashing spreads set bits evenly, so a fixed-size word prefix is an
    # unbiased fill estimate — bounding the per-batch check at 512 KB read
    # instead of O(m) (the check is advisory; est_fpr/cardinality_estimate
    # keep the exact full popcount since their VALUES depend on it).
    _FILL_SAMPLE_WORDS = 1 << 16

    def _sampled_fill(self) -> float:
        w = self.words[: self._FILL_SAMPLE_WORDS]
        return _popcount(w) / (len(w) << 6)

    def may_contain(self, values: np.ndarray) -> np.ndarray:
        """Boolean array: False = definitely absent (no false negatives)."""
        self._warn_if_saturated(self._sampled_fill())
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indices(values)  # (nh, n)
        word, bit = idx >> 6, idx & 63
        bits = (self.words[word] >> bit.astype(np.uint64)) & _U64(1)
        return bits.all(axis=0).astype(bool)

    def popcount(self) -> int:
        return _popcount(self.words)

    def est_fpr(self) -> float:
        """(popcount/m)^nh (reference bf.h:199-202)."""
        fill = self.popcount() / self.m
        self._warn_if_saturated(fill)
        return fill**self.nh

    def cardinality_estimate(self) -> float:
        """-m/nh * ln(1 - fill) (reference bf.h:73-76)."""
        fill = self.popcount() / self.m
        self._warn_if_saturated(fill)
        if fill >= 1.0:
            return math.inf
        return -(self.m / self.nh) * math.log1p(-fill)

    @staticmethod
    def _card_from_popcount(pc: int, m: int, nh: int) -> float:
        fill = pc / m
        if fill >= 1.0:
            return math.inf
        return -(m / nh) * math.log1p(-fill)

    def union_size(self, other: "BloomFilter") -> float:
        self._check_mergeable(other)
        pc = _popcount(self.words | other.words)
        return self._card_from_popcount(pc, self.m, self.nh)

    def intersection_size(self, other: "BloomFilter") -> float:
        """Inclusion-exclusion on fill-ratio cardinalities (bf.h:232-361)."""
        return max(
            0.0,
            self.cardinality_estimate()
            + other.cardinality_estimate()
            - self.union_size(other),
        )

    def jaccard_index(self, other: "BloomFilter") -> float:
        u = self.union_size(other)
        if u <= 0.0:
            return 0.0
        return max(0.0, min(1.0, self.intersection_size(other) / u))

    # -- state -------------------------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {"l2sz": self.l2sz, "nh": self.nh, "seed": self.seed}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {"words": self.words}

    @classmethod
    def _from_state(cls, params, arrays) -> "BloomFilter":
        obj = cls(**params)
        obj.words = arrays["words"].astype(np.uint64)
        return obj

    def __repr__(self) -> str:  # pragma: no cover
        return f"BloomFilter(l2sz={self.l2sz}, nh={self.nh}, fill={self.popcount()/self.m:.4f})"
