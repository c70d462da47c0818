"""Count-Min sketch and Count sketch — vectorized NumPy kernels.

Count-Min mirrors the reference `ccmbase_t` (/root/reference/include/sketch/
ccm.h:153-376): nh rows × w = 2^l2sz counters, seeded row hashes, point query
= min over rows (ccm.h:342-349), merge = elementwise add (ccm.h:368-375 with
the Increment policy, update.h:30-33). The reference's *conservative update*
variant (ccm.h:290-338) is order-dependent and therefore NOT distributable —
we ship the standard (mergeable) update, matching the reference's own
``conservative_update=false`` template flag (documented divergence,
SURVEY.md §2.1 #3).

Count sketch mirrors `csbase_t` (ccm.h:378-555): a sign bit drawn from the
row hash makes the estimate unbiased; point query = median over rows
(ccm.h:496-509); merge = elementwise add (ccm.h:510-527); ``fold`` halves the
width by modular re-add (ccm.h:545-554) so sketches of unequal width can be
aligned before merge.

Published bounds: CMS overestimates by ≤ ε·N with prob ≥ 1−δ where
ε = e/w, δ = e^-nh (Cormode & Muthukrishnan 2005).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from sketch_spark.hashing import (
    CHUNK,
    _u64 as _u64_vals,
    double_hashes,
    kwise_coefficients,
    poly_hash_mersenne,
    seeded_hashes,
    splitmix64,
)
from sketch_spark.sketches.base import Sketch, register, subbatched

_U64 = np.uint64

# Accumulation super-chunk (values per bincount pass, a multiple of CHUNK).
# Unweighted updates process at most this many values at a time so transient
# index/sign buffers stay O(SUPER), not O(batch): a parquet-direct task can
# hand update() a whole 19M-token file unit, and nh x n index matrices at
# that size are ~300 MB/worker (CountSketch ~1 GB with its float64 sign
# matrix) — 32 workers of that is what memory pressure at scale looks like.
# Splitting is BIT-EXACT for these paths: CMS partials are int64 bincounts,
# and CountSketch partials are float64 sums of +-1 signs, integer-valued and
# far below 2^53, so float addition of partials is exact in any order.
# Weighted updates (arbitrary float64 counts) keep the single whole-batch
# bincount — there, partial-sum order would change ULPs, and weighted inputs
# are pre-aggregated (value, weight) pairs, already far smaller than scans.
SUPER = CHUNK * 32


def _narrowest(lo: int, hi: int) -> np.dtype:
    """The smallest signed integer dtype holding [lo, hi]."""
    for dt in (np.int8, np.int16, np.int32):
        info = np.iinfo(dt)
        if info.min <= lo and hi <= info.max:
            return np.dtype(dt)
    return np.dtype(np.int64)


class _TableSketch(Sketch):
    """Shared layout: (nh, 2^l2sz) counter matrix + seeded row hashes."""

    dtype = np.int64

    def __init__(self, l2sz: int = 16, nh: int = 4, seed: int = 137):
        if not 4 <= l2sz <= 30:
            raise ValueError("l2sz must be in [4, 30]")
        self.l2sz = int(l2sz)
        self.nh = int(nh)
        self.seed = int(seed)
        self.w = 1 << l2sz
        self.table = np.zeros((self.nh, self.w), dtype=self.dtype)
        self._seeds = splitmix64(self.seed, self.nh)
        # Kirsch–Mitzenmacher base-hash seeds (two, independent of nh) for
        # the default row family — see hashing.double_hashes.
        self._dhseeds = splitmix64(self.seed ^ 0xD1B54A32D192ED03, 2)

    def _chunk_hashes(self, chunk: np.ndarray) -> np.ndarray:
        """(nh, len(chunk)) uint64 row hashes — the hash-family hook.

        Default (cms/pccm/realccm): Kirsch–Mitzenmacher double hashing, 2
        mixes per batch instead of nh (the min-over-rows CMS bound needs
        pairwise independence WITHIN a row, which row 0 = wanghash gives
        exactly and rows r>0 inherit; the e^-nh confidence term is what the
        mild cross-row correlation touches, and the mctest-parity overshoot
        tests gate it empirically). CountSketch overrides with fully seeded
        per-row mixes (its median estimator leans on cross-row independence);
        cs4w overrides with provably 4-wise polynomials."""
        return double_hashes(chunk, int(self._dhseeds[0]), int(self._dhseeds[1]), self.nh)

    def _row_hashes(self, values: np.ndarray) -> np.ndarray:
        v = np.asarray(values)
        out = np.empty((self.nh, len(v)), dtype=np.uint64)
        for i in range(0, len(v), CHUNK):
            hs = self._chunk_hashes(v[i : i + CHUNK])
            out[:, i : i + hs.shape[1]] = hs
        return out

    def _row_indices(self, values: np.ndarray) -> np.ndarray:
        """(nh, n) int32 table indices, computed in cache-sized chunks so the
        uint64 hash temporaries never leave L2/L3 (full-width bincount per
        row still happens once per batch — chunking the *accumulation* would
        multiply full-table passes, so only the hashing is chunked)."""
        v = np.asarray(values)
        idx = np.empty((self.nh, len(v)), dtype=np.int32)
        mask = _U64(self.w - 1)
        for i in range(0, len(v), CHUNK):
            hs = self._chunk_hashes(v[i : i + CHUNK])
            idx[:, i : i + hs.shape[1]] = (hs & mask).astype(np.int32)
        return idx

    def _params(self) -> dict[str, Any]:
        return {"l2sz": self.l2sz, "nh": self.nh, "seed": self.seed}

    def _arrays(self) -> dict[str, np.ndarray]:
        # wire-format compaction: partition-level counters are small, so ship
        # the narrowest dtype that holds the value range (the reference packs
        # counters to nbits via compact_vector, ccm.h:154; same idea, dtype
        # granularity). Restored to int64 in _from_state. A skewed stream
        # leaves a few hot cells beyond int8 that would widen every cell, so
        # when it is smaller the table ships as int8 with those cells zeroed
        # plus their flat indices and values ("patches"). The int8 array is
        # deliberately not named "table": code that predates patches must
        # fail on such a state, not read the zeroed cells.
        t = self.table
        if not t.size:
            return {"table": t}
        lo, hi = int(t.min()), int(t.max())
        full = _narrowest(lo, hi)
        if full == np.int8:
            return {"table": t.astype(np.int8)}
        flat = t.reshape(-1)
        hot = flat > 127
        if lo < -128:  # only signed tables (count sketches) pay this pass
            hot |= flat < -128
        idx = np.flatnonzero(hot)
        idx = idx.astype(np.int32 if flat.size <= 1 << 31 else np.int64)
        vals = flat[idx]
        vals = vals.astype(_narrowest(int(vals.min()), int(vals.max())))
        if flat.size + len(idx) * (idx.itemsize + vals.itemsize) >= flat.size * full.itemsize:
            return {"table": t.astype(full)}
        low = t.astype(np.int8)
        low.reshape(-1)[idx] = 0
        return {"table_i8": low, "patch_idx": idx, "patch_val": vals}

    @classmethod
    def _from_state(cls, params, arrays):
        obj = cls(**params)
        if "table" in arrays:
            obj.table = arrays["table"].astype(cls.dtype)
        else:
            obj.table = arrays["table_i8"].astype(cls.dtype)
            obj.table.reshape(-1)[arrays["patch_idx"]] = arrays["patch_val"]
        return obj

    def merge(self, other):
        self._check_mergeable(other)
        self.table += other.table
        return self


@register
class CountMinSketch(_TableSketch):
    kind = "cms"
    # row indices come from KM double hashing since round 4 — tag the wire
    # state so pre-KM persisted states refuse to load (see base.hash_family)
    hash_family = "km2008"
    preaggregate = "counts"  # integer bincounts, exact as float64 weights

    def epsilon(self) -> float:
        """Overestimate bound factor: ε = e / w."""
        return math.e / self.w

    def delta(self) -> float:
        """Failure probability: δ = e^-nh."""
        return math.exp(-self.nh)

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> "CountMinSketch":
        """Absorb a batch; optional per-item counts (weighted update).

        Chunk-outer / row-inner hashing into per-row CONTIGUOUS int32
        buffers, then one bincount per row per SUPER-chunk: the value array
        is read from memory ONCE (each chunk stays cache-resident across
        all nh row hashes — at 32 saturated workers the memory bus, not the
        ALU, is the budget), writes are contiguous (the (nh, n) matrix
        layout's strided column-slab writes measured 4× slower), transient
        buffers stay O(SUPER) however large the batch, and the extra table
        passes cost ≤ one w-length add per row per 2M values. Same indices
        → same integer bincounts → byte-identical tables under any layout
        or split (see SUPER). Weighted updates stay whole-batch: integer
        counts (pre-aggregated ids) scatter with ``np.add.at`` on int64,
        O(ids) rather than O(w) per row; float counts keep the per-cell
        float64 ``bincount`` sum, then truncation. Integer cell sums below
        2^53 are exact in float64, so both give the same bytes."""
        if len(values) == 0:
            return self
        mask = _U64(self.w - 1)
        if counts is not None:
            c = np.asarray(counts)
            scatter = c.dtype.kind in "iu"
            c = c.astype(np.int64 if scatter else np.float64, copy=False)
            u = _u64_vals(values)
            rows = [np.empty(len(u), dtype=np.int32) for _ in range(self.nh)]
            with np.errstate(over="ignore"):
                for i in range(0, len(u), CHUNK):
                    hs = self._chunk_hashes(u[i : i + CHUNK])
                    for r in range(self.nh):
                        rows[r][i : i + hs.shape[1]] = (hs[r] & mask).astype(np.int32)
            for r in range(self.nh):
                if scatter:
                    np.add.at(self.table[r], rows[r], c)
                else:
                    self.table[r] += np.bincount(rows[r], weights=c, minlength=self.w).astype(
                        self.dtype
                    )
            return self
        v = np.asarray(values)
        rows = [np.empty(min(len(v), SUPER), dtype=np.int32) for _ in range(self.nh)]
        with np.errstate(over="ignore"):
            for s in range(0, len(v), SUPER):
                u = _u64_vals(v[s : s + SUPER])
                for i in range(0, len(u), CHUNK):
                    hs = self._chunk_hashes(u[i : i + CHUNK])
                    for r in range(self.nh):
                        rows[r][i : i + hs.shape[1]] = (hs[r] & mask).astype(np.int32)
                for r in range(self.nh):
                    self.table[r] += np.bincount(rows[r][: len(u)], minlength=self.w).astype(
                        self.dtype
                    )
        return self

    def query(self, values: np.ndarray) -> np.ndarray:
        """Point-frequency estimates: min over rows (ccm.h:342-349)."""
        if len(values) == 0:
            return np.zeros(0, dtype=np.int64)
        hs = self._row_hashes(values)
        idx = (hs & _U64(self.w - 1)).astype(np.int64)
        cells = self.table[np.arange(self.nh)[:, None], idx]  # (nh, n)
        return cells.min(axis=0)

    def total(self) -> int:
        """N = stream length (any row sums to it under Increment updates)."""
        return int(self.table[0].sum())

    def l2est(self) -> float:
        """L2-norm estimate = median of row norms (ccm.h:186-188, 19-54)."""
        return float(np.median(np.sqrt((self.table.astype(np.float64) ** 2).sum(axis=1))))

    def elementwise_min(self, other: "CountMinSketch") -> "CountMinSketch":
        """`&=` analog: elementwise min (ccm.h:360-367) — upper-bounds the
        intersection multiset."""
        self._check_mergeable(other)
        np.minimum(self.table, other.table, out=self.table)
        return self


@register
class CountSketch(_TableSketch):
    kind = "countsketch"

    # which bit of the row hash supplies the ±1 sign (disjoint from the index
    # mask; ccm.h:471-495 draws it from the hash beyond the index bits)
    _sign_bit = 63

    def _chunk_hashes(self, chunk: np.ndarray) -> np.ndarray:
        """(nh, len(chunk)) uint64 row hashes — the hash-family hook the
        4-wise variant overrides."""
        return seeded_hashes(chunk, self._seeds)

    def _idx_sign(self, values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        v = np.asarray(values)
        idx = np.empty((self.nh, len(v)), dtype=np.int32)
        sign = np.empty((self.nh, len(v)), dtype=np.int8)
        mask = _U64(self.w - 1)
        sb = _U64(self._sign_bit)
        for i in range(0, len(v), CHUNK):
            hs = self._chunk_hashes(v[i : i + CHUNK])
            idx[:, i : i + hs.shape[1]] = (hs & mask).astype(np.int32)
            sign[:, i : i + hs.shape[1]] = (
                (((hs >> sb) & _U64(1)).astype(np.int8) << 1) - 1
            )  # ±1
        return idx, sign

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> "CountSketch":
        if len(values) == 0:
            return self
        if counts is not None:
            # whole-batch: arbitrary float weights — see SUPER for why
            idx, sign = self._idx_sign(values)
            w = sign.astype(np.float64) * np.asarray(counts, dtype=np.float64)[None, :]
            for i in range(self.nh):
                self.table[i] += np.bincount(idx[i], weights=w[i], minlength=self.w).astype(
                    self.dtype
                )
            return self
        v = np.asarray(values)
        # O(SUPER) transients; partial sums of +-1 are integer-valued floats,
        # so accumulation is bit-exact under any split (see SUPER)
        for s in range(0, len(v), SUPER):
            idx, sign = self._idx_sign(v[s : s + SUPER])
            w = sign.astype(np.float64)
            for i in range(self.nh):
                self.table[i] += np.bincount(idx[i], weights=w[i], minlength=self.w).astype(
                    self.dtype
                )
        return self

    def remove(self, values: np.ndarray, counts: np.ndarray | None = None) -> "CountSketch":
        """Deletion support (linear sketch; reference `-` ccm.h:533-543)."""
        c = np.ones(len(values)) if counts is None else np.asarray(counts)
        return self.update(values, -c)

    def query(self, values: np.ndarray) -> np.ndarray:
        """Unbiased point estimates: median over rows (ccm.h:496-509)."""
        if len(values) == 0:
            return np.zeros(0, dtype=np.int64)
        idx, sign = self._idx_sign(values)
        cells = self.table[np.arange(self.nh)[:, None], idx] * sign
        return np.median(cells, axis=0).astype(np.int64)

    def subtract(self, other: "CountSketch") -> "CountSketch":
        self._check_mergeable(other)
        self.table -= other.table
        return self

    def fold(self, factor_log2: int = 1) -> "CountSketch":
        """Halve width `factor_log2` times by modular re-add (ccm.h:545-554).

        The row hash index mod the new width equals the old index mod new
        width (power-of-two mask), so folded sketches stay query-consistent.
        """
        new_l2 = self.l2sz - factor_log2
        if new_l2 < 4:
            raise ValueError("fold would shrink below minimum width")
        out = CountSketch(l2sz=new_l2, nh=self.nh, seed=self.seed)
        out.table = self.table.reshape(self.nh, 1 << factor_log2, 1 << new_l2).sum(axis=1)
        return out


@register
class CountSketch4W(CountSketch):
    """Count sketch with provably 4-wise-independent polynomial row hashes
    (reference `cs4wbase_t`/`cs4w_t`, ccm.h:558-741, hashing via
    `KWiseHasherSet<4>` hash.h:404-411): degree-3 polynomials over
    GF(2^61-1). The 4-wise guarantee is what makes the variance analysis of
    the count sketch unconditional rather than heuristic. Update/merge/query
    semantics are inherited; only the hash family differs. Sign comes from
    bit 60 — the top bit of the 61-bit polynomial output, disjoint from the
    index mask (w ≤ 2^30)."""

    kind = "cs4w"
    _sign_bit = 60

    def __init__(self, l2sz: int = 16, nh: int = 4, seed: int = 137):
        super().__init__(l2sz=l2sz, nh=nh, seed=seed)
        if l2sz > 30:
            raise ValueError("cs4w requires l2sz <= 30 (index bits below the sign bit)")
        self._coeffs = kwise_coefficients(4, self.nh, self.seed)

    def _chunk_hashes(self, chunk: np.ndarray) -> np.ndarray:
        out = np.empty((self.nh, len(chunk)), dtype=np.uint64)
        for i in range(self.nh):
            out[i] = poly_hash_mersenne(chunk, self._coeffs[i])
        return out


@register
class MorrisCMS(_TableSketch):
    """Count-Min over probabilistic (Morris / power-of-two) counters — the
    reference's ``pccm_t = ccmbase_t<update::PowerOfTwo>`` (ccm.h:788,
    update.h:35-83): a cell holds exponent r, a hit increments r with
    probability 2^−r, and the estimate is 2^(r−1) (update.h:81-82
    ``est_count``). nbits-bit cells therefore count to ~2^(2^nbits − 2) —
    8-bit cells cover any corpus ever — which is the memory story at
    100 TB: a 2^30-wide × 4-row table is 4 GB of int64 counters but 512 MB
    of Morris bytes, with relative error ~√(n/2)·2^(−r/2)… i.e. the usual
    Morris O(1/√a) constant-factor noise (a=1 here, matching the reference).

    Merge follows the reference exactly: ``combine(i, j) = max(i, j) +
    (i == j)`` (update.h:74-79). Like the reference's, that rule is NOT
    merge-order invariant (max(max(3,3)+1, 4) ≠ max(3, max(3,4)+0) can
    differ by 1) — this sketch is guarantee-level (like t-digest /
    Misra-Gries here), not byte-identical, and is documented as such.

    Per-batch updates collapse repeated hits on a cell into vectorized
    geometric jumps (number of failed trials before the next increment is
    Geometric(2^−r)), so a cell with n hits costs O(log n) draws instead of
    n sequential coin flips. Draws are counter-based (splitmix of
    (seed, row, cell, r, round, epoch)), so a given batch sequence is
    reproducible. The ``epoch`` term is a per-sketch update() counter that
    rides in the serialized state (kill/resume stays deterministic): without
    it, a cell whose register didn't advance would re-draw the IDENTICAL
    geometric jump every call, and once that fixed jump exceeds a batch's
    per-cell hit count the counter freezes forever — feeding a stream in
    many small Arrow batches (the Spark path) would then underestimate
    without bound vs one big batch.
    """

    kind = "pccm"
    dtype = np.uint8
    hash_family = "km2008"  # inherits the KM default _chunk_hashes

    def __init__(self, l2sz: int = 16, nh: int = 4, seed: int = 137, nbits: int = 8):
        if not 2 <= nbits <= 8:
            raise ValueError("nbits must be in [2, 8] (uint8 cells)")
        super().__init__(l2sz=l2sz, nh=nh, seed=seed)
        self.nbits = int(nbits)
        self.maxval = (1 << self.nbits) - 1
        # update()-call counter: fresh entropy per call (see class docstring).
        # State, not a param — sketches merged at different epochs are still
        # the same sketch family, so it must not break _check_mergeable.
        self.rounds = 0

    def _params(self) -> dict[str, Any]:
        return {"l2sz": self.l2sz, "nh": self.nh, "seed": self.seed, "nbits": self.nbits}

    def _arrays(self) -> dict[str, np.ndarray]:
        # uint8 cells already are the narrow form: no widening, no patches
        return {"table": self.table, "rounds": np.array([self.rounds], dtype=np.uint64)}

    @classmethod
    def _from_state(cls, params, arrays):
        obj = super()._from_state(params, arrays)
        obj.rounds = int(arrays["rounds"][0]) if "rounds" in arrays else 0
        return obj

    def _geom_uniforms(
        self, row: int, cells: np.ndarray, r: np.ndarray, rnd: int, epoch: int
    ) -> np.ndarray:
        with np.errstate(over="ignore"):
            z = (
                _U64(self.seed)
                + _U64(0x9E3779B97F4A7C15) * (cells.astype(np.uint64) + _U64(1))
                + _U64(0xBF58476D1CE4E5B9) * _U64(row + 1)
                + _U64(0x94D049BB133111EB) * (r.astype(np.uint64) + _U64(rnd << 8))
                + _U64(0xD6E8FEB86659FD93) * _U64(epoch + 1)
            )
            z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
            z ^= z >> _U64(31)
        return (z.astype(np.float64) + 0.5) * (2.0**-64)  # (0, 1)

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> "MorrisCMS":
        if len(values) == 0:
            return self
        epoch = self.rounds
        self.rounds += 1
        idx = self._row_indices(values)  # (nh, n)
        c = None if counts is None else np.asarray(counts, dtype=np.int64)
        for row in range(self.nh):
            cells, inverse = np.unique(idx[row], return_inverse=True)
            if c is None:
                hits = np.bincount(inverse, minlength=len(cells)).astype(np.float64)
            else:
                hits = np.bincount(inverse, weights=c.astype(np.float64), minlength=len(cells))
            r = self.table[row, cells].astype(np.int64)
            rem = hits
            # first hit on an empty cell is deterministic (update.h:46 ref=1)
            zero = (r == 0) & (rem > 0)
            r[zero] += 1
            rem[zero] -= 1
            rnd = 0
            while True:
                active = (rem > 0) & (r < self.maxval)
                if not active.any():
                    break
                u = self._geom_uniforms(row, cells, r, rnd, epoch)
                p = np.exp2(-r.astype(np.float64))
                with np.errstate(divide="ignore", over="ignore"):
                    g = np.ceil(np.log(u) / np.log1p(-p))
                g = np.where(np.isfinite(g) & (g >= 1.0), g, np.inf)
                inc = active & (g <= rem)
                r[inc] += 1
                rem = np.where(inc, rem - g, 0.0)
                rnd += 1
            self.table[row, cells] = r.astype(np.uint8)
        return self

    def merge(self, other: "MorrisCMS") -> "MorrisCMS":
        self._check_mergeable(other)
        # int16 arithmetic: two uint8 cells both at maxval=255 would wrap to 0
        # under uint8 max+1 before the clamp could catch it.
        a = self.table.astype(np.int16)
        b = other.table.astype(np.int16)
        merged = np.maximum(a, b) + ((a == b) & (a > 0))
        np.minimum(merged, self.maxval, out=merged)
        self.table = merged.astype(np.uint8)
        self.rounds = max(self.rounds, other.rounds)
        return self

    @staticmethod
    def est_count_of(r: np.ndarray) -> np.ndarray:
        """Reference estimator est_count(val) = 2^(val−1), 0 for empty."""
        return np.where(r > 0, np.exp2(r.astype(np.float64) - 1.0), 0.0)

    def query(self, values: np.ndarray) -> np.ndarray:
        idx = self._row_indices(values)
        ests = np.empty((self.nh, idx.shape[1]), dtype=np.float64)
        for row in range(self.nh):
            ests[row] = self.est_count_of(self.table[row, idx[row]])
        return ests.min(axis=0)


@register
class DecayedCMS(_TableSketch):
    """Float CMS with exponential decay — the reference's ``realccm_t``
    (mult.h:42-170) restated for Spark's execution model.

    The reference decays PER ITEM on a single mutable sketch, which makes
    results depend on global item order — impossible to distribute (and its
    non-conservative update path literally throws, mult.h:166). The
    Spark-native semantics here decay per EPOCH (one micro-batch = one
    epoch): every item in an epoch carries weight 1 at insert, and each
    ``decay()`` multiplies the whole table by gamma — so an item k epochs
    old weighs gamma^k. Within an epoch, updates are plain float adds —
    commutative and mergeable — so each micro-batch is built DISTRIBUTED
    with the normal partial/merge machinery; only the tiny
    ``accumulate(batch)`` fold (decay + add, driver-side, kilobytes) is
    sequential, mirroring Structured Streaming's ordered micro-batches.

    Merging requires equal epochs (the epoch rides in the params, so
    ``_check_mergeable`` enforces it): merging tables decayed different
    amounts would silently mix scales.
    """

    kind = "realccm"
    dtype = np.float64
    hash_family = "km2008"  # inherits the KM default _chunk_hashes

    def __init__(self, l2sz: int = 16, nh: int = 4, seed: int = 137,
                 gamma: float = 0.98, epoch: int = 0):
        if not 0.0 < gamma <= 1.0:
            raise ValueError("gamma must be in (0, 1]")
        super().__init__(l2sz=l2sz, nh=nh, seed=seed)
        self.gamma = float(gamma)
        self.epoch = int(epoch)

    def _params(self) -> dict[str, Any]:
        return {
            "l2sz": self.l2sz, "nh": self.nh, "seed": self.seed,
            "gamma": self.gamma, "epoch": self.epoch,
        }

    def _arrays(self) -> dict[str, np.ndarray]:
        return {"table": self.table}

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> "DecayedCMS":
        """Unweighted updates sub-batch (partial sums of 1.0s are integer-
        valued floats far below 2^53 — bit-exact under any split). Weighted
        updates stay WHOLE-BATCH, mirroring CountMinSketch: arbitrary float
        weights' partial bincount sums differ in ULPs across split points,
        and weighted inputs are pre-aggregated (value, weight) pairs, already
        far smaller than raw scans."""
        if counts is not None:
            if len(values) == 0:
                return self
            idx = self._row_indices(values)
            c = np.asarray(counts, dtype=np.float64)
            for row in range(self.nh):
                self.table[row] += np.bincount(idx[row], weights=c, minlength=self.w)
            return self
        return self._update_unweighted(values)

    @subbatched
    def _update_unweighted(self, values: np.ndarray) -> "DecayedCMS":
        if len(values) == 0:
            return self
        idx = self._row_indices(values)
        for row in range(self.nh):
            self.table[row] += np.bincount(idx[row], minlength=self.w)
        return self

    def decay(self, steps: int = 1) -> "DecayedCMS":
        self.table *= self.gamma**steps
        self.epoch += int(steps)
        return self

    def accumulate(self, batch: "DecayedCMS") -> "DecayedCMS":
        """Sequential fold step: age this state one epoch, add a fresh
        (epoch-0) batch sketch at weight 1."""
        if batch.epoch != 0:
            raise ValueError("accumulate expects a fresh (epoch-0) batch sketch")
        if (batch.l2sz, batch.nh, batch.seed, batch.gamma) != (
            self.l2sz, self.nh, self.seed, self.gamma,
        ):
            raise ValueError("realccm: parameter mismatch on accumulate")
        self.decay(1)
        self.table += batch.table
        return self

    def query(self, values: np.ndarray) -> np.ndarray:
        """Decayed frequency estimate: min over rows (float)."""
        idx = self._row_indices(values)
        ests = np.empty((self.nh, idx.shape[1]), dtype=np.float64)
        for row in range(self.nh):
            ests[row] = self.table[row, idx[row]]
        return ests.min(axis=0)
