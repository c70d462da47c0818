"""HyperLogLog with dense uint8 registers — vectorized NumPy kernel.

Semantics mirror the reference `hllbase_t` (/root/reference/include/sketch/
hll.h:676-1172) re-derived from the public literature (Flajolet et al. 2007;
Ertl arXiv:1702.01284):

  * m = 2^p uint8 registers (hll.h:687,723)
  * insert of pre-hashed hv: index = hv >> (64-p); the remaining low 64-p
    bits w get a sentinel bit so rank = clz(w-with-sentinel)+1 ∈ [1, 64-p+1]
    (hll.h:801-814 computes clz(((hv<<1)|1) << (p-1)) + 1 — identical value)
  * merge = registerwise max (hll.h:934-968; SIMD there, np.maximum here)
  * estimators: ORIGINAL (with small/large range corrections, hll.h:198-226)
    and ERTL_IMPROVED (σ/τ estimator of arXiv:1702.01284, hll.h:228-237) —
    default ERTL_IMPROVED, bias-free across the whole range.
  * relative error = 1.03896 / sqrt(m) (hll.h:713)

Also provides Ertl's joint-MLE-free inclusion-exclusion union/intersection
helpers (union_size, jaccard, containment: hll.h:1100-1158) computed from
register arrays.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from sketch_spark.hashing import CHUNK, clz64, hash_tokens, splitmix64
from sketch_spark.sketches.base import Sketch, register

_U64 = np.uint64


def _register_updates(hashed: np.ndarray, p: int) -> tuple[np.ndarray, np.ndarray]:
    """(index, rank) pairs for a batch of pre-hashed uint64 values."""
    q = 64 - p
    idx = (hashed >> _U64(q)).astype(np.int64)
    # low q bits with a sentinel just below them: rank = clz in a q-bit window + 1
    with np.errstate(over="ignore"):
        w = (hashed << _U64(p)) | _U64(1 << max(p - 1, 0))
    rank = clz64(w) + 1  # ∈ [1, q+1]
    return idx, rank.astype(np.uint8)


def _sigma(x: float) -> float:
    """Ertl σ(x) = x + Σ ... (arXiv:1702.01284 Alg. 5). σ(1) = +inf."""
    if x == 1.0:
        return math.inf
    y = 1.0
    z = x
    while True:
        x = x * x
        z_prev = z
        z += x * y
        y += y
        if z == z_prev or math.isinf(z):
            return z


def _tau(x: float) -> float:
    """Ertl τ(x) (arXiv:1702.01284 Alg. 6)."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y = 1.0
    z = 1.0 - x
    while True:
        x = math.sqrt(x)
        z_prev = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_prev:
            return z / 3.0


def ertl_improved_estimate(counts: np.ndarray, p: int) -> float:
    """Cardinality from the register-value histogram (64-bin trick: the
    estimator only ever sees the histogram, reference hll.h:745-777)."""
    m = 1 << p
    q = 64 - p
    z = m * _tau(1.0 - counts[q + 1] / m)
    for k in range(q, 0, -1):
        z = 0.5 * (z + counts[k])
    z += m * _sigma(counts[0] / m)
    m_alpha = m / (2.0 * math.log(2.0))
    return m_alpha * m / z


def ertl_mle_estimate(counts: np.ndarray, p: int, q: int | None = None, relerr: float = 1e-2) -> float:
    """Maximum-likelihood cardinality estimate from the register histogram —
    Algorithm 8 of Ertl, "New cardinality estimation algorithms for
    HyperLogLog sketches" (arXiv:1702.01284), the reference's ERTL_MLE
    estimator (hll.h:533-592). Secant iteration on the scaled likelihood
    x = n/m; Poisson-model h(x) evaluated by the paper's continued-fraction
    recurrence to avoid cancellation.
    """
    m = 1 << p
    if q is None:
        q = 64 - p
    c = counts
    if c[q + 1] == m:
        return math.inf
    k_min = int(np.flatnonzero(c)[0])
    k_min_p = max(1, k_min)
    k_max = int(np.flatnonzero(c[: q + 2])[-1])
    k_max_p = min(q, k_max)
    z = 0.0
    for k in range(k_max_p, k_min_p - 1, -1):
        z = 0.5 * z + float(c[k])
    z = math.ldexp(z, -k_min_p)
    c_prime = float(c[q + 1])
    if q:
        c_prime += float(c[k_max_p])
    a = z + float(c[0])
    m_prime = m - int(c[0])
    gprev = z + math.ldexp(float(c[q + 1]), -q)
    x = m_prime / (0.5 * gprev + a) if gprev <= 1.5 * a else (m_prime / gprev) * math.log1p(gprev / a)
    gprev = 0.0
    delta_x = x
    eps = relerr / math.sqrt(m)
    while delta_x > x * eps:
        kappa_m1 = math.frexp(x)[1]
        x_prime = math.ldexp(x, -max(k_max_p + 1, kappa_m1 + 2))
        x_pp = x_prime * x_prime
        h = x_prime - x_pp / 3 + (x_pp * x_pp) * (1.0 / 45.0 - x_pp / 472.5)
        for _ in range(kappa_m1, k_max_p - 1, -1):
            h_prime = 1.0 - h
            h = (x_prime + h * h_prime) / (x_prime + h_prime)
            x_prime += x_prime
        g = c_prime * h
        for k in range(k_max_p - 1, k_min_p - 1, -1):
            h_prime = 1.0 - h
            h = (x_prime + h * h_prime) / (x_prime + h_prime)
            x_prime += x_prime
            g += float(c[k]) * h
        g += x * a
        if gprev < g <= m_prime:
            delta_x *= (g - m_prime) / (gprev - g)
        else:
            delta_x = 0.0
        x += delta_x
        gprev = g
    return x * m


def original_estimate(counts: np.ndarray, p: int) -> float:
    """Flajolet 2007 estimator with small/large range corrections
    (reference hll.h:198-226)."""
    m = 1 << p
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    ks = np.arange(len(counts), dtype=np.float64)
    z = float(np.sum(counts * np.exp2(-ks)))
    est = alpha * m * m / z
    if est <= 2.5 * m:
        v = int(counts[0])
        if v:
            est = m * math.log(m / v)
    elif est > (1 << 32) / 30.0:
        est = -(2.0**64) * math.log1p(-est / 2.0**64)
    return est


def ertl_joint(h1: "HyperLogLog", h2: "HyperLogLog") -> tuple[float, float, float]:
    """Joint cardality decomposition (|A∖B|, |B∖A|, |A∩B|) from two register
    arrays via Ertl's joint MLE construction (arXiv:1702.01284 §joint;
    reference hll.h:601-649): per-register comparisons produce six
    histograms (less/equal/greater and union), two synthetic "half" sketches
    are estimated at q-1, and the intersection is the average of the two
    resulting linear systems. Substantially more accurate than
    inclusion-exclusion for small intersections.
    """
    if h1.p != h2.p:
        raise ValueError("joint estimate requires equal p")
    p, q = h1.p, 64 - h1.p
    m = 1 << p
    r1, r2 = h1.regs, h2.regs
    nb = q + 2
    c1 = np.bincount(r1, minlength=nb)
    c2 = np.bincount(r2, minlength=nb)
    cu = np.bincount(np.maximum(r1, r2), minlength=nb)
    eq_mask = r1 == r2
    ceq = np.bincount(r1[eq_mask], minlength=nb)
    cg1 = np.bincount(r1[r1 > r2], minlength=nb)
    cg2 = np.bincount(r2[r2 > r1], minlength=nb)
    cAX = ertl_mle_estimate(c1, p, q)
    cBX = ertl_mle_estimate(c2, p, q)
    cABX = ertl_mle_estimate(cu, p, q)
    axb = np.zeros(nb, dtype=np.int64)
    bxa = np.zeros(nb, dtype=np.int64)
    axb[q] = m
    bxa[q] = m
    for k in range(q):
        axb[k] = cg1[k] + ceq[k] + cg2[k + 1]
        axb[q] -= axb[k]
        bxa[k] = cg2[k] + ceq[k] + cg1[k + 1]
        bxa[q] -= bxa[k]
    cAXBhalf = ertl_mle_estimate(axb, p, q - 1)
    cBXAhalf = ertl_mle_estimate(bxa, p, q - 1)
    a_only = max(0.0, cABX - cBX)
    b_only = max(0.0, cABX - cAX)
    cx1 = 1.5 * cBX + 1.5 * cAX - cBXAhalf - cAXBhalf
    cx2 = 2.0 * (cBXAhalf + cAXBhalf) - 3.0 * cABX
    inter = max(0.0, 0.5 * (cx1 + cx2))
    return a_only, b_only, inter


@register
class HyperLogLog(Sketch):
    kind = "hll"
    preaggregate = "set"  # max-monoid registers

    def __init__(self, p: int = 14, seed: int = 0, estimator: str = "ertl"):
        if not 4 <= p <= 24:
            raise ValueError("p must be in [4, 24]")
        if estimator not in ("ertl", "original", "mle"):
            raise ValueError(f"unknown estimator {estimator!r}; have ertl, original, mle")
        self.p = int(p)
        self.seed = int(seed)
        self.estimator = estimator
        self.regs = np.zeros(1 << p, dtype=np.uint8)

    # -- monoid ops ---------------------------------------------------------
    def update(self, values: np.ndarray) -> "HyperLogLog":
        """Absorb raw item ids (hashed internally with WangHash ^ seed).
        Chunked so hash temporaries stay cache-resident; registers are a
        max-monoid so chunking cannot change the state."""
        v = np.asarray(values)
        for i in range(0, len(v), CHUNK):
            self.update_hashed(hash_tokens(v[i : i + CHUNK], self.seed))
        return self

    def update_hashed(self, hashed: np.ndarray) -> "HyperLogLog":
        if len(hashed) == 0:
            return self
        idx, rank = _register_updates(np.asarray(hashed, dtype=np.uint64), self.p)
        np.maximum.at(self.regs, idx, rank)
        return self

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        self._check_mergeable(other)
        np.maximum(self.regs, other.regs, out=self.regs)
        return self

    # -- queries -------------------------------------------------------------
    def _counts(self) -> np.ndarray:
        return np.bincount(self.regs, minlength=64 - self.p + 2)

    def estimate(self) -> float:
        counts = self._counts()
        if self.estimator == "original":
            return original_estimate(counts, self.p)
        if self.estimator == "mle":
            if not counts[1:].any():  # empty sketch
                return 0.0
            return ertl_mle_estimate(counts, self.p)
        return ertl_improved_estimate(counts, self.p)

    def relative_error(self) -> float:
        """1.03896/sqrt(m) (reference hll.h:713)."""
        return 1.03896 / math.sqrt(1 << self.p)

    def est_err(self) -> float:
        """Expected absolute error envelope (reference hll.h:780-783)."""
        return self.relative_error() * self.estimate()

    def union_size(self, other: "HyperLogLog") -> float:
        self._check_mergeable(other)
        u = np.maximum(self.regs, other.regs)
        return ertl_improved_estimate(
            np.bincount(u, minlength=64 - self.p + 2), self.p
        )

    def intersection_size(self, other: "HyperLogLog", joint: bool = False) -> float:
        """Inclusion-exclusion by default (reference fallback path
        hll.h:605-614); ``joint=True`` uses the Ertl joint MLE (hll.h:601-649,
        better for small intersections)."""
        if joint:
            return self.joint_estimate(other)[2]
        return max(0.0, self.estimate() + other.estimate() - self.union_size(other))

    def joint_estimate(self, other: "HyperLogLog") -> tuple[float, float, float]:
        """(|A∖B|, |B∖A|, |A∩B|) via Ertl joint MLE."""
        self._check_mergeable(other)
        return ertl_joint(self, other)

    def jaccard_index(self, other: "HyperLogLog") -> float:
        u = self.union_size(other)
        if u <= 0.0:
            return 0.0
        return max(0.0, min(1.0, self.intersection_size(other) / u))

    def containment_index(self, other: "HyperLogLog") -> float:
        """|A∩B| / |A| (reference hll.h:1136-1148)."""
        a = self.estimate()
        if a <= 0.0:
            return 0.0
        return max(0.0, min(1.0, self.intersection_size(other) / a))

    def compress(self, new_p: int) -> "HyperLogLog":
        """Fold registers down to a smaller precision new_p < p so sketches of
        unequal p can be merged (Ertl arXiv:1702.01284 Alg. 3; reference
        hll.h:877-896). Register j of the result is max over its 2^(p-new_p)
        sources, with the first source's extra-bit rank adjustment."""
        if new_p > self.p:
            raise ValueError("can only compress to smaller p")
        if new_p == self.p:
            return self.copy()
        out = HyperLogLog(new_p, seed=self.seed, estimator=self.estimator)
        shift = self.p - new_p
        grid = self.regs.reshape(1 << new_p, 1 << shift)
        # source 0 of each group shares the new index prefix; its remaining
        # index bits (all zero) extend the rank window by `shift` bits.
        first = grid[:, 0]
        adjusted = np.where(first > 0, first.astype(np.int64) + shift, 0)
        # a nonzero register at source j>0 means some value whose low
        # (64-new_p) bits start with the `shift`-bit binary expansion of j:
        # its new rank is exactly clz(j within shift bits) + 1.
        jidx = np.arange(1, 1 << shift, dtype=np.uint64)
        jclz = (clz64(jidx).astype(np.int64) - (64 - shift)) + 1
        per_j = np.where(grid[:, 1:] > 0, jclz[None, :], 0)
        rest = per_j.max(axis=1, initial=0)
        out.regs = np.maximum(adjusted, rest).astype(np.uint8)
        return out

    def may_contain(self, values: np.ndarray) -> np.ndarray:
        """Use the HLL as a (weak) filter: a value whose register slot holds a
        rank >= this value's rank *may* have been inserted
        (reference hll.h:991-994)."""
        hashed = hash_tokens(values, self.seed)
        idx, rank = _register_updates(hashed, self.p)
        return self.regs[idx] >= rank

    # -- state ---------------------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {"p": self.p, "seed": self.seed, "estimator": self.estimator}

    def _arrays(self) -> dict[str, np.ndarray]:
        # sparse wire encoding for low-cardinality states: when < 1/8 of the
        # registers are set, ship (index<<6 | value) uint32 pairs instead of
        # the dense array — the reference's SparseHLL32 layout (sparse.h:16-28)
        # and the same trick Spark's own HLL++ uses for its sparse mode.
        nz = np.flatnonzero(self.regs)
        if len(nz) * 4 < len(self.regs) // 2:  # 4B/entry vs 1B/register
            enc = (nz.astype(np.uint32) << np.uint32(6)) | self.regs[nz].astype(np.uint32)
            return {"sparse": enc}
        return {"regs": self.regs}

    @classmethod
    def _from_state(cls, params, arrays) -> "HyperLogLog":
        obj = cls(**params)
        if "sparse" in arrays:
            enc = arrays["sparse"].astype(np.uint32)
            obj.regs = np.zeros(1 << obj.p, dtype=np.uint8)
            obj.regs[(enc >> np.uint32(6)).astype(np.int64)] = (enc & np.uint32(63)).astype(np.uint8)
        else:
            obj.regs = arrays["regs"].astype(np.uint8)
        return obj

    def __repr__(self) -> str:  # pragma: no cover
        return f"HyperLogLog(p={self.p}, est={self.estimate():.1f})"


@register
class DoubleHLL(HyperLogLog):
    """Bidirectional HLL (reference dhllbase_t/dhll_t, hll.h:1326-1365):
    each hash feeds TWO register files — the normal one (index = top p bits,
    rank = leading zeros of the low bits) and a reverse one (index = LOW p
    bits, rank = trailing zeros of the high bits) — "the properties of a
    hll sketch work for both leading and trailing zeros and uses them as
    independent samples" (hll.h:1327-1328). The estimate averages the two,
    shaving estimator variance at the cost of 2× register bytes.

    Both register files are max-monoids, so the whole sketch stays
    byte-identical under any partitioning/merge order (the reference's dhll
    "does not currently support set operations"; merging two DoubleHLLs
    here is well-defined elementwise max on both files)."""

    kind = "dhll"

    def __init__(self, p: int = 14, seed: int = 0, estimator: str = "ertl"):
        super().__init__(p=p, seed=seed, estimator=estimator)
        self.dregs = np.zeros(1 << p, dtype=np.uint8)

    def update_hashed(self, hashed: np.ndarray) -> "DoubleHLL":
        if len(hashed) == 0:
            return self
        h = np.asarray(hashed, dtype=np.uint64)
        super().update_hashed(h)
        # reverse file: index = low p bits; rank = ffs((h>>p) | 2^(64-p))
        # (hll.h:1355-1357) = trailing zeros of the high bits, sentinel-capped
        m_mask = _U64((1 << self.p) - 1)
        ridx = (h & m_mask).astype(np.int64)
        with np.errstate(over="ignore"):
            v = (h >> _U64(self.p)) | _U64(1 << (64 - self.p))
            lowbit = v & (~v + _U64(1))  # isolate lowest set bit
        rrank = (64 - clz64(lowbit)).astype(np.uint8)  # ctz + 1 ∈ [1, 64-p+1]
        np.maximum.at(self.dregs, ridx, rrank)
        return self

    def merge(self, other: "DoubleHLL") -> "DoubleHLL":
        self._check_mergeable(other)
        np.maximum(self.regs, other.regs, out=self.regs)
        np.maximum(self.dregs, other.dregs, out=self.dregs)
        return self

    def estimate(self) -> float:
        fwd = super().estimate()
        saved = self.regs
        try:
            self.regs = self.dregs
            rev = super().estimate()
        finally:
            self.regs = saved
        return 0.5 * (fwd + rev)

    def may_contain(self, values: np.ndarray) -> np.ndarray:
        fwd = super().may_contain(values)
        h = hash_tokens(np.asarray(values), self.seed)
        m_mask = _U64((1 << self.p) - 1)
        with np.errstate(over="ignore"):
            v = (h >> _U64(self.p)) | _U64(1 << (64 - self.p))
            lowbit = v & (~v + _U64(1))
        rrank = (64 - clz64(lowbit)).astype(np.uint8)
        return fwd & (self.dregs[(h & m_mask).astype(np.int64)] >= rrank)

    def _arrays(self) -> dict[str, np.ndarray]:
        return {"regs": self.regs, "dregs": self.dregs}

    @classmethod
    def _from_state(cls, params, arrays) -> "DoubleHLL":
        obj = cls(**params)
        obj.regs = arrays["regs"].astype(np.uint8)
        obj.dregs = arrays["dregs"].astype(np.uint8)
        return obj


@register
class HyperLogFilter(Sketch):
    """Seeded-HLL ensemble — the reference's hlf_t over seedhll_t
    (hll.h:1369-1616): 2^l2ss sub-HLLs, each inserting every element under
    its own seed (element ^ seed_k → WangHash → sub-HLL k). One structure
    answers BOTH approximate membership and cardinality:

    * ``may_contain``: an element is possibly-present only if EVERY sub-HLL's
      register at its (seeded) slot holds rank ≥ the element's rank
      (hll.h:1508-1525) — ns independent weak filters AND-ed, so the false-
      positive rate decays geometrically in the ensemble size.
    * ``estimate``: mean of sub-estimates (report(), hll.h:1568-1586);
      ``med_report`` = their median (hll.h:1588-1599); ``chunk_report`` =
      strength borrowing — all ns·2^p registers pooled as ONE HLL of
      precision p + l2ss, estimate divided by ns (hll.h:1601-1615), which
      is the lowest-variance of the three.
    * ``jaccard_index``: inclusion-exclusion on chunk_report of self/other/
      union (hll.h:1559-1567).

    Every sub-register-file is a max-monoid (reference merge `+=`
    hll.h:1545-1552), so the ensemble is byte-identical under any
    partitioning/merge order like plain HLL.
    """

    kind = "hlf"

    def __init__(self, p: int = 12, l2ss: int = 3, seed: int = 137):
        if not 4 <= p <= 24:
            raise ValueError("p must be in [4, 24]")
        if not 0 <= l2ss <= 8:
            raise ValueError("l2ss must be in [0, 8]")
        self.p = int(p)
        self.l2ss = int(l2ss)
        self.seed = int(seed)
        self.ns = 1 << self.l2ss
        # seeds_from_seed analog: one deterministic 64-bit seed per sub-HLL
        self._seeds = splitmix64(self.seed, self.ns)
        self.regs = np.zeros((self.ns, 1 << self.p), dtype=np.uint8)

    # -- monoid ops ----------------------------------------------------------
    def update(self, values: np.ndarray) -> "HyperLogFilter":
        v = np.asarray(values)
        for i in range(0, len(v), CHUNK):
            chunk = v[i : i + CHUNK]
            for k in range(self.ns):
                idx, rank = _register_updates(hash_tokens(chunk, int(self._seeds[k])), self.p)
                np.maximum.at(self.regs[k], idx, rank)
        return self

    def merge(self, other: "HyperLogFilter") -> "HyperLogFilter":
        self._check_mergeable(other)
        np.maximum(self.regs, other.regs, out=self.regs)
        return self

    # -- queries ---------------------------------------------------------------
    def _sub_estimates(self) -> np.ndarray:
        return np.array(
            [
                ertl_improved_estimate(
                    np.bincount(self.regs[k], minlength=64 - self.p + 2), self.p
                )
                for k in range(self.ns)
            ]
        )

    def estimate(self) -> float:
        """Mean of sub-estimates — the reference's default report()."""
        return float(self._sub_estimates().mean())

    def med_report(self) -> float:
        return float(np.median(self._sub_estimates()))

    def chunk_report(self) -> float:
        """Strength borrowing: pool all registers as one HLL of precision
        p + l2ss and divide by ns (each element occupies ns slots)."""
        counts = np.bincount(self.regs.ravel(), minlength=64 - self.p + 2)
        return ertl_improved_estimate(counts, self.p + self.l2ss) / self.ns

    def relative_error(self) -> float:
        """Per the pooled-register view: 1.04/sqrt(ns·m)."""
        return 1.03896 / math.sqrt(self.ns << self.p)

    def may_contain(self, values: np.ndarray) -> np.ndarray:
        v = np.asarray(values)
        out = np.ones(len(v), dtype=bool)
        for k in range(self.ns):
            idx, rank = _register_updates(hash_tokens(v, int(self._seeds[k])), self.p)
            out &= self.regs[k, idx] >= rank
        return out

    def union_size(self, other: "HyperLogFilter") -> float:
        self._check_mergeable(other)
        u = self.copy()
        u.merge(other)
        return u.chunk_report()

    def jaccard_index(self, other: "HyperLogFilter") -> float:
        """Inclusion-exclusion on chunk_report (hll.h:1559-1567)."""
        uest = self.union_size(other)
        if uest <= 0.0:
            return 0.0
        olap = self.chunk_report() + other.chunk_report() - uest
        return max(0.0, min(1.0, olap / uest))

    # -- state -----------------------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {"p": self.p, "l2ss": self.l2ss, "seed": self.seed}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {"regs": self.regs}

    @classmethod
    def _from_state(cls, params, arrays) -> "HyperLogFilter":
        obj = cls(**params)
        obj.regs = arrays["regs"].astype(np.uint8).reshape(obj.ns, 1 << obj.p)
        return obj

    def __repr__(self) -> str:  # pragma: no cover
        return f"HyperLogFilter(p={self.p}, ns={self.ns}, est={self.estimate():.1f})"
