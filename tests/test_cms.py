"""Count-Min sketch + Count sketch: point-frequency error on the reference's
skewed stream, merge laws, weighted updates, deletion, fold.

Reference analogs: testsrc/mctest.cpp:46-76 (item 137 → ~1004 occurrences,
|est − true| < 10 on a 100k stream with a 3×2^18-ish table), ccm.h:342-349
(min query), ccm.h:496-509 (median query), ccm.h:545-554 (fold)."""

import numpy as np
import pytest

from sketch_spark.sketches.base import from_bytes, merge_all
from sketch_spark.sketches.cms import CountMinSketch, CountSketch

RNG = np.random.default_rng(7)


def _skewed_stream() -> tuple[np.ndarray, int]:
    """mctest.cpp:46-61 analog: one heavy item (137, ~1004 occurrences) in a
    100k-item background stream."""
    base = RNG.integers(0, 2**20, 100_000, dtype=np.int64)
    base = base[base != 137]
    stream = np.concatenate([base, np.full(1004, 137, dtype=np.int64)])
    RNG.shuffle(stream)
    return stream, 1004


STREAM, TRUE_137 = _skewed_stream()


def test_cms_point_query_error_bound():
    cms = CountMinSketch(l2sz=18, nh=4).update(STREAM)
    est = int(cms.query(np.array([137]))[0])
    # CMS never underestimates; reference asserts overshoot < 10
    assert est >= TRUE_137
    assert est - TRUE_137 < 10
    # published bound: overshoot ≤ ε·N w.p. ≥ 1−δ
    assert est - TRUE_137 <= cms.epsilon() * cms.total() * 3 + 1


def test_cms_total_is_stream_length():
    cms = CountMinSketch(l2sz=16, nh=4).update(STREAM)
    assert cms.total() == len(STREAM)


def test_cms_batch_query_vectorized():
    cms = CountMinSketch(l2sz=18, nh=4).update(STREAM)
    keys, true_counts = np.unique(STREAM, return_counts=True)
    top = np.argsort(-true_counts)[:50]
    ests = cms.query(keys[top])
    assert (ests >= true_counts[top]).all()
    assert (ests - true_counts[top] < 12).all()


def test_cms_weighted_update():
    cms = CountMinSketch(l2sz=16, nh=4)
    cms.update(np.array([5, 9], dtype=np.int64), counts=np.array([100, 7]))
    est = cms.query(np.array([5, 9], dtype=np.int64))
    assert est[0] >= 100 and est[1] >= 7
    assert cms.total() == 107


def test_cms_merge_equals_single_pass_byte_identical():
    parts = np.array_split(STREAM, 9)
    merged = merge_all(CountMinSketch(l2sz=14, nh=4).update(p) for p in parts)
    single = CountMinSketch(l2sz=14, nh=4).update(STREAM)
    assert merged.to_bytes() == single.to_bytes()


def test_cms_merge_mismatch_raises():
    with pytest.raises(ValueError):
        CountMinSketch(l2sz=14, nh=4, seed=1).merge(CountMinSketch(l2sz=14, nh=4, seed=2))


def test_cms_elementwise_min_upper_bounds_intersection():
    a = CountMinSketch(l2sz=16, nh=4).update(np.arange(0, 1000, dtype=np.int64))
    b = CountMinSketch(l2sz=16, nh=4).update(np.arange(500, 1500, dtype=np.int64))
    inter = a.copy()
    inter.elementwise_min(b)
    # true intersection multiset = items 500..999 each once
    est = inter.query(np.arange(500, 1000, dtype=np.int64))
    assert (est >= 1).all()


def test_cms_l2est_close_to_true_l2():
    vals, counts = np.unique(STREAM, return_counts=True)
    true_l2 = float(np.sqrt((counts.astype(np.float64) ** 2).sum()))
    cms = CountMinSketch(l2sz=18, nh=4).update(STREAM)
    assert abs(cms.l2est() - true_l2) / true_l2 < 0.1


# ---------------- Count sketch (signed, median query) ------------------------


def test_countsketch_point_query_error():
    cs = CountSketch(l2sz=18, nh=5).update(STREAM)
    est = int(cs.query(np.array([137]))[0])
    assert abs(est - TRUE_137) < 10  # mctest.cpp:75 pattern


def test_countsketch_supports_deletion():
    cs = CountSketch(l2sz=16, nh=5)
    cs.update(np.full(500, 42, dtype=np.int64))
    cs.remove(np.full(500, 42, dtype=np.int64))
    assert int(cs.query(np.array([42]))[0]) == 0
    assert int(np.abs(cs.table).sum()) == 0  # linear sketch: exact cancel


def test_countsketch_subtract_is_stream_difference():
    a = CountSketch(l2sz=14, nh=5).update(np.arange(1000, dtype=np.int64))
    b = CountSketch(l2sz=14, nh=5).update(np.arange(500, dtype=np.int64))
    diff = a.copy().subtract(b)
    want = CountSketch(l2sz=14, nh=5).update(np.arange(500, 1000, dtype=np.int64))
    assert diff.to_bytes() == want.to_bytes()


def test_countsketch_merge_equals_single_pass():
    parts = np.array_split(STREAM, 5)
    merged = merge_all(CountSketch(l2sz=14, nh=5).update(p) for p in parts)
    single = CountSketch(l2sz=14, nh=5).update(STREAM)
    assert merged.to_bytes() == single.to_bytes()


def test_countsketch_fold_stays_query_consistent():
    cs = CountSketch(l2sz=16, nh=5).update(STREAM)
    folded = cs.fold(2)  # width /4
    assert folded.l2sz == 14
    est = int(folded.query(np.array([137]))[0])
    # coarser table, wider error — but the heavy hitter survives
    assert abs(est - TRUE_137) < 200


def test_serialization_round_trip_cms_cs():
    for sk in (CountMinSketch(l2sz=14, nh=4).update(STREAM[:10_000]),
               CountSketch(l2sz=14, nh=5).update(STREAM[:10_000])):
        back = from_bytes(sk.to_bytes())
        assert back.to_bytes() == sk.to_bytes()
        np.testing.assert_array_equal(
            back.query(np.array([137])), sk.query(np.array([137]))
        )


# ---------------- 4-wise count sketch (polynomial hashes) ---------------------


def test_cs4w_hash_family_is_exact_vs_bigint_oracle():
    """The Mersenne-61 polynomial evaluation must match arbitrary-precision
    arithmetic exactly (this is what makes the 4-wise independence claim
    real, reference hash.h:304-351)."""
    from sketch_spark.hashing import kwise_coefficients, poly_hash_mersenne

    M = (1 << 61) - 1
    co = kwise_coefficients(4, 1, seed=7)[0]
    xs = RNG.integers(0, 2**63, 500, dtype=np.int64)
    got = poly_hash_mersenne(xs, co)
    want = np.array(
        [
            sum(int(co[i]) * pow(int(x) % M, i, M) for i in range(4)) % M
            for x in xs.astype(np.uint64)
        ],
        dtype=np.uint64,
    )
    np.testing.assert_array_equal(got, want)


def test_cs4w_point_query_error():
    from sketch_spark.sketches.cms import CountSketch4W

    cs = CountSketch4W(l2sz=18, nh=5).update(STREAM)
    est = int(cs.query(np.array([137]))[0])
    assert abs(est - TRUE_137) < 10  # mctest.cpp:76 parity


def test_cs4w_merge_and_roundtrip():
    from sketch_spark.sketches.cms import CountSketch4W

    parts = np.array_split(STREAM, 5)
    merged = merge_all(CountSketch4W(l2sz=14, nh=5).update(p) for p in parts)
    single = CountSketch4W(l2sz=14, nh=5).update(STREAM)
    assert merged.to_bytes() == single.to_bytes()
    assert from_bytes(single.to_bytes()).to_bytes() == single.to_bytes()


def test_cs4w_differs_from_wanghash_family():
    from sketch_spark.sketches.cms import CountSketch4W

    a = CountSketch4W(l2sz=14, nh=5).update(STREAM[:1000])
    b = CountSketch(l2sz=14, nh=5).update(STREAM[:1000])
    assert not np.array_equal(a.table, b.table)


# ---------------- Morris / power-of-two CMS (reference pccm_t) ---------------


def test_pccm_small_counts_near_exact():
    from sketch_spark.sketches.cms import MorrisCMS

    sk = MorrisCMS(l2sz=12, nh=4, seed=7)
    sk.update(np.array([42], dtype=np.int64))
    assert sk.query(np.array([42], dtype=np.int64))[0] == 1.0  # first hit exact
    assert sk.query(np.array([43], dtype=np.int64))[0] == 0.0  # absent → 0


def test_pccm_order_of_magnitude_and_determinism():
    """Morris registers grow like log2(n); est_count = 2^(r−1) (reference
    update.h:81-82) with CMS-min over rows is a constant-factor estimate —
    assert the register is within ±3 of log2(n) and the run is reproducible
    (counter-based draws)."""
    from sketch_spark.sketches.cms import MorrisCMS

    n = 100_000
    vals = np.full(n, 137, dtype=np.int64)
    a = MorrisCMS(l2sz=12, nh=4, seed=7).update(vals)
    b = MorrisCMS(l2sz=12, nh=4, seed=7).update(vals)
    assert a.to_bytes() == b.to_bytes()  # deterministic given batch sequence
    idx = a._row_indices(np.array([137], dtype=np.int64))
    for row in range(a.nh):
        r = int(a.table[row, idx[row, 0]])
        assert abs(r - np.log2(n)) <= 3.0, r


def test_pccm_merge_rule_and_saturation():
    from sketch_spark.sketches.cms import MorrisCMS

    a = MorrisCMS(l2sz=8, nh=1, nbits=4)
    b = MorrisCMS(l2sz=8, nh=1, nbits=4)
    a.table[0, 5] = 3
    b.table[0, 5] = 3
    a.merge(b)
    assert a.table[0, 5] == 4  # combine = max + (i==j), update.h:74-79
    c = MorrisCMS(l2sz=8, nh=1, nbits=4)
    c.table[0, 5] = 15
    a.table[0, 5] = 15
    a.merge(c)
    assert a.table[0, 5] == 15  # saturates at 2^nbits − 1
    with pytest.raises(ValueError):
        a.merge(MorrisCMS(l2sz=8, nh=1, nbits=5))


def test_pccm_weighted_counts_equivalent_scale():
    from sketch_spark.sketches.cms import MorrisCMS

    n = 50_000
    w = MorrisCMS(l2sz=12, nh=2, seed=3).update(
        np.array([9], dtype=np.int64), counts=np.array([n])
    )
    r = MorrisCMS(l2sz=12, nh=2, seed=3).update(np.full(n, 9, dtype=np.int64))
    # same total hit count through either path → identical registers
    assert w.to_bytes() == r.to_bytes()


def test_pccm_many_small_updates_match_one_big_update():
    """Regression: draws must take fresh entropy per update() call. Before the
    per-sketch round counter, a cell whose register didn't advance re-drew
    the identical geometric jump every call; once that fixed jump exceeded
    the per-call hit count the counter froze (200k hits fed as 2000×100 gave
    est 32 vs 65536 in one call). Feed the same stream both ways and require
    the registers to land within normal Morris noise of each other."""
    from sketch_spark.sketches.cms import MorrisCMS

    n, chunk = 200_000, 100
    vals = np.full(chunk, 42, dtype=np.uint64)
    for seed in (7, 19, 101):
        many = MorrisCMS(l2sz=10, nh=4, seed=seed)
        for _ in range(n // chunk):
            many.update(vals)
        one = MorrisCMS(l2sz=10, nh=4, seed=seed).update(np.full(n, 42, dtype=np.uint64))
        idx = one._row_indices(np.array([42], dtype=np.uint64))
        for row in range(one.nh):
            r_many = int(many.table[row, idx[row, 0]])
            r_one = int(one.table[row, idx[row, 0]])
            assert abs(r_many - r_one) <= 3, (seed, row, r_many, r_one)
            assert abs(r_many - np.log2(n)) <= 4.0, (seed, row, r_many)


def test_pccm_rounds_persist_and_resume_deterministic():
    """The update-call counter rides in the serialized state, so kill/resume
    mid-stream continues the exact draw sequence (byte-identical to the
    uninterrupted run)."""
    from sketch_spark.sketches.base import from_bytes
    from sketch_spark.sketches.cms import MorrisCMS

    v = np.full(100, 42, dtype=np.uint64)
    a = MorrisCMS(l2sz=10, nh=4, seed=7)
    for _ in range(50):
        a.update(v)
    b = from_bytes(a.to_bytes())  # simulated kill/resume
    assert b.rounds == a.rounds == 50
    for _ in range(50):
        a.update(v)
        b.update(v)
    assert a.to_bytes() == b.to_bytes()


def test_pccm_distributed_merge_envelope():
    """The gate's distributed claim at kernel level: P partials of n/P hits
    max-merged land in [exact/(16·P), exact·16] — the reference merge rule
    (max + tie-increment) recovers split registers only on ties, so the
    merged counter runs low by up to one register per merge level."""
    from sketch_spark.sketches.base import merge_all
    from sketch_spark.sketches.cms import MorrisCMS

    n, P = 100_000, 8
    key = np.array([77], dtype=np.uint64)
    for seed in (1, 7, 23, 101, 997):
        # uneven split: per-partial register trajectories must differ (the
        # draws are counter-based, so equal partials would be identical)
        sizes = [n // P + (i - P // 2) * 1931 for i in range(P)]
        exact = sum(sizes)
        parts = [
            MorrisCMS(l2sz=12, nh=4, seed=seed).update(np.full(sz, 77, dtype=np.uint64))
            for sz in sizes
        ]
        est = merge_all(parts).query(key)[0]
        assert exact / (16.0 * P) <= est <= exact * 16.0, (seed, est)


def test_pccm_merge_no_uint8_wraparound_at_saturation():
    """max(255,255)+1 in uint8 would wrap to 0 before the clamp; the merge
    must do its arithmetic wide enough to saturate instead."""
    from sketch_spark.sketches.cms import MorrisCMS

    a = MorrisCMS(l2sz=8, nh=1, nbits=8)
    b = MorrisCMS(l2sz=8, nh=1, nbits=8)
    a.table[0, 5] = 255
    b.table[0, 5] = 255
    a.merge(b)
    assert a.table[0, 5] == 255


# ---------------- decayed CMS (reference realccm_t, batch-epoch semantics) ----


def test_realccm_epoch_weighting_exact():
    from sketch_spark.sketches.cms import DecayedCMS

    acc = DecayedCMS(l2sz=12, nh=4, gamma=0.5)
    b1 = DecayedCMS(l2sz=12, nh=4, gamma=0.5).update(np.full(10, 7, dtype=np.int64))
    b2 = DecayedCMS(l2sz=12, nh=4, gamma=0.5).update(np.full(100, 7, dtype=np.int64))
    acc.accumulate(b1).accumulate(b2)
    # batch1 aged one epoch (×0.5), batch2 fresh
    assert acc.query(np.array([7], dtype=np.int64))[0] == 0.5 * 10 + 100
    assert acc.epoch == 2


def test_realccm_same_epoch_merge_is_order_free():
    from sketch_spark.sketches.cms import DecayedCMS

    rng = np.random.default_rng(6)
    data = rng.integers(0, 1000, 5000, dtype=np.int64)
    single = DecayedCMS(l2sz=10, nh=3).update(data)
    a, b = np.array_split(data, 2)
    m1 = DecayedCMS(l2sz=10, nh=3).update(a).merge(DecayedCMS(l2sz=10, nh=3).update(b))
    m2 = DecayedCMS(l2sz=10, nh=3).update(b).merge(DecayedCMS(l2sz=10, nh=3).update(a))
    assert m1.to_bytes() == single.to_bytes() == m2.to_bytes()


def test_realccm_guards():
    from sketch_spark.sketches.cms import DecayedCMS

    aged = DecayedCMS(l2sz=8, nh=2).decay(3)
    fresh = DecayedCMS(l2sz=8, nh=2)
    with pytest.raises(ValueError):
        aged.merge(fresh)  # epoch mismatch: different scales
    with pytest.raises(ValueError):
        fresh.accumulate(aged)  # accumulate wants an epoch-0 batch
    with pytest.raises(ValueError):
        DecayedCMS(gamma=0.0)


def test_super_chunked_accumulation_bit_identical(monkeypatch):
    """Unweighted updates accumulate per SUPER-chunk (bounded transients for
    file-unit-sized batches); the split must be invisible in the bytes —
    int64 bincounts are exact, and CountSketch partials are float sums of
    +-1 (integer-valued, far below 2^53), exact in any order."""
    import sketch_spark.sketches.cms as cms_mod
    from sketch_spark.sketches.cms import CountSketch, CountSketch4W

    rng = np.random.default_rng(11)
    vals = rng.integers(0, 10_000, size=3_457, dtype=np.int64)
    for cls in (CountMinSketch, CountSketch, CountSketch4W):
        monkeypatch.setattr(cms_mod, "SUPER", 1 << 30)
        whole = cls(l2sz=10, nh=4).update(vals)
        monkeypatch.setattr(cms_mod, "SUPER", 1000)  # 4 passes + remainder
        split = cls(l2sz=10, nh=4).update(vals)
        assert split.to_bytes() == whole.to_bytes(), cls.kind
        # weighted path (whole-batch) unaffected by the SUPER setting; for
        # cms, integer counts (cell sums past 2^31 on repeated ids) scatter
        # in int64 and must give the float-weight path's bytes
        for w in (
            rng.integers(1, 9, size=100).astype(np.float64),
            rng.integers(2**31, 2**33, size=100),
        ):
            monkeypatch.setattr(cms_mod, "SUPER", 1000)
            a = cls(l2sz=10, nh=4).update(vals[:100] % 7, counts=w)
            monkeypatch.setattr(cms_mod, "SUPER", 1 << 30)
            b = cls(l2sz=10, nh=4).update(vals[:100] % 7, counts=w)
            assert a.to_bytes() == b.to_bytes(), cls.kind
            f = cls(l2sz=10, nh=4).update(vals[:100] % 7, counts=w.astype(np.float64))
            assert a.to_bytes() == f.to_bytes(), cls.kind
        assert CountMinSketch(l2sz=10, nh=4).update(vals[:100] % 7, counts=w).total() == w.sum()
