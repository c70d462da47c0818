"""End-to-end Spark aggregation over the north-rule token table:
mapInArrow partial sketches → tree merge → estimates vs exact answers.

The strongest assertion available: because exact-state sketch merges are
order-free monoids, the distributed state must be *byte-identical* to a
local single-pass sketch over all tokens (SURVEY.md §5 item 3 lifted to the
cluster path). Also audits the input_hint per-row invariant
(n_tok == len(tokens))."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import sketch_spark.spark.agg as agg_mod
from sketch_spark.sketches.base import from_bytes, make_sketch, merge_all
from sketch_spark.spark.agg import (
    TREE_FANOUT,
    SketchSpec,
    _fold_partition,
    build_sketches,
    estimate_udf,
    partition_states,
    quantile_udf,
    sketch_by_key,
    tree_merge_states,
)


@pytest.fixture(scope="module")
def uniform_df(spark, fixtures):
    d, _ = fixtures
    return spark.read.parquet(os.path.join(d, "uniform"))


def _all_tokens(path: str) -> np.ndarray:
    """Local oracle: every token value in the parquet dir, in file order."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    parts = [
        pq.read_table(os.path.join(path, f), columns=["tokens"])
        .column("tokens").combine_chunks()
        for f in files
    ]
    return np.concatenate([p.flatten().to_numpy(zero_copy_only=False) for p in parts])


def test_token_table_row_invariant(uniform_df):
    """input_hint invariant: n_tok equals the token-array length on every row."""
    bad = uniform_df.where(F.col("n_tok") != F.size("tokens")).count()
    assert bad == 0


def test_hll_over_tokens_matches_local_single_pass_byte_identical(
    spark, fixtures, uniform_df
):
    d, answers = fixtures
    sk = build_sketches(uniform_df, [SketchSpec("h", "hll", "tokens", {"p": 14})])["h"]
    local = make_sketch("hll", p=14).update(_all_tokens(os.path.join(d, "uniform")))
    assert sk.to_bytes() == local.to_bytes()
    exact = answers["uniform"]["distinct"]
    assert abs(sk.estimate() - exact) <= 3 * sk.relative_error() * exact


def test_repartition_invariance(spark, uniform_df):
    """Any physical partitioning must produce the same state (monoid law on
    the cluster path)."""
    spec = [SketchSpec("h", "hll", "tokens", {"p": 12})]
    a = build_sketches(uniform_df, spec)["h"]
    b = build_sketches(uniform_df.repartition(7), spec)["h"]
    assert a.to_bytes() == b.to_bytes()


def test_multi_sketch_single_pass(spark, fixtures, uniform_df):
    """One scan feeds all sketch kinds at once (the flagship job shape)."""
    d, answers = fixtures
    specs = [
        SketchSpec("hll", "hll", "tokens", {"p": 14}),
        SketchSpec("cms", "cms", "tokens", {"l2sz": 16, "nh": 4}),
        SketchSpec("bloom", "bloom", "tokens", {"l2sz": 22, "nh": 3}),
        SketchSpec("mh", "minhash", "tokens", {"k": 1024}),
        SketchSpec("kll", "kll", "n_tok", {"k": 200}),
    ]
    sk = build_sketches(uniform_df, specs)
    exact = answers["uniform"]["distinct"]
    n_tokens = answers["uniform"]["n_tokens"]
    assert abs(sk["hll"].estimate() - exact) <= 3 * sk["hll"].relative_error() * exact
    assert sk["cms"].total() == n_tokens
    assert abs(sk["mh"].cardinality_estimate() - exact) / exact < 0.1
    # KLL over n_tok: its median must be within rank-3ε of the exact ranks
    med = sk["kll"].quantile(0.5)
    n_docs = uniform_df.count()
    rank = uniform_df.where(F.col("n_tok") <= med).count() / n_docs
    assert abs(rank - 0.5) <= 3 * sk["kll"].epsilon()


def test_cms_heavy_hitter_through_spark(spark, fixtures):
    d, answers = fixtures
    df = spark.read.parquet(os.path.join(d, "heavy137"))
    sk = build_sketches(df, [SketchSpec("c", "cms", "tokens", {"l2sz": 18, "nh": 4})])["c"]
    true_cnt = answers["heavy137"]["count_137"]
    est = int(sk.query(np.array([137]))[0])
    assert est >= true_cnt
    assert est - true_cnt <= 3 * sk.epsilon() * sk.total() + 1


def test_bloom_fpr_through_spark(spark, fixtures):
    """F1e disjoint corpus: insert source A tokens, probe B tokens
    (bftest.cpp pattern on the cluster path)."""
    d, answers = fixtures
    df = spark.read.parquet(os.path.join(d, "disjoint"))
    a = df.where(F.col("source") == "A")
    sk = build_sketches(a, [SketchSpec("b", "bloom", "tokens", {"l2sz": 24, "nh": 4})])["b"]
    b_tokens = np.unique(
        np.concatenate(
            [np.asarray(r["tokens"]) for r in df.where(F.col("source") == "B").select("tokens").collect()]
        )
    )
    b_only = b_tokens[b_tokens >= 10_000_000]  # strictly absent from A's range
    measured_fpr = float(sk.may_contain(b_only).mean())
    assert measured_fpr <= 3 * sk.est_fpr() + 1e-3


def test_sketch_by_key_groups_and_jaccard(spark, fixtures):
    """F1d overlap corpus: per-source MinHash sketches via the grouped
    two-phase path; Jaccard ≈ the known true value."""
    d, answers = fixtures
    df = spark.read.parquet(os.path.join(d, "overlap"))
    states = sketch_by_key(df, "source", [SketchSpec("m", "minhash", "tokens", {"k": 1024})])
    rows = {r["source"]: r["state"] for r in states.collect()}
    assert set(rows) == {"A", "B"}
    ma, mb = from_bytes(bytes(rows["A"])), from_bytes(bytes(rows["B"]))
    true_ji = answers["overlap"]["true_jaccard"]
    assert abs(ma.jaccard_index(mb) - true_ji) / true_ji < 0.1


def test_sketch_by_key_state_equals_local_per_group(spark, fixtures):
    """Grouped path must produce the same bytes as a local per-group build."""
    d, _ = fixtures
    path = os.path.join(d, "overlap")
    df = spark.read.parquet(path)
    states = sketch_by_key(df, "source", [SketchSpec("h", "hll", "tokens", {"p": 12})])
    got = {r["source"]: bytes(r["state"]) for r in states.collect()}
    # local oracle per group
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    by_src = {"A": [], "B": []}
    for f in files:
        t = pq.read_table(os.path.join(path, f), columns=["source", "tokens"])
        src = np.asarray(t.column("source"))
        toks = t.column("tokens").combine_chunks()
        offs = np.asarray(toks.offsets)
        flat = toks.flatten().to_numpy(zero_copy_only=False)
        for s in ("A", "B"):
            mask = src == s
            if mask.any():
                idx = np.nonzero(mask)[0]
                by_src[s].extend(
                    flat[offs[i]: offs[i + 1]] for i in idx
                )
    for s in ("A", "B"):
        local = make_sketch("hll", p=12).update(np.concatenate(by_src[s]))
        assert got[s] == local.to_bytes()


def test_partition_states_metrics(spark, uniform_df):
    """Per-partition lineage/metrics rows exist and account for all rows."""
    states = partition_states(uniform_df, [SketchSpec("h", "hll", "tokens", {"p": 10})])
    pdf = states.toPandas()
    assert (pdf["name"] == "h").all()
    assert pdf["n_rows"].sum() == uniform_df.count()
    assert (pdf["wall_ms"] >= 0).all()
    assert pdf["n_values"].sum() == uniform_df.select(F.sum(F.size("tokens"))).first()[0]


def test_tree_merge_matches_flat_merge(spark, uniform_df):
    specs = [
        SketchSpec("h", "hll", "tokens", {"p": 10}),
        SketchSpec("c", "cms", "tokens", {"l2sz": 10, "nh": 3}),
    ]
    rows = partition_states(uniform_df, specs).select("name", "state").collect()
    assert len(rows) >= 3 * len(specs)
    schema = "name string, state binary"
    # one partition holding several states per name, then more partitions
    # than TREE_FANOUT (most of them empty), so at least one tree level runs
    states = spark.createDataFrame(rows[:-2], schema).coalesce(1).union(
        spark.createDataFrame(rows[-2:], schema).repartition(2 * TREE_FANOUT)
    )
    sizes = states.rdd.glom().map(len).collect()
    assert len(sizes) > TREE_FANOUT and 0 in sizes and sizes[0] >= len(specs) + 1
    tree = tree_merge_states(states)
    assert sorted(tree) == ["c", "h"]
    for s in specs:
        flat = merge_all([from_bytes(bytes(r["state"])) for r in rows if r["name"] == s.name])
        assert tree[s.name].to_bytes() == flat.to_bytes()


def test_fold_passes_single_states_through(monkeypatch):
    """A partition holding one state per name — every partial-aggregation
    task — leaves the fold as the same bytes, without a single decode; a
    repeated name is decoded once per state."""
    calls = []
    real = agg_mod.from_bytes
    monkeypatch.setattr(agg_mod, "from_bytes", lambda b: calls.append(b) or real(b))
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 10**6, 2_000)
    h = make_sketch("hll", p=10).update(vals).to_bytes()
    c = make_sketch("cms", l2sz=10, nh=3).update(vals).to_bytes()
    assert list(_fold_partition(iter([("h", h), ("c", c)]))) == [("h", h), ("c", c)]
    assert calls == []
    (name, merged), (_, same) = _fold_partition(iter([("c", c), ("h", h), ("c", c)]))
    assert name == "c" and same == h and len(calls) == 2
    assert from_bytes(merged).total() == 2 * len(vals)


def test_estimate_and_quantile_udfs(spark, fixtures):
    d, answers = fixtures
    df = spark.read.parquet(os.path.join(d, "uniform"))
    states = sketch_by_key(df, "source", [
        SketchSpec("h", "hll", "tokens", {"p": 14}),
        SketchSpec("k", "kll", "n_tok", {"k": 200}),
    ])
    est = (
        states.where(F.col("name") == "h")
        .withColumn("est", estimate_udf()(F.col("state")))
        .select("source", "est")
    )
    exact = df.select("source", F.explode("tokens").alias("t")).groupBy("source").agg(
        F.countDistinct("t").alias("exact")
    )
    joined = est.join(exact, "source").collect()
    assert len(joined) == 4
    for r in joined:
        assert abs(r["est"] - r["exact"]) <= 3 * (1.03896 / np.sqrt(1 << 14)) * r["exact"]
    qrows = (
        states.where(F.col("name") == "k")
        .withColumn("qs", quantile_udf([0.5])(F.col("state")))
        .collect()
    )
    for r in qrows:
        assert r["qs"][0] > 0


def test_empty_input_yields_identity_sketches(spark, tmp_path):
    """Sketch of the empty set = freshly-initialized sketch, on both paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketch_spark.spark.files import build_sketches_from_parquet

    empty = pa.table(
        {"tokens": pa.array([], pa.list_(pa.int32())), "n_tok": pa.array([], pa.int32())}
    )
    d = str(tmp_path / "empty")
    import os

    os.makedirs(d)
    pq.write_table(empty, os.path.join(d, "part-0.parquet"))
    specs = [SketchSpec("h", "hll", "tokens", {"p": 10})]
    via_df = build_sketches(spark.read.parquet(d), specs)
    via_files = build_sketches_from_parquet(spark, d, specs)
    want = make_sketch("hll", p=10)
    assert via_df["h"].to_bytes() == want.to_bytes()
    assert via_files["h"].to_bytes() == want.to_bytes()


def test_threshold_distinct_matches_exact(spark):
    """FilterHLL composition: distinct values occurring >= t times. Copies of
    each value are scattered across partitions first — the operator's own
    repartition(col) must re-co-locate them or per-partition gating breaks."""
    from sketch_spark.spark.filterhll import threshold_distinct

    rows = [(v,) for v in range(200) for _ in range(v % 7 + 1)]
    df = spark.createDataFrame(rows, "v long").repartition(8)
    exact = sum(1 for v in range(200) if v % 7 + 1 >= 4)
    est = threshold_distinct(df, "v", 4, p=12, l2sz=16)
    assert abs(est - exact) <= 3 * 1.03896 / np.sqrt(1 << 12) * exact + 1


def test_threshold_distinct_skew_shuffles_pairs_not_rows(spark):
    """Round-2 verdict's one perf-weak item: under zipfian skew the old
    raw-row repartition(col) sent the hot value's entire row set to one
    task. The pair plan must cap the hot value's shuffle contribution at
    one (value, partial_count) row per map batch — and still gate exactly."""
    from sketch_spark.spark.filterhll import partial_value_counts, threshold_distinct

    n = 20_000
    rows = [(0,) for _ in range(n // 2)] + [(v,) for v in range(1, n // 2 + 1)]
    df = spark.createDataFrame(rows, "v long").repartition(8)
    pairs = partial_value_counts(df, "v")
    hot_pair_rows = pairs.where("v = 0").count()
    assert hot_pair_rows <= 16  # ≤ one pair per map batch — never 10k raw rows
    # only the hot value reaches the threshold; tiny-range HLL is exact
    est = threshold_distinct(df, "v", n // 2, p=12, l2sz=16)
    assert abs(est - 1.0) < 0.5


def test_threshold_distinct_sketch_of_empty_input_is_empty_hll(spark):
    from sketch_spark.spark.filterhll import threshold_distinct_sketch

    df = spark.createDataFrame([], "v long")
    out = threshold_distinct_sketch(df, "v", 2, p=9)
    assert out.to_bytes() == make_sketch("hll", p=9).to_bytes()


# sha256 of the state the collect-and-merge loop that agg.fold_states
# replaced returned on the fixture below
_THRESHOLD_HLL_SHA256 = "0d42b4b87c097be6b7c8a55c3e5e5841503a980b4e4c0fee71cf8649410fe19d"


def test_threshold_distinct_sketch_bytes_unchanged(spark):
    """The folded result equals a direct HLL over the values that reach the
    threshold (the CMS is wide enough to be exact here) and the bytes the
    earlier merge loop produced."""
    import hashlib

    from sketch_spark.spark.filterhll import threshold_distinct_sketch

    rows = [(v * 7919,) for v in range(3000) for _ in range(v % 7 + 1)]
    df = spark.createDataFrame(rows, "v long").repartition(8)
    out = threshold_distinct_sketch(df, "v", 4, p=12, l2sz=18)
    want = make_sketch("hll", p=12).update(
        np.array([v * 7919 for v in range(3000) if v % 7 + 1 >= 4], dtype=np.int64)
    )
    assert out.to_bytes() == want.to_bytes()
    assert hashlib.sha256(out.to_bytes()).hexdigest() == _THRESHOLD_HLL_SHA256


def test_threshold_distinct_threshold_one_equals_hll(spark):
    from sketch_spark.spark.filterhll import threshold_distinct

    df = spark.createDataFrame([(v,) for v in range(500)], "v long")
    est = threshold_distinct(df, "v", 1, p=12)
    assert abs(est - 500) <= 3 * 1.03896 / np.sqrt(1 << 12) * 500 + 1


def test_sketch_by_key_preserves_key_type(spark):
    """Round-2 fix: numeric/date keys keep their type in the output schema
    (previously silently stringified), and null keys form their own group."""
    from pyspark.sql import Row as R

    rows = [R(k=1, v=10), R(k=1, v=11), R(k=2, v=12), R(k=None, v=13)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    out = sketch_by_key(df, "k", [SketchSpec("h", "hll", "v", {"p": 10})])
    assert dict(out.dtypes)["k"] == "bigint"
    got = {r["k"] for r in out.collect()}
    assert got == {1, 2, None}


def test_sketch_by_key_weighted_matches_ungrouped(spark):
    """weight_col: the grouped weighted build (ONE pass, all keys) must
    byte-match per-key build_weighted_sketch calls — here with cms (exact
    additive monoid) and ws via pre-aggregated (value, weight) rows (the
    value-partitioned regime where ws's merge is byte-identical)."""
    import numpy as np

    from sketch_spark.spark.agg import build_weighted_sketch

    rng = np.random.default_rng(4)
    rows = [
        (src, int(v), int(w))
        for src in ("A", "B")
        for v, w in zip(range(300), rng.integers(1, 9, 300))
    ]
    df = spark.createDataFrame(rows, "src string, v bigint, w bigint")
    specs = [
        SketchSpec("c", "cms", "v", {"l2sz": 12, "nh": 4}),
        SketchSpec("x", "ws", "v", {"base_params": {"k": 8192}, "l2sz": 16}),
    ]
    got = {
        (r["src"], r["name"]): bytes(r["state"])
        for r in sketch_by_key(df, "src", specs, weight_col="w").collect()
    }
    assert set(got) == {("A", "c"), ("A", "x"), ("B", "c"), ("B", "x")}
    for src in ("A", "B"):
        sub = df.where(F.col("src") == src)
        for spec in specs:
            want = build_weighted_sketch(sub, spec.kind, "v", "w", spec.params)
            assert got[(src, spec.name)] == want.to_bytes(), (src, spec.name)


def test_sketch_by_key_weighted_list_column_repeats_row_weight(spark):
    """For token-array columns the row's weight applies to every token."""
    import numpy as np

    from sketch_spark.sketches.base import from_bytes, make_sketch

    df = spark.createDataFrame(
        [("A", [1, 2, 3], 5), ("A", [2], 2), ("B", [7], 3)],
        "src string, toks array<bigint>, w bigint",
    )
    out = {
        r["src"]: bytes(r["state"])
        for r in sketch_by_key(
            df, "src", [SketchSpec("c", "cms", "toks", {"l2sz": 10, "nh": 3})], weight_col="w"
        ).collect()
    }
    want_a = make_sketch("cms", l2sz=10, nh=3).update(
        np.array([1, 2, 3, 2]), counts=np.array([5, 5, 5, 2])
    )
    want_b = make_sketch("cms", l2sz=10, nh=3).update(np.array([7]), counts=np.array([3]))
    assert from_bytes(out["A"]).to_bytes() == want_a.to_bytes()
    assert from_bytes(out["B"]).to_bytes() == want_b.to_bytes()


def test_build_weighted_sketch_list_column_repeats_row_weight(spark):
    """The ungrouped weighted build over a token-array column applies each
    row's weight to every token of the row, as sketch_by_key does."""
    from sketch_spark.spark.agg import build_weighted_sketch

    df = spark.createDataFrame(
        [("A", [1, 2, 3], 5), ("A", [2], 2), ("B", [7], 3)],
        "src string, toks array<bigint>, w bigint",
    )
    got = build_weighted_sketch(df, "cms", "toks", "w", {"l2sz": 10, "nh": 3})
    want = make_sketch("cms", l2sz=10, nh=3).update(
        np.array([1, 2, 3, 2, 7]), counts=np.array([5, 5, 5, 2, 3])
    )
    assert got.to_bytes() == want.to_bytes()


# ---------------------------------------------------------------------------
# Multi-key grouped builds + OLAP rollups (round 4)
# ---------------------------------------------------------------------------


def test_sketch_by_key_multi_key_byte_parity(spark):
    """A (event_type, day) grouped build equals a filtered single-pass
    build per key PAIR, byte-for-byte; both key columns keep native types."""
    from sketch_spark.spark.agg import rollup_states

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    fine = sketch_by_key(ev, ["event_type", "day"], [SketchSpec("h", "hll", "user_id", {"p": 11})])
    dt = dict(fine.dtypes)
    assert dt["event_type"] == "string" and dt["day"] == "date"
    got = {(r["event_type"], r["day"]): bytes(r["state"]) for r in fine.collect()}
    some = sorted(got)[:3]
    for et, day in some:
        sub = ev.where((F.col("event_type") == et) & (F.col("day") == F.lit(day)))
        vals = np.array([r["user_id"] for r in sub.select("user_id").collect()], dtype=np.int64)
        assert got[(et, day)] == make_sketch("hll", p=11).update(vals).to_bytes()


def test_rollup_states_byte_identical_to_direct(spark):
    """Rolling (event_type, day) states up to event_type, to day, and to
    global must each be byte-identical to a direct build at that
    granularity — the merge-lattice property that makes layered rollup
    tables exact."""
    from sketch_spark.spark.agg import rollup_states

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    spec = [SketchSpec("h", "hll", "user_id", {"p": 12})]
    fine = sketch_by_key(ev, ["event_type", "day"], spec).cache()
    for keep in (["event_type"], ["day"]):
        up = {tuple(r[k] for k in keep): bytes(r["state"]) for r in rollup_states(fine, keep).collect()}
        direct = {
            tuple(r[k] for k in keep): bytes(r["state"])
            for r in sketch_by_key(ev, keep[0], spec).collect()
        }
        assert up == direct, f"rollup to {keep} diverged"
    # global rollup == whole-column tree build
    glob = rollup_states(fine, []).collect()
    assert len(glob) == 1 and glob[0]["name"] == "h"
    whole = build_sketches(ev, spec)["h"]
    assert bytes(glob[0]["state"]) == whole.to_bytes()
    # rollup of a rollup == rollup (lattice layering, no error accumulation)
    mid = rollup_states(fine, ["event_type"])
    twice = rollup_states(mid, []).collect()
    assert bytes(twice[0]["state"]) == whole.to_bytes()
    fine.unpersist()


def test_sketch_by_key_multi_key_null_group(spark):
    """A null in one key dimension forms its own group, matching Spark
    groupBy semantics."""
    df = spark.createDataFrame(
        [("a", None, 1), ("a", None, 2), ("a", "x", 3), ("b", "x", 4)],
        "k1 string, k2 string, v long",
    )
    out = sketch_by_key(df, ["k1", "k2"], [SketchSpec("h", "hll", "v", {"p": 8})])
    rows = {(r["k1"], r["k2"]): from_bytes(bytes(r["state"])).estimate() for r in out.collect()}
    assert set(rows) == {("a", None), ("a", "x"), ("b", "x")}
    assert round(rows[("a", None)]) == 2


def test_grouped_parquet_direct_multi_key_parity(spark):
    """The parquet-direct grouped path accepts a key LIST and matches the
    DataFrame path byte-for-byte."""
    from sketch_spark.spark.files import sketch_by_key_from_parquet

    path = "/root/testdata/sf0.001/events.parquet"
    ev = spark.read.parquet(path)
    spec = [SketchSpec("h", "hll", "user_id", {"p": 10})]
    via_df = {
        (r["event_type"], r["name"]): bytes(r["state"])
        for r in sketch_by_key(ev, "event_type", spec).collect()
    }
    direct = sketch_by_key_from_parquet(spark, path, ["event_type"], spec)
    via_files = {(r["event_type"], r["name"]): bytes(r["state"]) for r in direct.collect()}
    assert via_df == via_files


def test_encode_keys_matches_tuple_grouping():
    """Property: the composite group encoder assigns two rows the same
    dense id iff their key TUPLES are equal — including null slots — and
    the emitted tuple list indexes back to the original values."""
    import pyarrow as pa

    from sketch_spark.spark.agg import _encode_keys

    rng = np.random.default_rng(5)
    n = 2000
    k1 = rng.choice(["a", "b", "c", None], size=n).tolist()
    k2 = rng.integers(0, 5, size=n).tolist()
    k3 = rng.choice([None, 1.5, 2.5], size=n).tolist()
    batch = pa.RecordBatch.from_arrays(
        [pa.array(k1, pa.string()), pa.array(k2, pa.int64()), pa.array(k3, pa.float64())],
        names=["k1", "k2", "k3"],
    )
    dense, tuples, types = _encode_keys(batch, ["k1", "k2", "k3"])
    assert len(dense) == n and len(types) == 3
    for i in range(n):
        assert tuples[int(dense[i])] == (k1[i], k2[i], k3[i])
    truth = {(a, b, c) for a, b, c in zip(k1, k2, k3)}
    used = {tuples[i] for i in set(dense.tolist())}
    assert used == truth  # same id ⟺ same tuple, and every tuple appears


def test_sketch_by_key_flush_cap_is_invisible_in_results(spark):
    """Map-side accumulator flushing (the bounded-memory path for
    high-cardinality keys) must not change results: a tiny flush_keys forces
    many mid-partition partial emissions, and the reduce merge must fold
    them back to the exact bytes of the unflushed build."""
    rows = [(i % 97, [int(j) for j in range(i % 7 + 1)]) for i in range(2_000)]
    df = spark.createDataFrame(rows, "k int, tokens array<int>").repartition(4)
    specs = [
        SketchSpec("h", "hll", "tokens", {"p": 10}),
        SketchSpec("b", "bloom", "tokens", {"l2sz": 10, "nh": 3}),
    ]
    plain = {
        (r["k"], r["name"]): bytes(r["state"])
        for r in sketch_by_key(df, "k", specs).collect()
    }
    flushed = {
        (r["k"], r["name"]): bytes(r["state"])
        for r in sketch_by_key(df, "k", specs, flush_keys=4).collect()
    }
    assert set(plain) == set(flushed) and len(plain) == 97 * 2
    assert all(flushed[k] == plain[k] for k in plain)


def test_rollup_states_rejects_non_states_table(spark):
    from sketch_spark.spark.agg import rollup_states

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError, match="keyed-states table"):
        rollup_states(df, ["k"])


# ---- nulls are skipped at extraction (Spark's approx_count_distinct) -------


def test_null_ids_are_skipped():
    import pyarrow as pa

    nulls = pa.table({"v": pa.array([None] * 1000, pa.int64())})
    feed = agg_mod.TaskFeed([SketchSpec("h", "hll", "v", {"p": 12})])
    feed.feed(nulls)
    assert agg_mod.expand_partials(feed.partial())[((), "h")].estimate() == 0.0
    assert len(agg_mod._extract_column(nulls, "v", False)) == 0


@pytest.mark.parametrize("mode", ["global", "keyed", "weighted"])
def test_nan_in_a_float_column_is_skipped(mode):
    """NaN is skipped like a null: cast to an id it would be INT64_MIN, a
    phantom item (HLL 4.008 and CMS total 4 over [1, NaN, 2, 3]). Group ids
    and weights drop the same position. The quantile kinds dropped NaN
    already; their bytes equal the build over the other values too."""
    import pyarrow as pa

    if mode == "weighted":
        specs = [SketchSpec("c", "cms", "x", {"l2sz": 10, "nh": 3})]
    else:
        specs = [
            SketchSpec("h", "hll", "x", {"p": 12}),
            SketchSpec("c", "cms", "x", {"l2sz": 10, "nh": 3}),
            SketchSpec("k", "kll", "x", {"k": 64}),
            SketchSpec("t", "tdigest", "x"),
            SketchSpec("q", "ddsketch", "x"),
        ]

    def build(x, k, w):
        feed = agg_mod.TaskFeed(
            specs, [] if mode == "global" else ["k"], "w" if mode == "weighted" else None
        )
        feed.feed(pa.table({"x": pa.array(x, pa.float64()), "k": k, "w": w}))
        return {key: sk.to_bytes() for key, sk in agg_mod.expand_partials(feed.partial()).items()}

    got = build([1.0, float("nan"), 2.0, 3.0], ["a", "b", "a", "b"], [1.0, 5.0, 2.0, 3.0])
    assert got == build([1.0, 2.0, 3.0], ["a", "a", "b"], [1.0, 2.0, 3.0])
    assert len(got) == len(specs) * (1 if mode == "global" else 2)


def test_null_strings_are_skipped():
    import pyarrow as pa

    vals, kept = agg_mod._extract_kept(pa.array(["a", None, "b"]), False)
    assert kept.tolist() == [True, False, True]
    assert len(vals) == 2
    assert round(make_sketch("hll", p=12).update(vals).estimate()) == 2


def test_null_list_elements_and_rows_keep_groups_and_weights_aligned(spark):
    """Nulls inside a list and null list rows are skipped; the group ids
    and weights repeated over the tokens drop the same positions."""
    df = spark.createDataFrame(
        [("a", [1, None, 2], 5), ("a", None, 7), ("b", [3], 2), ("b", [None], 9)],
        "src string, toks array<bigint>, w bigint",
    )
    hll = [SketchSpec("h", "hll", "toks", {"p": 12})]
    est = {
        r["src"]: from_bytes(bytes(r["state"])).estimate()
        for r in sketch_by_key(df, "src", hll).collect()
    }
    assert {k: round(v) for k, v in est.items()} == {"a": 2, "b": 1}
    cms = [SketchSpec("c", "cms", "toks", {"l2sz": 10, "nh": 3})]
    out = {
        r["src"]: from_bytes(bytes(r["state"]))
        for r in sketch_by_key(df, "src", cms, weight_col="w").collect()
    }
    want_a = make_sketch("cms", l2sz=10, nh=3).update(np.array([1, 2]), counts=np.array([5, 5]))
    want_b = make_sketch("cms", l2sz=10, nh=3).update(np.array([3]), counts=np.array([2]))
    assert out["a"].to_bytes() == want_a.to_bytes()
    assert out["b"].to_bytes() == want_b.to_bytes()


@pytest.mark.parametrize(
    "values,non_null,total",
    [([1, 2, 3], [1, 3], 3), ([[1, 2], [3], [4, 5]], [[1, 2], [4, 5]], 6)],
    ids=["scalar", "list"],
)
def test_null_weight_skips_the_row(values, non_null, total):
    """A row with a null weight is skipped with its tokens: the weighted
    CMS equals a build over the other rows (a NaN weight reaching the
    float cell sums would wrap the table's total to INT64_MIN + 3)."""
    import pyarrow as pa

    spec = SketchSpec("c", "cms", "v", {"l2sz": 10, "nh": 3})

    def build(v, w):
        feed = agg_mod.TaskFeed([spec], weight_col="w")
        feed.feed(pa.table({"v": v, "w": pa.array(w, pa.float64())}))
        return agg_mod.expand_partials(feed.partial())[((), "c")]

    got = build(values, [1.0, None, 2.0])
    assert got.total() == total
    assert got.to_bytes() == build(non_null, [1.0, 2.0]).to_bytes()


def test_vector_spec_gets_one_row_per_row():
    """A ``consumes_vectors`` kind is fed (n, d) float64 rows, segmented by
    key with their weights; a null row is skipped with its key and weight."""
    import pyarrow as pa

    params = {"d": 3, "d_out": 32, "degree": 2, "ns": 2, "seed": 5}
    vecs = np.arange(15, dtype=np.float32).reshape(5, 3) / 7
    rows = [list(map(float, v)) for v in vecs]
    t = pa.table({
        "k": ["a", "b", "a", "b", "a"],
        "emb": pa.array(rows[:3] + [None] + rows[4:], pa.list_(pa.float32())),
        "w": [1.0, 2.0, 3.0, 4.0, 5.0],
    })
    feed = agg_mod.TaskFeed([SketchSpec("ts", "tensorsketch", "emb", params)], ["k"], "w")
    feed.feed(t)
    got = agg_mod.expand_partials(feed.partial())
    assert feed.n_values["ts"] == 4
    X = vecs.astype(np.float64)
    want_a = make_sketch("tensorsketch", **params).update(X[[0, 2, 4]], counts=[1.0, 3.0, 5.0])
    want_b = make_sketch("tensorsketch", **params).update(X[[1]], counts=[2.0])
    np.testing.assert_allclose(got[(("a",), "ts")].table, want_a.table, rtol=1e-12)
    np.testing.assert_allclose(got[(("b",), "ts")].table, want_b.table, rtol=1e-12)


@pytest.mark.parametrize("ships", [True, False], ids=["ships", "feeds"])
@pytest.mark.parametrize(
    "kind,params",
    [("ws", {"l2sz": 10, "nh": 3}), ("cms", {"l2sz": 10, "nh": 3}), ("hll", {"p": 10})],
)
def test_resume_continues_the_sketch(monkeypatch, kind, params, ships):
    """A resumed sketch is updated in place, so two feeds chained through
    its bytes equal one sketch updated with both units. Merging a fresh
    sketch into it instead restarts ws's occurrence numbering, and a
    shipped id->count partial must not replace it."""
    import pyarrow as pa

    monkeypatch.setattr(agg_mod, "_ships", lambda part, fresh: ships)
    rng = np.random.default_rng(9)
    a, b = rng.integers(0, 40, 300), rng.integers(20, 60, 200)
    spec = SketchSpec("s", kind, "v", params)
    feed = agg_mod.TaskFeed([spec])
    feed.feed(pa.table({"v": a}))
    first = agg_mod.expand_partials(feed.partial())[((), "s")].to_bytes()
    feed = agg_mod.TaskFeed([spec])
    feed.resume((), "s", from_bytes(first))
    feed.feed(pa.table({"v": b}))
    got = agg_mod.expand_partials(feed.partial())[((), "s")]
    assert got.to_bytes() == spec.new().update(a).update(b).to_bytes()
