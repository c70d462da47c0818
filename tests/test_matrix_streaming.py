"""Pairwise similarity matrices over grouped states (reference python/
pysketch.h matrix-API parity) and Structured Streaming sketch builds
(batch-parity + exactly-once accumulation)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketch_spark.spark.agg import SketchSpec, build_sketches, sketch_by_key
from sketch_spark.spark.matrix import pairwise_df, pairwise_similarity
from sketch_spark.streaming import StreamingSketchBuild, stream_sketches


@pytest.fixture(scope="module")
def overlap_states(spark, fixtures):
    d, _ = fixtures
    df = spark.read.parquet(os.path.join(d, "overlap"))
    return sketch_by_key(df, "source", [SketchSpec("h", "hll", "tokens", {"p": 14})])


def test_pairwise_similarity_jaccard(spark, fixtures, overlap_states):
    _, answers = fixtures
    rows = pairwise_similarity(overlap_states, "source", "jaccard").collect()
    assert len(rows) == 1  # two sources → one pair
    r = rows[0]
    assert (r["key_a"], r["key_b"]) == ("A", "B")
    true_ji = answers["overlap"]["true_jaccard"]
    assert abs(r["value"] - true_ji) <= 0.05


def test_pairwise_similarity_metrics(spark, fixtures, overlap_states):
    _, answers = fixtures
    u = pairwise_similarity(overlap_states, "source", "union_size").first()["value"]
    i = pairwise_similarity(overlap_states, "source", "intersection_size").first()["value"]
    assert abs(u - answers["overlap"]["union"]) / answers["overlap"]["union"] < 0.05
    assert abs(i - answers["overlap"]["intersection"]) / answers["overlap"]["intersection"] < 0.2


def test_pairwise_df_agrees_with_driver_loop(spark, fixtures):
    d, _ = fixtures
    df = spark.read.parquet(os.path.join(d, "uniform"))
    states = sketch_by_key(df, "source", [SketchSpec("h", "hll", "tokens", {"p": 12})])
    a = {(r["key_a"], r["key_b"]): r["value"] for r in pairwise_similarity(states, "source").collect()}
    b = {(r["key_a"], r["key_b"]): r["value"] for r in pairwise_df(states, "source").collect()}
    assert set(a) == set(b) and len(a) == 6  # 4 sources → 6 pairs
    for k in a:
        assert a[k] == pytest.approx(b[k])


def test_pairwise_unknown_metric_raises(spark, overlap_states):
    with pytest.raises(ValueError, match="unknown metric"):
        pairwise_similarity(overlap_states, "source", "cosine")


def test_pairwise_driver_loop_refuses_large_k(spark, overlap_states):
    """The driver loop is for small K; above max_driver_keys it must point
    at the distributed route instead of silently materializing K²/2 rows."""
    one = overlap_states.select("source", "state").limit(1).collect()[0]
    big = spark.range(5000).select(
        F.concat(F.lit("g"), F.col("id")).alias("source"),
        F.lit(bytearray(bytes(one["state"]))).alias("state"),
    )
    with pytest.raises(ValueError, match="pairwise_df"):
        pairwise_similarity(big, "source")
    # explicit opt-out still works
    assert pairwise_similarity(
        overlap_states, "source", max_driver_keys=1_000_000
    ).count() == 1


def test_pairwise_df_plan_at_10k_keys(spark, overlap_states):
    """Plan audit of the large-K route at 10k keys: the right states copy
    is broadcast (no shuffle of the pair space, no CartesianProduct), the
    left copy is hash-repartitioned so the O(K²) comparison work spreads
    across every core, and the pair count is exactly K·(K−1)/2 (verified
    on a 300-key slice — counting 50M scored pairs is a bench, not a
    unit test)."""
    one = overlap_states.select("state").limit(1).collect()[0]
    blob = bytearray(bytes(one["state"]))

    def states_of(n):
        return spark.range(n).select(
            F.concat(F.lit("g"), F.format_string("%05d", F.col("id"))).alias("source"),
            F.lit(blob).alias("state"),
        )

    plan = pairwise_df(states_of(10_000), "source")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast right + K<K filter
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "hashpartitioning(key_a" in plan  # left spread across cores

    n = 300
    out = pairwise_df(states_of(n), "source")
    assert out.count() == n * (n - 1) // 2
    # self-pairs score 1.0 under jaccard — also exercises the per-batch cache
    assert out.agg(F.min("value"), F.max("value")).first() == (1.0, 1.0)


# ---------------- streaming ------------------------------------------------------


SPECS = [
    SketchSpec("h", "hll", "tokens", {"p": 12}),
    SketchSpec("c", "cms", "tokens", {"l2sz": 14, "nh": 4}),
]


def test_stream_matches_batch_byte_identical(spark, fixtures, tmp_path):
    """availableNow stream over the fixture dir must produce the same merged
    states as the batch build (exact-state monoids)."""
    d, _ = fixtures
    input_dir = os.path.join(d, "uniform")
    got = stream_sketches(spark, input_dir, SPECS, str(tmp_path / "s1"))
    want = build_sketches(spark.read.parquet(input_dir), SPECS)
    for name in ("h", "c"):
        assert got[name].to_bytes() == want[name].to_bytes()


def test_stream_microbatches_and_progress(spark, fixtures, tmp_path):
    """Bounded micro-batches (4 files each over 16 files → ≥4 batches) still
    accumulate to the batch answer; progress() exposes per-batch lineage."""
    d, answers = fixtures
    input_dir = os.path.join(d, "uniform")
    b = StreamingSketchBuild(spark, SPECS, str(tmp_path / "s2"))
    q = b.start(input_dir, max_files_per_trigger=4)
    q.awaitTermination()
    sk = b.current()
    exact = answers["uniform"]["distinct"]
    assert abs(sk["h"].estimate() - exact) <= 3 * sk["h"].relative_error() * exact
    assert sk["c"].total() == answers["uniform"]["n_tokens"]
    prog = b.progress().collect()
    assert len(prog) >= 4
    assert sum(r["rows"] for r in prog) == answers["n_docs"]


def test_progress_counts_partitions_that_shipped_a_partial(spark, fixtures, tmp_path):
    """On the zipf table the micro-batch tasks ship an id->count partial in
    place of the first spec's sketch; progress() still counts every row
    once, and the merged states expand it."""
    from sketch_spark.spark.agg import _PARTIAL

    d, answers = fixtures
    specs = [
        SketchSpec("h", "hll", "tokens", {"p": 14}),
        SketchSpec("c", "cms", "tokens", {"l2sz": 16, "nh": 4}),
    ]
    b = StreamingSketchBuild(spark, specs, str(tmp_path / "s"))
    b.start(os.path.join(d, "zipf"), max_files_per_trigger=8).awaitTermination()
    names = {r["name"] for r in spark.read.parquet(b.states_dir).select("name").collect()}
    assert _PARTIAL + "tokens" in names
    assert sum(r["rows"] for r in b.progress().collect()) == answers["n_docs"]
    assert b.current()["c"].total() == answers["zipf"]["n_tokens"]


def test_stream_restart_is_idempotent(spark, fixtures, tmp_path):
    """Running the stream twice over the same checkpoint must not double
    count (second run sees no new files)."""
    d, answers = fixtures
    input_dir = os.path.join(d, "uniform")
    work = str(tmp_path / "s3")
    first = stream_sketches(spark, input_dir, SPECS, work)
    again = stream_sketches(spark, input_dir, SPECS, work)
    assert again["c"].total() == first["c"].total() == answers["uniform"]["n_tokens"]
    assert again["h"].to_bytes() == first["h"].to_bytes()


# ---------------- keyed stateful streaming (applyInPandasWithState) -----------


def test_stateful_sketch_by_key_matches_batch(spark, fixtures, tmp_path):
    """Per-key running HLL in the streaming state store: after draining the
    backlog, the final per-key states must byte-match the batch grouped
    build (exact-state monoid + deterministic kernels)."""
    import os

    from sketch_spark.sketches.base import from_bytes
    from sketch_spark.streaming import stateful_sketch_by_key

    d, answers = fixtures
    input_dir = os.path.join(d, "overlap")
    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(input_dir)
    )
    spec = SketchSpec("h", "hll", "tokens", {"p": 14})
    out = stateful_sketch_by_key(stream, "source", spec)
    sink = str(tmp_path / "sink")

    def write(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    # final state per key = the row from the LAST batch that touched it
    final = {}
    for r in rows:
        if r["key"] not in final or r["batch_id"] > final[r["key"]]["batch_id"]:
            final[r["key"]] = r
    assert set(final) == {"A", "B"}
    batch_states = sketch_by_key(
        spark.read.parquet(input_dir), "source", [spec]
    ).collect()
    want = {r["source"]: bytes(r["state"]) for r in batch_states}
    for k in ("A", "B"):
        assert bytes(final[k]["state"]) == want[k], k
        # emitted estimate matches the known answer within the bound
        exact = answers["overlap"][f"distinct_{k.lower()}"]
        assert abs(final[k]["estimate"] - exact) <= 3 * 1.03896 / np.sqrt(1 << 14) * exact
    # multiple micro-batches actually happened (stateful accumulation)
    assert max(r["batch_id"] for r in rows) >= 1
    # n_rows accounts for every doc of each source
    assert sum(final[k]["n_rows"] for k in final) == answers["n_docs"]


def test_windowed_sketch_stream_with_watermark(spark, tmp_path):
    """Event-time daily windows over the events table: per-window HLL
    estimates must match exact per-day distinct counts, and windows whose
    end passed the watermark emit exactly one 'final' row before their
    state is dropped."""
    import os

    from sketch_spark.streaming import windowed_sketch_stream

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    os.symlink("/root/testdata/sf0.001/events.parquet", os.path.join(src_dir, "e.parquet"))
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
    )
    spec = SketchSpec("h", "hll", "user_id", {"p": 14})
    out = windowed_sketch_stream(stream, "ts", spec, window="1 day", watermark="1 day")
    sink = str(tmp_path / "sink")

    def write(bdf, bid):
        bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(sink)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    assert rows, "no output rows"
    # per-window latest estimate (any status) must match exact distinct users
    ev = spark.read.parquet(src_dir)
    exact = {
        r["d"]: r["n"]
        for r in ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss").alias("d")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    latest = {}
    for r in rows:
        key = r["window_start"]
        if key not in latest or r["batch_id"] >= latest[key]["batch_id"]:
            latest[key] = r
    assert set(latest) == set(exact)
    bound = 3 * 1.03896 / np.sqrt(1 << 14)
    for day, r in latest.items():
        assert abs(r["estimate"] - exact[day]) <= bound * exact[day] + 0.5, day
    # finals: with availableNow over one file the watermark advances to
    # max(ts)-1d, so every window ending before that must have finalized once
    finals = [r for r in rows if r["status"] == "final"]
    final_keys = [r["window_start"] for r in finals]
    assert len(final_keys) == len(set(final_keys))  # exactly once per window
    assert len(finals) >= len(exact) - 2  # all but the trailing window(s)


def test_streaming_decayed_cms_recency_weighting(spark, tmp_path):
    """realccm over a 2-batch stream: the older batch's counts weigh gamma,
    the newer weigh 1 — verified exactly (gamma=0.5 powers are exact in
    float) using the per-batch row counts from the lineage states."""
    import glob
    import shutil

    from sketch_spark.streaming.build import StreamingSketchBuild

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, nrows in enumerate([10, 100]):
        w = str(tmp_path / f"w{i}")
        spark.createDataFrame([(7,)] * nrows, "v long").coalesce(1).write.parquet(w)
        shutil.copy(glob.glob(w + "/part-*.parquet")[0], str(in_dir / f"f{i}.parquet"))
    spec = SketchSpec("d", "realccm", "v", {"l2sz": 12, "nh": 4, "gamma": 0.5})
    b = StreamingSketchBuild(spark, [spec], str(tmp_path / "wk"))
    q = b.start(str(in_dir), max_files_per_trigger=1)
    q.awaitTermination()
    acc = b.current_decayed("d")
    batches = {r["batch_id"]: r["rows"] for r in b.progress().collect()}
    assert len(batches) == 2
    order = [batches[k] for k in sorted(batches)]
    expected = 0.5 * order[0] + 1.0 * order[1]
    assert acc.query(np.array([7], dtype=np.int64))[0] == expected
    assert acc.epoch == 2


@pytest.mark.parametrize(
    "kind,params,exact",
    [
        # phll: true max-monoid (round 3) — byte-identical under any
        # micro-batching. csvec: linear with unit ±1 weights → integer
        # bucket sums, exact in float64 under any merge order → also
        # byte-identical. wzcs: ±Exp float amplitudes, so stream order vs
        # the batch build's partition-merge order differ in summation
        # association — ULP-close tables, same guarantee class as the
        # kind's own merge docstring. The state-store layer is
        # kind-agnostic across all three.
        ("phll", {"p": 12}, True),
        ("csvec", {"d_out": 256, "ns": 4}, True),
        ("wzcs", {"d_out": 256, "ns": 4, "p": 1.0}, False),
    ],
)
def test_stateful_streaming_kind_generic(spark, fixtures, tmp_path, kind, params, exact):
    """Rotating non-HLL kinds through the applyInPandasWithState path: the
    drained per-key states must match the batch grouped build (byte-equal
    for order-invariant kinds, ULP-close tables otherwise)."""
    import os

    from sketch_spark.streaming import stateful_sketch_by_key

    d, _ = fixtures
    input_dir = os.path.join(d, "overlap")
    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(input_dir)
    )
    spec = SketchSpec("p", kind, "tokens", params)
    out = stateful_sketch_by_key(stream, "source", spec)
    sink = str(tmp_path / "sink")

    def write(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    final = {}
    for r in rows:
        if r["key"] not in final or r["batch_id"] > final[r["key"]]["batch_id"]:
            final[r["key"]] = r
    want = {
        r["source"]: bytes(r["state"])
        for r in sketch_by_key(spark.read.parquet(input_dir), "source", [spec]).collect()
    }
    assert set(final) == set(want)
    from sketch_spark.sketches import from_bytes

    for k, w in want.items():
        got = bytes(final[k]["state"])
        if exact:
            assert got == w, k
        else:
            a, b = from_bytes(got), from_bytes(w)
            np.testing.assert_allclose(a.table, b.table, rtol=1e-9, atol=1e-12)


def test_stateful_streaming_vector_kind_tensorsketch(spark, tmp_path):
    """tensorsketch through the state store: vector-consuming kinds
    (``consumes_vectors``) must get ROW-stacked (n, d) matrices, not a
    flat concatenation (flattening a d=8 vector stream into scalars would
    silently sketch the wrong object). Drained states must match the
    directly-fed per-key batch sketch up to float summation order."""
    from sketch_spark.sketches import from_bytes, make_sketch
    from sketch_spark.streaming import stateful_sketch_by_key

    rng = np.random.default_rng(11)
    d_in, n = 8, 240
    keys = rng.integers(0, 3, n)
    vecs = rng.normal(size=(n, d_in)).round(3)
    pdf_rows = [(f"k{k}", [float(x) for x in v]) for k, v in zip(keys, vecs)]
    df = spark.createDataFrame(pdf_rows, "grp string, emb array<double>")
    input_dir = str(tmp_path / "in")
    df.repartition(6).write.parquet(input_dir)

    params = {"d": d_in, "d_out": 64, "degree": 2, "ns": 2, "seed": 7}
    spec = SketchSpec("ts", "tensorsketch", "emb", params)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(input_dir)
    )
    out = stateful_sketch_by_key(stream, "grp", spec)
    sink = str(tmp_path / "sink")

    def write(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    final = {}
    for r in rows:
        if r["key"] not in final or r["batch_id"] > final[r["key"]]["batch_id"]:
            final[r["key"]] = r
    assert set(final) == {"k0", "k1", "k2"}
    for kname in ("k0", "k1", "k2"):
        want = make_sketch("tensorsketch", **params)
        mask = np.array([f"k{k}" == kname for k in keys])
        want.update(vecs[mask])
        got = from_bytes(bytes(final[kname]["state"]))
        assert final[kname]["n_rows"] == int(mask.sum())
        np.testing.assert_allclose(got.table, want.table, rtol=1e-9, atol=1e-12)


def test_streaming_states_roll_up_to_batch_global(spark, fixtures):
    """States produced by the grouped path roll up (rollup_states) to the
    byte-exact whole-column build — streaming per-key state-store output
    has the same (key, name, state) shape, so the same lattice applies:
    maintain fine-grained states online, answer any coarser grouping by
    merging, never rescanning."""
    from sketch_spark.spark.agg import build_sketches, rollup_states

    d, _ = fixtures
    df = spark.read.parquet(os.path.join(d, "overlap"))
    spec = SketchSpec("h", "hll", "tokens", {"p": 14})
    keyed = sketch_by_key(df, "source", [spec])
    glob = rollup_states(keyed, []).collect()
    assert len(glob) == 1
    whole = build_sketches(df, [spec])["h"]
    assert bytes(glob[0]["state"]) == whole.to_bytes()


def _drain(out, tmp_path, key):
    """Run a stateful streaming query to completion; the last row per
    ``key`` value."""
    sink = str(tmp_path / "sink")

    def write(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {}
    for r in out.sparkSession.read.parquet(sink).collect():
        if r[key] not in final or r["batch_id"] >= final[r[key]]["batch_id"]:
            final[r[key]] = r
    return final


@pytest.mark.parametrize("col", ["word", "toks", "id"])
def test_stateful_sketch_by_key_reads_columns_like_the_batch_build(spark, tmp_path, col):
    """Strings, token lists with null elements and null rows, and int64
    ids with nulls reach the state store through the batch builds'
    TaskFeed: the drained per-key states equal sketch_by_key byte for
    byte, every null skipped."""
    from sketch_spark.streaming import stateful_sketch_by_key

    rng = np.random.default_rng(3)
    rows = []
    for i in range(400):
        toks = [None if rng.random() < 0.1 else int(x) for x in rng.integers(0, 500, rng.integers(0, 6))]
        rows.append((
            f"k{i % 3}",
            None if i % 17 == 0 else f"w{rng.integers(0, 60)}",
            None if i % 23 == 0 else toks,
            None if i % 7 == 0 else int(rng.integers(0, 1 << 40)),
        ))
    schema = "k string, word string, toks array<bigint>, id bigint"
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).repartition(6).write.parquet(input_dir)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "2").parquet(input_dir)
    spec = SketchSpec("h", "hll", col, {"p": 12})
    final = _drain(stateful_sketch_by_key(stream, "k", spec), tmp_path, "key")
    assert max(r["batch_id"] for r in final.values()) >= 1
    want = {
        r["k"]: bytes(r["state"])
        for r in sketch_by_key(spark.read.parquet(input_dir), "k", [spec]).collect()
    }
    assert {k: bytes(r["state"]) for k, r in final.items()} == want
    assert sum(r["n_rows"] for r in final.values()) == len(rows)


@pytest.mark.parametrize(
    "kind,params", [("ws", {"l2sz": 10, "nh": 3}), ("cms", {"l2sz": 10, "nh": 3})]
)
def test_stateful_sketch_by_key_continues_the_stored_sketch(spark, tmp_path, kind, params):
    """Every item recurs in each of four triggers. Each trigger continues
    the key's stored sketch, so the drained state equals one sketch
    updated with all of the key's values: ws keeps numbering occurrences
    from its prior counts (a fresh sketch merged in per trigger would
    restart them at 1), and cms keeps its counts when the trigger's
    id->count partial is small enough to ship."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketch_spark.sketches import make_sketch
    from sketch_spark.streaming import stateful_sketch_by_key

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    rng = np.random.default_rng(13)
    vals = {"a": [], "b": []}
    for i in range(4):
        k = np.repeat(["a", "b"], 60)
        v = np.concatenate([np.tile(np.arange(12), 5), np.tile(np.arange(6, 18), 5)])
        perm = rng.permutation(len(v))
        pq.write_table(pa.table({"k": k[perm], "v": v[perm]}), str(input_dir / f"part-{i}.parquet"))
        for key in vals:
            vals[key].append(v[k == key])
    stream = (
        spark.readStream.schema("k string, v bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(input_dir))
    )
    spec = SketchSpec("s", kind, "v", params)
    final = _drain(stateful_sketch_by_key(stream, "k", spec), tmp_path, "key")
    assert max(r["batch_id"] for r in final.values()) == 3
    for key, parts in vals.items():
        want = make_sketch(kind, **params).update(np.concatenate(parts))
        assert bytes(final[key]["state"]) == want.to_bytes(), key
        assert final[key]["n_rows"] == 240


def test_windowed_sketch_stream_vector_kind_tensorsketch(spark, tmp_path):
    """A vector kind through the windowed operator gets (n, d) row
    matrices: each window's state matches a direct build over its rows
    up to float summation order."""
    import datetime as dt

    from sketch_spark.sketches import from_bytes, make_sketch
    from sketch_spark.streaming import windowed_sketch_stream

    rng = np.random.default_rng(5)
    n, d_in = 180, 4
    day = rng.integers(0, 3, n)
    vecs = rng.normal(size=(n, d_in)).round(3)
    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (t0 + dt.timedelta(days=int(dd), minutes=int(m)), [float(x) for x in v])
        for dd, m, v in zip(day, rng.integers(0, 1440, n), vecs)
    ]
    schema = "ts timestamp, emb array<double>"
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(input_dir)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "2").parquet(input_dir)
    params = {"d": d_in, "d_out": 64, "degree": 2, "ns": 2, "seed": 7}
    spec = SketchSpec("ts", "tensorsketch", "emb", params)
    # a watermark wider than the data: no row is late, every window stays open
    out = windowed_sketch_stream(stream, "ts", spec, window="1 day", watermark="30 days")
    latest = _drain(out, tmp_path, "window_start")
    assert set(latest) == {f"2024-03-0{i + 1} 00:00:00" for i in range(3)}
    for i in range(3):
        r = latest[f"2024-03-0{i + 1} 00:00:00"]
        want = make_sketch("tensorsketch", **params).update(vecs[day == i])
        assert r["n_rows"] == int((day == i).sum())
        np.testing.assert_allclose(
            from_bytes(bytes(r["state"])).table, want.table, rtol=1e-9, atol=1e-12
        )
