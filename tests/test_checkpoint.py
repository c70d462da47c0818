"""Checkpointed, resumable builds with per-file lineage (SURVEY.md §5 item 6):
kill after K files, resume, final states byte-identical to an uninterrupted
run. Reference analog: serialization round-trip guarantee
(testsrc/serial_test.cpp:25-39) lifted to job level."""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from sketch_spark.spark.agg import _PARTIAL, SketchSpec
from sketch_spark.spark.checkpoint import checkpointed_build, lineage_report
from sketch_spark.spark.files import (
    _build_states_for_units,
    build_sketches_from_parquet,
    list_parquet_files,
)

SPECS = [
    SketchSpec("h", "hll", "tokens", {"p": 12}),
    SketchSpec("c", "cms", "tokens", {"l2sz": 14, "nh": 4}),
    # round-2/3 kinds ride the same kind-agnostic lineage path
    SketchSpec("s", "smh", "tokens", {"m": 128}),
    SketchSpec("y", "hmh", "tokens", {"p": 10, "r": 8}),
    SketchSpec("p", "phll", "tokens", {"p": 10}),
    SketchSpec("k", "hk", "tokens", {"nbuckets": 4096, "nh": 2}),
    SketchSpec("v", "csvec", "tokens", {"d_out": 1024, "ns": 2}),
]


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_build_and_lineage(spark, fixtures, ckpt_dir):
    d, answers = fixtures
    input_path = os.path.join(d, "uniform")
    sk = checkpointed_build(spark, input_path, SPECS, ckpt_dir)
    exact = answers["uniform"]["distinct"]
    assert abs(sk["h"].estimate() - exact) <= 3 * sk["h"].relative_error() * exact
    assert sk["c"].total() == answers["uniform"]["n_tokens"]
    n_files = len([f for f in os.listdir(input_path) if f.endswith(".parquet")])
    rep = lineage_report(spark, ckpt_dir).collect()
    assert len(rep) == n_files
    assert all(set(r["sketches"]) == {s.name for s in SPECS} for r in rep)


def test_kill_and_resume_byte_identical(spark, fixtures, ckpt_dir, tmp_path):
    d, _ = fixtures
    input_path = os.path.join(d, "uniform")
    # uninterrupted control run
    control = checkpointed_build(spark, input_path, SPECS, str(tmp_path / "control"))

    # crash after 5 of 16 files
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpointed_build(spark, input_path, SPECS, ckpt_dir, fail_after_files=5)
    done_after_crash = {r["file"] for r in lineage_report(spark, ckpt_dir).collect()}
    assert len(done_after_crash) == 5

    # resume: computes only the remaining files, merges everything
    resumed = checkpointed_build(spark, input_path, SPECS, ckpt_dir)
    for name in ("h", "c"):
        assert resumed[name].to_bytes() == control[name].to_bytes()


def test_rerun_after_completion_is_stable(spark, fixtures, ckpt_dir):
    d, _ = fixtures
    input_path = os.path.join(d, "uniform")
    first = checkpointed_build(spark, input_path, SPECS, ckpt_dir)
    again = checkpointed_build(spark, input_path, SPECS, ckpt_dir)  # no new work
    for name in ("h", "c"):
        assert first[name].to_bytes() == again[name].to_bytes()


def test_rerun_from_relative_path_does_not_double_count(spark, fixtures, ckpt_dir):
    """Lineage keys are absolute paths, so a finished build re-run from a
    relative input path finds every file done instead of appending its
    states a second time."""
    d, answers = fixtures
    rel = os.path.relpath(os.path.join(d, "uniform"))
    assert not os.path.isabs(rel)
    n_files = len([f for f in os.listdir(rel) if f.endswith(".parquet")])
    for _ in range(2):
        sk = checkpointed_build(spark, rel, SPECS[:2], ckpt_dir)
        assert sk["c"].total() == answers["uniform"]["n_tokens"]
        rep = lineage_report(spark, ckpt_dir).collect()
        assert len(rep) == n_files
        assert all(r["n_states"] == 2 for r in rep)


def test_changed_spec_set_raises(spark, fixtures, ckpt_dir):
    d, _ = fixtures
    input_path = os.path.join(d, "uniform")
    checkpointed_build(spark, input_path, SPECS[:1], ckpt_dir)
    with pytest.raises(ValueError, match=r"added \['c'\], missing \[\]"):
        checkpointed_build(spark, input_path, SPECS[:2], ckpt_dir)
    with pytest.raises(ValueError, match=r"added \['c'\], missing \['h'\]"):
        checkpointed_build(spark, input_path, SPECS[1:2], ckpt_dir)


# every kind that declares pre-aggregation beyond SPECS' hll and cms
PRE_SPECS = [
    SketchSpec("d", "dhll", "tokens", {"p": 10}),
    SketchSpec("b", "bloom", "tokens", {"l2sz": 20, "nh": 3}),
    SketchSpec("m", "minhash", "tokens", {"k": 128}),
]


def test_states_match_the_parquet_direct_build(spark, fixtures, ckpt_dir):
    """Per-file checkpoint states fold to the parquet-direct build's bytes
    for every kind the merge-law tests show is partition-invariant. On the
    zipf table the parquet-direct tasks ship id->count partials, which the
    driver expands, while each checkpoint row holds a finished sketch."""
    d, _ = fixtures
    specs = SPECS + PRE_SPECS
    for table in ("uniform", "zipf"):
        input_path = os.path.join(d, table)
        files = list_parquet_files(input_path)
        # one parquet-direct task's share of the files
        share = [(f, None, None) for f in files[: len(files) // spark.sparkContext.defaultParallelism]]
        shipped = {n for n, _ in _build_states_for_units(share, specs)}
        assert (_PARTIAL + "tokens" in shipped) == (table == "zipf")
        table_dir = os.path.join(ckpt_dir, table)
        ckpt = checkpointed_build(spark, input_path, specs, table_dir)
        rows = pq.read_table(table_dir, columns=["file", "name"]).to_pylist()
        assert len(rows) == len(files) * len(specs)
        assert {(r["file"], r["name"]) for r in rows} == {
            (os.path.abspath(f), s.name) for f in files for s in specs
        }
        direct = build_sketches_from_parquet(spark, input_path, specs)
        for name in ("h", "c", "s", "y", "p", "d", "b", "m"):
            assert ckpt[name].to_bytes() == direct[name].to_bytes(), (table, name)
