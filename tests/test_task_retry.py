"""Real task retries: a unit raises on its task's first attempt, Spark runs
the task again, and the build's bytes equal a run with no failure.

Runs in a subprocess on ``local[2,2]`` (two cores, each task tried at most
twice): the shared test session is plain ``local[N]``, which never retries
a task. The zipf fixture and large tables make the tasks ship id->count
partials, so the retried task's partials are what the last fold expands."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import hashlib, json, os, sys
sys.path.insert(0, sys.argv[1])
from pyspark import TaskContext
from sketch_spark import get_spark
from sketch_spark.spark.agg import _PARTIAL, SketchSpec, sketch_by_key
from sketch_spark.spark.files import build_sketches_from_parquet

path, marks = sys.argv[2], sys.argv[3]
specs = [
    SketchSpec("h", "hll", "tokens", {"p": 14}),
    SketchSpec("c", "cms", "tokens", {"l2sz": 16, "nh": 4}),
    SketchSpec("b", "bloom", "tokens", {"l2sz": 20, "nh": 3}),
]


def fail_first_attempt(label):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        open(os.path.join(marks, label), "w").close()
        raise RuntimeError("injected failure on the first attempt")


def failing_filter(table):
    fail_first_attempt("parquet")
    return table


def failing_upstream(batches):
    fail_first_attempt("dataframe")
    yield from batches


def digest(pairs):
    assert not any(name.startswith(_PARTIAL) for (*_, name), _ in pairs)
    h = hashlib.sha256()
    for key, blob in sorted(pairs):
        h.update(repr(key).encode() + blob)
    return len(pairs), h.hexdigest()


spark = get_spark(
    cores=2, shuffle_partitions=2,
    extra_conf={"spark.master": "local[2,2]", "spark.driver.memory": "2g"},
)
spark.sparkContext.setLogLevel("OFF")
out = {"master": spark.sparkContext.master}
for label, row_filter in (("clean", None), ("retried", failing_filter)):
    sk = build_sketches_from_parquet(spark, path, specs, row_filter=row_filter)
    out[f"parquet_{label}"] = digest([((n,), s.to_bytes()) for n, s in sk.items()])
df = spark.read.parquet(path)
for label, frame in (("clean", df), ("retried", df.mapInArrow(failing_upstream, df.schema))):
    rows = sketch_by_key(frame, "source", specs).collect()
    out[f"dataframe_{label}"] = digest([((r["source"], r["name"]), bytes(r["state"])) for r in rows])
out["marks"] = sorted(os.listdir(marks))
print("RESULT " + json.dumps(out))
spark.stop()
"""


def test_a_retried_task_gives_the_same_bytes(fixtures, tmp_path):
    marks = tmp_path / "marks"
    marks.mkdir()
    path = os.path.join(fixtures[0], "zipf")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, path, str(marks)],
        capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["master"] == "local[2,2]"
    # the first attempt of a task really failed on each path ...
    assert out["marks"] == ["dataframe", "parquet"]
    # ... and its retry gave the clean run's bytes
    assert out["parquet_retried"] == out["parquet_clean"]
    assert out["parquet_clean"][0] == 3
    assert out["dataframe_retried"] == out["dataframe_clean"]
    assert out["dataframe_clean"][0] == 4 * 3
