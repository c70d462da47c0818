"""Tracing for the traced run: spans around each public call, Spark stage
and task metrics from the event log, and a single-thread replay of the
parquet-direct task body.

Spans are recorded from the benchmark's own files; nothing inside the
library is instrumented. Each job is one trace: a root span per job and
one child span per public call, with the Spark job group set to the job
and the job description set to the call, so every Spark stage in the
event log maps back to the call that ran it."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

import pyarrow.parquet as pq

from sketch_spark import hashing
from sketch_spark.sketches import base
from sketch_spark.spark.agg import _extract_from_array


KINDS = ("hll", "cms", "bloom", "minhash", "kll")  # of workloads.FLAGSHIP_SPECS, replayed
REPLAY_METRICS = (
    "files.read_ns_per_tok",
    "agg.extract_ns_per_tok",
    "hashing.hash_tokens_ns_per_tok",
    "hashing.double_hashes_ns_per_tok",
    *(f"sketches.{k}.update_ns_per_tok" for k in KINDS),
    *(f"sketches.{k}.{m}" for k in KINDS for m in ("to_bytes_us", "from_bytes_us", "merge_us", "state_bytes")),
)
# The traced run's per-layer metrics, the same on every workload. Spark's
# millisecond task figures (GC, task p50 and max) can repeat exactly from
# run to run, so they are printed and kept in the report instead.
PER_LAYER = (
    *REPLAY_METRICS,
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.failed_tasks",
    "spark.sched_gap_s",
    "spark.stages",
    "spark.tasks",
    "trace.job_s_p50",
    "trace.overhead_s",
)


def unit(metric: str) -> str:
    for suffix, u in (("_ns_per_tok", "ns/tok"), ("_us", "us"), ("_s", "s"), ("_s_p50", "s"),
                      ("_s_max", "s"), ("_bytes", "B"), ("_share", "1"), ("_yield", "1")):
        if metric.endswith(suffix):
            return u
    return "count"


class NullTracer:
    """Tracing off: every call is a no-op context."""

    def job(self, i: int):
        return contextlib.nullcontext()

    def call(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self._job: dict | None = None

    def _span(self, name: str, parent: int | None) -> dict:
        span = {"trace": self._trace, "span": len(self.spans), "parent": parent,
                "name": name, "start": time.time(), "end": None}
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def job(self, i: int):
        self._trace = f"{self.workload}/job-{i}"
        self.sc.setJobGroup(self._trace, self.workload)
        self._job = self._span(self.workload, None)
        try:
            yield
        finally:
            self._job["end"] = time.time()
            self._job = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setJobDescription(None)

    @contextlib.contextmanager
    def call(self, name: str):
        self.sc.setJobDescription(name)
        span = self._span(name, self._job["span"])
        try:
            yield
        finally:
            span["end"] = time.time()


# ---- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the single event log under ``log_dir`` into
    ``jobs: {job id: {group, call, stages}}`` and
    ``stages: {stage id: {start, end, tasks: [...]}}`` (seconds)."""
    (name,) = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "call": props.get("spark.job.description"),
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"tasks": []})
                st["name"] = info["Stage Name"]
                st["start"] = info["Submission Time"] / 1e3
                st["end"] = info["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                stages.setdefault(ev["Stage ID"], {"tasks": []})["tasks"].append({
                    "s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "run": m.get("Executor Run Time", 0) / 1e3,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1e3,
                    "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                    "sw_records": sw.get("Shuffle Records Written", 0),
                    "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "failed": bool(info.get("Failed")),
                })
    return jobs, stages


def stages_by_call(jobs: dict, stages: dict) -> dict[tuple[str, str], list[dict]]:
    """Stages that ran, grouped by (job group, call), in stage-id order.
    A stage shared by several Spark jobs belongs to the first."""
    out: dict[tuple[str, str], list[dict]] = {}
    seen: set[int] = set()
    for jid in sorted(jobs):
        j = jobs[jid]
        for sid in sorted(j["stages"]):
            if sid in seen or "end" not in stages.get(sid, {}):
                continue
            seen.add(sid)
            out.setdefault((j["group"], j["call"]), []).append(stages[sid])
    return out


def busy_s(stage_list: list[dict]) -> float:
    """Length of the union of the stages' [submit, complete] intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((s["start"], s["end"]) for s in stage_list):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0.0)


def engine_metrics(spans: list[dict], by_call: dict) -> dict[str, float]:
    """Spark engine per-layer metrics, per traced job (means)."""
    roots = [s for s in spans if s["parent"] is None]
    per_job = {s["trace"]: [] for s in roots}
    for (group, _), sts in by_call.items():
        if group in per_job:
            per_job[group].extend(sts)
    tasks = [t for sts in per_job.values() for s in sts for t in s["tasks"]]
    n = len(roots)
    walls = {s["trace"]: s["end"] - s["start"] for s in roots}
    task_s = [t["s"] for t in tasks] or [0.0]
    return {
        "spark.executor_run_s": sum(t["run"] for t in tasks) / n,
        "spark.executor_cpu_s": sum(t["cpu"] for t in tasks) / n,
        "spark.gc_s": sum(t["gc"] for t in tasks) / n,
        "spark.shuffle_write_bytes": sum(t["sw_bytes"] for t in tasks) / n,
        "spark.shuffle_read_bytes": sum(t["sr_bytes"] for t in tasks) / n,
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
        "spark.sched_gap_s": statistics.fmean(
            walls[g] - busy_s(sts) for g, sts in per_job.items()
        ),
        "spark.task_s_p50": statistics.median(task_s),
        "spark.task_s_max": max(task_s),
        "spark.stages": sum(len(sts) for sts in per_job.values()) / n,
        "spark.tasks": len(tasks) / n,
    }


def call_metrics(spans: list[dict], by_call: dict) -> dict[str, dict]:
    """Per public call, means per job: span wall; busy time of its first
    stage and of the rest; busy time of the stages that write shuffle
    output (map side) and of those that only read it (reduce side); the
    records the map side writes; and the first stage's task times."""
    acc: dict[str, dict] = {}
    for s in spans:
        if s["parent"] is None:
            continue
        c = acc.setdefault(s["name"], {k: [] for k in ("wall", "first", "rest", "map", "reduce", "records", "tasks")})
        sts = by_call.get((s["trace"], s["name"]), [])
        maps = [st for st in sts if any(t["sw_records"] for t in st["tasks"])]
        c["wall"].append(s["end"] - s["start"])
        c["first"].append(busy_s(sts[:1]))
        c["rest"].append(busy_s(sts[1:]))
        c["map"].append(busy_s(maps))
        c["reduce"].append(busy_s([st for st in sts if st not in maps and
                                   any(t["sr_bytes"] for t in st["tasks"])]))
        c["records"].append(sum(t["sw_records"] for st in maps for t in st["tasks"]))
        c["tasks"].extend(t["s"] for t in (sts[0]["tasks"] if sts else ()))
    return {
        name: {
            **{f"{k}_s": statistics.fmean(c[k]) for k in ("wall", "first", "rest", "map", "reduce")},
            "map_records": statistics.fmean(c["records"]),
            "first_task_s_p50": statistics.median(c["tasks"]) if c["tasks"] else 0.0,
            "first_task_s_max": max(c["tasks"], default=0.0),
        }
        for name, c in acc.items()
    }


# ---- single-thread replay of the task body -------------------------------------


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _median_s(fn, reps: int = 5) -> float:
    return statistics.median(_timed(fn)[1] for _ in range(reps))


def replay(data_dir: str, specs, max_tokens: int = 1_000_000) -> dict[str, float]:
    """Replay the parquet-direct task body on whole files of ``data_dir``
    until ``max_tokens`` tokens: ``pq.read_table`` → ``_extract_from_array``
    → ``hash_tokens`` / ``double_hashes`` → ``update`` per spec, then
    ``to_bytes`` / ``from_bytes`` / ``merge`` per state. One thread, in
    this process, so each layer's cost is free of scheduling."""
    files = sorted(os.path.join(data_dir, f) for f in os.listdir(data_dir) if f.endswith(".parquet"))
    cols = sorted({s.col for s in specs})
    float_cols = {s.col for s in specs if s.is_quantile}
    acc = {k: 0.0 for k in ("read", "extract", "hash_tokens", "double_hashes")}
    upd = {s.name: 0.0 for s in specs}
    sketches = {s.name: s.new() for s in specs}
    n_tok = 0
    for path in files:
        table, dt = _timed(lambda: pq.read_table(path, columns=cols, use_threads=False))
        acc["read"] += dt
        t0 = time.perf_counter()
        vals = {c: _extract_from_array(table.column(c), c in float_cols) for c in cols}
        acc["extract"] += time.perf_counter() - t0
        toks = vals["tokens"]
        n_tok += len(toks)
        for lo in range(0, len(toks), hashing.CHUNK):
            chunk = toks[lo : lo + hashing.CHUNK]
            acc["hash_tokens"] += _timed(lambda: hashing.hash_tokens(chunk, 0))[1]
            acc["double_hashes"] += _timed(lambda: hashing.double_hashes(chunk, 1, 2, 4))[1]
        for s in specs:
            v = vals[s.col]
            t0 = time.perf_counter()
            for lo in range(0, len(v), base.UPDATE_SUPER):
                sketches[s.name].update(v[lo : lo + base.UPDATE_SUPER])
            upd[s.name] += time.perf_counter() - t0
        if n_tok >= max_tokens:
            break
    ns = 1e9 / n_tok
    out = {
        "files.read_ns_per_tok": acc["read"] * ns,
        "agg.extract_ns_per_tok": acc["extract"] * ns,
        "hashing.hash_tokens_ns_per_tok": acc["hash_tokens"] * ns,
        "hashing.double_hashes_ns_per_tok": acc["double_hashes"] * ns,
    }
    for s in specs:
        sk = sketches[s.name]
        blob = sk.to_bytes()
        a, b = base.from_bytes(blob), base.from_bytes(blob)
        out[f"sketches.{s.kind}.update_ns_per_tok"] = upd[s.name] * ns
        out[f"sketches.{s.kind}.to_bytes_us"] = _median_s(sk.to_bytes) * 1e6
        out[f"sketches.{s.kind}.from_bytes_us"] = _median_s(lambda: base.from_bytes(blob)) * 1e6
        out[f"sketches.{s.kind}.merge_us"] = _median_s(lambda: a.merge(b)) * 1e6
        out[f"sketches.{s.kind}.state_bytes"] = len(blob)
    out["replay.tokens"] = n_tok
    return out


def kernel_ns_per_tok(rep: dict[str, float]) -> float:
    """Σ of the replayed per-token costs of one task body."""
    return sum(v for k, v in rep.items() if k.endswith("update_ns_per_tok")) + \
        rep["files.read_ns_per_tok"] + rep["agg.extract_ns_per_tok"]
