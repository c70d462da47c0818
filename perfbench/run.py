"""The benchmark's command line: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload global_zipf --seed 1 --seconds 25 --trace 0

Run from the repository root. A single Python process runs the
workload's jobs back to back on ``local[nproc]`` (one job at a time; the
next starts when the previous returns), checks every result, and prints
each metric as ``name value unit``. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones (see README.md). Inputs, Spark scratch space and reports
live under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [HERE, ROOT]
if not os.path.isdir(os.path.join(ROOT, "sketch_spark")):
    sys.exit(f"no sketch_spark package under {ROOT}: run from a repository checkout")

import host  # noqa: E402
import tracing  # noqa: E402
from workloads import FLAGSHIP_SPECS, WORKLOADS, GlobalBuild  # noqa: E402

from sketch_spark.spark.session import get_spark  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
MIN_JOBS = 4  # per timed loop, even if a job outlasts --seconds
TAIL_BEYOND = 10  # the tail percentile needs this many jobs beyond it
CACHE_KEEP = 64  # generated inputs kept on disk, most recently used first
SIDE = "docs_pipeline"  # traced alongside every other workload


def start_session(run_dir: str, cores: int, event_log: str | None = None):
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=cores, app="perfbench", extra_conf=conf)


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def closed_loop(spark, wl, seconds: float, tr, min_jobs: int = MIN_JOBS) -> list[dict]:
    """Run jobs back to back for ``seconds`` (and at least ``min_jobs``);
    time each, then check its output outside the timed interval."""
    jobs: list[dict] = []
    deadline = time.perf_counter() + seconds
    while len(jobs) < min_jobs or time.perf_counter() < deadline:
        rec: dict = {"errors": []}
        t0 = time.perf_counter()
        try:
            with tr.job(len(jobs)):
                out = wl.job(spark, tr)
            rec["s"] = time.perf_counter() - t0
            rec["errors"] = wl.check(out)
            rec["state_bytes"] = wl.state_bytes(out)
            rec.update(wl.counts(out))
        except Exception as e:  # a failed job is counted, not fatal
            rec.setdefault("s", time.perf_counter() - t0)
            rec["errors"] = [f"{type(e).__name__}: {e}"[:300]]
            rec["traceback"] = traceback.format_exc()
        jobs.append(rec)
    return jobs


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with TAIL_BEYOND jobs
    beyond it. A run with fewer than 4 * TAIL_BEYOND jobs keeps a quarter
    of them beyond it instead, so one stray job does not set the tail."""
    xs, n = sorted(times), len(times)
    beyond = min(TAIL_BEYOND, n // 4)
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n


def prune_cache(cache_dir: str) -> None:
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
        key=os.path.getmtime, reverse=True,
    )
    for e in entries[CACHE_KEEP:]:
        shutil.rmtree(e, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    cache_dir = os.path.join(WORK, "cache")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.makedirs(os.environ["TMPDIR"])
    os.makedirs(cache_dir, exist_ok=True)

    regime = {"start": host.regime_snapshot()}
    setups: list[float] = []
    side_jobs: list[dict] = []
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    spark = side = None
    try:
        # the first set-up is cold (JVM launch, input generation on a cache
        # miss); the others re-open the inputs in the running session
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = spark or start_session(run_dir, cores, event_log=log_dir)
            wl.prepare(cache_dir, run_dir, args.seed)
            wl.setup(spark)
            closed_loop(spark, wl, 0, tracing.NullTracer(), min_jobs=1)  # warm-up
            setups.append(time.perf_counter() - t0)
        prune_cache(cache_dir)
        # the JVM keeps getting faster for a few more jobs; time the plateau
        closed_loop(spark, wl, 0, tracing.NullTracer(), min_jobs=wl.settle_jobs)

        # a traced run splits --seconds between untraced and traced jobs
        seconds = args.seconds / 2 if args.trace else args.seconds
        min_jobs = 2 if args.trace else MIN_JOBS
        cpu0 = host.cpu_times()
        with host.RssSampler() as rss:
            jobs = closed_loop(spark, wl, seconds, tracing.NullTracer(), min_jobs)
        regime["steal_pct"] = host.steal_pct(cpu0, host.cpu_times())

        layers: dict[str, float] = {}
        report: dict = {}
        traced: list[dict] = []
        if args.trace:
            # same session, so the traced jobs are as warm as the untraced
            # ones; its event log runs throughout and only the tagged jobs
            # are read back
            tr = tracing.Tracer(spark, wl.name)
            traced = closed_loop(spark, wl, seconds, tr, min_jobs)
            probe = wl.probe(spark)
            # the keyed and dedup layers run only in docs_pipeline, which is
            # not a benchmark workload (see README.md): trace a few of its
            # jobs here so every layer is measured on every workload
            if isinstance(wl, GlobalBuild):
                WORKLOADS[SIDE].prepare(cache_dir, run_dir, args.seed)
                side = WORKLOADS[SIDE]
                side.setup(spark)
                closed_loop(spark, side, 0, tracing.NullTracer(), min_jobs=1)  # warm-up
                side_tr = tracing.Tracer(spark, side.name)
                side_jobs = closed_loop(spark, side, 0, side_tr, min_jobs=2)
                probe.update(side.probe(spark))
            spark.stop()
            spark = None
            by_call = tracing.stages_by_call(*tracing.read_event_log(log_dir))
            calls = tracing.call_metrics(tr.spans, by_call)
            replayed = tracing.replay(wl.data, FLAGSHIP_SPECS)
            untraced_p50 = statistics.median(j["s"] for j in jobs)
            traced_p50 = statistics.median(j["s"] for j in traced)
            measured = {
                **replayed,
                **tracing.engine_metrics(tr.spans, by_call),
                "trace.job_s_p50": traced_p50,
                "trace.overhead_s": traced_p50 - untraced_p50,
                **wl.layer_metrics(calls, traced, replayed, untraced_p50, cores),
                **probe,
            }
            if side:
                side_calls = tracing.call_metrics(side_tr.spans, by_call)
                calls.update(side_calls)
                measured.update(side.layer_metrics(side_calls, side_jobs, replayed, None, cores))
            layers = {k: measured[k] for k in tracing.PER_LAYER}
            report = {"calls": calls, "spans": tr.spans + (side_tr.spans if side else []),
                      "layer": {k: v for k, v in measured.items() if k not in layers}}
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        wl.cleanup()
        if side:
            side.cleanup()
        shutil.rmtree(run_dir, ignore_errors=True)
    regime["end"] = host.regime_snapshot()

    # end-to-end figures come from the untraced jobs; every job counts
    # toward attempted and failed
    all_jobs = jobs + traced + side_jobs
    failed = sum(bool(j["errors"]) for j in all_jobs)
    good = [j for j in jobs if not j["errors"]]
    p50 = statistics.median(j["s"] for j in jobs)
    tail_s, tail_pct = tail([j["s"] for j in jobs])
    e2e = {
        "tokens_per_s": (wl.n_tokens / p50, "tok/s"),
        "docs_per_s": (wl.n_docs / p50, "doc/s"),
        "job_s_p50": (p50, "s"),
        "job_s_tail": (tail_s, "s"),
        "setup_s": (statistics.median(setups), "s"),
        "state_bytes": (statistics.median(j["state_bytes"] for j in good) if good else 0, "B"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    print(f"# {wl.name} seed={args.seed} trace={args.trace} cores={cores}")
    for name, (v, unit) in e2e.items():
        print(f"{name} {v:.6g} {unit}")
    print(f"failed_frac {failed / len(all_jobs):.6g} ({failed} of {len(all_jobs)} jobs)")
    print(f"job_s_tail is p{tail_pct:.4g} of {len(jobs)} untraced jobs")
    print(f"setup_s_each {' '.join(f'{s:.3f}' for s in setups)} s (the first is cold)")
    for e in sorted({e for j in all_jobs for e in j["errors"]}):
        print(f"check_failed {e}")
    print("regime " + json.dumps(regime))
    for name, v in {**layers, **report.get("layer", {})}.items():
        print(f"{name} {v:.6g} {tracing.unit(name)}")

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, run_id + ".json"), "w") as fh:
        json.dump({"workload": wl.name, "seed": args.seed, "trace": args.trace,
                   "cores": cores, "setups_s": setups, "jobs": jobs, "traced_jobs": traced,
                   "regime": regime, "end_to_end": e2e, "layers": layers, **report},
                  fh, default=str)

    if args.trace:
        metrics = {k: (v, tracing.unit(k)) for k, v in layers.items()}
    else:
        metrics = e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
