"""Scaling-efficiency evidence for the north rule's two-cluster-size
criterion: run the SAME flagship token-sketch job at two parallelism levels
(N and 4N cores) on the SAME input and report throughput at both plus
efficiency = T_N·N / (T_4N·4N).

No real cluster exists in this sandbox, so core count stands in for
executor count (driver instruction). Fairness details that matter:

  * each level runs in its own subprocess **pinned with taskset to exactly
    that many CPUs**, so the small configuration cannot borrow idle cores
    for JVM helper threads (unpinned local[2] on a 32-core box measures a
    ~10-thread process, not a 2-core cluster);
  * the input is large enough (default 480k docs ≈ 147M tokens) that the
    constant ~1s serial residue (final state collect + driver fold — the
    analog of the reference's rank-0 re-add, mpiParallelIO.cpp:283-296)
    is amortized, as it would be at cluster scale;
  * a warm-up build runs first (python workers, page cache), then the
    minimum of `--repeat` timed runs is reported.

Single-socket caveat recorded with the results: all N cores share one
DRAM controller here, while a real 4N-executor cluster brings 4× the
memory bandwidth — so these numbers are a *lower bound* on cluster
scaling for the bandwidth-bound fraction of the job.

Usage: python tools/scaling_bench.py [--n 2] [--docs 480000] [--repeat 2]
Prints one JSON line; BASELINE.md records the table.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from sketch_spark.fixtures import ensure_token_table
from sketch_spark.spark.agg import SketchSpec
from sketch_spark.spark.files import build_sketches_from_parquet
from sketch_spark.spark.session import get_spark

cores = {cores}
spark = get_spark(cores=cores, app=f"scaling_c{{cores}}")
tok_dir = ensure_token_table(n_docs={docs})
n_tokens = spark.read.parquet(tok_dir).select(F.sum("n_tok")).first()[0]
specs = [
    SketchSpec("hll", "hll", "tokens", {{"p": 14}}),
    SketchSpec("cms", "cms", "tokens", {{"l2sz": 18, "nh": 4}}),
    SketchSpec("bloom", "bloom", "tokens", {{"l2sz": 24, "nh": 3}}),
    SketchSpec("mh", "minhash", "tokens", {{"k": 1024}}),
]
build_sketches_from_parquet(spark, tok_dir, specs)  # warm-up: workers, page cache
times, loads = [], []
for _ in range({repeat}):
    la0 = os.getloadavg()[0]
    t0 = time.perf_counter()
    sk = build_sketches_from_parquet(spark, tok_dir, specs)
    times.append(time.perf_counter() - t0)
    loads.append([round(la0, 2), round(os.getloadavg()[0], 2)])
assert sk["cms"].total() == n_tokens
best = min(times)
import numpy as np
_c = np.empty(64 << 20, dtype=np.uint8)  # first-touch fault canary (see bench.py)
_t0 = time.perf_counter()
_c[::4096] = 1
fault_mb_s = round(64 / (time.perf_counter() - _t0), 1)
print("RESULT " + json.dumps({{"cores": cores, "sec": best, "n_tokens": int(n_tokens),
                               "tokens_per_sec": n_tokens / best, "times": times,
                               "loadavg": loads, "fault_mb_s": fault_mb_s}}))
spark.stop()
"""


def run_level(cores: int, docs: int, repeat: int) -> dict:
    code = _CHILD.format(repo=REPO, cores=cores, docs=docs, repeat=repeat)
    cmd = [sys.executable, "-c", code]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=3000)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"level {cores} failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2, help="small level N (large = 4N)")
    ap.add_argument("--docs", type=int, default=480_000)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument(
        "--interleave",
        action="store_true",
        help="alternate small/large single-rep runs instead of back-to-back "
        "blocks — a multi-minute co-tenant burst then hurts both sides "
        "instead of silently skewing one; each side reports its min across rounds",
    )
    args = ap.parse_args()

    if args.interleave:
        smalls, larges = [], []
        for _ in range(args.repeat):
            smalls.append(run_level(args.n, args.docs, 1))
            larges.append(run_level(4 * args.n, args.docs, 1))
        small = min(smalls, key=lambda r: r["sec"])
        large = min(larges, key=lambda r: r["sec"])
        small["times"] = [r["sec"] for r in smalls]
        large["times"] = [r["sec"] for r in larges]
        small["loadavg"] = [r["loadavg"][0] for r in smalls]
        large["loadavg"] = [r["loadavg"][0] for r in larges]
    else:
        small = run_level(args.n, args.docs, args.repeat)
        large = run_level(4 * args.n, args.docs, args.repeat)
    eff = (small["sec"] * args.n) / (large["sec"] * 4 * args.n)
    print(
        json.dumps(
            {
                "metric": "scaling_efficiency_Nx4N",
                "value": round(eff, 3),
                "pass": eff >= 0.8,
                "pinned": os.path.exists("/usr/bin/taskset"),
                "small": small,
                "large": large,
                "n_small": args.n,
                "n_large": 4 * args.n,
            }
        )
    )


if __name__ == "__main__":
    main()
