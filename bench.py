"""Headline benchmark — prints ONE JSON line for the driver.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Headline queries:

  token_hll_build   — flagship north-rule job: HLL+CMS+Bloom+MinHash+KLL in a
                      single scan over a synthesized token table
                      (doc_id, tokens array<int32>, n_tok, source) — the
                      tokens/sec number the baseline asks for
  lineitem_sketches — multi-sketch single-pass over sf lineitem
  hll_by_key        — grouped HLL over events.user_id by event_type
  dedup_stats       — exact-dedup stats over documents
  minhash_lsh       — MinHash signatures + banded-LSH near-dup pairs (docs)
  cosine_topk       — brute-force cosine top-10 for 8 queries (embeddings)
  quantiles         — KLL + t-digest over lineitem extendedprice

Usage:
  python bench.py                  # one JSON line on stdout
  python bench.py --cores 8        # override parallelism (scaling runs)
  python bench.py --json-extra     # include tokens/sec + rows/sec detail
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import functions as F

from sketch_spark.fixtures import ensure_token_table
from sketch_spark.pipeline.dedup import (
    dedup_stats,
    lsh_candidate_pairs,
    minhash_lsh_neardups,
    minhash_signatures,
    signature_jaccard,
)
from sketch_spark.pipeline.similarity import brute_force_topk
from sketch_spark.spark.agg import SketchSpec, build_sketches, sketch_by_key
from sketch_spark.spark.files import build_sketches_from_parquet
from sketch_spark.spark.session import get_spark

# ~256 tokens/doc → 60k docs ≈ 15.4M tokens at sf0.1-equivalent effort
TOKEN_DOCS = {"0.001": 600, "0.01": 6_000, "0.1": 60_000}


from sketch_spark import mem as _mem
from perfbench.host import cpu_times, steal_pct as _steal_pct


# The flagship spec set, shared by the --xl run and the sf run's
# token_hll_build.
FLAGSHIP_SPECS = [
    SketchSpec("hll", "hll", "tokens", {"p": 14}),
    SketchSpec("cms", "cms", "tokens", {"l2sz": 18, "nh": 4}),
    SketchSpec("bloom", "bloom", "tokens", {"l2sz": 24, "nh": 3}),
    SketchSpec("mh", "minhash", "tokens", {"k": 1024}),
    SketchSpec("kll", "kll", "n_tok", {"k": 200}),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--json-extra", action="store_true")
    ap.add_argument(
        "--reps",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")),
        help="interleaved repetitions per query; reported value = per-query min",
    )
    ap.add_argument(
        "--xl",
        action="store_true",
        help="flagship-only run over the 2M-doc / ~612M-token cached table "
        "(the sf1-scale committed metric; reuses .fixtures_cache/tok_2000000_42)",
    )
    args = ap.parse_args()

    if args.xl:
        cores = args.cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        spark = get_spark(cores=cores, app=f"sketch_bench_xl_c{cores}")
        tok_dir = ensure_token_table(n_docs=2_000_000)
        tok = spark.read.parquet(tok_dir)
        n_tokens = int(tok.select(F.sum("n_tok")).first()[0])
        la0 = round(os.getloadavg()[0], 2)
        canary0 = _mem.first_touch_mb_s(64)
        c0 = cpu_times()
        t0 = time.perf_counter()
        sk = build_sketches_from_parquet(spark, tok_dir, FLAGSHIP_SPECS)
        wall = time.perf_counter() - t0
        xl_steal = round(_steal_pct(c0, cpu_times()), 1)
        assert sk["cms"].total() == n_tokens
        print(
            json.dumps(
                {
                    "metric": "flagship_xl_tokens_per_sec",
                    "value": round(n_tokens / wall, 1),
                    "unit": "tokens/sec",
                    "queries": {"flagship_xl": round(wall, 3)},
                    "sf": "xl_612M",
                    "cores": cores,
                    "n_tokens": n_tokens,
                    "loadavg": {"flagship_xl": [la0, round(os.getloadavg()[0], 2)]},
                    "steal_pct": {"flagship_xl": [xl_steal]},
                    "fault_mb_s": [canary0, _mem.first_touch_mb_s(64)],
                    "hugepage_tuning": _mem.last_tuning,
                    "affinity_cores": len(os.sched_getaffinity(0)),
                    "host_cores": os.cpu_count(),
                }
            )
        )
        spark.stop()
        return

    sf_dir = args.sf_dir
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cores = args.cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cores=cores, app=f"sketch_bench_c{cores}")

    # Interleaved min-of-N (default 3): each rep runs EVERY query once, the
    # reported number is the per-query minimum across reps. Co-tenant CPU
    # bursts on this box (see BASELINE.md reproducibility notes) produced
    # 2-4x swings on single-shot timings; interleaving means a burst hits
    # one rep of many queries instead of every rep of one query, and the
    # min is the code's quiet-window cost. all_reps + per-rep loadavg ride
    # along so the spread itself is recorded, not discarded.
    canary0 = _mem.first_touch_mb_s(64)
    timings: dict[str, float] = {}
    all_reps: dict[str, list[float]] = {}
    extra: dict[str, float] = {}
    loadavg: dict[str, list[float]] = {}
    steal_pct: dict[str, list[float]] = {}

    def timed(name):
        class _T:
            def __enter__(self):
                loadavg.setdefault(name, []).append(round(os.getloadavg()[0], 2))
                self.c0 = cpu_times()
                self.t0 = time.perf_counter()
                return self

            def __exit__(self, *exc):
                dt = round(time.perf_counter() - self.t0, 3)
                all_reps.setdefault(name, []).append(dt)
                if name not in timings or dt < timings[name]:
                    timings[name] = dt
                loadavg[name].append(round(os.getloadavg()[0], 2))
                # steal: cycles the hypervisor gave to co-tenant VMs.
                # Loadavg can't see those; steal is the direct evidence when
                # a rep is slow through no fault of the code (measured 9-20%
                # bursts on a shared cloud VM)
                steal_pct.setdefault(name, []).append(
                    round(_steal_pct(self.c0, cpu_times()), 1)
                )

        return _T()

    # ---- one-time setup + warm-up (session costs stay out of the timings) ---
    # flagship input: the north-rule token table (doc_id, tokens array<int32>,
    # n_tok, source); parquet-direct path skips the JVM row→Arrow conversion
    n_docs = TOKEN_DOCS.get(sf, 10_000)
    tok_dir = ensure_token_table(n_docs=n_docs)
    tok = spark.read.parquet(tok_dir)
    n_tokens = tok.select(F.sum("n_tok")).first()[0]
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qrows = emb.where(F.col("vec_id") < 8).collect()
    qvecs = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in qrows])
    from sketch_spark.pipeline.text import with_fingerprint

    # warm the Python-worker / AQE / codegen paths once: cold first use
    # measured 2-3× steady state (the round-1 "variance" and the round-2
    # cosine_topk "regression" were both session first-use, see BASELINE.md)
    build_sketches_from_parquet(spark, tok_dir, FLAGSHIP_SPECS)
    minhash_lsh_neardups(docs.limit(200), threshold=0.7, num_hashes=64, bands=8).count()
    brute_force_topk(emb, qvecs, qids, k=10).collect()

    # ---- flagship: 5-sketch single pass over the token table ----------------
    # Timed back-to-back (min-of-reps) BEFORE the query mix: the headline
    # tokens/sec is a steady-state throughput number, and measured fact on
    # this box is that a session which just ran the LSH/persist-heavy mix
    # runs the next mapPartitions job 2-4× slower for ~a minute (worker-pool
    # / cleanup decay — recovers by itself; reproduced with probes). Same
    # methodology as BENCH_XL's min-of-3.
    for _rep in range(args.reps):
        with timed("token_hll_build"):
            sk = build_sketches_from_parquet(spark, tok_dir, FLAGSHIP_SPECS)
        assert sk["cms"].total() == n_tokens

    for _rep in range(args.reps):
        # ---- lineitem multi-sketch single pass -------------------------------
        with timed("lineitem_sketches"):
            build_sketches(
                li,
                [
                    SketchSpec("h", "hll", "l_partkey", {"p": 14}),
                    SketchSpec("c", "cms", "l_partkey", {"l2sz": 16, "nh": 4}),
                    SketchSpec("k", "kll", "l_extendedprice", {"k": 200}),
                    SketchSpec("t", "tdigest", "l_extendedprice", {"delta": 200.0}),
                ],
            )

        # ---- grouped sketches -----------------------------------------------
        with timed("hll_by_key"):
            sketch_by_key(
                ev, "event_type", [SketchSpec("h", "hll", "user_id", {"p": 14})]
            ).collect()

        # ---- top-k + multiplicity histogram ----------------------------------
        with timed("topk_multiplicity"):
            build_sketches(li, [SketchSpec("t", "topk", "l_partkey", {"m": 8192})])
            build_sketches(ev, [SketchSpec("m", "multiplicity", "user_id", {"r": 0})])

        # ---- pipeline ops -----------------------------------------------------
        with timed("dedup_stats"):
            dedup_stats(docs).collect()
        # the 100 TB shape of the same question: HLL over fingerprints — scan +
        # kilobyte state merge, no countDistinct shuffle of raw fingerprints
        with timed("dedup_stats_sketch"):
            build_sketches(
                with_fingerprint(docs), [SketchSpec("d", "hll", "fingerprint", {"p": 14})]
            )
        with timed("minhash_lsh"):
            # bands=8 → r=8 rows/band: LSH S-curve threshold (1/8)^(1/8) ≈ 0.77,
            # matched to the 0.7 cutoff (r=4 would flood candidates at ~0.5)
            t0 = time.perf_counter()
            sigs = minhash_signatures(docs, num_hashes=64).persist()
            sigs.count()
            t1 = time.perf_counter()
            pairs = lsh_candidate_pairs(sigs, bands=8, rows_per_band=8).persist()
            pairs.count()
            t2 = time.perf_counter()
            signature_jaccard(sigs, pairs).where(F.col("est_jaccard") >= 0.7).count()
            t3 = time.perf_counter()
            sigs.unpersist()
            pairs.unpersist()
        # keep the phase split of the best rep (matches the reported min)
        if timings["minhash_lsh"] == all_reps["minhash_lsh"][-1]:
            extra["lsh_phases"] = {
                "sign": round(t1 - t0, 3),
                "candidates": round(t2 - t1, 3),
                "verify": round(t3 - t2, 3),
            }
        with timed("cosine_topk"):
            brute_force_topk(emb, qvecs, qids, k=10).collect()

    extra["tokens_per_sec"] = round(n_tokens / timings["token_hll_build"], 1)
    extra["n_tokens"] = int(n_tokens)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cores": cores,
        "tokens_per_sec": extra["tokens_per_sec"],
        "n_tokens": extra["n_tokens"],
        "lsh_phases": extra.get("lsh_phases", {}),
        # per-query min over `reps` interleaved passes; all_reps shows the
        # raw spread so noise is visible, not discarded
        "reps": args.reps,
        "all_reps": all_reps,
        # [before, after] 1-min loadavg per timed block per rep; affinity <
        # cpu_count means the run was core-pinned (a scaling_bench leg)
        "loadavg": loadavg,
        # hypervisor steal (% of ALL cpu cycles) during each rep — the
        # co-tenant noise loadavg can't see
        "steal_pct": steal_pct,
        # first-touch fault throughput in MB/s over 64 MB [run start, run
        # end; the start reading is taken after the import-time hugepage
        # tuning] plus that tuner's decision — see sketch_spark/mem.py
        "fault_mb_s": [canary0, _mem.first_touch_mb_s(64)],
        "hugepage_tuning": _mem.last_tuning,
        "affinity_cores": len(os.sched_getaffinity(0)),
        "host_cores": os.cpu_count(),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
