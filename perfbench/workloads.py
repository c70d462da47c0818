"""The benchmark's four workloads: what one job does and how its output is
checked.

Every check holds for any correct hash family (bounds and identities, not
golden bytes), so a change that legitimately moves bit positions still
passes. A job whose check fails counts as failed; the run goes on."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tracing import kernel_ns_per_tok
from sketch_spark.pipeline.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    signature_jaccard,
)
from sketch_spark.spark.agg import SketchSpec, estimate_udf, rollup_states, sketch_by_key
from sketch_spark.spark.files import build_sketches_from_parquet

FLAGSHIP_SPECS = [
    SketchSpec("hll", "hll", "tokens", {"p": 14}),
    SketchSpec("cms", "cms", "tokens", {"l2sz": 18, "nh": 4}),
    SketchSpec("bloom", "bloom", "tokens", {"l2sz": 24, "nh": 3}),
    SketchSpec("minhash", "minhash", "tokens", {"k": 1024}),
    SketchSpec("kll", "kll", "n_tok", {"k": 200}),
]
KEYED_SPECS = [
    SketchSpec("hll", "hll", "tokens", {"p": 10}),
    SketchSpec("minhash", "minhash", "tokens", {"k": 64}),
]
KLL_QS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
LSH_THRESHOLD = 0.7
LSH_RECALL_FLOOR = 0.9


# Check bounds are wide enough that a correct sketch passes on every seed:
# over hundreds of seeds HLL errors reached 2.7 standard errors and KLL rank
# errors 0.95 of the sketch's own rank-epsilon, so a 3-sigma or 1-epsilon
# bound would fail correct code now and then. Broken sketches miss by far more.
HLL_SIGMAS = 4
KLL_EPS_FACTOR = 2


def hll_bound(p: int) -> float:
    """HLL_SIGMAS standard errors of HLL with 2^p registers."""
    return HLL_SIGMAS * 1.04 / math.sqrt(1 << p)


class Workload:
    """One workload. ``prepare`` makes (or loads) the seeded inputs and
    their exact answers; ``setup`` does per-session work; ``job`` is one
    closed-loop job; ``check`` returns the failed checks of one result."""

    name = ""
    specs: list[SketchSpec] = []
    settle_jobs = 1  # untimed jobs after the set-ups, before the timed loop

    def prepare(self, cache_dir: str, work_dir: str, seed: int) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        pass

    def job(self, spark, tr):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def state_bytes(self, out) -> int:
        raise NotImplementedError

    def counts(self, out) -> dict:
        """Per-job counts the traced run reports."""
        return {}

    def probe(self, spark) -> dict[str, float]:
        """Extra traced-run measurements, made once after the traced jobs."""
        return {}

    def layer_metrics(self, calls, traced, replayed, untraced_p50, cores) -> dict[str, float]:
        """This workload's own layer metrics, from the traced calls."""
        return {}

    def cleanup(self) -> None:
        pass

    @property
    def n_tokens(self) -> int:
        return self.answers["n_tokens"]

    @property
    def n_docs(self) -> int:
        return self.answers["n_docs"]


class GlobalBuild(Workload):
    """``build_sketches_from_parquet`` with the flagship specs."""

    specs = FLAGSHIP_SPECS
    n_docs_gen = 20_000
    n_files = 32

    def __init__(self, name: str, dist: str):
        self.name, self.dist = name, dist

    def prepare(self, cache_dir, work_dir, seed):
        key = f"tok-{self.dist}-{self.n_docs_gen}x{self.n_files}-s{seed}"
        self.data, self.answers = gen.ensure(
            cache_dir, key,
            lambda p: gen.token_table(p, seed, self.n_docs_gen, self.n_files, self.dist),
        )

    def job(self, spark, tr):
        with tr.call("files.build_sketches_from_parquet"):
            return build_sketches_from_parquet(spark, self.data, self.specs)

    def check(self, sk):
        a, bad = self.answers, []
        if sk["cms"].total() != a["n_tokens"]:
            bad.append(f"cms total {sk['cms'].total()} != {a['n_tokens']}")
        err = abs(sk["hll"].estimate() - a["distinct"]) / a["distinct"]
        if err > hll_bound(sk["hll"].p):
            bad.append(f"hll relative error {err:.4f}")
        if not sk["bloom"].may_contain(np.array(a["bloom_sample"], dtype=np.int64)).all():
            bad.append("bloom false negative")
        top = np.array(a["top100"][:10], dtype=np.int64)
        est = sk["cms"].query(top[:, 0])
        slack = math.e * a["n_tokens"] / sk["cms"].w
        if ((est < top[:, 1]) | (est > top[:, 1] + slack)).any():
            bad.append("cms top-10 point query out of bounds")
        ranked = np.array(a["n_tok_sorted"])
        eps = KLL_EPS_FACTOR * sk["kll"].epsilon()
        for q, v in zip(KLL_QS, sk["kll"].quantile(np.array(KLL_QS))):
            lo = np.searchsorted(ranked, v, "left") / len(ranked)
            hi = np.searchsorted(ranked, v, "right") / len(ranked)
            if not lo - eps <= q <= hi + eps:
                bad.append(f"kll q{q} rank [{lo:.4f}, {hi:.4f}]")
        return bad

    def state_bytes(self, sk):
        return sum(len(s.to_bytes()) for s in sk.values())

    def layer_metrics(self, calls, traced, replayed, untraced_p50, cores):
        c = calls["files.build_sketches_from_parquet"]
        return {
            "files.scan_stage_s": c["first_s"],
            "files.fold_stage_s": c["rest_s"],
            "files.task_s_p50": c["first_task_s_p50"],
            "files.task_s_max": c["first_task_s_max"],
            # share of the job wall the replayed single-thread task body
            # explains on this many cores
            "files.kernel_share": kernel_ns_per_tok(replayed) * self.n_tokens / 1e9
            / cores / untraced_p50,
        }


class KeyedDocs(Workload):
    """Keyed build on the DataFrame path, state table write, rollups."""

    name = "keyed_docs"
    specs = KEYED_SPECS
    # Spark's planning of these short queries keeps getting faster for
    # about ten jobs
    settle_jobs = 6
    n_docs_gen = 40
    n_files = 8
    keys = ["source", "doc_id"]

    def prepare(self, cache_dir, work_dir, seed):
        key = f"tok-zipf-{self.n_docs_gen}x{self.n_files}-s{seed}"
        self.data, self.answers = gen.ensure(
            cache_dir, key,
            lambda p: gen.token_table(p, seed, self.n_docs_gen, self.n_files, "zipf"),
        )
        self.table = os.path.join(work_dir, "keyed_states")

    def setup(self, spark):
        # the global rollup must equal a direct build in the same process
        direct = build_sketches_from_parquet(spark, self.data, self.specs)
        self.direct = {n: s.to_bytes() for n, s in direct.items()}

    def job(self, spark, tr):
        with tr.call("agg.sketch_by_key+write"):
            sketch_by_key(spark.read.parquet(self.data), self.keys, self.specs).write.mode(
                "overwrite"
            ).parquet(self.table)
        kt = spark.read.parquet(self.table)
        with tr.call("agg.rollup_states[source]"):
            by_source = {
                r["source"]: r["est"]
                for r in rollup_states(kt, ["source"])
                .where(F.col("name") == "hll")
                .select("source", estimate_udf()("state").alias("est"))
                .collect()
            }
        with tr.call("agg.rollup_states[]"):
            glob = {r["name"]: bytes(r["state"]) for r in rollup_states(kt, []).collect()}
        return {"by_source": by_source, "global": glob}

    def _written_states(self):
        """The keyed table's state column, read back in this process after the job."""
        return pq.read_table(self.table, columns=["state"]).column("state")

    def check(self, out):
        a, bad = self.answers, []
        rows = len(self._written_states())
        if rows != a["n_docs"] * len(self.specs):
            bad.append(f"keyed rows {rows} != {a['n_docs'] * len(self.specs)}")
        if out["global"] != self.direct:
            bad.append("global rollup differs from the direct build")
        bound = hll_bound(self.specs[0].params["p"])
        for src, d in a["distinct_by_source"].items():
            est = out["by_source"].get(src)
            if est is None or abs(est - d) / d > bound:
                bad.append(f"hll[{src}] estimate {est} vs {d}")
        return bad

    def state_bytes(self, out):
        return pc.sum(pc.binary_length(self._written_states())).as_py()

    def probe(self, spark):
        """The JVM row→Arrow exchange alone: the same scan into a Python
        consumer that only counts rows."""

        def count_rows(batches):
            for b in batches:
                yield pa.RecordBatch.from_arrays([pa.array([b.num_rows], pa.int64())], ["n"])

        scan = spark.read.parquet(self.data).select(*self.keys, "tokens")
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            scan.mapInArrow(count_rows, "n long").agg(F.sum("n")).first()
            walls.append(time.perf_counter() - t0)
        return {"agg.scan_stage_s": statistics.median(walls)}

    def layer_metrics(self, calls, traced, replayed, untraced_p50, cores):
        build = calls["agg.sketch_by_key+write"]
        return {
            "agg.keyed_partial_stage_s": build["map_s"],
            "agg.merge_keyed_stage_s": build["reduce_s"],
            "agg.partial_states": build["map_records"],
            "agg.state_write_s": build["wall_s"],
            "agg.rollup_s": calls["agg.rollup_states[source]"]["wall_s"]
            + calls["agg.rollup_states[]"]["wall_s"],
        }

    def cleanup(self):
        shutil.rmtree(self.table, ignore_errors=True)


class NeardupLsh(Workload):
    """MinHash signatures → banded LSH candidates → signature Jaccard."""

    name = "neardup_lsh"
    settle_jobs = 6  # as for keyed_docs
    n_docs_gen = 800
    n_files = 8
    num_hashes, bands = 64, 8

    def prepare(self, cache_dir, work_dir, seed):
        key = f"txt-{self.n_docs_gen}x{self.n_files}-s{seed}"
        self.data, self.answers = gen.ensure(
            cache_dir, key, lambda p: gen.text_corpus(p, seed, self.n_docs_gen, self.n_files)
        )
        self.planted = {tuple(sorted(p)) for p in self.answers["planted"]}

    def job(self, spark, tr):
        with tr.call("dedup.minhash_signatures"):
            sigs = minhash_signatures(spark.read.parquet(self.data), num_hashes=self.num_hashes)
            sigs = sigs.persist()
            n_sigs = sigs.count()
        with tr.call("dedup.lsh_candidate_pairs"):
            pairs = lsh_candidate_pairs(
                sigs, bands=self.bands, rows_per_band=self.num_hashes // self.bands
            ).persist()
            n_cand = pairs.count()
        with tr.call("dedup.signature_jaccard"):
            found = [
                (r["id_a"], r["id_b"], r["est_jaccard"])
                for r in signature_jaccard(sigs, pairs)
                .where(F.col("est_jaccard") >= LSH_THRESHOLD)
                .collect()
            ]
        sigs.unpersist()
        pairs.unpersist()
        return {"signatures": n_sigs, "candidates": n_cand, "found": found}

    def check(self, out):
        bad = []
        if out["signatures"] != self.answers["n_docs"]:
            bad.append(f"{out['signatures']} signatures for {self.answers['n_docs']} docs")
        got = {(min(a, b), max(a, b)) for a, b, _ in out["found"]}
        recall = len(got & self.planted) / len(self.planted)
        if recall < LSH_RECALL_FLOOR:
            bad.append(f"planted-pair recall {recall:.4f}")
        if any(j < LSH_THRESHOLD for *_, j in out["found"]):
            bad.append("reported pair below the threshold")
        return bad

    def state_bytes(self, out):
        # int64 signature slots plus the (id, id) candidate pairs
        return out["signatures"] * self.num_hashes * 8 + out["candidates"] * 16

    def counts(self, out):
        return {"candidates": out["candidates"], "verified": len(out["found"])}

    def layer_metrics(self, calls, traced, replayed, untraced_p50, cores):
        ok = [j for j in traced if "candidates" in j]
        cand = statistics.fmean(j["candidates"] for j in ok)
        ver = statistics.fmean(j["verified"] for j in ok)
        return {
            "dedup.sign_s": calls["dedup.minhash_signatures"]["wall_s"],
            "dedup.candidates_s": calls["dedup.lsh_candidate_pairs"]["wall_s"],
            "dedup.verify_s": calls["dedup.signature_jaccard"]["wall_s"],
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": ver,
            "dedup.verify_yield": ver / cand,
        }


class Pipeline(Workload):
    """Several workloads run back to back as one job."""

    def __init__(self, name: str, *parts: Workload):
        self.name, self.parts = name, parts
        # each job runs every part, so they warm up in fewer jobs
        self.settle_jobs = 3

    def prepare(self, cache_dir, work_dir, seed):
        for p in self.parts:
            p.prepare(cache_dir, work_dir, seed)
        self.data = self.parts[-1].data  # what the traced run replays

    def setup(self, spark):
        for p in self.parts:
            p.setup(spark)

    def job(self, spark, tr):
        return [p.job(spark, tr) for p in self.parts]

    def check(self, outs):
        return [e for p, o in zip(self.parts, outs) for e in p.check(o)]

    def state_bytes(self, outs):
        return sum(p.state_bytes(o) for p, o in zip(self.parts, outs))

    def counts(self, outs):
        return {k: v for p, o in zip(self.parts, outs) for k, v in p.counts(o).items()}

    def probe(self, spark):
        return {k: v for p in self.parts for k, v in p.probe(spark).items()}

    def layer_metrics(self, *args):
        return {k: v for p in self.parts for k, v in p.layer_metrics(*args).items()}

    def cleanup(self):
        for p in self.parts:
            p.cleanup()

    @property
    def n_tokens(self):
        return sum(p.n_tokens for p in self.parts)

    @property
    def n_docs(self):
        return sum(p.n_docs for p in self.parts)


# BENCHMARK.json lists global_zipf and global_uniform; traced runs of those
# also trace docs_pipeline jobs; the others run alone for focused measurements
WORKLOADS = {
    w.name: w
    for w in (
        GlobalBuild("global_uniform", "uniform"),
        GlobalBuild("global_zipf", "zipf"),
        KeyedDocs(),
        NeardupLsh(),
        Pipeline("docs_pipeline", KeyedDocs(), NeardupLsh()),
    )
}
