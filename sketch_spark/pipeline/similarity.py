"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast of the (small) query set
against a scan of the corpus, scored vectorized in NumPy via mapInArrow
(one matmul per Arrow batch; no per-row Python), then a global top-k.
At 100 TB the scan is embarrassingly parallel and the only shuffle is the
k-row-per-partition top-k combine.

Scale path: random-hyperplane LSH bucketing (signed projections → bucket
join like minhash LSH) restricts scoring to same-bucket candidates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F

from sketch_spark.pipeline.buckets import guarded_bucket_pairs
from sketch_spark.spark.agg import SketchSpec, _batch_matrix, sketch_by_key


def brute_force_topk(
    df: DataFrame,
    queries: np.ndarray,
    query_ids: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors in `df` for each query vector.

    queries: (q, d) float array, broadcast in the UDF closure (small dim
    table pattern). Per Arrow batch: one (n, d) @ (d, q) matmul + partial
    top-k, so each partition emits ≤ q·k candidate rows; the final exact
    top-k is a cheap window over q·k·P rows.
    """
    qm = np.asarray(queries, dtype=np.float64)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-30)
    qids = np.asarray(query_ids)

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col)).to_numpy(zero_copy_only=False)
            m = _batch_matrix(batch.column(batch.schema.get_field_index(vec_col)))
            if m.shape[0] == 0:
                continue
            m64 = m.astype(np.float64)
            mn = m64 / np.maximum(np.linalg.norm(m64, axis=1, keepdims=True), 1e-30)
            sims = mn @ qn.astype(np.float64).T  # (n, q)
            kk = min(k, sims.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, q)
            out_q, out_id, out_s = [], [], []
            for j in range(sims.shape[1]):
                out_q.extend([int(qids[j])] * kk)
                out_id.extend(ids[top[:, j]].tolist())
                out_s.extend(sims[top[:, j], j].astype(np.float64).tolist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_q, pa.int64()), pa.array(out_id, pa.int64()), pa.array(out_s, pa.float64())],
                names=["query_id", id_col, "cosine"],
            )

    partial = df.select(id_col, vec_col).mapInArrow(score, f"query_id long, {id_col} long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def cosine_topk_sql(
    df: DataFrame, query_df: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Pure-DataFrame variant (zip_with/aggregate dot product) — exact, fully
    Catalyst-planned; used as the oracle-matching path for small query sets.
    query_df: (query_id, qvec array<float>) — broadcast joined.
    """
    dot = F.aggregate(
        F.zip_with(vec_col, "qvec", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))  # noqa: E731
    scored = (
        df.crossJoin(F.broadcast(query_df))
        .withColumn("cosine", dot / (norm(F.col(vec_col)) * norm(F.col("qvec")) + F.lit(1e-30)))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def _plane_sets(d: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """(tables, d, planes) float32 — one independent hyperplane set per table."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, d, n_planes)).astype(np.float32)


def _bucket_ids(m: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, tables) int64 bucket per row per table: sign bits of projections."""
    n_tables, _, n_planes = planes.shape
    out = np.empty((m.shape[0], n_tables), dtype=np.int64)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    for t in range(n_tables):
        bits = (m @ planes[t]) > 0
        out[:, t] = bits.astype(np.int64) @ weights
    return out


def lsh_bucket_embeddings(
    df: DataFrame, n_planes: int = 16, n_tables: int = 1, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table random-hyperplane LSH: per table, bucket = sign bits of
    `n_planes` projections → (id, table, bucket) rows.

    Same-bucket rows are cosine-similar with high probability; multiple
    independent tables trade candidate volume for recall (standard LSH
    amplification: P(candidate) = 1 - (1 - p^planes)^tables). The planes
    live in the closure — a few KB broadcast, no shuffle added."""

    def bucketize(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = None
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col)).to_numpy(zero_copy_only=False)
            m = _batch_matrix(batch.column(batch.schema.get_field_index(vec_col)))
            if m.shape[0] == 0:
                continue
            if planes is None:
                planes = _plane_sets(m.shape[1], n_planes, n_tables, seed)
            buckets = _bucket_ids(m, planes)  # (n, tables)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_tables), pa.int64()),
                    pa.array(np.tile(np.arange(n_tables, dtype=np.int64), len(ids)), pa.int64()),
                    pa.array(buckets.ravel(), pa.int64()),
                ],
                names=[id_col, "table", "bucket"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        bucketize, f"{id_col} long, table long, bucket long"
    )


def embedding_neardups(
    df: DataFrame, threshold: float = 0.95,
    n_planes: int = 8, n_tables: int = 6, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_bucket_size: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table LSH bucketing
    proposes candidates (rows sharing any (table, bucket)), then exact
    cosine filters at ``threshold``. The cross product never materializes —
    candidates come from a self-equi-join on the compact (table, bucket)
    key, the same shape as MinHash-LSH text dedup.

    Hot-bucket guard (2^n_planes buckets per table is SMALL — 256 at the
    default — so a big corpus concentrates ~n/256 rows per bucket): buckets
    above `max_bucket_size` switch from all-pairs to star pairing against
    the bucket-min id, keeping candidate growth linear; connectivity to a
    representative survives, which is what connected-component dedup needs.
    Raise n_planes with corpus size so typical buckets stay under the cap."""
    buckets = lsh_bucket_embeddings(
        df, n_planes=n_planes, n_tables=n_tables, seed=seed, id_col=id_col, vec_col=vec_col
    )
    # skew-safe guard: groupBy+join-back bucket stats (buckets.py), never a
    # Window over the bucket key
    cand = guarded_bucket_pairs(
        buckets, ["table", "bucket"], id_col, max_bucket_size
    ).distinct()
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))  # noqa: E731
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", dot / (norm(F.col("va")) * norm(F.col("vb")) + F.lit(1e-30)))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ann_topk(
    df: DataFrame, queries: np.ndarray, query_ids: np.ndarray, k: int = 10,
    n_planes: int = 8, n_tables: int = 8, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table LSH ANN: candidates = rows sharing a (table, bucket) with
    any query in any table (the OR-amplified LSH construction); exact cosine
    top-k is then computed over candidates only. At scale the bucket match
    is a semi-join on a compact two-int key — never a full cross product."""
    qm = np.asarray(queries, dtype=np.float32)
    planes = _plane_sets(qm.shape[1], n_planes, n_tables, seed)
    qbuckets = _bucket_ids(qm, planes)  # (q, tables)
    wanted = {(int(t), int(qbuckets[j, t])) for j in range(qm.shape[0]) for t in range(n_tables)}
    buckets = lsh_bucket_embeddings(
        df, n_planes=n_planes, n_tables=n_tables, seed=seed, id_col=id_col, vec_col=vec_col
    )
    spark = df.sparkSession
    wanted_df = spark.createDataFrame(
        [(t, b) for t, b in sorted(wanted)], "table long, bucket long"
    )
    cand_ids = (
        buckets.join(F.broadcast(wanted_df), ["table", "bucket"])
        .select(id_col)
        .distinct()
    )
    cand = df.join(cand_ids, id_col)
    return brute_force_topk(cand, qm, query_ids, k=k, id_col=id_col, vec_col=vec_col)


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample: int = 4096,
    iters: int = 12,
    seed: int = 7,
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> np.ndarray:
    """Spherical k-means coarse quantizer for IVF: Lloyd's iterations on a
    bounded DRIVER-side sample (deterministic `limit(sample)` — standard
    IVF practice: the quantizer trains on a sample, only ASSIGNMENT is
    data-scale and that stays distributed in :func:`ivf_cells`). Vectors
    and centroids are L2-normalized so nearest-centroid = max cosine.
    Empty clusters are reseeded to the farthest-from-its-centroid point,
    keeping exactly ``n_centroids`` live cells. Returns (n_centroids, d)
    float64 unit rows, fully determined by (data order, seed).

    ``refine_iters > 0`` follows the sample init with that many DISTRIBUTED
    Lloyd passes over the full corpus (:func:`kmeans_refine`) — removes the
    sample-bias asterisk when `limit(sample)` lands on a skewed slice of
    the data (e.g. a partition-ordered corpus whose head is one cluster)."""
    rows = df.select(vec_col).limit(int(sample)).collect()
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    if len(X) < n_centroids:
        raise ValueError(f"sample ({len(X)}) smaller than n_centroids ({n_centroids})")
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    rng = np.random.default_rng(seed)
    C = Xn[rng.choice(len(Xn), size=n_centroids, replace=False)]
    for _ in range(iters):
        sims = Xn @ C.T
        assign = np.argmax(sims, axis=1)
        best = sims[np.arange(len(Xn)), assign]
        # empty clusters reseed to DISTINCT worst-fit points (successive
        # ranks of the farthest-from-its-centroid ordering) — reseeding
        # them all to argmin(best) would duplicate centroids and leave the
        # duplicates permanently empty under lower-index argmax ties
        far_order = np.argsort(best)
        n_reseeded = 0
        for c in range(n_centroids):
            members = Xn[assign == c]
            if len(members) == 0:
                C[c] = Xn[int(far_order[n_reseeded % len(far_order)])]
                n_reseeded += 1
                continue
            m = members.sum(axis=0)
            n = np.linalg.norm(m)
            C[c] = m / n if n > 1e-30 else C[c]
    if refine_iters > 0:
        C = kmeans_refine(df, C, iters=refine_iters, vec_col=vec_col)
    return C


def kmeans_refine(
    df: DataFrame,
    centroids: np.ndarray,
    iters: int = 2,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Distributed Lloyd refinement of a spherical-k-means quantizer over the
    FULL corpus: each pass assigns every vector to its nearest (max-cosine)
    centroid inside a mapInArrow scan and emits ONE partial row per
    partition — the per-cell unit-vector sums (k·d doubles) plus counts —
    so the driver collects kilobytes regardless of corpus size, sums the
    partials, and renormalizes. Per-batch assignment is one matmul+argmax
    and the per-cell sums use a sort + segmented ``reduceat`` (no per-row
    Python, no ``np.add.at`` scatter). Cells that receive no data keep
    their previous centroid (sample-init already guarantees k live cells).

    This is the standard IVF trick at 100 TB: quantizer TRAINING on a
    bounded sample, then O(iters) full-data passes whose shuffle payload is
    k·d·8 bytes per partition — the corpus itself never shuffles."""
    C = np.asarray(centroids, dtype=np.float64).copy()
    k, d = C.shape
    for _ in range(int(iters)):
        Cb = C

        def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            sums = np.zeros((k, d), dtype=np.float64)
            cnt = np.zeros(k, dtype=np.int64)
            for batch in batches:
                m = _batch_matrix(batch.column(0))
                if m.shape[0] == 0:
                    continue
                m64 = m.astype(np.float64)
                mn = m64 / np.maximum(np.linalg.norm(m64, axis=1, keepdims=True), 1e-30)
                assign = np.argmax(mn @ Cb.T, axis=1)
                order = np.argsort(assign, kind="stable")
                sa = assign[order]
                starts = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
                sums[sa[starts]] += np.add.reduceat(mn[order], starts, axis=0)
                cnt += np.bincount(assign, minlength=k)
            if cnt.sum() == 0:
                return
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([sums.ravel().tolist()], pa.list_(pa.float64())),
                    pa.array([cnt.tolist()], pa.list_(pa.int64())),
                ],
                names=["sums", "counts"],
            )

        rows = (
            df.select(vec_col)
            .mapInArrow(partials, "sums array<double>, counts array<long>")
            .collect()
        )
        tot_sums = np.zeros((k, d), dtype=np.float64)
        tot_cnt = np.zeros(k, dtype=np.int64)
        for r in rows:
            tot_sums += np.asarray(r["sums"], dtype=np.float64).reshape(k, d)
            tot_cnt += np.asarray(r["counts"], dtype=np.int64)
        norms = np.linalg.norm(tot_sums, axis=1)
        live = (tot_cnt > 0) & (norms > 1e-30)
        C = C.copy()
        C[live] = tot_sums[live] / norms[live, None]
    return C


def ivf_cells(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest (max-cosine) centroid cell — one
    (n, d) @ (d, k) matmul + argmax per Arrow batch, no per-row Python.
    The quantizer is broadcast in the UDF closure (kilobytes)."""
    C = np.asarray(centroids, dtype=np.float64)

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col))
            m = _batch_matrix(batch.column(batch.schema.get_field_index(vec_col)))
            if m.shape[0] == 0:
                continue
            m64 = m.astype(np.float64)
            mn = m64 / np.maximum(np.linalg.norm(m64, axis=1, keepdims=True), 1e-30)
            cell = np.argmax(mn @ C.T, axis=1).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(cell, pa.int64())], names=[id_col, "cell"]
            )

    return df.select(id_col, vec_col).mapInArrow(assign, f"{id_col} long, cell long")


def ivf_topk(
    df: DataFrame,
    centroids: np.ndarray,
    queries: np.ndarray,
    query_ids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: the second scale path the training-pipeline
    brief names alongside the LSH-bucketed :func:`ann_topk`. Candidates =
    rows whose cell is among any query's ``nprobe`` nearest centroids —
    a broadcast semi-join on one int key (the wanted-cell list is at most
    q·nprobe rows), then exact cosine top-k over candidates only. At
    100 TB the full corpus is touched once by the (matmul + argmax)
    assignment scan; the expensive exact scoring runs on ~nprobe/k_cells
    of the data. Cells can also be precomputed once with
    :func:`ivf_cells` and reused across query batches."""
    C = np.asarray(centroids, dtype=np.float64)
    qm = np.asarray(queries, dtype=np.float64)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-30)
    probe = min(nprobe, C.shape[0])
    qcells = np.argpartition(-(qn @ C.T), probe - 1, axis=1)[:, :probe]
    wanted = sorted({int(c) for row in qcells for c in row})
    spark = df.sparkSession
    wanted_df = spark.createDataFrame([(c,) for c in wanted], "cell long")
    cand_ids = (
        ivf_cells(df, C, id_col=id_col, vec_col=vec_col)
        .join(F.broadcast(wanted_df), "cell")
        .select(id_col)
    )
    cand = df.join(cand_ids, id_col)
    return brute_force_topk(cand, qm, query_ids, k=k, id_col=id_col, vec_col=vec_col)


def cs_projection_matrix(d_in: int, d_out: int, ns: int = 1, seed: int = 137) -> np.ndarray:
    """Dense (d_in, ns·d_out) CountSketch matrix: block j holds one ±1
    entry per input dimension at column bucket_j(i) (cs_compress applied
    to a dense vector, rnla.h:35-54 — identical bucket/sign derivation to
    the `csvec` sketch, so compressed-domain results match it exactly).
    Scaled by 1/sqrt(ns): concatenating ns independent blocks then taking
    the plain dot product averages the per-block unbiased estimates, so
    E[<Cx, Cy>] = <x, y> with variance shrunk by ns."""
    from sketch_spark.sketches.rnla import CSVector

    t = CSVector(d_out=d_out, ns=ns, seed=seed)
    s = np.zeros((d_in, ns * d_out), dtype=np.float32)
    idx = np.arange(d_in, dtype=np.uint64)
    rows = np.arange(d_in)
    for j in range(ns):
        bucket, sign = t._bucket_sign(idx, j)
        s[rows, j * d_out + bucket] = sign / np.sqrt(ns)
    return s


def compress_embeddings(
    df: DataFrame,
    d_out: int = 16,
    ns: int = 1,
    seed: int = 137,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """CountSketch-compress an embedding column from d to ns·d_out dims
    (one BLAS matmul per Arrow batch; no per-row Python). Dot products —
    hence cosines after renormalization — are preserved in expectation
    with variance ~(‖x‖²‖y‖² + <x,y>²)/(ns·d_out), so every downstream
    operator (brute_force_topk, ann_topk, lsh bucketing) runs unchanged
    on the compressed column with d/(ns·d_out)× less scan+shuffle width —
    the 100 TB knob: compress once, then every similarity pass is cheaper.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        s = None
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col))
            m = _batch_matrix(batch.column(batch.schema.get_field_index(vec_col)))
            if m.shape[0] == 0:
                continue
            if s is None:
                s = cs_projection_matrix(m.shape[1], d_out, ns, seed)
            comp = m.astype(np.float32) @ s
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(list(comp), type=pa.list_(pa.float32()))],
                names=[id_col, vec_col],
            )

    return df.mapInArrow(run, f"{id_col} long, {vec_col} array<float>")


def tensor_moments_by_key(
    df: DataFrame,
    key: str,
    d: int,
    vec_col: str = "embedding",
    d_out: int = 4096,
    degree: int = 2,
    ns: int = 4,
    seed: int = 101,
    name: str = "ts",
) -> DataFrame:
    """Per-key tensor-moment sketches: one ``tensorsketch`` state per key
    value, accumulating ``ts(Σᵢ xᵢ^⊗degree)`` over that key's embedding
    rows (Pham & Pagh FFT tensor sketch — the reference's rnla.h:26-31
    TODO, working in sketches/rnla.py).

    This is ``sketch_by_key`` with one ``tensorsketch`` spec: map-side
    per-key partials from the keyed ``TaskFeed``, which hands the kind
    each key's rows as one (n, d) matrix per batch (one BLAS matmul + FFT
    set, no per-row Python), then ONE shuffle of kilobyte states merged by
    linearity. The result answers polynomial-kernel Gram energies between
    any two keys (``ts_a.dot(ts_b) ≈ Σᵢⱼ⟨xᵢ,yⱼ⟩^degree``) without ever
    materializing a pairwise join — the 100 TB shape for cross-corpus
    second-moment comparison."""
    params = {"d": d, "d_out": d_out, "degree": degree, "ns": ns, "seed": seed}
    return sketch_by_key(df, key, [SketchSpec(name, "tensorsketch", vec_col, params)])
