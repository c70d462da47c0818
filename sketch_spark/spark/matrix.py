"""Pairwise similarity matrices over grouped sketch states.

Parity with the reference's Python-binding matrix APIs
(`jaccard_matrix`, `intersection_matrix`, `containment_matrix`,
`union_size_matrix` — /root/reference/python/hll.cpp:37-44,
python/pysketch.h:23-60, OpenMP pairwise loops): given the per-group states
produced by ``sketch_by_key`` (one kilobyte-scale state per group), compute
all n·(n-1)/2 pairwise similarities.

Scale shape: the heavy part (building per-group sketches over the raw data)
is the distributed job; the matrix over the resulting states is tiny
(|groups|² pairs of ≤KB states) and runs driver-side in NumPy — same
division of labor as the reference, where the matrix functions take already-
built sketches.

Large-K route: above a few thousand groups the K²/2 pairs no longer belong
on the driver — use ``pairwise_df``, which broadcasts the states table
(K·≤KB — megabytes at K=10k) against a hash-spread copy of itself and
scores pairs in Arrow-batched pandas UDF calls with per-batch
deserialization caching, so each distinct state is decoded once per batch
rather than once per pair. ``pairwise_similarity`` refuses K above
``max_driver_keys`` and points here. The output is K·(K−1)/2 rows — keep
it a DataFrame (filter/top-k/sink) rather than collecting."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Row, functions as F
from pyspark.sql.functions import pandas_udf

from sketch_spark.sketches.base import from_bytes

_METRICS = ("jaccard", "containment", "union_size", "intersection_size")


def _score(metric: str, a, b) -> float:
    if metric == "jaccard":
        return float(a.jaccard_index(b))
    if metric == "containment":
        return float(a.containment_index(b))
    if metric == "union_size":
        return float(a.union_size(b))
    if metric == "intersection_size":
        return float(a.intersection_size(b))
    raise ValueError(f"unknown metric {metric!r}; have {_METRICS}")


def pairwise_similarity(
    states: DataFrame,
    key: str,
    metric: str = "jaccard",
    name: str | None = None,
    max_driver_keys: int = 4096,
) -> DataFrame:
    """All-pairs similarity from a (key, name, state) states DataFrame
    (driver-side loop over collected states — states are KBs; the data-heavy
    phase already happened in sketch_by_key). Guarded: K² pairs above
    ``max_driver_keys`` don't belong on the driver — use :func:`pairwise_df`
    (raises with that pointer)."""
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; have {_METRICS}")
    sdf = states if name is None else states.where(F.col("name") == name)
    n_keys = sdf.count()
    if n_keys > max_driver_keys:
        raise ValueError(
            f"{n_keys} groups -> {n_keys * (n_keys - 1) // 2} driver-side pairs; "
            f"above max_driver_keys={max_driver_keys}. Use pairwise_df() — the "
            "distributed large-K route — or raise max_driver_keys explicitly."
        )
    rows = sdf.select(key, "state").collect()
    sketches = {r[key]: from_bytes(bytes(r["state"])) for r in rows}
    spark = states.sparkSession
    out = [
        Row(key_a=ka, key_b=kb, value=_score(metric, sketches[ka], sketches[kb]))
        for ka, kb in combinations(sorted(sketches), 2)
    ]
    schema = f"key_a string, key_b string, value double"
    return spark.createDataFrame(out, schema) if out else spark.createDataFrame([], schema)


def pairwise_df(states: DataFrame, key: str, metric: str = "jaccard") -> DataFrame:
    """Distributed all-pairs — the documented large-K route.

    Plan shape (plan-audited in tests at 10k keys): the right copy of the
    states table is BROADCAST (K·≤KB — megabytes at K=10k, well under the
    10 MB default only for small states; Spark streams larger broadcasts
    fine to hundreds of MB) and nested-loop-joined under ``key_a < key_b``
    against a left copy hash-REPARTITIONED on the key, so the inherent
    O(K²) comparison work spreads across all cores/executors instead of
    riding the states table's (usually tiny) partitioning. No shuffle of
    anything but the K kilobyte states themselves; output is the
    K·(K−1)/2 pair rows.

    Scoring: Arrow-batched pandas UDF with a per-batch deserialization
    cache — each distinct state decodes once per batch (metric methods are
    non-mutating, same contract the driver loop relies on), so per-pair
    cost is the metric arithmetic, not decompress+parse."""
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; have {_METRICS}")

    @pandas_udf("double")
    def score(sa, sb):
        import pandas as pd

        cache: dict[bytes, object] = {}

        def get(b):
            bb = bytes(b)
            s = cache.get(bb)
            if s is None:
                s = cache[bb] = from_bytes(bb)
            return s

        return pd.Series([_score(metric, get(a), get(b)) for a, b in zip(sa, sb)])

    spark = states.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    l = states.select(F.col(key).alias("key_a"), F.col("state").alias("sa")).repartition(
        n_parts, "key_a"
    )
    r = states.select(F.col(key).alias("key_b"), F.col("state").alias("sb"))
    return (
        l.join(F.broadcast(r), F.col("key_a") < F.col("key_b"))
        .withColumn("value", score("sa", "sb"))
        .select("key_a", "key_b", "value")
    )
