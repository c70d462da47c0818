"""SQL-facing sketch functions: query serialized sketch states from
`spark.sql(...)` the way the reference's Python bindings query sketch
objects (python/hll.cpp:3-69).

    from sketch_spark.functions import register_sql_functions
    register_sql_functions(spark)
    states.createOrReplaceTempView("states")
    spark.sql("SELECT source, sketch_estimate(state) FROM states")
    spark.sql("SELECT sketch_quantile(state, 0.5) FROM states")
    spark.sql("SELECT sketch_jaccard(a.state, b.state) FROM ...")

All functions are Arrow-batched pandas UDFs (one Python invocation per
batch of states, never per row) and operate on the self-describing binary
state column of `sketch_by_key` / `rollup_states` / checkpoint tables —
any sketch kind, parameters ride with the state. `partition_states` rows
may hold an id→count partial: fold them with `tree_merge_states` first.
UDF objects are built lazily (pandas_udf needs an active session).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession

from sketch_spark.sketches.base import from_bytes

_UDFS: dict | None = None


def _summary(sk) -> float:
    if hasattr(sk, "estimate"):
        return float(sk.estimate())
    if hasattr(sk, "cardinality_estimate"):
        return float(sk.cardinality_estimate())
    if hasattr(sk, "distinct_estimate"):
        return float(sk.distinct_estimate())
    if hasattr(sk, "total_mass"):  # ws: Σ weights
        return float(sk.total_mass())
    if hasattr(sk, "l2"):  # csvec: vector norm (wzcs defines but forbids it)
        try:
            return float(sk.l2())
        except ValueError:
            return float("nan")
    if hasattr(sk, "total"):
        return float(sk.total())
    return float("nan")


def _build() -> dict:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def sketch_estimate(states: pd.Series) -> pd.Series:
        return pd.Series([_summary(from_bytes(bytes(b))) for b in states])

    @pandas_udf("double")
    def sketch_quantile(states: pd.Series, q: pd.Series) -> pd.Series:
        return pd.Series(
            [
                float(np.atleast_1d(from_bytes(bytes(b)).quantile(float(qq)))[0])
                for b, qq in zip(states, q)
            ]
        )

    @pandas_udf("binary")
    def sketch_merge_pair(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            sk = from_bytes(bytes(x))
            sk.merge(from_bytes(bytes(y)))
            out.append(sk.to_bytes())
        return pd.Series(out)

    @pandas_udf("double")
    def sketch_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                float(from_bytes(bytes(x)).jaccard_index(from_bytes(bytes(y))))
                for x, y in zip(a, b)
            ]
        )

    @pandas_udf("double")
    def sketch_union_size(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                float(from_bytes(bytes(x)).union_size(from_bytes(bytes(y))))
                for x, y in zip(a, b)
            ]
        )

    @pandas_udf("string")
    def sketch_kind(states: pd.Series) -> pd.Series:
        return pd.Series([from_bytes(bytes(b)).kind for b in states])

    return {
        "sketch_estimate": sketch_estimate,
        "sketch_quantile": sketch_quantile,
        "sketch_merge_pair": sketch_merge_pair,
        "sketch_jaccard": sketch_jaccard,
        "sketch_union_size": sketch_union_size,
        "sketch_kind": sketch_kind,
    }


def sketch_functions() -> dict:
    """{name: Column-function} — lazily built, cached."""
    global _UDFS
    if _UDFS is None:
        _UDFS = _build()
    return _UDFS


def register_sql_functions(spark: SparkSession) -> None:
    """Make the sketch functions callable from spark.sql by name."""
    for name, udf in sketch_functions().items():
        spark.udf.register(name, udf)
