"""Keyed stateful streaming sketches via ``applyInPandasWithState``.

Where `streaming.build` accumulates whole-stream sketches through
foreachBatch state files, this module keeps a *per-key running sketch* in
Spark's own streaming state store — the idiomatic Structured Streaming
custom-stateful-operator shape. Each micro-batch updates the keyed state
(the serialized sketch rides in the state store, parameters and all) and
emits the key's refreshed estimate, giving a continuously-updating
approximate GROUP BY:

    key , estimate , n_rows_absorbed      (one row per touched key per batch)

This is the distributed, keyed generalization of the reference's
streaming-mode HLL (`shllbase_t`, hll.h:1175-1269: estimate maintained
while inserting). State-store persistence + checkpointing give exactly-once
across restarts.

A key's micro-batch goes back to Arrow and through a one-spec
:class:`~sketch_spark.spark.agg.TaskFeed`, the batch builds' task body, so
nulls, strings, token lists and vector kinds are read the same way as
there. The feed resumes the sketch restored from the state store and
updates it in place, as further ``update`` calls would; merging a fresh
sketch per trigger into it is not the same for every kind (ws numbers an
item's occurrences from its prior count). One limit comes from the
pandas hand-over: ``applyInPandasWithState`` hands a nullable int64 column
over as float64, so ids above 2^53 lose precision on this path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sketch_spark.sketches.base import Sketch, from_bytes
from sketch_spark.spark.agg import SketchSpec, TaskFeed, expand_partials


def _absorb(spec: SketchSpec, pdfs, state: GroupState) -> tuple[Sketch, int]:
    """Feed one key's micro-batch through a one-spec TaskFeed that resumes
    the key's stored sketch (a fresh one on its first trigger) and expand
    its partial: the state store holds whole sketches. Returns the sketch
    and the key's running row count."""
    feed = TaskFeed([spec])
    n_rows = 0
    if state.exists:
        blob, n_rows = state.get
        feed.resume((), spec.name, from_bytes(bytes(blob)))
    for pdf in pdfs:
        n_rows += len(pdf)
        feed.feed(pa.Table.from_pandas(pdf[[spec.col]], preserve_index=False))
    return expand_partials(feed.partial())[((), spec.name)], int(n_rows)


def _estimate(sk: Sketch) -> float:
    if hasattr(sk, "estimate"):
        return float(sk.estimate())
    if hasattr(sk, "cardinality_estimate"):
        return float(sk.cardinality_estimate())
    if hasattr(sk, "quantile"):
        return float(np.atleast_1d(sk.quantile(0.5))[0])
    return float("nan")


def stateful_sketch_by_key(
    stream: DataFrame, key: str, spec: SketchSpec
) -> DataFrame:
    """Transform a streaming DataFrame into per-key running sketch rows.

    Returns a streaming DataFrame (key string, state binary, estimate
    double, n_rows long) in update mode — wire it to any sink. The state
    column is a full serialized sketch, so downstream consumers can merge
    or query it with the normal library functions.
    """

    def update(key_tuple, pdfs, state: GroupState):
        sk, n_rows = _absorb(spec, pdfs, state)
        blob = sk.to_bytes()
        state.update((bytearray(blob), n_rows))
        yield pd.DataFrame(
            {
                "key": [str(key_tuple[0])],
                "state": [blob],
                "estimate": [_estimate(sk)],
                "n_rows": [n_rows],
            }
        )

    grouped = stream.select(F.col(key).cast("string").alias("__key"), spec.col).groupBy("__key")
    return grouped.applyInPandasWithState(
        update,
        outputStructType="key string, state binary, estimate double, n_rows long",
        stateStructType="state binary, n_rows long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
