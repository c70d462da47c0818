"""Structured Streaming sketch builds — continuous ingestion of the token
table with exactly-once sketch state accumulation.

Execution shape: ``readStream`` (file source here; Kafka/Delta in
production) → ``foreachBatch`` → per-micro-batch partial sketch states
(the same ``partition_states`` mapInArrow kernel as the batch path) written
to a batch-keyed state directory. Exactly-once: Structured Streaming may
replay a micro-batch after recovery, so each batch's states land in
``states/batch_id=N`` with mode=overwrite — replays overwrite identical
bytes (deterministic kernels) instead of double counting. The merged result
is therefore byte-identical to a batch build over the same files (tested).

This answers the streaming half of the reference's design space: the
reference's `shllbase_t` (hll.h:1175-1269) keeps a running estimate over an
unbounded stream in one process; here the stream is distributed and the
"running estimate" is ``current()`` — a fold over all checkpointed batch
states, callable while the stream runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sketch_spark.sketches.base import Sketch
from sketch_spark.spark.agg import (
    _PARTIAL,
    SketchSpec,
    _as_sketch,
    _preaggregates,
    fold_states,
    partition_states,
    tree_merge_states,
)


class StreamingSketchBuild:
    """Accumulate sketches over a file-source stream.

    >>> b = StreamingSketchBuild(spark, specs, work_dir)
    >>> q = b.start(input_dir, schema_source_dir=input_dir)
    >>> q.awaitTermination(); b.current()["hll"].estimate()
    """

    def __init__(self, spark: SparkSession, specs: list[SketchSpec], work_dir: str):
        self.spark = spark
        self.specs = specs
        self.work_dir = work_dir
        self.states_dir = os.path.join(work_dir, "states")
        self.ckpt_dir = os.path.join(work_dir, "ckpt")

    # -- sink -----------------------------------------------------------------
    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        states = partition_states(batch_df, self.specs)
        (
            states.write.mode("overwrite")
            .parquet(os.path.join(self.states_dir, f"batch_id={batch_id}"))
        )

    def start(
        self,
        input_dir: str,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
    ):
        """Start the stream over a parquet directory. ``available_now=True``
        processes the current backlog then stops (the test/batch-parity
        mode); with ``max_files_per_trigger`` it advances in bounded
        micro-batches."""
        reader = self.spark.readStream.schema(
            self.spark.read.parquet(input_dir).schema
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        stream = reader.parquet(input_dir)
        writer = (
            stream.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", self.ckpt_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- queries ---------------------------------------------------------------
    def current(self) -> dict[str, Sketch]:
        """Merged sketches over every micro-batch processed so far."""
        if not os.path.exists(self.states_dir):
            raise ValueError("no streaming states yet")
        return tree_merge_states(self.spark.read.parquet(self.states_dir))

    def current_decayed(self, name: str) -> Sketch:
        """Recency-weighted fold for a `realccm` (decayed CMS) spec: merge
        each micro-batch's partial states (plain float adds — order-free),
        then fold batches in batch_id order with ``accumulate`` (decay one
        epoch, add at weight 1). An item from k batches ago weighs gamma^k —
        the Spark-native restatement of the reference's per-item-decay
        realccm_t (mult.h:42-170), whose global-order dependence cannot be
        distributed. Sequentiality lives only in this driver-side fold of
        kilobyte states; each batch itself is built distributed."""
        if not os.path.exists(self.states_dir):
            raise ValueError("no streaming states yet")
        states = self.spark.read.option("basePath", self.states_dir).parquet(self.states_dir)
        rows = states.where(F.col("name") == name).select("batch_id", "state").collect()
        if not rows:
            raise ValueError(f"no states for spec {name!r}")
        per_batch = {bid: _as_sketch(st) for bid, st in fold_states(rows).items()}
        first = per_batch[min(per_batch)]
        acc = type(first)(**{**first._params(), "epoch": 0})
        for bid in sorted(per_batch):
            acc.accumulate(per_batch[bid])
        return acc

    def progress(self) -> DataFrame:
        """Per-batch lineage: rows/values/wall-ms absorbed by each micro-batch.
        (n_rows repeats per state in the state rows, so row totals come from
        the first spec's rows and its column's partial rows.)"""
        states = self.spark.read.option("basePath", self.states_dir).parquet(self.states_dir)
        first_name, col = self.specs[0].name, self.specs[0].col
        names = [first_name] + ([_PARTIAL + col] if _preaggregates(self.specs[0]) else [])
        return (
            states.where(F.col("name").isin(names))
            .groupBy("batch_id")
            .agg(
                F.sum("n_rows").alias("rows"),
                F.sum("n_values").alias(f"values_{first_name}"),
                F.max("wall_ms").alias("max_partition_wall_ms"),
            )
            .orderBy("batch_id")
        )


def stream_sketches(
    spark: SparkSession,
    input_dir: str,
    specs: list[SketchSpec],
    work_dir: str,
    max_files_per_trigger: int | None = None,
) -> dict[str, Sketch]:
    """One-shot convenience: stream the backlog, wait, return merged states."""
    b = StreamingSketchBuild(spark, specs, work_dir)
    q = b.start(input_dir, max_files_per_trigger=max_files_per_trigger)
    q.awaitTermination()
    return b.current()
