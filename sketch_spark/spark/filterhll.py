"""Threshold-distinct: count distinct values that occur at least t times.

The distributed restatement of the reference's FilterHLL composition
(filterhll.h:11-113 — insert into an HLL only when the counting filter says
the item's count reached a threshold). The reference gates on a counting
Bloom filter over a single stream; a per-partition gate is only correct if
every copy of a value is gated by one task, so the plan is:

    mapInArrow per input partition:  [np.unique per Arrow batch →
        (value, partial_count) PAIRS — per-batch memory, no shuffle]
    → repartition(value)             [shuffle the PAIRS, never raw rows]
    → mapInArrow per partition:      [weighted CMS absorbs (value, count);
        batch uniques whose accumulated CMS count ≥ t go into an HLL]
    → agg.fold_states of HLL states  [tiny; one collect]

Skew story (the round-2 verdict's one remaining perf-weak item): shuffling
raw rows on the gated column sends a zipfian-hot value's ENTIRE row set to
one task — a straggler at 100×. Shuffling partial-count pairs instead caps
the hot value's shuffle contribution at ONE ROW PER MAP BATCH regardless of
its frequency: a value owning 50% of a 100 TB corpus still arrives at its
reduce task as a few thousand (value, count) pairs. Map-side state is one
np.unique per Arrow batch (bounded by batch size); reduce-side state is
fixed (one CMS + one HLL) — the point of the composition versus an exact
GROUP BY ... HAVING, whose per-key state grows with the number of distinct
keys. CMS overestimation can only add items (est ≥ true count), matching
the reference's one-sided error; size the CMS width so ε·N stays below 1
for exactness at test scale.

Values travel in their extracted-id domain (strings already hashed to
uint64 by the standard column extractor, reinterpreted as int64 for the
shuffle column) — both the CMS and the HLL consume exactly the same ids
the raw-row path fed them, so estimates are distributionally unchanged.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from sketch_spark.sketches.base import make_sketch
from sketch_spark.sketches.hll import HyperLogLog
from sketch_spark.spark.agg import _as_sketch, _extract_column, fold_states


def partial_value_counts(df: DataFrame, col: str) -> DataFrame:
    """Map-side combine: (v:bigint, c:bigint) partial counts, one row per
    distinct value per Arrow batch. No shuffle; constant memory per task."""

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            vals = _extract_column(batch, col, want_float=False)
            if len(vals) == 0:
                continue
            uniq, cnt = np.unique(vals, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(uniq.astype(np.int64), pa.int64()),
                    pa.array(cnt.astype(np.int64), pa.int64()),
                ],
                names=["v", "c"],
            )

    return df.select(col).mapInArrow(partials, "v bigint, c bigint")


def threshold_distinct_sketch(
    df: DataFrame,
    col: str,
    threshold: int,
    p: int = 14,
    l2sz: int = 18,
    nh: int = 4,
    seed: int = 137,
) -> HyperLogLog:
    """HLL of the distinct values occurring ≥ threshold times in ``df[col]``."""
    t = int(threshold)

    def gate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cms = make_sketch("cms", l2sz=l2sz, nh=nh, seed=seed)
        hll = make_sketch("hll", p=p)
        for batch in batches:
            vals = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            cnts = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(vals) == 0:
                continue
            cms.update(vals, counts=cnts)
            uniq = np.unique(vals)
            passed = uniq[cms.query(uniq) >= t]
            # a value's LAST pair necessarily sees its full CMS count, so
            # every qualifying value is inserted by the batch where it
            # crosses t (earlier re-inserts are idempotent in the HLL)
            if len(passed):
                hll.update(passed)
        yield pa.RecordBatch.from_arrays([pa.array([hll.to_bytes()], pa.binary())], names=["state"])

    pairs = partial_value_counts(df, col)
    states = pairs.repartition("v").mapInArrow(gate, "state binary")
    folded = fold_states((0, r["state"]) for r in states.collect())
    return _as_sketch(folded[0]) if folded else make_sketch("hll", p=p)


def threshold_distinct(df: DataFrame, col: str, threshold: int, **kwargs) -> float:
    """Scalar estimate of |{v : count(v) ≥ threshold}|."""
    return threshold_distinct_sketch(df, col, threshold, **kwargs).estimate()
