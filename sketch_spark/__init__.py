"""sketch_spark — a PySpark-native distributed sketch / approximate-aggregation library.

Brand-new implementation (NOT a port) with the query capabilities of the
reference C++ library kodingkoning/sketch (a fork of dnbaker/sketch with
MPI-distributed sketch building): mergeable HyperLogLog, Bloom filter,
Count-Min sketch, Count sketch, bottom-k MinHash (KMV), KLL quantile sketch
and t-digest, expressed as vectorized NumPy kernels driven through Spark's
Arrow exchange (``mapInArrow`` / ``applyInPandas``) with tree-structured
distributed merges.

Design contract (see SURVEY.md):
  * every sketch is a commutative-monoid accumulator: ``update`` (NumPy batch),
    ``merge`` (associative + commutative), ``estimate``/query, ``to_bytes``/
    ``from_bytes`` round-trip;
  * parameters + seeds ride with the serialized state and are checked on merge;
  * all per-row work happens in NumPy over Arrow batches — no per-row Python.
"""

from sketch_spark import mem as _mem

# Pick the huge-page policy for this process (driver or Spark worker) before
# any kernel allocates: keeps NumPy's MADV_HUGEPAGE (~21% warm-kernel TLB
# win) unless first-touch probes in the THP direct-compaction regime, where
# it would tax every fresh buffer ~40x. See sketch_spark/mem.py.
_mem.tune()

from sketch_spark.spark.session import freeze_worker_heap, skip_unchanged_zip_rereads

# PySpark's worker calls importlib.invalidate_caches() before every task,
# which re-reads pyspark.zip and Spark's core jar: 0.1-0.3 s per task. Re-read
# a zip import index only when the archive changed. See spark/session.py.
skip_unchanged_zip_rereads()

from sketch_spark.sketches import (  # noqa: F401
    BBitMinHash,
    BloomFilter,
    BottomKMinHash,
    CountingBloomStack,
    CountingBottomKMinHash,
    CountMinSketch,
    CountSketch,
    CountSketch4W,
    CSVector,
    DDSketch,
    DivBBitMinHash,
    DoubleHLL,
    HeavyKeeper,
    HyperLogFilter,
    HyperLogLog,
    HyperMinHash,
    ICWS,
    KLL,
    KMinHash,
    MisraGries,
    PackedHLL,
    PMinHash,
    ProbabilisticCountingBloom,
    SampledMultiplicity,
    SuperMinHash,
    TDigest,
    TensorSketch,
    VACSketch,
    WeightedSketcher,
    WZVector,
    from_bytes,
    make_sketch,
)
from sketch_spark.spark import (  # noqa: F401
    SketchSpec,
    build_sketches,
    build_sketches_from_parquet,
    estimate_udf,
    get_spark,
    partition_states,
    quantile_udf,
    rollup_states,
    sketch_by_key,
    sketch_by_key_from_parquet,
    tree_merge_states,
)

__version__ = "0.1.0"

# Spark's worker daemon runs a full gc.collect() after every task in a reused
# worker, which walks this import heap: 32-70 ms per task. Freeze it once, in
# forked workers only. See spark/session.py.
freeze_worker_heap()
