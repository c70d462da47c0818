from sketch_spark.spark.agg import (  # noqa: F401
    SketchSpec,
    build_sketches,
    estimate_udf,
    partition_states,
    quantile_udf,
    rollup_states,
    sketch_by_key,
    tree_merge_states,
)
from sketch_spark.spark.session import get_spark  # noqa: F401
from sketch_spark.spark.files import build_sketches_from_parquet, list_parquet_files, sketch_by_key_from_parquet  # noqa: F401
from sketch_spark.spark.filterhll import threshold_distinct, threshold_distinct_sketch  # noqa: F401
