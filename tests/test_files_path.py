"""Parquet-direct build path: byte parity with the DataFrame path for
exact-state sketches, estimate parity for quantile sketches, row_filter
pushdown hook."""

import os

import pytest
from pyspark.sql import functions as F

from sketch_spark.sketches.base import make_sketch
from sketch_spark.spark.agg import SketchSpec, build_sketches
from sketch_spark.spark.files import build_sketches_from_parquet, list_parquet_files

SPECS = [
    SketchSpec("h", "hll", "tokens", {"p": 12}),
    SketchSpec("c", "cms", "tokens", {"l2sz": 14, "nh": 4}),
    SketchSpec("b", "bloom", "tokens", {"l2sz": 20, "nh": 3}),
    SketchSpec("m", "minhash", "tokens", {"k": 512}),
]


def test_byte_parity_with_dataframe_path(spark, fixtures):
    d, _ = fixtures
    path = os.path.join(d, "uniform")
    via_files = build_sketches_from_parquet(spark, path, SPECS)
    via_df = build_sketches(spark.read.parquet(path), SPECS)
    for name in ("h", "c", "b", "m"):
        assert via_files[name].to_bytes() == via_df[name].to_bytes()


def test_quantile_sketch_estimate_parity(spark, fixtures):
    """KLL state is batch-boundary dependent (compaction points), so the two
    paths agree on estimates, not bytes."""
    d, _ = fixtures
    path = os.path.join(d, "uniform")
    spec = [SketchSpec("k", "kll", "n_tok", {"k": 200})]
    kf = build_sketches_from_parquet(spark, path, spec)["k"]
    kd = build_sketches(spark.read.parquet(path), spec)["k"]
    assert kf.n == kd.n
    for q in (0.1, 0.5, 0.9):
        # both within 3ε rank error of each other's value
        assert abs(kf.rank(kd.quantile(q)) - q) <= 3 * kf.epsilon()


def test_row_filter_hook(spark, fixtures):
    """The pushdown hook: filter source=='web' per file must equal the
    DataFrame path with the same predicate."""
    import pyarrow.compute as pc

    d, answers = fixtures
    path = os.path.join(d, "uniform")

    spec = [SketchSpec("h", "hll", "tokens", {"p": 12})]

    def only_web(table):
        return table.filter(pc.equal(table.column("source"), "web"))

    via_files = build_sketches_from_parquet(
        spark, path, spec, row_filter=only_web, extra_columns=("source",)
    )["h"]
    via_df = build_sketches(
        spark.read.parquet(path).where(F.col("source") == "web"), spec
    )["h"]
    assert via_files.to_bytes() == via_df.to_bytes()


def test_list_parquet_files(fixtures):
    d, _ = fixtures
    path = os.path.join(d, "uniform")
    files = list_parquet_files(path)
    assert len(files) == 16 and all(f.endswith(".parquet") for f in files)
    assert list_parquet_files(files) == files


def test_empty_dir_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no parquet files"):
        build_sketches_from_parquet(spark, str(tmp_path), SPECS)


def test_row_group_splitting_single_big_file(spark, tmp_path):
    """One big parquet file with many row groups must fan out into multiple
    scan units (fewer files than cores is the single-file-table shape) and
    still produce byte-identical states to a whole-file read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketch_spark.spark.files import _plan_units, build_sketches_from_parquet

    path = str(tmp_path / "big.parquet")
    vals = np.arange(200_000, dtype=np.int64)
    pq.write_table(pa.table({"v": vals}), path, row_group_size=25_000)
    assert pq.ParquetFile(path).metadata.num_row_groups == 8
    units = _plan_units([path], target=8)
    assert len(units) == 8 and all(u[1] is not None for u in units)
    got = build_sketches_from_parquet(
        spark, [path], [SketchSpec("h", "hll", "v", {"p": 12})]
    )["h"]
    single = make_sketch("hll", p=12).update(vals)
    assert got.to_bytes() == single.to_bytes()
    exact = len(vals)
    assert abs(got.estimate() - exact) <= 3 * got.relative_error() * exact


def test_read_unit_equals_read_table(tmp_path):
    """A whole-file unit and row-group-range units covering the file read
    the same columns as pq.read_table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketch_spark.spark.files import _read_unit

    path = str(tmp_path / "rg.parquet")
    rng = np.random.default_rng(11)
    lens = rng.integers(0, 40, 5_000)
    pq.write_table(
        pa.table(
            {
                "tokens": pa.array([rng.integers(0, 10**6, n).tolist() for n in lens]),
                "n_tok": lens,
                "source": rng.choice(["a", "b", "c"], len(lens)),
            }
        ),
        path,
        row_group_size=700,
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 8
    cols = ["n_tok", "tokens"]
    want = pq.read_table(path, columns=cols)
    assert _read_unit((path, None, None), cols).equals(want)
    parts = [_read_unit((path, lo, hi), cols) for lo, hi in ((0, 1), (1, 5), (5, 8))]
    assert pa.concat_tables(parts).equals(want)


def test_plan_units_whole_files_when_many(tmp_path):
    from sketch_spark.spark.files import _plan_units

    fs = [f"/x/{i}.parquet" for i in range(64)]
    units = _plan_units(fs, target=32)
    assert units == [(f, None, None) for f in fs]


def test_list_parquet_files_accepts_single_file(fixtures):
    """Driver tables are single parquet FILES, not directories — a bare
    file path must work everywhere a directory does."""
    d, _ = fixtures
    path = os.path.join(d, "uniform")
    one = list_parquet_files(path)[0]
    assert list_parquet_files(one) == [one]


def test_grouped_parquet_direct_matches_dataframe_path(spark, fixtures):
    """sketch_by_key_from_parquet == sketch_by_key: byte parity per key for
    partitioning-invariant kinds, estimate parity for KLL; key column
    keeps its native type."""
    from sketch_spark.sketches.base import from_bytes
    from sketch_spark.spark.agg import sketch_by_key
    from sketch_spark.spark.files import sketch_by_key_from_parquet

    d, _ = fixtures
    path = os.path.join(d, "uniform")
    specs = [
        SketchSpec("h", "hll", "tokens", {"p": 12}),
        SketchSpec("k", "kll", "n_tok", {"k": 200}),
    ]
    via_df = {
        (r["source"], r["name"]): bytes(r["state"])
        for r in sketch_by_key(spark.read.parquet(path), "source", specs).collect()
    }
    out = sketch_by_key_from_parquet(spark, path, "source", specs)
    assert dict(out.dtypes)["source"] == "string"
    via_files = {(r["source"], r["name"]): bytes(r["state"]) for r in out.collect()}
    assert set(via_df) == set(via_files)
    for key, blob in via_files.items():
        if key[1] == "h":
            assert blob == via_df[key]
        else:  # kll: batch-boundary dependent → estimate parity
            a, b = from_bytes(blob), from_bytes(via_df[key])
            assert a.n == b.n
            assert abs(float(a.quantile(0.5)) - float(b.quantile(0.5))) <= 6


def test_grouped_parquet_direct_weighted(spark, fixtures):
    """weight_col rides through the parquet-direct grouped path: per-key CMS
    totals equal the exact per-key weighted sums."""
    from sketch_spark.sketches.base import from_bytes
    from sketch_spark.spark.files import sketch_by_key_from_parquet

    d, _ = fixtures
    path = os.path.join(d, "uniform")
    out = sketch_by_key_from_parquet(
        spark, path, "source",
        [SketchSpec("c", "cms", "doc_id", {"l2sz": 14, "nh": 4})],
        weight_col="n_tok",
    ).collect()
    exact = {
        r["source"]: r["s"]
        for r in spark.read.parquet(path).groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
    }
    got = {r["source"]: from_bytes(bytes(r["state"])).total() for r in out}
    assert got == pytest.approx(exact)


def test_grouped_parquet_direct_timestamp_key_parity(spark, tmp_path):
    """Timestamp group keys through the Arrow-native phase-1 handoff: parquet
    stores them naive (timestamp[us]) while Spark's mapInArrow output dialect
    wants the session timezone attached — the task's schema cast must yield
    the SAME key instants (and byte-equal states) as the DataFrame path."""
    import datetime

    from sketch_spark.spark.agg import sketch_by_key
    from sketch_spark.spark.files import sketch_by_key_from_parquet

    base = datetime.datetime(2026, 3, 1)
    rows = [
        (base + datetime.timedelta(hours=i % 5), 1000 + i) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, uid bigint")
    path = str(tmp_path / "ts_tbl")
    df.repartition(3).write.parquet(path)

    specs = [SketchSpec("h", "hll", "uid", {"p": 10})]
    via_df = {r["ts"]: bytes(r["state"]) for r in sketch_by_key(
        spark.read.parquet(path), "ts", specs).collect()}
    out = sketch_by_key_from_parquet(spark, path, "ts", specs)
    assert dict(out.dtypes)["ts"] == "timestamp"
    via_files = {r["ts"]: bytes(r["state"]) for r in out.collect()}
    assert via_files == via_df
    assert len(via_files) == 5


def test_grouped_parquet_direct_int_key_and_bad_key(spark, fixtures):
    """Numeric group keys keep their native type; unsupported arrow key
    types fail fast driver-side."""
    from sketch_spark.spark.files import sketch_by_key_from_parquet

    d, _ = fixtures
    path = os.path.join(d, "uniform")
    out = sketch_by_key_from_parquet(
        spark, path, "n_tok", [SketchSpec("h", "hll", "doc_id", {"p": 10})]
    )
    assert dict(out.dtypes)["n_tok"] in ("int", "bigint")
    assert out.count() > 0
    with pytest.raises(ValueError, match="unsupported group-key arrow type"):
        sketch_by_key_from_parquet(
            spark, path, "tokens", [SketchSpec("h", "hll", "doc_id", {"p": 10})]
        )
