"""``plans.tables.load`` pins each table's schema from its parquet
footer: the pinned schema must be exactly the one Spark would infer,
a load must launch no Spark job, and a table rewritten in place must
be read with its new schema."""

from __future__ import annotations

import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE, _group_job_ids
from timebox_spark.plans import tables

# ns values around the epoch: sub-µs remainders on both signs, and NULL
NANOS = [-1_500, -1, 1_999, 1_000_000_123_456_789, None]


def _ts_table(ts_type) -> pa.Table:
    ns = pa.array(NANOS, pa.int64()).cast(pa.timestamp("ns"))
    return pa.table({"id": pa.array(range(len(NANOS)), pa.int64()), "ts": ns.cast(ts_type)})


@pytest.fixture(scope="module")
def footer_files(spark, tmp_path_factory):
    """One table per footer shape ``load`` must pin; name -> path."""
    d = tmp_path_factory.mktemp("footers")
    paths = {f"testdata_{t}": f"{SF_SMOKE}/{t}.parquet" for t in tables.TABLES}

    def write(name, table, **kw):
        paths[name] = str(d / f"{name}.parquet")
        pq.write_table(table, paths[name], **kw)

    write("ts_ns", _ts_table(pa.timestamp("ns")))
    write("ts_ns_utc", _ts_table(pa.timestamp("ns", tz="UTC")))
    write("ts_int96", _ts_table(pa.timestamp("ns")), use_deprecated_int96_timestamps=True)
    write("list_float", pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "vec": pa.array([[1.5, None], None, []], pa.list_(pa.float32())),
    }))
    paths["spark_dir"] = str(d / "spark_dir.parquet")
    spark.range(6, numPartitions=3).selectExpr(
        "id", "cast(id as int) AS i", "timestamp_micros(id) AS t",
        "array(cast(id AS float)) AS a", "cast(id AS string) AS s",
    ).write.parquet(paths["spark_dir"])
    return paths


SHAPES = [f"testdata_{t}" for t in tables.TABLES] + [
    "ts_ns", "ts_ns_utc", "ts_int96", "list_float", "spark_dir",
]


@pytest.mark.parametrize("shape", SHAPES)
def test_pinned_schema_equals_spark_inference(spark, footer_files, shape):
    path = footer_files[shape]
    schema, _ = tables.pinned_schema(path)
    assert schema == spark.read.parquet(path).schema


def test_load_reads_nanos_as_truncated_micros(spark, footer_files):
    """The ns column loads as µs timestamps, divided toward zero —
    DuckDB's own reading of the same file, value for value."""
    import duckdb

    path = footer_files["ts_ns"]
    df = tables.load(spark, path.rsplit("/", 1)[0], "ts_ns")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in df.orderBy("id").selectExpr("unix_micros(ts)").collect()]
    want = [r[0] for r in duckdb.sql(
        f"SELECT epoch_us(ts) FROM read_parquet('{path}') ORDER BY id").fetchall()]
    assert got == want == [-1, 0, 1, 1_000_000_123_456, None]


def test_load_launches_no_spark_job(spark, footer_files):
    group = f"tables-load-{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        for t in tables.TABLES:
            tables.load(spark, SF_SMOKE, t)
        for shape in ("ts_ns", "spark_dir"):
            path = footer_files[shape]
            tables.load(spark, path.rsplit("/", 1)[0], shape)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _group_job_ids(spark, group) == []


def test_load_sees_a_table_rewritten_in_place(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert tables.load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({
        "a": pa.array(["x", "y"]),
        "b": pa.array(np.array([0.5, 1.5])),
    }), path)
    df = tables.load(spark, str(tmp_path), "t")
    assert df.schema == tables.pinned_schema(path)[0] == spark.read.parquet(path).schema
    assert [tuple(r) for r in df.orderBy("a").collect()] == [("x", 0.5), ("y", 1.5)]
