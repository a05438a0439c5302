"""Loaders for the driver testdata tables (TESTDATA.md).

Parquet is self-describing: its footer pins every column's type, so
the loader reads the footer with pyarrow and hands Spark the schema
(``spark.read.schema(...)``) instead of letting Spark infer it again
with a job per load. The pinned schema is Spark's own inference rule
for that footer: every field nullable, INT64 TIMESTAMP(NANOS) as a
long (``spark.sql.legacy.parquet.nanosAsLong``, set in the session
factory), INT96 and µs/ms timestamps as TIMESTAMP. It is metadata the
file carries, not a cached result: it is keyed on the file's identity
(path, mtime, size), so a table rewritten in place is read afresh.

The ns columns Spark surfaces as longs are divided to µs (``div``,
toward zero) — exactly what DuckDB does when it surfaces the column
as a µs TIMESTAMP, so engine and oracle agree bit-for-bit.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import ArrayType, DataType, LongType
from pyspark.sql.types import StructField, StructType, TimestampType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _spark_type(at: pa.DataType) -> DataType:
    """The type Spark infers for one footer column; list elements are
    nullable, as Spark makes them. The footer is read with INT96
    coerced to µs, so only a true INT64 TIMESTAMP(NANOS) column still
    reports ns here."""
    if pa.types.is_timestamp(at):
        return LongType() if at.unit == "ns" else TimestampType()
    if pa.types.is_list(at):
        return ArrayType(_spark_type(at.value_type), True)
    return from_arrow_type(at)


def _data_file(path: str) -> str:
    """``path`` itself, or for a Spark-written directory its first data
    file by name (``_SUCCESS``, ``.crc`` and other hidden names skipped)."""
    if not os.path.isdir(path):
        return path
    return os.path.join(
        path, min(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    )


@lru_cache(maxsize=256)
def _footer(file: str, mtime_ns: int, size: int) -> tuple[StructType, tuple[str, ...]]:
    """(pinned schema, ns-timestamp columns) of one parquet file."""
    arrow = pq.ParquetFile(file, coerce_int96_timestamp_unit="us").schema_arrow
    nanos = tuple(
        f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    fields = [StructField(f.name, _spark_type(f.type), True) for f in arrow]
    return StructType(fields), nanos


def pinned_schema(path: str) -> tuple[StructType, tuple[str, ...]]:
    """(schema ``load`` pins, its ns-timestamp columns) for a table path."""
    file = _data_file(path)
    st = os.stat(file)
    return _footer(file, st.st_mtime_ns, st.st_size)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from timebox_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema, nanos = pinned_schema(path)
    df = spark.read.schema(schema).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df
