"""User-facing engine API: table registry + SQL surface.

The reference has no SQL layer (SURVEY §2.7); here the engine exposes
the full Spark SQL dialect over registered TimeBox tables — Catalyst
does analysis/optimization, so pushdown/pruning/join planning come for
free on every SQL query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from timebox_spark.plans import tables as tbl
from timebox_spark.session import ensure_runtime_confs
from timebox_spark.table import TimeBoxTable


class TimeBoxEngine:
    """Facade: load and register tables, run SQL."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = ensure_runtime_confs(spark)
        if sf_dir:
            self.register_testdata(sf_dir)

    def register_testdata(self, sf_dir: str) -> None:
        for name in tbl.TABLES:
            self.register(name, tbl.load(self.spark, sf_dir, name))

    def register(self, name: str, df: DataFrame | TimeBoxTable) -> None:
        frame = df.df if isinstance(df, TimeBoxTable) else df
        frame.createOrReplaceTempView(name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def load_timebox(self, path: str) -> TimeBoxTable:
        return TimeBoxTable.load(self.spark, path)

