"""Testdata table loaders.

Two cross-engine hazards are normalized here so every query (and the
DuckDB oracle the driver runs beside it) sees identical values:

* ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS), which the
  Spark reader rejects. We read raw nanos (spark.sql.legacy.parquet.
  nanosAsLong) and rebuild a timestamp with integer division (``DIV`` —
  a double divide would lose precision at ~1.7e18 ns).
* The other tables carry TIMESTAMP(MILLIS) without UTC adjustment, which
  Spark may surface as TIMESTAMP_NTZ depending on
  spark.sql.parquet.inferTimestampNTZ.enabled. We pin the session zone to
  UTC and cast any NTZ column to TimestampType, so epoch math and
  date_format agree with DuckDB's naive reading regardless of the
  driver-supplied session's configuration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TESTDATA_TABLES
from .session import NANOS_CONF, local_resources


def _normalize(df: DataFrame) -> DataFrame:
    casts = {
        f.name: F.col(f.name).cast("timestamp")
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    }
    return df.withColumns(casts) if casts else df


def table_path(sf_dir: str, name: str) -> str:
    """The parquet file `load_table` reads for table `name`."""
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Memoized per session: DataFrames are immutable logical plans, and
    # re-reading costs a file listing + footer/schema pass per call —
    # pure overhead when a query suite reads the same tables repeatedly.
    cache = getattr(spark, "_ksa_table_cache", None)
    if cache is None:
        cache = {}
        spark._ksa_table_cache = cache
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    df = _load_table_uncached(spark, sf_dir, name)
    cache[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # A driver-supplied vanilla session ships Spark's 200-partition default;
    # on local[N] that's pure overhead (AQE can coalesce batch stages but is
    # disabled for stateful streaming). Pin to the thread count get_spark
    # would give local[n].
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        n, _ = local_resources()
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    path = table_path(sf_dir, name)
    if name == "events":
        spark.conf.set(NANOS_CONF, "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        return _normalize(df)
    return _normalize(spark.read.parquet(path))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
