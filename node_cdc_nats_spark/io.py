"""Parquet loaders for the driver fixture tables.

The only non-trivial case is ``events``: depending on the fixture
generation, its ``ts`` column arrives either as a parquet timestamp
(TIMESTAMP(MICROS) → Spark TIMESTAMP/TIMESTAMP_NTZ) or as nanos-as-int64
(TIMESTAMP(NANOS) read under ``spark.sql.legacy.parquet.nanosAsLong``,
which Spark's vectorized reader otherwise rejects). We branch on the
*loaded* dtype — never on an assumption about the physical type — and
normalize to TIMESTAMP_NTZ either way:

- timestamp-typed ``ts``: pass through with a cast to TIMESTAMP_NTZ;
- bigint ``ts``: rebuild via pure integer arithmetic — integer ``div``
  (not float division, which rounds differently from the DuckDB oracle's
  nanosecond truncation) and an epoch-anchored ``timestampadd`` so the
  result is session-timezone-independent.

At cluster scale these loaders stay plan-level (no driver materialization):
the normalization is a codegen'd projection on top of the parquet scan, so
pushdown/pruning still apply to every other column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from .session import size_shuffle_partitions, tune_session

# Nanosecond→microsecond truncation then anchor at the NTZ epoch: matches
# DuckDB's CAST(TIMESTAMP_NS AS TIMESTAMP) truncation semantics exactly.
_EVENTS_TS_NANOS_EXPR = (
    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP_NTZ whatever dtype the fixture loaded as."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, TimestampNTZType):
        return df
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.expr(_EVENTS_TS_NANOS_EXPR))
    # TimestampType (or anything else castable): take the instant as-is.
    return df.withColumn("ts", F.col("ts").cast(TimestampNTZType()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes ``events.ts`` to TIMESTAMP_NTZ."""
    if name == "events":
        tune_session(spark)
        return _normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    size_shuffle_partitions(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]
