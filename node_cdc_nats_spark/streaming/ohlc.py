"""Streaming OHLC downsample — the continuous twin of the batch
``downsample_ohlc`` (operators/cdc.py): per (event_type, hour) the
open/high/low/close of ``value`` plus count and exact sum, maintained as
a live windowed aggregate instead of a batch rescan.

Unlike the RPC/diff/as-of twins this one needs NO custom state function:
it is exactly the shape Structured Streaming's watermarked tumbling-window
aggregation exists for, so the whole operator stays declarative —
event-time window + ``min_by``/``max_by``/``min``/``max``/``count``/
DECIMAL ``sum`` — and runs inside the JVM's streaming hash aggregate with
watermark-evicted per-window state. A bucket emits exactly once, when the
watermark passes its end (every event that can land in it has then
provably arrived); buckets the final watermark never closes emit nothing,
and the oracle applies the same cutoff.

Determinism: open/close pick by the UNIQUE (ts, event_id) struct order
(``min_by``/``max_by`` over a total order have no tie to break — the batch
op's row_number trick, declaratively), DuckDB mirrors with
``FIRST(value ORDER BY ts, event_id)``, and the sum accumulates in
DECIMAL before one cast to double.

Scale: state is one row per OPEN (event_type, hour) bucket — bounded by
the watermark delay over the bucket width, never by stream length; the
one shuffle is the windowed-aggregate exchange every streaming rollup
pays. At 100 TB this is the canonical metrics-rollup pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from .source import read_events_stream, run_to_memory, sql_final_watermark

DELAY = "30 minutes"


@register(
    "stream_downsample_ohlc",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events)
    SELECT event_type, bucket,
           FIRST(value ORDER BY ts, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           FIRST(value ORDER BY ts DESC, event_id DESC) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS vsum
    FROM b
    GROUP BY event_type, bucket
    HAVING bucket + INTERVAL 1 HOUR <= {sql_final_watermark("INTERVAL 30 MINUTE")}
    """,
)
def stream_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``downsample_ohlc``: per (event_type, hour)
    OHLC/count/exact-sum, emitted once per bucket when the watermark
    closes it. Declarative end to end — watermarked tumbling window +
    ``min_by``/``max_by`` on the unique (ts, event_id) order — no Python
    in the path; the oracle is the batch rollup restricted to the buckets
    the final watermark closed."""
    src = read_events_stream(spark, sf_dir, files_per_trigger=4)
    key = F.struct("ts", "event_id")
    agg = (
        src.withWatermark("ts", DELAY)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("vsum"),
        )
    )
    return run_to_memory(agg, "append").select(
        "event_type",
        F.col("win.start").cast("timestamp_ntz").alias("bucket"),
        "open",
        "high",
        "low",
        "close",
        "n_events",
        "vsum",
    )
