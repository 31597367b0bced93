"""Streaming bounded subscription — the reference's inclusive ``max``
delivery (S5, `lib/nats.js:97-107`) as a stateful streaming operator: a
per-subscription counter that delivers the row on which the counter REACHES
max, then drops everything after, across micro-batches.

Plan: map-side literal-regex multicast of the event stream over the
driver-known subscription registry (the fan-out S4, ``dispatch_subs``),
then ``applyInPandasWithState`` keyed by subscription id holding one
integer of state — the streaming twin of the reference's ``sub.received``
counter. Delivery order is made deterministic (and therefore
oracle-expressible) as (micro-batch, event time, event id): batches are
replayed in staged order, and each invocation sorts its batch slice
before counting.

Scale: state is ONE long per subscription — the cheapest possible stateful
op; dispatch is a projection (no join), so the stream is never shuffled
before the counter (only the groupBy on sub_id, whose cardinality is the
registry size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.zipcache import gate_zip_rereads
from ..operators.cdc import (
    _CHANNEL_SQL, SUBSCRIPTIONS, _subs_sql_values, dispatch_subs, with_channel,
)
from ..registry import register
from .source import N_FILES, read_events_stream, run_to_memory

_STATE = StructType([StructField("delivered", LongType())])
_OUT = StructType(
    [
        StructField("sub_id", StringType()),
        StructField("event_id", LongType()),
        StructField("delivery_no", LongType()),
    ]
)


def _make_counter_fn():
    """Nested so cloudpickle ships it by value (no repo on executor path)."""

    def counter(key, pdfs, state):
        gate_zip_rereads()
        import pandas as pd

        delivered = state.get[0] if state.exists else 0
        frames = [pdf for pdf in pdfs if len(pdf)]
        out = []
        if frames:
            batch = pd.concat(frames)
            batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
            max_n = int(batch["max_n"].iloc[0])
            for eid in batch["event_id"]:
                if delivered >= max_n:
                    break  # past max: dropped (callback nulled, nats.js:103-106)
                delivered += 1
                out.append((key[0], int(eid), delivered))
        state.update((delivered,))
        if out:
            yield pd.DataFrame(out, columns=["sub_id", "event_id", "delivery_no"])

    return counter


@register(
    "stream_bounded_subscription",
    oracle=f"""
    WITH dispatched AS (
      SELECT s.sub_id, s.max_n, e.event_id, e.ts, e.b,
             ROW_NUMBER() OVER (PARTITION BY s.sub_id
                                ORDER BY e.b, e.ts, e.event_id) AS rn
      FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
                   CAST(FLOOR(event_id * {N_FILES}.0 /
                        (SELECT MAX(event_id) + 1 FROM events)) AS INT) AS b,
                   {_CHANNEL_SQL} AS channel
            FROM events) e
      JOIN {_subs_sql_values()}
        ON REGEXP_MATCHES(e.channel, s.pattern_re))
    SELECT sub_id, event_id, CAST(rn AS BIGINT) AS delivery_no
    FROM dispatched WHERE rn <= max_n
    """,
)
def stream_bounded_subscription(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive-max delivery over the live stream; the oracle replays the
    deterministic delivery order (batch, ts, event_id) with a window and
    keeps rn <= max — the same rows the stateful counter lets through."""
    src = read_events_stream(spark, sf_dir)
    # Map-side literal-regex multicast (dispatch_subs) with a literal
    # max_n lookup — no stream-static join at all; the stream reaches the
    # counter having only passed a projection.
    max_n = F.coalesce(
        *[F.when(F.col("sub_id") == sid, F.lit(mx)) for sid, _, mx in SUBSCRIPTIONS]
    )
    fanned = (
        dispatch_subs(with_channel(src).select("event_id", "ts", "channel"))
        .select("sub_id", "event_id", "ts", max_n.alias("max_n"))
    )
    counted = fanned.groupBy("sub_id").applyInPandasWithState(
        _make_counter_fn(),
        outputStructType=_OUT,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(counted, "append")
