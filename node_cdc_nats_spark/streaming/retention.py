"""Continuous cohort-retention monitor — the streaming twin of
``retention_cohorts`` (operators/analytics.py): the weekly cohort ×
week-offset active-user table maintained incrementally as the event stream
drains, decision-ready at any trigger.

Why this one is PURE built-in streaming (no custom state fn): both
per-user signals are MONOTONE streaming aggregates Spark's state store
implements natively — the cohort anchor is ``MIN(ts)`` (only ever
decreases) and the activity record is ``collect_set(week(ts))`` (only ever
grows). So the whole incremental layer is one update-mode
``groupBy(user_id).agg(min, collect_set)``; the sink accumulates per-user
emissions and the registered query folds them into per-(user, week) rows
for the batch operator's own report tail (``retention_report``), so the
oracle is the batch operator's verbatim (same ``RETENTION_ORACLE``).

Monotonicity is also why equivalence has no watermark caveat: a user's
final emission carries their true global MIN(ts) and their full week set
regardless of replay disorder or trigger phasing, so MIN/union over the
update-mode emissions equals the batch answer over all data under ANY
arrival order (pinned in tests/test_streaming_twins_timelines.py, which
also pins this twin against the batch operator's own output).

Scale: state is one timestamp + one set of distinct week-starts per user —
bounded by the calendar (a 5-year-active user holds ~260 entries), never
by event volume; each trigger's update is a partial+final MIN/set-union
keyed on user_id, the same single corpus-sized exchange as the batch
plan's window, applied only to the trigger's increment. A production
monitor reads the same cohort table every trigger instead of at the end.

Reference: the reference client (lib/nats.js) delivers events and leaves
analysis to the consumer; this is engine-added capability in the event
analytics family (SURVEY §2.2), sharing ``retention_cohorts``' exact
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.analytics import RETENTION_ORACLE, retention_report
from ..registry import register
from .source import read_events_stream, run_to_memory


@register("stream_retention_cohorts", oracle=RETENTION_ORACLE)
def stream_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``retention_cohorts`` (module docstring): update-
    mode per-user (min first-event, distinct-week set) from native
    streaming MIN + collect_set, folded into the cohort table by the batch
    operator's own report tail; both signals are monotone, so the result is
    independent of arrival order and trigger phasing."""
    src = read_events_stream(spark, sf_dir, files_per_trigger=4)
    per_user_updates = src.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.collect_set(F.date_trunc("week", F.col("ts"))).alias("wks"),
    )
    sink = run_to_memory(per_user_updates, "update")
    # A user re-emits whenever a trigger touches them; first_ts only
    # decreases and wks only grows, so MIN / exploded-union over the
    # emissions equals the batch window over all data.
    return retention_report(
        sink.select("user_id", "first_ts", F.explode("wks").alias("wk"))
        .groupBy("user_id", "wk")
        .agg(F.min("first_ts").alias("first_ts"))
    )
