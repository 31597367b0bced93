"""Streaming CDC upsert sink — SURVEY.md §2.2 row "CDC-specific",
streaming half: maintain a per-key LATEST table from the event stream via
``foreachBatch`` merge, the `MERGE INTO` pattern every CDC-to-lakehouse
pipeline runs (`cdc_upsert_latest` is the batch view of the same table).

Per micro-batch: reduce the batch to its latest row per key (max (ts,
event_id)), then merge with the running target — keep whichever side is
newer per key. The merge recomputes the target (overwrite), which is the
parquet-only stand-in for a Delta/Iceberg MERGE INTO; the driver-side logic
is identical, only the sink's commit protocol changes. Exactly-once comes
from the checkpoint + idempotent overwrite (SURVEY.md §4.1 delivery row).

Scale notes: batch-local reduction happens BEFORE the merge join, so merge
input is distinct keys per interval, not raw events. The target re-join is
one shuffle per batch on the key; a real table format replaces the full
overwrite with file-level merge-on-read.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import register
from .source import _ckpt_dir, read_events_stream


def merge_latest(target: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """One upsert step: reduce the batch to latest-per-key, merge with the
    running target keeping the newer side per key. IDEMPOTENT under batch
    replay — re-merging an already-applied batch is a no-op (newest-wins
    is associative/commutative/idempotent), which is what makes
    checkpoint-replayed ``foreachBatch`` exactly-once on this sink
    (`tests/test_semantics.py::test_upsert_merge_replay_idempotent`)."""
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = (
        batch_df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    if target is None:
        return latest
    return (
        target.unionByName(latest)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "stream_upsert",
    oracle="""
    SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
    FROM (
      SELECT user_id, event_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the per-user latest-state table across micro-batches; the
    final table equals the batch ``cdc_upsert_latest`` (same oracle), which
    is exactly the CDC guarantee: stream-merged state == batch recompute."""
    # 2 files/trigger: cost-only (pinned by tests/test_trigger_phasing.py)
    src = read_events_stream(spark, sf_dir, files_per_trigger=4).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    target = tempfile.mkdtemp(prefix="upsert_target_")
    state = {"df": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # Materialize the new target version, then swap (parquet stand-in
        # for MERGE INTO; localCheckpoint breaks the ever-growing lineage a
        # real table format would never accumulate).
        state["df"] = merge_latest(state["df"], batch_df).localCheckpoint(eager=True)

    ckpt = _ckpt_dir()
    try:
        q = (
            src.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # The result is the target parquet, not the checkpoint.
        shutil.rmtree(ckpt, ignore_errors=True)
    out = state["df"]
    out.write.mode("overwrite").parquet(target)  # prove the sink path too
    return spark.read.parquet(target).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    ).select("user_id", "event_id", "event_type", "value", "ts")


def merge_scd2(target: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """One SCD2 merge step: recompute the versioned intervals ONLY for the
    users present in the batch; everyone else's intervals pass through
    untouched. Target rows for affected users are converted back to change
    rows (valid_from is the original change ts), unioned with the batch,
    de-duplicated by event_id (idempotent under checkpoint-replayed
    batches), and re-windowed. Per batch the window shuffle carries only
    affected users' history — work tracks batch impact, not table size —
    and the affected-keys semi/anti joins broadcast the (small) batch key
    set against the running table."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)

    def to_intervals(changes: DataFrame) -> DataFrame:
        return changes.select(
            "user_id",
            "event_id",
            "value",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )

    batch = batch_df.select("user_id", "event_id", "value", "ts")
    if target is None:
        return to_intervals(batch.dropDuplicates(["event_id"]))
    affected = batch.select("user_id").distinct()
    untouched = target.join(F.broadcast(affected), "user_id", "left_anti")
    replay = target.join(F.broadcast(affected), "user_id", "left_semi").select(
        "user_id", "event_id", "value", F.col("valid_from").alias("ts")
    )
    recomputed = to_intervals(
        replay.unionByName(batch).dropDuplicates(["event_id"])
    )
    return untouched.unionByName(recomputed)


@register(
    "stream_scd2",
    oracle="""
    SELECT user_id, event_id, value,
           CAST(ts AS TIMESTAMP) AS valid_from,
           CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS TIMESTAMP) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM events
    WHERE event_type = 'signup' OR event_type = 'purchase'
    """,
)
def stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming type-2 SCD: maintain the versioned-interval table across
    micro-batches via foreachBatch merge — the streaming twin of
    ``cdc_scd2`` (same oracle), closing the CDC guarantee for historical
    tables: stream-merged intervals == batch recompute. A late change row
    for a user splices into that user's history correctly because the
    merge replays the affected user's full change set, not just the tail."""
    # 2 files/trigger: cost-only (pinned by tests/test_trigger_phasing.py)
    src = read_events_stream(spark, sf_dir, files_per_trigger=4).filter(
        F.col("event_type").isin("signup", "purchase")
    )
    target = tempfile.mkdtemp(prefix="scd2_target_")
    state = {"df": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        state["df"] = merge_scd2(state["df"], batch_df).localCheckpoint(eager=True)

    ckpt = _ckpt_dir()
    try:
        q = (
            src.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # The result is the target parquet, not the checkpoint.
        shutil.rmtree(ckpt, ignore_errors=True)
    out = state["df"]
    if out is None:  # empty source: no batches delivered any rows
        out = spark.createDataFrame(
            [],
            "user_id bigint, event_id bigint, value double, "
            "valid_from timestamp, valid_to timestamp, is_current boolean",
        )
    out.write.mode("overwrite").parquet(target)
    return (
        spark.read.parquet(target)
        .withColumn("valid_from", F.col("valid_from").cast("timestamp_ntz"))
        .withColumn("valid_to", F.col("valid_to").cast("timestamp_ntz"))
        .select("user_id", "event_id", "value", "valid_from", "valid_to", "is_current")
    )
