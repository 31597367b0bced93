"""Deterministic streaming source over the ``events`` fixture.

The fixture is one parquet file; a single-file stream would collapse to one
micro-batch and exercise none of the watermark/state machinery. So we stage
it into N files (a per-process temp dir, cached per (sf_dir, order)) and
read them back with ``maxFilesPerTrigger=1`` → N deterministic
micro-batches.

Two staging orders:
- ``time``: files partition the event-time axis in order — the
  well-behaved stream (late data only within the watermark slack).
- ``scatter``: file i holds ``event_id % N == i``, so every file spans the
  whole time range — after batch 0 the watermark is near the global max and
  most of batches 1..N-1 arrives LATE (the drop-semantics fixture).

Batch assignment is a pure function of ``event_id`` either way, so a SQL
oracle can reconstruct exactly which rows a given micro-batch contained and
what the watermark was when it ran (max event time of prior batches minus
the delay) — streaming results stay hash-checkable against DuckDB.

Scale notes: this staging exists only to make a bounded fixture behave like
a stream. A production deployment points ``readStream`` at the real source
(file arrivals, Kafka, or the NATS DataSource in ``sources/``); everything
downstream of the source is identical. The watermark state store, not the
source, is what carries the 100 TB design load: state per key/window is
evicted the moment the watermark passes, so state size tracks the
out-of-orderness bound, never the stream length.

Reference: the single NATS transport subscription at ``lib/nats.js:62-64``
is the S1 ingest this replaces; ``processMsg``'s push loop becomes Spark's
micro-batch pull.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..cache import staged
from ..io import load_table
from ..session import tune_session

N_FILES = 4
_MEM_SEQ = itertools.count()


def _stage(
    sf_dir: str, prefix: str, load: Callable[[], DataFrame], id_col: str, scatter: bool = False
) -> str:
    """Write the frame ``load()`` returns as N_FILES parquet files, once per
    process per ``(prefix, sf_dir)``, and return the directory. File i
    holds the rows whose ``id_col`` quartile is i (``scatter``: whose
    ``id_col % N_FILES`` is i); its mtime is pinned in file order, because
    FileStreamSource orders by modification time."""

    def write(stage: str) -> None:
        # The write's own output goes to a subdirectory that is removed
        # once its files are placed, so the stage holds only the N_FILES.
        scratch = os.path.join(stage, "_write")
        df = load()
        max_id = df.agg(F.max(id_col)).first()[0]
        if max_id is None:
            # Empty table: a fresh topic, not an error. Stage N_FILES
            # schema-bearing empty parquet files so every downstream
            # streaming op replays its micro-batches empty (the zero-row-
            # batch path a live deployment hits on day one) instead of
            # dying on arithmetic against a missing max.
            df.limit(0).coalesce(1).write.mode("overwrite").parquet(scratch)
            srcs = [_parquet_in(scratch)] * N_FILES
            place = shutil.copyfile
        else:
            if scatter:
                batch_of = F.col(id_col) % N_FILES
            else:
                batch_of = (F.col(id_col) * N_FILES / (max_id + 1)).cast("int")
            # ONE pass: partitionBy writes every batch file in a single job
            # (the partition column lives in the directory name, not the
            # file), instead of N filtered re-scans of the fixture.
            # repartition on the batch column puts each batch in exactly
            # one task → exactly one file per batch dir.
            (
                df.withColumn("__b", batch_of)
                .repartition("__b")
                .write.mode("overwrite")
                .partitionBy("__b")
                .parquet(scratch)
            )
            srcs = []
            for i in range(N_FILES):
                bdir = os.path.join(scratch, f"__b={i}")
                # partitionBy writes no directory for an empty partition
                # value; a sparse/non-contiguous id could legally produce
                # one. The oracles reconstruct batch contents from the
                # batch function, so a silently missing micro-batch must
                # be loud, not skipped.
                if not os.path.isdir(bdir):
                    raise ValueError(
                        f"{prefix} bucket {i}/{N_FILES} is empty for {sf_dir!r}: "
                        f"the {id_col} distribution left no rows in __b={i}; "
                        f"the fixture cannot drive {N_FILES} micro-batches"
                    )
                srcs.append(_parquet_in(bdir))
            place = os.rename
        for i, src in enumerate(srcs):
            dst = os.path.join(stage, f"{i:04d}.parquet")
            place(src, dst)
            os.utime(dst, (1_000_000 + i * 10, 1_000_000 + i * 10))
        shutil.rmtree(scratch)

    return staged(sf_dir, prefix, write)


def _parquet_in(directory: str) -> str:
    return os.path.join(
        directory, next(f for f in os.listdir(directory) if f.endswith(".parquet"))
    )


def stage_events(spark: SparkSession, sf_dir: str, order: str = "time") -> str:
    """Write the events fixture as N_FILES parquet files (mtime-ordered) and
    return the directory. ``ts`` is cast to TIMESTAMP (session tz is pinned
    UTC) because watermarks reject TIMESTAMP_NTZ."""
    return _stage(
        sf_dir,
        f"events_stream_{order}_",
        lambda: load_table(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ),
        "event_id",
        order == "scatter",
    )


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    order: str = "time",
    single_batch: bool = False,
    files_per_trigger: int = 1,
) -> DataFrame:
    """The events fixture as a streaming DataFrame, one staged file per
    micro-batch by default (``single_batch=True`` ingests all files in one
    trigger — for ops that need a streaming source but not batch-by-batch
    semantics).

    ``files_per_trigger`` trades trigger count against per-trigger volume:
    every micro-batch pays a fixed machinery cost (offset/commit WAL,
    state-store open+snapshot per partition, an Arrow round-trip per state
    group — measured ~0.66 s/trigger for the RPC op's 2-partition bounded
    runs, profiled in streaming/rpc.py), so a stateful op whose
    semantics need SOME cross-batch carry but not one-file-per-batch
    granularity halves its fixed cost with ``files_per_trigger=2``. A
    production trigger interval is exactly this dial: sized to throughput,
    not to the source's file layout."""
    # Pin the event-time confs on EVERY read, not just on a staging cache
    # miss: load_table(events) inside stage_events re-pins UTC, but a cache
    # hit skips it, so a session whose timeZone drifted between reads would
    # render the staged instants at a different wall clock than the NTZ
    # oracle (a timeZone perturbation sweep on stream_retention_cohorts
    # caught this — the other twins don't do event-time
    # calendar arithmetic, but the contract is engine-wide: session.py
    # pins UTC so event-time semantics are deployment-independent).
    tune_session(spark)
    stage = stage_events(spark, sf_dir, order)
    schema = spark.read.parquet(stage).schema
    reader = spark.readStream.schema(schema)
    if not single_batch:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    return reader.parquet(stage)


def stage_documents(spark: SparkSession, sf_dir: str) -> str:
    """The ``documents`` fixture as N_FILES parquet files in doc_id-quartile
    order (mtime-pinned) — the ingest-batch stand-in for
    ``stream_dedup_incremental``: each staged file is one arriving corpus
    shipment. Batch assignment is monotone in doc_id, so \"first shipment
    wins\" composes with an intra-batch keep-first-by-doc_id into the
    global keep-first the SQL oracle states."""
    return _stage(
        sf_dir, "docs_stream_", lambda: load_table(spark, sf_dir, "documents"), "doc_id"
    )


def read_documents_stream(
    spark: SparkSession, sf_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """The documents fixture as a stream of staged corpus shipments.
    ``files_per_trigger`` groups shipments per ingest round — the same
    cost-only dial as :func:`read_events_stream` (keep-first semantics are
    monotone in doc_id across AND within rounds, so the admitted set is
    round-grouping-independent)."""
    stage = stage_documents(spark, sf_dir)
    schema = spark.read.parquet(stage).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(stage)
    )


# Confs a bounded fixture run sets for its query and restores afterwards.
# Streaming state partition count is locked into the checkpoint at the
# first batch and every batch pays per-partition state-store open/commit
# I/O — so it is sized for the stream's key volume, NOT inherited from the
# batch engine's CPU-count default (32 stores × N batches of micro-batch
# overhead dominates at fixture scale; on a production stream size it to
# peak keys-per-trigger instead). The checkpoint is throwaway, so retaining
# one batch of state/offset history skips the multi-version snapshot I/O
# the default (100) pays per commit; restoring it keeps a caller's durable
# streaming queries' full recovery history.
_BOUNDED_CONFS = {
    "spark.sql.shuffle.partitions": "2",
    "spark.sql.streaming.minBatchesToRetain": "1",
}


def _ckpt_dir() -> str:
    """Throwaway checkpoint root for bounded fixture runs: tmpfs when
    available — every micro-batch commits offset/commit logs + state
    snapshots with fsync, pure fixed overhead for a checkpoint that is
    discarded at query end. A durable deployment points
    checkpointLocation at real storage instead; nothing else changes."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix="ckpt_", dir=base)


def drain(
    stream_df: DataFrame, sink: Callable[[DataStreamWriter], DataStreamWriter]
) -> StreamingQuery:
    """Run ``stream_df`` to completion into the sink that ``sink`` sets on
    its writer, and return the terminated query. Trigger.AvailableNow
    reads every staged file, then runs one no-data batch so the final
    watermark advance flushes closeable state. The query runs under
    ``_BOUNDED_CONFS`` on a throwaway checkpoint, which is removed once the
    query has terminated: the result lives in the sink."""
    spark = stream_df.sparkSession
    saved = {k: spark.conf.get(k) for k in _BOUNDED_CONFS}
    ckpt = _ckpt_dir()
    try:
        for k, v in _BOUNDED_CONFS.items():
            spark.conf.set(k, v)
        query = (
            sink(stream_df.writeStream)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        shutil.rmtree(ckpt, ignore_errors=True)
    return query


def run_to_memory(
    stream_df: DataFrame, mode: str = "append", with_query: bool = False
):
    """:func:`drain` ``stream_df`` into a memory sink; return the sink table
    (or ``(table, query)`` with ``with_query=True`` — the terminated
    query still exposes ``lastProgress``, e.g. the final event-time
    watermark, which is how streaming ops derive post-run horizons
    without re-scanning the source)."""
    name = f"stream_sink_{os.getpid()}_{next(_MEM_SEQ)}"
    query = drain(stream_df, lambda w: w.format("memory").queryName(name).outputMode(mode))
    table = stream_df.sparkSession.table(name)
    return (table, query) if with_query else table


def final_watermark(query) -> "datetime.datetime":
    """The event-time watermark after a bounded run drains: read from the
    query's last progress — the streaming-native signal a production
    pipeline consumes — never by re-scanning the source (a 'max event
    time of the whole table' does not exist on an unbounded stream)."""
    import datetime

    wm = (query.lastProgress or {}).get("eventTime", {}).get("watermark")
    if wm is None:
        raise ValueError(f"query {query.name!r} reported no event-time watermark")
    return datetime.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")


# Shared oracle fragments ------------------------------------------------------
# Final watermark after the whole stream drains: global max event time minus
# the delay. Append-mode emission keeps exactly the windows/sessions whose
# END <= this value (Spark evicts state when watermark >= end).
def sql_final_watermark(delay_sql: str) -> str:
    return f"(SELECT MAX(CAST(ts AS TIMESTAMP)) - {delay_sql} FROM events)"
