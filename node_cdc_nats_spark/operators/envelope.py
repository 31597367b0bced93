"""CDCMsg envelope codec + NATS connector roundtrip as oracle-checked
operators (SURVEY.md §2.1 rows S1/S2/S6).

``cdc_encode_decode`` proves the protobuf codec inside a DataFrame plan:
events → envelope struct → wire bytes (`to_protobuf` analog) → decoded
struct (`lib/nats.js:88-90` analog) → fields. The oracle is the direct
projection of the same fields — decode(encode(x)) == x, so any codec drift
breaks the hash.

``nats_roundtrip`` drives the full connector: a streaming write of CDCMsg
envelopes through ``format("nats_cdc")`` (spool transport standing in for
the broker — no NATS server exists in this container) and a streaming read
back through the same format, returning the decoded rows. The oracle is
again the direct projection: transport + codec must be lossless.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.cdcmsg import decode_col, encode_col
from ..io import load_table
from ..registry import register
from ..sources.nats import register_nats_source
from ..streaming.source import _ckpt_dir, read_events_stream

_RT_SEQ = itertools.count()

_ENVELOPE_ORACLE = """
    SELECT 'nms' AS publisher,
           CONCAT('cdc/', event_type, '/', CAST(user_id % 10 AS VARCHAR)) AS channel,
           'json' AS contentType,
           'http' AS protocol,
           '' AS reply,
           CAST(event_id % 3 AS INT) AS QOS,
           event_id % 2 = 0 AS retain,
           props AS payload
    FROM events
"""
# ^ payload compares as its UTF-8 string decode: raw binary cells come back
# from Spark as bytearray, which the driver's canonicalizer cannot sort/hash
# (same crash class as array_ops round 1). The wire payload is UTF-8 JSON by
# construction, so the decode is lossless and the codec proof is unchanged.


def _envelope_cols(df: DataFrame) -> DataFrame:
    """Construct the CDCMsg fields exactly as examples/cdc-pub.js:31-40
    does (publisher 'nms', contentType 'json', protocol 'http', empty
    reply), with the logical subject in `channel`."""
    return df.select(
        F.lit("nms").alias("publisher"),
        F.concat(
            F.lit("cdc/"), F.col("event_type"), F.lit("/"),
            (F.col("user_id") % 10).cast("string"),
        ).alias("channel"),
        F.lit("json").alias("contentType"),
        F.lit("http").alias("protocol"),
        F.lit("").alias("reply"),
        (F.col("event_id") % 3).cast("int").alias("QOS"),
        (F.col("event_id") % 2 == 0).alias("retain"),
        F.col("props").cast("binary").alias("payload"),
    )


@register("cdc_encode_decode", oracle=_ENVELOPE_ORACLE)
def cdc_encode_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = _envelope_cols(load_table(spark, sf_dir, "events"))
    wire = env.select(
        encode_col(
            F.struct(
                "publisher", "channel", "contentType", "protocol", "reply",
                "QOS", "retain", "payload",
            )
        ).alias("wire")
    )
    return (
        wire.select(decode_col(F.col("wire")).alias("m"))
        .select("m.*")
        .withColumn("payload", F.col("payload").cast("string"))
    )


@register("nats_roundtrip", oracle=_ENVELOPE_ORACLE)
def nats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_nats_source(spark)
    spool = tempfile.mkdtemp(prefix="nats_spool_")
    # Publish in ONE micro-batch (no maxFilesPerTrigger): the roundtrip op
    # proves transport+codec losslessness, not incremental batching — the
    # reader's multi-segment offset path is covered separately by the
    # durable-offset resume test (tests/test_nats_connector.py). 5 batches
    # of Python-datasource writer startup cost ~7s of pure overhead here.
    # The spool is a SEGMENT store (length-prefixed frames, one file per
    # writer partition per batch — the JetStream file-store shape;
    # sources/nats.py), so this publish writes 4 files in total rather
    # than a create+write+rename per message; reader offsets are
    # (segment, byte-offset).
    env_stream = _envelope_cols(read_events_stream(spark, sf_dir, single_batch=True))
    ckpt = _ckpt_dir()
    # Subscriber-first overlap: a LIVE continuous subscription (the broker
    # shape — the reference's subscription at lib/nats.js:62-64 exists
    # before publishers speak) is started before the publish query, so the
    # subscribe side's fixed streaming-query startup (~1.2-2 s of Python
    # datasource runner + query init — the dominant cost now that segments
    # killed the per-message IO) runs CONCURRENTLY with the publish. The
    # drain is complete exactly when the sink holds every published row:
    # expected = the fixture row count (parquet metadata, no scan). With
    # publish and subscribe overlapping, writer tasks can rename segments
    # out of lexicographic order; the reader's offsets encode the DRAINED
    # SET (frontier gated below pending writer intents + an exception
    # list), not a bare max-name cursor, so a late lower-named segment is
    # still planned exactly once (sources/nats.py) and
    # count==expected ⇒ exactly-once.
    expected = load_table(spark, sf_dir, "events").count()
    sub = (
        spark.readStream.format("nats_cdc")
        .option("spool", spool)
        .option("partitions", "4")
        .load()
    )
    name = f"nats_rt_{next(_RT_SEQ)}"
    sub_ckpt = _ckpt_dir()
    sub_q = (
        sub.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", sub_ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    pub = None
    try:
        pub = (
            env_stream.writeStream.format("nats_cdc")
            .option("spool", spool)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        pub.awaitTermination()
        deadline = time.monotonic() + 300
        # Drain detection: a count() on the memory sink is a full
        # LocalTableScan job, so it is gated on PROGRESS: re-count only
        # after the subscriber completes another micro-batch (lastProgress
        # advances — reading it is a driver-local getter, no job). The
        # loop costs one count per completed batch, not one per poll.
        seen_batch = -1
        while spark.table(name).count() < expected:
            if not sub_q.isActive:
                # Surface the subscriber's own failure instead of letting
                # the deadline mask it as a TimeoutError.
                exc = sub_q.exception()
                if exc is not None:
                    raise exc
                raise RuntimeError(
                    "nats_roundtrip: subscriber terminated below "
                    f"{expected} rows with no exception"
                )
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"nats_roundtrip: sink stuck below {expected} rows"
                )
            while time.monotonic() <= deadline and sub_q.isActive:
                p = sub_q.lastProgress
                bid = p["batchId"] if p else -1
                if bid != seen_batch:
                    seen_batch = bid
                    break
                time.sleep(0.02)  # idle subscriber: poll, do not spin
    finally:
        sub_q.stop()
        if pub is not None:
            pub.stop()
        # The result reads the memory sink, so the spool and both
        # checkpoints are dead once the queries have stopped.
        for d in (spool, ckpt, sub_ckpt):
            shutil.rmtree(d, ignore_errors=True)
    return spark.table(name).withColumn(
        "payload", F.col("payload").cast("string")
    )
