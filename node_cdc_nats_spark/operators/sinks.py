"""Named scan/sink operators — SURVEY.md §2.2 rows "Scans/sources" and
"Sinks" (S1/S6 batch analogs; the NATS pair lives in operators/envelope.py
as ``nats_roundtrip``).

Each sink op proves its write path by round-tripping: write the result,
read it back, return the re-read DataFrame — the oracle is the query
itself, so a lossy or non-deterministic sink breaks the hash.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..cache import scratch_dir, staged
from ..io import load_table
from ..registry import register
from ..streaming.source import read_events_stream, run_to_memory

_EVENTS_SQL = """
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value, props
    FROM events
"""


@register(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected + filtered parquet scan. Catalyst pushes both into the
    scan: .explain shows PushedFilters [GreaterThanOrEqual(l_quantity,45)]
    and a 3-column ReadSchema — at 100 TB this is the difference between
    reading 3 columns of matching row groups and reading the table."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_partkey", "l_quantity").filter(
        F.col("l_quantity") >= 45
    )


@register("scan_stream", oracle=_EVENTS_SQL)
def scan_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan (S1): the staged micro-batch source read end-to-end
    through a streaming query — the unbounded twin of scan_parquet.
    Stateless passthrough, so the result is batching-independent:
    ``single_batch=True`` drains the staged files in one trigger instead
    of four (each trigger pays ~0.3 s of offset/commit machinery for
    identical output; the per-file ops keep their granularity because
    their oracles pin per-batch semantics)."""
    src = read_events_stream(spark, sf_dir, single_batch=True)
    out = run_to_memory(src.select("event_id", "ts", "user_id", "event_type", "value", "props"))
    return out.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


@register("sink_parquet", oracle=_EVENTS_SQL)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink roundtrip. The write is partitioned (32 tasks here, N
    thousand on a cluster) — the read-back proves schema + values survive,
    including the TIMESTAMP_NTZ event-time column."""
    ev = load_table(spark, sf_dir, "events")
    out_dir = scratch_dir("sink_parquet_")
    ev.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register("sink_memory", oracle=_EVENTS_SQL)
def sink_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming memory sink (the engine's test/debug sink — S6's
    in-process analog): full passthrough of the event stream. Stateless,
    so batching-independent — one trigger drains all staged files (same
    rationale as scan_stream)."""
    src = read_events_stream(spark, sf_dir, single_batch=True)
    out = run_to_memory(src.select("event_id", "ts", "user_id", "event_type", "value", "props"))
    return out.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


_CUSTOMER_DDL = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)
_ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)


@register(
    "scan_csv",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV file-format reader (SURVEY §2.2 "File formats"): the customer
    fixture round-tripped through a written CSV copy and read back with an
    EXPLICIT schema (schema inference is a second full scan at 100 TB — a
    production reader always declares its schema). Doubles survive exactly:
    both the writer and Java's shortest-round-trip float formatting parse
    back to the identical bit pattern, so the oracle hash is unchanged."""
    out = staged(
        sf_dir,
        "scan_csv_",
        lambda path: load_table(spark, sf_dir, "customer")
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path),
    )
    return spark.read.schema(_CUSTOMER_DDL).option("header", "true").csv(out)


@register(
    "scan_json",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines file-format reader (SURVEY §2.2 "File formats"): orders
    round-tripped through a written JSON copy, read back with an explicit
    schema — exercising bigint/double/TIMESTAMP_NTZ/string coercion on the
    read path (the same schema-on-read contract the CDC payload decoder
    uses for contentType='json')."""
    out = staged(
        sf_dir,
        "scan_json_",
        lambda path: load_table(spark, sf_dir, "orders").write.mode("overwrite").json(path),
    )
    return spark.read.schema(_ORDERS_DDL).json(out)


@register(
    "scan_orc",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
    FROM part
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC file-format reader ("File formats" breadth): the part
    fixture round-tripped through a written ORC copy and read back —
    columnar like parquet, so predicate pushdown / column pruning /
    vectorized reads all apply unchanged (Spark's OrcScan reports
    PushedFilters exactly as the parquet scan does). Values are
    bit-preserved (int/double/string), so the parquet-backed oracle hash
    matches without coercion."""
    out = staged(
        sf_dir,
        "scan_orc_",
        lambda path: load_table(spark, sf_dir, "part").write.mode("overwrite").orc(path),
    )
    return spark.read.orc(out).select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )


@register(
    "scan_partition_pruned",
    oracle="""
    SELECT event_id, event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date
    FROM events
    WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '2024-01-10'
      AND CAST(CAST(ts AS TIMESTAMP) AS DATE) <  DATE '2024-01-13'
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end: events written partitioned by
    event_date (the layout a 100 TB CDC archive uses), then read back with
    a date predicate — .explain shows PartitionFilters and a file listing
    restricted to 3 of ~30 daily directories, so the scan cost tracks the
    queried window, not the archive size. The partitioned copy is staged
    once per process (it is the fixture's stand-in for the real archive)."""
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    out_dir = staged(
        sf_dir,
        "events_by_date_",
        lambda path: ev.write.mode("overwrite").partitionBy("event_date").parquet(path),
    )
    # Explicit schema: skips the footer-inference listing pass on a real
    # archive, and keeps an archive with zero partition directories (empty
    # source) a well-typed empty scan instead of UNABLE_TO_INFER_SCHEMA.
    df = spark.read.schema(ev.schema).parquet(out_dir)
    return (
        df.filter(
            (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
            & (F.col("event_date") < F.lit("2024-01-13").cast("date"))
        )
        .select("event_id", "event_type", "event_date")
    )


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT event_id, user_id, event_type,
           CASE WHEN event_id % 2 = 0 THEN CAST(NULL AS DOUBLE) ELSE value END AS value,
           CASE WHEN event_id % 2 = 0 THEN 'v2' ELSE CAST(NULL AS VARCHAR) END AS schema_tag
    FROM events
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet files (the 100 TB archive reality:
    columns appear and disappear over years of writers): one file written
    with the v1 schema (has `value`), one with v2 (drops `value`, adds
    `schema_tag`), read back as ONE table via mergeSchema with null-fill
    on both sides. The oracle reconstructs the same null pattern from the
    row split. Explicit-schema reads stay the default everywhere else —
    mergeSchema costs a footer pass per file and is the exception path."""

    def write(out_dir: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        v1 = ev.filter(F.col("event_id") % 2 != 0)
        v2 = (
            ev.filter(F.col("event_id") % 2 == 0)
            .drop("value")
            .withColumn("schema_tag", F.lit("v2"))
        )
        v1.write.mode("overwrite").parquet(f"{out_dir}/part=v1")
        v2.write.mode("overwrite").parquet(f"{out_dir}/part=v2")

    out_dir = staged(sf_dir, "schema_evo_", write)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/part=v1", f"{out_dir}/part=v2"
    )
    return merged.select("event_id", "user_id", "event_type", "value", "schema_tag")


@register("sink_compacted", oracle=_EVENTS_SQL)
def sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: rewrite a fragmented layout (64 files here;
    millions in a real ingest landing zone) into size-targeted files via
    repartition, proving losslessness by re-reading. At 100 TB this is the
    maintenance job that keeps scan task counts sane — file-count metadata
    asserted in tests/test_semantics (compacted layout must be exactly 4
    files)."""

    def compact(path: str) -> None:
        # The fragmented layout is only the compaction's input: it goes as
        # soon as the compacted copy is written.
        frag = os.path.join(path, "fragmented")
        load_table(spark, sf_dir, "events").repartition(64).write.parquet(frag)
        spark.read.parquet(frag).repartition(4).write.parquet(
            os.path.join(path, "compacted")
        )
        shutil.rmtree(frag)

    stage = staged(sf_dir, "compacted_", compact)
    out = spark.read.parquet(os.path.join(stage, "compacted"))
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "scan_binary",
    oracle="""
    SELECT doc_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           MD5(text) AS content_md5
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-blob ingestion via Spark's built-in `binaryFile` format — the
    entry point of the multimodal pipeline (operators/multimodal.py decodes
    blobs that arrive exactly like this: one opaque file per asset). Every
    10th document's UTF-8 bytes are staged as a `<doc_id>.bin` file once
    per (process, sf) — the fixture's stand-in for an object-store bucket
    of images/audio — then read back as (path, length, content) and
    projected to (doc_id from the path, byte length, content md5).

    Scale: binaryFile lists and reads files in parallel across executors
    (maxPartitionBytes applies), and the projection is map-side; nothing
    shuffles. The staging is fixture scaffolding, not the operator — a
    production bucket is written by the upstream asset store — and it
    too is executor-side: `foreachPartition` writes each task's
    files in parallel where the data sits, so no SF-proportional rows
    ever cross to the driver (on a real cluster the write target is the
    shared object store; on local[32] the shared tmpdir stands in). The
    content column is dropped before return (the driver canonicalizer
    requires hashable scalar cells; md5 carries the content identity)."""

    def write(out: str) -> None:
        # Local-mode-only staging: executors must share the driver
        # filesystem for the binaryFile read below to see these writes.
        # A non-local master needs a shared-storage staging path instead
        # (or, in production, no staging at all — the bucket exists).
        master = spark.sparkContext.master
        if not master.startswith("local"):
            raise RuntimeError(
                "scan_binary fixture staging requires a local[*] master "
                f"(got {master!r}); point the staging path at shared "
                "storage to run this fixture on a cluster"
            )

        def _write_partition(rows) -> None:
            import os as _os

            for r in rows:
                with open(_os.path.join(out, f"{r.doc_id}.bin"), "wb") as fh:
                    fh.write(r.text.encode("utf-8"))

        (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", "text")
            .foreachPartition(_write_partition)
        )

    df = spark.read.format("binaryFile").load(staged(sf_dir, "scan_binary_", write))
    doc_id = F.regexp_extract(
        F.element_at(F.split(F.col("path"), "/"), -1), r"^(\d+)\.bin$", 1
    ).cast("long")
    return df.select(
        doc_id.alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )
