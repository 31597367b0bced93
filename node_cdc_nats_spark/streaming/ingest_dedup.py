"""Continuous incremental-ingest dedup — the streaming twin of the
``dedup_incremental`` + ``dedup_bloom_prefilter`` batch pair
(operators/dedup.py), closing the one LLM-pipeline family whose continuous
form was otherwise unrepresented.

The production shape this reproduces (Dolma/C4-style ingest): corpus
shipments arrive as a stream; each shipment must be deduplicated against
everything already KEPT and within itself, without ever re-deduplicating
the corpus. ``foreachBatch`` is the Spark-native home for this maintenance
loop — each micro-batch is one transactional ingest round against two
batch-visible tables:

- the KEPT table (content hashes of every document admitted so far) —
  parquet here, a Delta/Iceberg table in production;
- a fixed-size Bloom filter of those hashes, held by the ingest
  coordinator and updated incrementally as survivors are admitted (the
  one piece of driver-side state, legitimate precisely because it is
  FIXED-SIZE by construction — m bits regardless of corpus size; at
  production scale it ships to executors as a broadcast variable).

Per batch: hash → Bloom screen (negatives are provably novel and skip the
join entirely — the vast majority of a mostly-novel shipment settles
map-side) → exact anti-join of the positives against the kept table (false
positives die here) → intra-batch keep-first-by-doc_id → admit survivors
(append to kept table, OR their bits into the filter, emit).

Correctness contract the oracle checks: shipment order is monotone in
doc_id (streaming/source.py staging) and intra-batch keep-first is
by doc_id, so the admitted set is EXACTLY the global keep-first —
``ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1`` — and
the Bloom screen, being FP-safe + exactly confirmed, must not change it.

Scale: the kept table is SF-proportional but only its hash column is ever
joined (and only by Bloom-positive rows); the filter is m bits forever;
per-batch driver traffic is the survivors' distinct bit positions, capped
at m. Nothing here grows with history except the kept table itself — the
same story as the batch pair, now load-bearing across micro-batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..cache import scratch_dir
from ..operators.dedup import BLOOM_M, _spark_hex16
from ..registry import register
from .source import drain, read_documents_stream


@register(
    "stream_dedup_incremental",
    oracle="""
    SELECT doc_id, MD5(text) AS content_hash
    FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) = 1
    """,
)
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-ingest dedup (module docstring): the staged
    corpus shipments drain in two ingest rounds through a ``foreachBatch``
    maintenance loop that keeps a cross-batch kept-hash table plus an
    incrementally maintained Bloom filter, admitting exactly the global
    keep-first-by-doc_id set.

    Floor decomposition (measured at sf0.1): each round is TWO Spark
    jobs — the screened-batch localCheckpoint and a parquet-append commit
    whose ``observe`` metrics carry the Bloom filter update as a side
    product (no separate readback job; obs.get ≈ 0.05 s). Round 2's
    admit job once took ~2.0 s because each branch of the two-branch
    union re-executed the md5 aggregate and the three bitmap probes, and
    AQE serialized the duplicated stages (bare agg 0.31 s, union
    survivors 1.77 s at sf0.1). Materializing the screened batch once
    (per-shipment sized) cut the round-2 admit path 2.06 → 1.34 s
    including the added checkpoint job. The union SHAPE stays: a
    single-pass left-join+filter rewrite measured faster still at
    fixture scale and is REJECTED because it routes every Bloom-negative
    through the kept join — at corpus scale the union shape is what lets
    the mostly-novel majority skip the second exchange into the kept
    table's layout entirely, which is the screen's purpose. Swapping the
    64 KB bitmap literal for broadcast data (1-row cross join) was also
    A/B'd: no win. Everything remaining is fixed per-round cost that
    amortizes on a long-lived ingest; no further headroom without giving
    up the scale shape."""
    # ONE table serves as both the kept-hash state and the emitted result:
    # what this op admits IS the kept corpus (doc_id, content_hash), so a
    # second copy would double every batch's write for nothing. The table
    # materializes with the first admitted round; until then readers get
    # a well-typed empty frame (a zero-row pre-seed write would cost a
    # full Spark write job just to avoid this two-line branch).
    kept_dir = scratch_dir("ingest_dedup_kept_")
    schema = "doc_id bigint, content_hash string"

    def read_kept() -> DataFrame:
        if any(f.endswith(".parquet") for f in os.listdir(kept_dir)):
            return spark.read.schema(schema).parquet(kept_dir)
        return spark.createDataFrame([], schema)

    # The coordinator-held filter: a bit-position set, rendered to the
    # m-char bitmap literal each batch. Bounded at BLOOM_M bits by
    # construction — this is the ONE piece of state foreachBatch holds on
    # the driver, mirroring a production broadcast Bloom.
    bloom_bits: set[int] = set()

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # Intra-batch keep-first FIRST: it shrinks the screen/join input.
        # Because only (winner doc_id, hash) survives, keep-first is just
        # MIN(doc_id) per hash — one partial+final aggregate, no window
        # sort — and the aggregate's hash distribution is reused by the
        # anti-join.
        b = (
            batch_df.select(
                "doc_id",
                F.md5(F.col("text").cast("binary")).alias("content_hash"),
            )
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        bitmap = "".join(
            "1" if i in bloom_bits else "0" for i in range(BLOOM_M)
        )
        probe = lambda off: (  # noqa: E731
            F.substring(
                F.lit(bitmap), _spark_hex16("content_hash", off) + 1, F.lit(1)
            )
            == "1"
        )
        # The screened batch is materialized ONCE (localCheckpoint —
        # per-SHIPMENT sized, never corpus-sized) before the two-branch
        # union. Without it each branch re-executed the md5 aggregate and
        # the three 64 KB-literal probes, and AQE serialized the duplicated
        # stages — measured (interleaved min-of-3 on an emulated round-2
        # batch at sf0.1): 2.06 → 1.34 s for the admit job including the
        # extra checkpoint job, identical Bloom deltas. The union SHAPE
        # stays: negatives still never touch the kept table's exchange,
        # which is the screen's scale purpose (the single-pass left-join
        # rewrite stays rejected).
        flagged = b.withColumn(
            "bloom_hit", probe(1) & probe(5) & probe(9)
        ).localCheckpoint(eager=True)
        kept = read_kept().select("content_hash")
        # Bloom negatives are provably novel (no false negatives by
        # construction); only the positives pay the exact membership join.
        survivors = (
            flagged.filter(F.col("bloom_hit"))
            .join(kept, "content_hash", "anti")
            .unionByName(flagged.filter(~F.col("bloom_hit")))
            .select("doc_id", "content_hash")
        )
        # ONE write job per batch, no readback job: the survivor append
        # carries an ``observe`` with three ``collect_set`` aggregates (one
        # per Bloom hash offset), so the filter-update positions fall out
        # of the SAME write action — Spark's CollectMetrics accumulates
        # them task-side as the rows stream to the committer, and
        # ``Observation.get`` hands the sets to the coordinator after the
        # commit. No second scan, no re-run of the dedup plan (which,
        # post-append, would anti-join the survivors against themselves and
        # starve the filter). The driver traffic is bounded: each set is
        # DISTINCT positions in [0, m), so ≤ 3·m values per batch regardless
        # of shipment size (m = 65536 here; production ships the update as a
        # bitmap delta instead of a position list), and incremental —
        # this delta's positions only, so filter-update cost tracks the
        # shipment, never the corpus. coalesce(1): one state-table file
        # per ingest round instead of one per shuffle task.
        obs = Observation(f"bloom_delta_{batch_id}")
        observed = survivors.observe(
            obs,
            F.collect_set(_spark_hex16("content_hash", 1)).alias("p1"),
            F.collect_set(_spark_hex16("content_hash", 5)).alias("p2"),
            F.collect_set(_spark_hex16("content_hash", 9)).alias("p3"),
        )
        observed.coalesce(1).write.mode("append").parquet(kept_dir)
        got = obs.get
        bloom_bits.update(got["p1"])
        bloom_bits.update(got["p2"])
        bloom_bits.update(got["p3"])

    # Two ingest rounds of two shipments each: the cross-round maintenance
    # path (kept-table anti-join + learned filter) is exercised exactly the
    # same as with four rounds — keep-first is monotone in doc_id across
    # and within rounds — at half the per-trigger machinery cost. The
    # drain's shuffle sizing fits the per-batch jobs, which move a few
    # thousand rows (a production ingest sizes it to its shipment volume).
    drain(
        read_documents_stream(spark, sf_dir, files_per_trigger=2),
        lambda w: w.foreachBatch(ingest),
    )
    return read_kept()
