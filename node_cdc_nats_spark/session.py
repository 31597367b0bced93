"""SparkSession builder tuned for the engine.

Local testing runs ``local[N]`` single-JVM; the configs are chosen so the
same logical plans survive a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), shuffle partitions sized to
the parallelism at hand, Arrow enabled for the Pandas-UDF slow path, and a
UTC session timezone so event-time semantics are deployment-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# RocksDB-backed streaming state (Spark-bundled provider): the 100 TB story
# for the stateful ops (stream_rpc_state / stream_dedup /
# stream_stream_left_join) cannot assume traffic-per-horizon state fits the
# default in-memory HDFSBackedStateStore — RocksDB spills state to local
# disk with incremental checkpointing. Runtime-settable (read at query
# start), so one session can run queries under either store.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession) -> SparkSession:
    """Point subsequently STARTED streaming queries at the RocksDB state
    store. Existing checkpoints keep their original provider; state format
    is provider-specific, so toggle only on fresh checkpoints."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    return spark


def get_spark(
    app_name: str = "node_cdc_nats_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    state_store = state_store or os.environ.get("SPARK_GRAFT_STATE_STORE")
    if state_store not in (None, "", "default", "rocksdb"):
        # Fail loudly: a typo ("RocksDB", "rocks") silently running the
        # in-memory default would defeat the reason the toggle exists.
        raise ValueError(
            f"unknown state_store {state_store!r}; use 'rocksdb' or 'default'"
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off: ~40% faster interpreted higher-order-function folds
        # (minhash/simhash hot path) by dropping per-op overflow checks. The
        # engine's arithmetic is designed overflow-free (see operators/dedup
        # universal-hash modulus choice), and oracle parity is additionally
        # exercised under ANSI defaults by the external driver's vanilla
        # session, so both modes stay verified.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if state_store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def size_shuffle_partitions(spark: SparkSession) -> None:
    """Size ``spark.sql.shuffle.partitions`` to the cluster's default
    parallelism while the session still holds Spark's default of 200 and
    nobody set it in the SparkConf. A vanilla session otherwise runs every
    shuffle, each round of the graph loops included, with 200 tasks: on a
    vanilla ``local[4]`` session at sf0.01, connected components took 58 s
    that way and 4.5 s at 4 partitions. An explicit value, in the session
    or the SparkConf, is kept."""
    key = "spark.sql.shuffle.partitions"
    if spark.conf.get(key) != "200" or spark.sparkContext.getConf().contains(key):
        return
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally created session
    (e.g. the driver's). Safe to call repeatedly."""
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-settable in this deployment; loaders degrade gracefully
    size_shuffle_partitions(spark)
    return spark
