"""``session.size_shuffle_partitions``: a vanilla session's default of 200
shuffle partitions is sized to the cluster's parallelism, and an explicit
value is kept.

The vanilla side needs a SparkConf with no ``spark.sql.shuffle.partitions``
entry, which the suite's own session has, so it runs in a fresh
interpreter with its own ``SparkSession``.
"""

from __future__ import annotations

import os
import subprocess
import sys

from node_cdc_nats_spark.session import tune_session

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "spark.sql.shuffle.partitions"

PROGRAM = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from node_cdc_nats_spark.io import load_table
from node_cdc_nats_spark.session import tune_session

key = {key!r}
spark = SparkSession.builder.master("local[3]").getOrCreate()
seen = [spark.conf.get(key)]
load_table(spark, {sf!r}, "lineitem")
seen.append(spark.conf.get(key))
spark.conf.set(key, "200")
tune_session(spark)
seen.append(spark.conf.get(key))
spark.conf.set(key, "5")
tune_session(spark)
seen.append(spark.conf.get(key))
spark.stop()
print(" ".join(seen))
"""


def test_vanilla_session_is_sized_to_default_parallelism(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", PROGRAM.format(repo=REPO, key=KEY, sf=SF_DIR)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # Spark's default; local[3]'s parallelism after a table load and after
    # tune_session; a session-level non-default value is kept.
    assert proc.stdout.split()[-4:] == ["200", "3", "3", "5"]


def test_explicit_shuffle_partitions_are_kept(spark):
    """The suite's session sets 8 in its SparkConf: neither that value, a
    session-level non-default value, nor a session-level 200 under a
    SparkConf entry is resized."""
    tune_session(spark)
    assert spark.conf.get(KEY) == "8"
    other = spark.newSession()
    other.conf.set(KEY, "7")
    tune_session(other)
    assert other.conf.get(KEY) == "7"
    other.conf.set(KEY, "200")
    tune_session(other)
    assert other.conf.get(KEY) == "200"
