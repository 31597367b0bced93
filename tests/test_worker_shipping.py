"""Worker-side code reaches Spark's Python workers without the repository
on their ``sys.path``.

Pytest runs with the repository as its working directory, and local-mode
Python workers start in that directory, so a UDF or DataSource that a
worker imports by name passes every other test here and still fails with
``ModuleNotFoundError`` for a Spark driver program that runs elsewhere.
This test starts such a program: a fresh interpreter in an empty
directory, ``PYTHONPATH`` unset, a vanilla ``SparkSession`` and the
repository on that interpreter's ``sys.path`` only. It then checks three
queries against their DuckDB oracles: two run the CDCMsg codec and the
``nats_cdc`` connector on workers, and ``stream_rpc_state`` runs the
sharded state core (``streaming/sharded.py``) with an operator's step.
"""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROGRAM = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from node_cdc_nats_spark import registry
from tests.oracle_diff import compare

spark = SparkSession.builder.master("local[2]").getOrCreate()
registry.load_all()
failed = 0
for name in ("cdc_encode_decode", "nats_roundtrip", "stream_rpc_state"):
    problems = compare(spark, name, registry.QUERIES[name], registry.ORACLES[name], {sf!r})
    print(name, problems[:3] if problems else "OK", flush=True)
    failed += bool(problems)
spark.stop()
sys.exit(1 if failed else 0)
"""


def test_codec_and_connector_run_on_workers_without_repo_on_path(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", PROGRAM.format(repo=REPO, sf=SF_DIR)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    assert proc.stdout.split() == [
        "cdc_encode_decode", "OK", "nats_roundtrip", "OK", "stream_rpc_state", "OK",
    ]
