from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from node_cdc_nats_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def uncommit_last_batch(ckpt: str, out: str) -> int:
    """Leave a streaming query's checkpoint and file-sink output as a crash
    between the sink write and the commit leaves them: remove the newest
    ``commits/N`` and ``out/_spark_metadata/N``, each with its ``.crc``
    (a stale ``.crc`` makes the restarted file sink raise
    ``SparkConcurrentModificationException``). The offset log keeps batch
    N, so a restart must replay it. Returns N."""
    commits = os.path.join(ckpt, "commits")
    n = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for log in (commits, os.path.join(out, "_spark_metadata")):
        for f in (str(n), f".{n}.crc"):
            os.remove(os.path.join(log, f))
    return n


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="node_cdc_nats_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()
