"""Scratch-directory ownership (``node_cdc_nats_spark/cache.py``): every
directory a fixture run writes comes from ``scratch_dir`` or ``staged``, and
the process that made it removes it at exit. Bounded streaming runs go
through one drain (``streaming/source.py``) that owns their checkpoint and
confs."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

from node_cdc_nats_spark import cache, registry

registry.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROGRAM = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from node_cdc_nats_spark import cache

out = {{}}
calls = []

def write(path):
    calls.append(path)
    with open(os.path.join(path, "f"), "w") as fh:
        fh.write("x")

def fail(path):
    write(path)
    raise RuntimeError("write failed")

first = cache.staged("k", "scratch_unit_", write)
out["once"] = cache.staged("k", "scratch_unit_", write) == first and calls == [first]
try:
    cache.staged("bad", "scratch_unit_", fail)
except RuntimeError:
    pass
out["failed_dir_gone"] = not os.path.exists(calls[-1])
out["failed_not_cached"] = ("scratch_unit_", "bad") not in cache._STAGED
retried = cache.staged("bad", "scratch_unit_", write)
out["retried"] = os.path.isdir(retried) and calls[-1] == retried
plain = cache.scratch_dir("scratch_unit_")

child_note = os.path.join(sys.argv[1], "child.json")
pid = os.fork()
if pid == 0:
    with open(child_note, "w") as fh:
        json.dump(cache.scratch_dir("scratch_child_"), fh)
    sys.exit(0)
os.waitpid(pid, 0)
with open(child_note) as fh:
    child = json.load(fh)
out["child_removed_its_own"] = not os.path.exists(child)
out["parent_kept"] = all(os.path.isdir(p) for p in (first, retried, plain))
out["paths"] = [first, retried, plain]
print(json.dumps(out))
"""


def test_staged_writes_once_and_exit_removes_only_own_directories(tmp_path):
    """``staged`` calls ``write`` once per key; a raising ``write`` leaves
    no directory and no cache entry, and the next call retries. A forked
    child that exits through ``sys.exit`` removes its own directory but not
    its parent's, and a normal interpreter exit removes every directory the
    process recorded."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    env = dict(os.environ, TMPDIR=str(scratch))
    proc = subprocess.run(
        [sys.executable, "-c", PROGRAM.format(repo=REPO), str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    paths = out.pop("paths")
    assert out == {
        "once": True,
        "failed_dir_gone": True,
        "failed_not_cached": True,
        "retried": True,
        "child_removed_its_own": True,
        "parent_kept": True,
    }
    assert all(p.startswith(str(scratch)) for p in paths)
    assert os.listdir(scratch) == []


# Every op whose scratch directories the owner makes: the sinks.py staged
# copies, the per-call result tables, and the three foreachBatch drains.
SCRATCH_OPS = [
    "scan_csv", "scan_json", "scan_orc", "scan_partition_pruned",
    "scan_schema_evolution", "sink_compacted", "scan_binary", "sink_parquet",
    "stream_upsert", "stream_scd2", "stream_dedup_incremental",
]


def test_fixture_runs_leave_only_recorded_directories(spark, monkeypatch, tmp_path):
    """With the temp root pointed at ``tmp_path`` and a fresh staging cache,
    every directory the scratch ops leave there is one the owner recorded,
    and the exit hook removes them all."""
    from tests.conftest import SF_DIR

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(cache, "_STAGED", {})
    monkeypatch.setattr(cache, "_SCRATCH", [])
    for name in SCRATCH_OPS:
        assert registry.QUERIES[name](spark, SF_DIR).collect(), name
    recorded = {path for _, path in cache._SCRATCH}
    left = {str(tmp_path / n) for n in os.listdir(tmp_path)}
    assert left and left <= recorded
    # sink_compacted keeps only its compacted copy.
    (compacted,) = [p for p in left if os.path.basename(p).startswith("compacted_")]
    assert os.listdir(compacted) == ["compacted"]
    cache._remove_scratch()
    assert os.listdir(tmp_path) == []


def test_drain_runs_under_the_bounded_confs_and_restores_them(spark):
    """A foreachBatch drain sees the bounded-run shuffle and retention
    confs, and the session gets its own values back afterwards."""
    from node_cdc_nats_spark.streaming.source import drain, read_events_stream
    from tests.conftest import SF_DIR

    keys = ("spark.sql.shuffle.partitions", "spark.sql.streaming.minBatchesToRetain")
    before = {k: spark.conf.get(k) for k in keys}
    seen = []

    def record(batch_df, batch_id):
        seen.append(tuple(batch_df.sparkSession.conf.get(k) for k in keys))

    drain(read_events_stream(spark, SF_DIR), lambda w: w.foreachBatch(record))
    assert seen and set(seen) == {("2", "1")}
    assert {k: spark.conf.get(k) for k in keys} == before
