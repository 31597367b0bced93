"""Python hand-off probe: what a Spark-launched Python task costs a job and
the ``nats_cdc`` router's trigger, with and without the zip re-read gate
(``functions/zipcache.py``).

Usage: python scripts/python_handoff_probe.py [--seed N] [--seconds S]

Each mode runs in its own spawned interpreter with its own session
(``session.get_spark``, ``SPARK_GRAFT_CPUS`` cores), so its Python workers
start fresh. ``stock`` replaces the gate with a no-op in every function
shipped to Spark; ``gated`` is the code as it ships. Prints per mode:

  worker_zip_importers       zipimporters in a reused worker's
                             ``sys.path_importer_cache``
  worker_zip_reads_per_task  median zip directory reads a reused worker
                             makes between two of its tasks (each task's
                             ``setup_spark_files`` runs
                             ``importlib.invalidate_caches()``)
  noop_job_ms                median wall of a 4-task JVM-only job
                             (``range`` -> ``noop`` write)
  arrow_job_ms               median wall of the same job through a 4-task
                             ``mapInArrow`` identity
  trigger_ms, add_batch_ms, query_planning_ms, latest_offset_ms,
  wal_commit_ms, commit_offsets_ms
                             medians of ``StreamingQueryProgress.durationMs``
                             over the router's triggers: the benchmark's
                             ``route`` shape (``nats_cdc`` reader with 4
                             partitions -> eight MQTT subscriptions ->
                             ``nats_cdc`` sink) fed 1000 msg/s for
                             ``--seconds`` after a warm-up that starts
                             every reader partition's worker
  routed_copies              copies in the output spool, against the
                             expected fan-out of the messages fed

Job walls are medians of 10 runs after 2 untimed ones.
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
import platform
import queue
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RATE = 1_000   # router feed, messages per second
TICK_S = 0.02  # one input segment per tick
JOBS = 10
WARM_JOBS = 2
WARM_MSGS = 256     # routed before the timed feed
WARM_SEGMENTS = 64
PHASES = (
    ("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
    ("query_planning_ms", "queryPlanning"), ("latest_offset_ms", "latestOffset"),
    ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
)


def _timed(fn, runs=JOBS, warm=WARM_JOBS) -> float:
    for _ in range(warm):
        fn()
    walls = []
    for _ in range(runs):
        t = time.perf_counter()
        fn()
        walls.append((time.perf_counter() - t) * 1e3)
    return statistics.median(walls)


def _worker_zip_figures(spark, gate) -> tuple[int, float]:
    """(zipimporters a worker holds, median directory reads per task)."""
    import pyarrow as pa

    def count(batches):
        import os
        import sys
        import zipimport

        counted = zipimport._read_directory
        if not hasattr(counted, "calls"):
            stock = counted

            def counted(archive):
                counted.calls += 1
                return stock(archive)

            counted.calls = 0
            zipimport._read_directory = counted
        gate()
        for _ in batches:
            pass
        importers = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [counted.calls], "importers": [importers]})

    seen: dict[int, list[int]] = {}
    importers = []
    for _ in range(8):
        for r in spark.range(0, 4, numPartitions=4).mapInArrow(count, "pid long, reads long, importers long").collect():
            seen.setdefault(r.pid, []).append(r.reads)
            importers.append(r.importers)
    deltas = [b - a for calls in seen.values() for a, b in zip(calls, calls[1:])]
    return int(statistics.median(importers)), statistics.median(deltas) if deltas else float("nan")


def _router(spark, seed: int, seconds: int) -> dict:
    """Run the router over a fixed-rate feed and return its phase medians."""
    from node_cdc_nats_spark.functions.cdcmsg import encode_cdcmsg
    from node_cdc_nats_spark.functions.mqtt import matches
    from node_cdc_nats_spark.sources.nats import frame_messages, read_frames, spool_list
    from perfbench import gen
    from perfbench.cdc import route

    work = tempfile.mkdtemp(prefix="handoff_probe_")
    spool_in, spool_out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(spool_in)
    os.makedirs(spool_out)

    def envelopes(seed, n):
        envs = gen.EnvelopeSet(seed, n)
        wire = [encode_cdcmsg("gen", ch, "json", "http", "", 0, False, pay) for ch, pay in zip(envs.channels, envs.payloads)]
        return wire, sum(matches(pat, ch) for ch in envs.channels for _, pat in gen.SUBSCRIPTIONS)

    def write_segment(name, data):
        tmp = os.path.join(spool_in, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.rename(tmp, os.path.join(spool_in, name))

    def wait_for(copies, query):
        got, deadline = 0, time.monotonic() + 120
        while got < copies and time.monotonic() < deadline and query.isActive:
            time.sleep(0.1)
            got = sum(sum(1 for _ in read_frames(os.path.join(spool_out, f))) for f in spool_list(spool_out))
        if not query.isActive:
            raise RuntimeError(f"router query died: {query.exception()}")
        return got

    n = RATE * seconds
    wire, expected = envelopes(seed, n)
    warm, warm_expected = envelopes(seed + 1, WARM_MSGS)

    def produce():
        t0, i, seq = time.perf_counter(), 0, 0
        while i < n:
            seq += 1
            delay = t0 + seq * TICK_S - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            j = min(n, int((time.perf_counter() - t0) * RATE) + 1)
            if j > i:
                write_segment(f"{seq:016d}-gen.seg", frame_messages(wire[i:j]))
                i = j

    src = spark.readStream.format("nats_cdc").option("spool", spool_in).option("partitions", "4").load()
    query = (
        route(src).writeStream.format("nats_cdc").option("spool", spool_out)
        .option("publisher", "router").option("checkpointLocation", os.path.join(work, "ckpt")).start()
    )
    try:
        # Warm-up: many small segments, so every reader partition starts
        # its Python worker before the timed feed.
        for k in range(WARM_SEGMENTS):
            write_segment(f"{0:016d}-w{k:03d}.seg", frame_messages(warm[k::WARM_SEGMENTS]))
        wait_for(warm_expected, query)
        while query.lastProgress is None:
            time.sleep(0.05)
        warm_batch = query.lastProgress["batchId"]
        feeder = threading.Thread(target=produce, name="feed")
        feeder.start()
        feeder.join()
        copies = wait_for(warm_expected + expected, query) - warm_expected
        progress = [p for p in query.recentProgress if p["batchId"] > warm_batch and p["numInputRows"] > 0]
    finally:
        query.stop()
        shutil.rmtree(work, ignore_errors=True)
    out = {name: statistics.median(p["durationMs"].get(key, 0) for p in progress) for name, key in PHASES}
    out["triggers"] = len(progress)
    out["routed_copies"] = f"{copies}/{expected}"
    return out


def _measure(gated: bool, seed: int, seconds: int, results) -> None:
    sys.path.insert(0, ROOT)
    from node_cdc_nats_spark.functions import cdcmsg
    from node_cdc_nats_spark.functions.zipcache import gate_zip_rereads
    from node_cdc_nats_spark.session import get_spark
    from node_cdc_nats_spark.sources import nats

    def no_gate():
        pass  # nested, so cloudpickle ships it by value

    gate = gate_zip_rereads if gated else no_gate
    # Every function shipped to Spark looks the gate up in its module's
    # globals when it is pickled, so this swap reaches all of them.
    nats.gate_zip_rereads = cdcmsg.gate_zip_rereads = gate
    spark = get_spark(app_name="python_handoff_probe")
    spark.sparkContext.setLogLevel("ERROR")
    nats.register_nats_source(spark)
    try:
        out = {}
        out["worker_zip_importers"], out["worker_zip_reads_per_task"] = _worker_zip_figures(spark, gate)
        base = spark.range(0, 40_000, numPartitions=4)

        def identity(batches):
            gate()
            yield from batches

        out["noop_job_ms"] = _timed(lambda: base.write.format("noop").mode("overwrite").save())
        arrow = base.mapInArrow(identity, base.schema)
        out["arrow_job_ms"] = _timed(lambda: arrow.write.format("noop").mode("overwrite").save())
        out.update(_router(spark, seed, seconds))
        results.put(out)
    finally:
        spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args(argv)
    print(f"# python {platform.python_version()}, {os.cpu_count()} cpus, loadavg before {os.getloadavg()[0]:.2f}, "
          f"SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS', 'unset')}", flush=True)
    ctx = multiprocessing.get_context("spawn")
    figures = {}
    for mode in ("stock", "gated"):
        results = ctx.Queue()
        proc = ctx.Process(target=_measure, args=(mode == "gated", args.seed, args.seconds, results))
        proc.start()
        while mode not in figures:
            try:
                figures[mode] = results.get(timeout=5)
            except queue.Empty:
                if not proc.is_alive():
                    print(f"{mode} run failed with exit code {proc.exitcode}", file=sys.stderr)
                    return 1
        proc.join(timeout=120)
    print(f"{'metric':28s} {'stock':>12s} {'gated':>12s}")
    for key in figures["stock"]:
        s, g = figures["stock"][key], figures["gated"][key]
        cells = [f"{v:12.1f}" if isinstance(v, (int, float)) else f"{v:>12s}" for v in (s, g)]
        print(f"{key:28s} {cells[0]} {cells[1]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
