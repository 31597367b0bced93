"""One benchmark run: generate inputs, set up, measure, check, report."""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from . import harness, metrics
from .trace import OFF, Tracer


def _workloads():
    from .batch_ops import BatchOps
    from .cdc import Cdc

    return {w.name: w for w in (Cdc, BatchOps)}


def run_workload(root: str, workload: str, seed: int, seconds: int, trace: bool, process_start: float):
    classes = _workloads()
    if workload not in classes:
        raise SystemExit(f"unknown workload {workload!r}; choose from {sorted(classes)}")
    run_id = f"{workload}-{seed}-{os.getpid()}"
    run = harness.Run(root, workload, seed, seconds, Tracer(run_id) if trace else OFF)
    harness.configure_env(run.work)
    os.chdir(run.work)  # Spark's warehouse/metastore side files land here
    run.detail["host_before"] = harness.host_context()
    run.detail["cores"] = os.environ["SPARK_GRAFT_CPUS"]
    wl = classes[workload](run)
    spark = None
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        run.detail["generate_s"] = round(gen_s, 4)
        with harness.RssSampler() as rss:
            spark, setup_s = harness.setup(run, process_start + gen_s, wl)
            listener = None
            if trace:
                from .trace import make_progress_listener

                listener = make_progress_listener()
                spark.streams.addListener(listener)
            wl.measure(spark, listener)
        run.e2e["setup_s"] = setup_s
        run.e2e["peak_rss_mb"] = rss.peak_mb
        run.detail["host_after"] = harness.host_context(spark)
        (steal0, all0), (steal1, all1) = (run.detail[k]["cpu_jiffies"] for k in ("host_before", "host_after"))
        run.detail["cpu_steal_share"] = round((steal1 - steal0) / max(all1 - all0, 1), 4)
    except Exception:
        traceback.print_exc()
        run.fail(1, ["run aborted: " + traceback.format_exc(limit=3).replace("\n", " | ")[-400:]])
    finally:
        if trace:
            os.makedirs(os.path.join(root, ".perfbench_work", "traces"), exist_ok=True)
            run.tracer.write(os.path.join(root, ".perfbench_work", "traces", f"{run_id}.jsonl"))
        if spark is not None:
            harness.stop_engine(spark)
        os.chdir(root)
        run.cleanup()
    return finish(run, trace)


def finish(run, trace: bool):
    """Build the result line; print the detail line and any problems."""
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    if trace:
        metrics.derive_layers(run)
    values = run.layers if trace else run.e2e
    missing = [m.name for m in metrics.END_TO_END if m.name not in run.e2e]
    if missing and not run.failed:
        run.fail(1, [f"metrics not measured: {missing}"])
    correct = run.failed == 0
    out = {
        m.name: {"value": float(values.get(m.name, 0.0)), "unit": m.unit} for m in want
    }
    run.detail["problems"] = run.problems
    run.detail["end_to_end"] = {k: round(v, 6) for k, v in run.e2e.items()}
    if trace:
        run.detail["layer_moves"] = {m.name: f"{m.moves} on {m.workload}" for m in want}
    print(json.dumps({"detail": run.detail}, default=str), flush=True)
    if not correct:
        print(f"perfbench: OUTPUT CHECK FAILED ({run.failed} of {run.attempted}): "
              + "; ".join(run.problems[:10]), file=sys.stderr, flush=True)
    result = {"correct": correct, "attempted": max(run.attempted, 1), "failed": run.failed, "metrics": out}
    return result, correct
