"""Run the benchmark on several seeds and report, per workload and
end-to-end metric, the median and the quartile spread
((Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``).

    python3 perfbench/steadiness.py --workloads cdc batch_ops --seeds 1-10 \\
        [--trace 0] [--out perfbench/results.json]

Runs are sequential; each is a separate process, as the benchmark expects.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    result = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    return {"seed": seed, "exit": proc.returncode, "wall_s": round(time.perf_counter() - t0, 1),
            "result": result, "host": detail.get("host_before", {}).get("loadavg"),
            "cpu_steal_share": detail.get("cpu_steal_share"), "passes": detail.get("passes"),
            "query_walls_by_pass_s": detail.get("query_walls_by_pass_s")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    report = {}
    for w in args.workloads:
        runs = [run_once(w, s, spec["run_seconds"], args.trace) for s in seeds_of(args.seeds)]
        names = sorted({k for r in runs for k in r["result"].get("metrics", {})})
        summary = {}
        for name in names:
            vals = [r["result"]["metrics"][name]["value"] for r in runs if name in r["result"]["metrics"]]
            if len(vals) >= 2 and stats.median(vals):
                summary[name] = {"median": stats.median(vals), "spread": stats.quartile_spread(vals),
                                 "values": vals}
        report[w] = {"runs": runs, "summary": summary,
                     "all_correct": all(r["result"].get("correct") for r in runs)}
        for name, s in summary.items():
            print(f"{w:10s} {name:28s} median {s['median']:12.4f}  spread {s['spread']:.4f}", flush=True)
        print(f"{w:10s} correct in every run: {report[w]['all_correct']}; "
              f"walls {[r['wall_s'] for r in runs]}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if all(r["all_correct"] for r in report.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
