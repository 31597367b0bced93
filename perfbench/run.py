"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc,batch_ops}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Prints a detail line (host context and
the workload's own figures) and then, as the last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits 1 when an output check fails, 2 when the checkout is incomplete.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("node_cdc_nats_spark/__init__.py", "tests/oracle_diff.py", "BENCHMARK.json")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a full checkout; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.driver import run_workload

    result, ok = run_workload(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), PROCESS_START)
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
