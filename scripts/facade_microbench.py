"""Client-facade micro-benchmark: the scalar CDCMsg codec and the facade's
publish -> dispatch path, measured on their own, without Spark.

Usage: python scripts/facade_microbench.py [--seed N] [--msgs N] [--seconds S]

Inputs are the benchmark's seeded envelopes and its eight MQTT
subscriptions (``perfbench/gen.py``: Zipf-skewed channels, 32 B-4 KiB
payloads, mean fan-out about 1.36). Prints, for the code in this checkout:

  encode_us          µs per ``encode_cdcmsg`` call (``make_envelope``'s fields)
  decode_us          µs per ``decode_cdcmsg`` call
  dispatch_us        µs per ``CdcNats.publish`` of a pre-encoded envelope:
                     decode, route lookup and delivery to every matching
                     subscription (route table warm)
  facade_msgs_per_s  ``make_envelope`` + ``publish`` + delivery, over
                     ``--seconds`` of publishing in ``--msgs`` cycles

Codec and dispatch figures are the median of 7 passes over ``--msgs``
messages. Every delivery of every dispatch pass and facade cycle is
checked against the pure-Python MQTT matcher (exactly once, same bytes);
the script exits non-zero on any failure.
"""

from __future__ import annotations

import argparse
import os
import platform
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from node_cdc_nats_spark import client  # noqa: E402
from node_cdc_nats_spark.functions.cdcmsg import decode_cdcmsg, encode_cdcmsg  # noqa: E402
from perfbench import gen  # noqa: E402
from perfbench.checks import check_deliveries, expected_deliveries  # noqa: E402

PASSES = 7


def _per_msg_us(fn, n: int) -> float:
    """Median over ``PASSES`` of one pass's wall, in µs per message."""
    walls = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / n * 1e6


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--msgs", type=int, default=20_000)
    ap.add_argument("--seconds", type=float, default=5.0)
    args = ap.parse_args()

    envs = gen.EnvelopeSet(args.seed, args.msgs)
    chans, pays, n = envs.channels, envs.payloads, args.msgs
    wires = [encode_cdcmsg("nms", c, "json", "http", "", 0, False, p) for c, p in zip(chans, pays)]
    want = expected_deliveries(chans)
    failures = 0

    def check(got, what):
        nonlocal failures
        failed, problems = check_deliveries(want, got, pays)
        failures += failed
        for p in problems:
            print(f"FAIL {what}: {p}", file=sys.stderr)

    encode_us = _per_msg_us(
        lambda: [encode_cdcmsg("nms", c, "json", "http", "", 0, False, p) for c, p in zip(chans, pays)], n
    )
    decode_us = _per_msg_us(lambda: [decode_cdcmsg(w) for w in wires], n)

    got: list = []

    def deliver_to(sid):
        def cb(msg):
            got.append((sid, msg["payload"]))

        return cb

    conn = client.connect(client.LocalBroker())
    for sid, pattern in gen.SUBSCRIPTIONS:
        conn.subscribe(pattern, deliver_to(sid))

    walls = []
    for _ in range(PASSES + 1):  # the first pass fills the route table
        got.clear()
        t0 = time.perf_counter()
        for w in wires:
            conn.publish("bench", w)
        walls.append(time.perf_counter() - t0)
        check(got, "dispatch")
    dispatch_us = statistics.median(walls[1:]) / n * 1e6

    busy_s, cycles = 0.0, 0
    while busy_s < args.seconds:
        got.clear()
        t0 = time.perf_counter()
        for i in range(n):
            conn.publish("bench", client.make_envelope(chans[i], pays[i]))
        busy_s += time.perf_counter() - t0
        cycles += 1
        check(got, f"facade cycle {cycles}")
    conn.close()

    print(f"host: {os.cpu_count()} cpus, {platform.python_implementation()} {platform.python_version()}")
    print(f"messages per pass: {n}, subscriptions: {len(gen.SUBSCRIPTIONS)}, "
          f"copies per message: {len(want) / n:.2f}")
    print(f"encode_us          {encode_us:10.3f} us/msg")
    print(f"decode_us          {decode_us:10.3f} us/msg")
    print(f"dispatch_us        {dispatch_us:10.3f} us/msg")
    print(f"facade_msgs_per_s  {n * cycles / busy_s:10.0f} msgs/s ({cycles} cycles, {busy_s:.2f} s)")
    print(f"failed deliveries  {failures:10d}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
