"""Client-facade micro-benchmark: the CDCMsg codec, the spool read path and
the facade's publish -> dispatch path, measured on their own, without Spark.

Usage: python scripts/facade_microbench.py [--seed N] [--msgs N] [--seconds S]

Inputs are the benchmark's seeded envelopes and its eight MQTT
subscriptions (``perfbench/gen.py``: Zipf-skewed channels, 32 B-4 KiB
payloads, mean fan-out about 1.36). Prints, for the code in this checkout:

  encode_us          µs per ``encode_cdcmsg`` call (``make_envelope``'s fields)
  decode_us          µs per ``decode_cdcmsg`` call
  columnar_encode_us µs per message of ``encode_columns`` (the ``nats_cdc``
                     sink's and ``encode_col``'s encoder) on the same
                     messages as Python list columns, in one call
  spool_read_us      µs per message of ``read_frames`` + ``decode_fields``
                     (the ``nats_cdc`` readers' path) over one spool
                     segment holding the messages
  dispatch_us        µs per ``CdcNats.publish`` of a pre-encoded envelope:
                     decode, route lookup and delivery to every matching
                     subscription (route table warm)
  facade_msgs_per_s  ``make_envelope`` + ``publish`` + delivery, over
                     ``--seconds`` of publishing in ``--msgs`` cycles

Codec, spool and dispatch figures are the median of 7 passes over ``--msgs``
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
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from node_cdc_nats_spark import client  # noqa: E402
from node_cdc_nats_spark.functions.cdcmsg import (  # noqa: E402
    decode_cdcmsg,
    decode_fields,
    encode_cdcmsg,
    encode_columns,
)
from node_cdc_nats_spark.sources.nats import frame_messages, read_frames  # noqa: E402
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
    columns = {
        "publisher": ["nms"] * n, "channel": chans, "contentType": ["json"] * n,
        "protocol": ["http"] * n, "reply": [""] * n, "QOS": [0] * n,
        "retain": [False] * n, "payload": pays,
    }
    if encode_columns(columns, n) != wires:
        print("FAIL columnar encode: envelopes differ from encode_cdcmsg", file=sys.stderr)
        failures += 1
    columnar_encode_us = _per_msg_us(lambda: encode_columns(columns, n), n)
    with tempfile.TemporaryDirectory() as spool:
        seg = os.path.join(spool, "0000000000000001-bench.seg")
        with open(seg, "wb") as fh:
            fh.write(frame_messages(wires))
        if [env for _, env in read_frames(seg)] != wires:
            print("FAIL spool read: frames differ from the written envelopes", file=sys.stderr)
            failures += 1
        spool_read_us = _per_msg_us(lambda: [decode_fields(env) for _, env in read_frames(seg)], n)

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
    print(f"columnar_encode_us {columnar_encode_us:10.3f} us/msg")
    print(f"spool_read_us      {spool_read_us:10.3f} us/msg")
    print(f"dispatch_us        {dispatch_us:10.3f} us/msg")
    print(f"facade_msgs_per_s  {n * cycles / busy_s:10.0f} msgs/s ({cycles} cycles, {busy_s:.2f} s)")
    print(f"failed deliveries  {failures:10d}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
