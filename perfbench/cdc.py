"""``cdc``: the paper's pipeline, CDCMsg envelopes from publishers to MQTT
subscriptions, through the engine's public entry points only.

Stream phase (open loop, fixed rate). One streaming query, the router,
reads an input spool with the partitioned ``nats_cdc`` reader, fans each
message out to every matching subscription (``functions.mqtt.
channel_matches`` in the ``dispatch_subs`` explode shape) and re-publishes
the copies through the ``nats_cdc`` sink into an output spool. A generator
thread writes the seeded envelopes into the input spool on a fixed schedule,
one segment per tick (tmp + rename), each stamped with its due time; a
collector thread reads the output spool. Delivery latency counts from a
message's due time to the collector reading its routed copy, so generator
lateness is included. At this rate the per-trigger fixed cost (task start,
spool listing, WAL commit) sets the latency, not the per-message codec.

Facade phase (closed loop). The envelopes go through ``client.connect(
LocalBroker())`` with the same subscriptions (encode, publish, decode,
linear match scan, callback), then RPC round trips run against a responder
client. Per-message pure-Python work dominates this phase.

Every message must arrive exactly once per matching subscription with the
generated payload bytes, through the router and through the facade."""

from __future__ import annotations

import json
import os
import threading
import time

from . import gen, stats
from .checks import check_deliveries, expected_deliveries

RATE = 1_000           # stream phase: messages per second offered
TICK_S = 0.02          # one input segment per tick
WARMUP_S = 2           # leading window excluded from the latency figures
WARM_MSGS = 256        # routed once during set-up, before the clock starts
WARM_SEGMENTS = 64
FACADE_MSGS = 20_000   # facade phase: messages published through the client per cycle
FACADE_S = 10          # facade phase: seconds of publishing the rate is taken over
RPCS = 2_000           # >= 10 samples beyond the 99th percentile
DEADLINE_S = 60        # undelivered copies after this wait count as lost


def route(df):
    """One row per (message, matching subscription), the subscription id in
    ``reply``: ``functions.mqtt.channel_matches`` per pattern, compacted and
    exploded in one map-side pass (the ``dispatch_subs`` shape)."""
    from pyspark.sql import functions as F

    from node_cdc_nats_spark.functions.mqtt import channel_matches

    matched = F.array_compact(F.array(*[
        F.when(channel_matches("channel", pat), F.lit(sid)) for sid, pat in gen.SUBSCRIPTIONS
    ]))
    return df.select(
        "publisher", "channel", "contentType", "protocol",
        F.explode(matched).alias("reply"), "QOS", "retain", "payload",
    )


def _bound(root: str, metric: str) -> float:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == metric)


def _wire(envs, lo, hi):
    from node_cdc_nats_spark.functions.cdcmsg import encode_cdcmsg

    return [
        encode_cdcmsg("gen", envs.channels[i], "json", "http", "", 0, False, envs.payloads[i])
        for i in range(lo, hi)
    ]


def _write_segment(spool: str, name: str, data: bytes) -> None:
    """The spool's visibility protocol: write ``.{name}.tmp``, then rename."""
    tmp = os.path.join(spool, f".{name}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.rename(tmp, os.path.join(spool, name))


class Collector(threading.Thread):
    """Reads every new output segment; keeps (envelope, arrival ns) raw and
    leaves decoding to the checks, so counting keeps up with the router."""

    def __init__(self, spool: str, t0: int, skip: set[str]):
        super().__init__(name="collector", daemon=True)
        self.spool, self.t0 = spool, t0
        self.seen = set(skip)
        self.frames: list[tuple[bytes, int]] = []
        self.halt = threading.Event()

    def run(self):
        from node_cdc_nats_spark.sources.nats import read_frames, spool_list

        while True:
            final = self.halt.is_set()
            for name in spool_list(self.spool):
                if name in self.seen:
                    continue
                self.seen.add(name)
                now = time.perf_counter_ns() - self.t0
                self.frames.extend((env, now) for _, env in read_frames(os.path.join(self.spool, name)))
            if final:
                return
            time.sleep(0.01)

    def wait_for(self, count: int, query, deadline_s: float) -> bool:
        end = time.monotonic() + deadline_s
        while len(self.frames) < count:
            if not query.isActive or time.monotonic() > end:
                return False
            time.sleep(0.01)
        return True


class Cdc:
    name = "cdc"
    needs_registry = False

    def __init__(self, run):
        self.run = run

    def generate(self):
        run = self.run
        self.n_stream = int(RATE * (WARMUP_S + run.seconds))
        n = max(self.n_stream, FACADE_MSGS)
        self.envs = gen.EnvelopeSet(run.seed, n)
        self.envs.restamp([i * 1_000_000_000 // RATE for i in range(n)])
        self.wire = _wire(self.envs, 0, self.n_stream)
        self.expected = expected_deliveries(self.envs.channels)
        self.stream_copies = sum(v for (_, mid), v in self.expected.items() if mid < self.n_stream)
        warm = gen.EnvelopeSet(run.seed + 1, WARM_MSGS)
        self.warm_wire = _wire(warm, 0, WARM_MSGS)
        self.warm_copies = sum(expected_deliveries(warm.channels).values())

    def warmup(self, spark):
        """Start the router on empty spools and route ``WARM_MSGS`` warm
        messages end to end, so the measured phases start with warm workers."""
        from node_cdc_nats_spark.sources.nats import frame_messages, read_frames, spool_list

        self.spool_in, self.spool_out = self.run.path("spool-in"), self.run.path("spool-out")
        os.makedirs(self.spool_in)
        os.makedirs(self.spool_out)
        src = spark.readStream.format("nats_cdc").option("spool", self.spool_in).option("partitions", "4").load()
        self.router = (
            route(src).writeStream.format("nats_cdc")
            .option("spool", self.spool_out)
            .option("publisher", "router")
            .option("checkpointLocation", self.run.path("ckpt-router"))
            .start()
        )
        # Many small segments, so every reader partition (segments are
        # hashed to partitions by name) starts its Python worker here.
        for k in range(WARM_SEGMENTS):
            part = self.warm_wire[k::WARM_SEGMENTS]
            _write_segment(self.spool_in, f"{0:016d}-w{k:03d}.seg", frame_messages(part))
        self.warm_segments: set[str] = set()
        copies, deadline = 0, time.monotonic() + 120
        while copies < self.warm_copies:
            if not self.router.isActive or time.monotonic() > deadline:
                raise RuntimeError(f"router warm-up routed {copies} of {self.warm_copies} copies")
            for name in spool_list(self.spool_out):
                if name not in self.warm_segments:
                    self.warm_segments.add(name)
                    copies += sum(1 for _ in read_frames(os.path.join(self.spool_out, name)))
            time.sleep(0.02)
        if copies != self.warm_copies:
            raise RuntimeError(f"router warm-up routed {copies} copies, expected {self.warm_copies}")
        # Triggers up to here are set-up; the stream figures start after.
        deadline = time.monotonic() + 30
        while self.router.lastProgress is None and time.monotonic() < deadline:
            time.sleep(0.02)
        self.warm_batch = self.router.lastProgress["batchId"] if self.router.lastProgress else -1
        if self.run.tracer.enabled:
            from .trace import job_group_stats

            self.warm_run_ms = job_group_stats(spark, [str(self.router.runId)])["executor_run_ms"]

    def stage(self, spark):
        pass  # the router's spools are created by the warm-up

    def measure(self, spark, listener):
        from node_cdc_nats_spark.sources.nats import spool_list

        from .trace import job_group_stats

        run, tr = self.run, self.run.tracer
        t0 = time.perf_counter_ns()
        col = Collector(self.spool_out, t0, self.warm_segments)
        col.start()
        lags: list[int] = []
        try:
            with tr.span("cdc.stream_phase"):
                producer = threading.Thread(target=self._produce, args=(t0, lags), name="generator")
                producer.start()
                producer.join()
                col.wait_for(self.stream_copies, self.router, DEADLINE_S)
        finally:
            col.halt.set()
            col.join(timeout=30)
            exc = self.router.exception() if not self.router.isActive else None
            self.router.stop()
        if exc is not None:
            run.fail(1, [f"router query died: {str(exc)[:300]}"])
        self._check(col.frames)
        self._report_stream(lags, listener)
        if tr.enabled:
            ran = job_group_stats(spark, [str(self.router.runId)])["executor_run_ms"] - self.warm_run_ms
            run.layers["nats.router.task_us_per_msg"] = ran * 1e3 / self.n_stream
            names = spool_list(self.spool_out)
            run.layers["nats.spool.segments"] = len(names)
            run.layers["nats.spool.bytes_per_msg"] = (
                sum(os.path.getsize(os.path.join(self.spool_out, f)) for f in names) / max(len(col.frames), 1)
            )
        run.e2e["throughput_per_s"] = self._facade_phase()
        lat = self._rpc_phase()
        L = run.layers
        L["client.rpc_p50_us"] = stats.median(lat) * 1e6
        L["client.rpc_p99_us"] = stats.percentile(lat, 99) * 1e6
        run.detail["facade"] = {
            "msgs": FACADE_MSGS * self.facade_cycles, "msgs_per_s": round(run.e2e["throughput_per_s"], 2), "rpcs": RPCS,
            "rpc_p50_us": round(L["client.rpc_p50_us"], 2), "rpc_p99_us": round(L["client.rpc_p99_us"], 2),
        }

    # -- stream phase ----------------------------------------------------------
    def _produce(self, t0, lags):
        """Write every envelope due by each tick as one segment."""
        from node_cdc_nats_spark.sources.nats import frame_messages

        n, i, seq = len(self.wire), 0, 0
        per_ns = 1_000_000_000 / RATE
        while i < n:
            seq += 1
            delay = (t0 + int(seq * TICK_S * 1e9) - time.perf_counter_ns()) / 1e9
            if delay > 0:
                time.sleep(delay)
            j = min(n, int((time.perf_counter_ns() - t0) // per_ns) + 1)
            if j <= i:
                continue
            _write_segment(self.spool_in, f"{seq:016d}-gen.seg", frame_messages(self.wire[i:j]))
            lags.append(time.perf_counter_ns() - t0 - int(i * per_ns))
            i = j

    def _check(self, frames):
        from node_cdc_nats_spark.functions.cdcmsg import decode_cdcmsg

        run = self.run
        self.decoded = []
        for env, recv in frames:
            m = decode_cdcmsg(env)
            self.decoded.append((m["reply"], m["payload"], recv))
        want = {k: v for k, v in self.expected.items() if k[1] < self.n_stream}
        run.attempted += self.stream_copies  # one per expected copy, as failures count
        failed, problems = check_deliveries(
            want, ((sid, p) for sid, p, _ in self.decoded), self.envs.payloads
        )
        run.fail(failed, [f"router: {p}" for p in problems])

    def _report_stream(self, lags, listener):
        run = self.run
        lo = WARMUP_S * 1_000_000_000
        hi = lo + run.seconds * 1_000_000_000
        window = []
        for _, payload, recv in self.decoded:
            due = gen.due_of(payload)
            if lo <= due < hi:
                window.append((due, (recv - due) / 1e6))
        if not window:
            run.fail(1, ["no routed copy arrived inside the measured window"])
            return
        lat = [ms for _, ms in window]
        run.e2e["latency_p50_ms"] = stats.median(lat)
        run.e2e["latency_p99_ms"] = stats.percentile(lat, 99)
        half = (hi - lo) // 2
        p_first = stats.median([ms for due, ms in window if due < lo + half])
        p_last = stats.median([ms for due, ms in window if due >= lo + half])
        bound = _bound(run.root, "latency_p50_ms")
        run.detail["stream"] = {
            "rate_per_s": RATE, "window_s": run.seconds, "samples": len(lat),
            "delivered_per_s": round(stats.rate(
                sum(1 for _, _, recv in self.decoded if lo <= recv < hi), run.seconds), 2),
            "first_half_p50_ms": round(p_first, 3), "last_half_p50_ms": round(p_last, 3),
            "generator_lag_ms": {
                "p50": round(stats.median(lags) / 1e6, 3),
                "p99": round(stats.percentile(lags, 99) / 1e6, 3),
                "max": round(max(lags) / 1e6, 3),
            },
        }
        if p_last > p_first * (1 + bound):
            run.fail(1, [f"growing backlog: second-half p50 {p_last:.1f} ms > first-half "
                         f"{p_first:.1f} ms x (1 + {bound})"])
        if listener is None:
            return
        ev = [e for e in listener.for_run(str(self.router.runId))
              if e["rows"] and e["batch_id"] > self.warm_batch]
        if not ev:
            return

        def phase(name, q=50, events=ev):
            return stats.percentile([e["duration_ms"].get(name, 0) for e in events], q)

        L = run.layers
        run.detail["stream"]["trigger_ms"] = [e["duration_ms"].get("triggerExecution") for e in ev]
        L["stream.trigger_p50_ms"] = phase("triggerExecution")
        L["stream.trigger_p99_ms"] = phase("triggerExecution", 99)
        L["stream.add_batch_ms"] = phase("addBatch")
        L["stream.query_planning_ms"] = phase("queryPlanning")
        L["stream.wal_commit_ms"] = phase("walCommit")
        L["stream.commit_offsets_ms"] = phase("commitOffsets")
        L["stream.triggers"] = len(ev)
        L["stream.rows_per_trigger"] = stats.median([e["rows"] for e in ev])
        L["nats.reader.latest_offset_ms"] = phase("latestOffset")
        L["nats.reader.latest_offset_last_ms"] = phase("latestOffset", events=ev[-max(1, len(ev) // 3):])

    # -- client facade -------------------------------------------------------------
    def _facade_phase(self) -> float:
        """Publish the first ``FACADE_MSGS`` envelopes through the facade
        with the same subscriptions, cycle after cycle, until ``FACADE_S``
        seconds of publishing are done, and check each cycle's deliveries
        outside the clock. Returns messages per second of publishing. The
        host's speed for this single-threaded loop swings by up to 2x every
        few seconds, so the rate is taken over several seconds, not per
        chunk. A traced run makes one cycle: its spans stay in memory."""
        from node_cdc_nats_spark import client

        run, tr = self.run, self.run.tracer
        got = []

        def deliver_to(sid):
            # one-parameter callback: the facade passes (msg, subject, sid)
            # truncated to the callback's arity
            def cb(msg):
                with tr.span("client.callback"):
                    got.append((sid, msg["payload"]))

            return cb

        saved = (client.encode_cdcmsg, client.decode_cdcmsg, client.matches)
        if tr.enabled:
            client.encode_cdcmsg = tr.wrap(saved[0], "cdcmsg.encode")
            client.decode_cdcmsg = tr.wrap(saved[1], "cdcmsg.decode")
            client.matches = tr.wrap(saved[2], "mqtt.match")
        chans, pays = self.envs.channels, self.envs.payloads
        want = {k: v for k, v in self.expected.items() if k[1] < FACADE_MSGS}
        budget_s = 0 if tr.enabled else FACADE_S
        busy_s, cycles = 0.0, 0
        try:
            conn = client.connect(client.LocalBroker())
            for sid, pattern in gen.SUBSCRIPTIONS:
                conn.subscribe(pattern, deliver_to(sid))
            while cycles == 0 or busy_s < budget_s:
                got.clear()
                t0 = time.perf_counter()
                for i in range(FACADE_MSGS):
                    env = client.make_envelope(chans[i], pays[i])
                    with tr.span("client.publish"):
                        conn.publish("bench", env)
                busy_s += time.perf_counter() - t0
                cycles += 1
                run.attempted += sum(want.values())
                failed, problems = check_deliveries(want, got, pays)
                run.fail(failed, [f"facade cycle {cycles}: {p}" for p in problems])
            conn.close()
        finally:
            client.encode_cdcmsg, client.decode_cdcmsg, client.matches = saved
        self.facade_cycles = cycles
        return stats.rate(FACADE_MSGS * cycles, busy_s)

    def _rpc_phase(self) -> list[float]:
        """``RPCS`` request/response round trips against a responder client
        that echoes the request payload; returns the latencies."""
        from node_cdc_nats_spark import client

        run, tr = self.run, self.run.tracer
        broker = client.LocalBroker()
        requester, responder = client.connect(broker), client.connect(broker)

        def answer(msg):
            k = msg["channel"].rsplit("/", 1)[1]
            responder.publish("bench", client.make_envelope(f"rpc/res/{k}", msg["payload"]))

        responder.subscribe("rpc/req/+", answer)
        if tr.enabled:
            requester.publish = tr.wrap(requester.publish, "client.rpc.publish")
        pays = self.envs.payloads
        lat, bad = [], 0
        for k in range(RPCS):
            p = pays[k % len(pays)]
            t0 = time.perf_counter()
            with tr.span("client.rpc"):
                res = requester.rpc(f"rpc/req/{k}", f"rpc/res/{k}", client.make_envelope(f"rpc/req/{k}", p))
            lat.append(time.perf_counter() - t0)
            if not isinstance(res, dict) or res.get("code") == 408 or res.get("payload") != p:
                bad += 1
        requester.close()
        responder.close()
        run.attempted += RPCS
        if bad:
            run.fail(bad, [f"rpc: {bad} round trips timed out or returned a wrong payload"])
        return lat
