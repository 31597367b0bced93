"""Metric declarations: the end-to-end metrics every plain run reports, and
the per-layer metrics of the traced run, each with the end-to-end metric
and workload it should move. ``BENCHMARK.json`` lists the same names;
``tests/test_metrics.py`` keeps the two in step."""

from __future__ import annotations

from typing import NamedTuple

from . import stats
from .batch_ops import FAMILIES
from .trace import summarize


class Metric(NamedTuple):
    name: str
    unit: str
    better: str
    moves: str = ""
    workload: str = ""


ALL = "all workloads"
C, O = "cdc", "batch_ops"

# Every workload reports every end-to-end metric; what "an operation" is
# differs per workload (see perfbench/README.md).
END_TO_END = (
    Metric("setup_s", "s", "lower"),
    Metric("peak_rss_mb", "MB", "lower"),
    Metric("latency_p50_ms", "ms", "lower"),
    Metric("latency_p99_ms", "ms", "lower"),
    Metric("throughput_per_s", "1/s", "higher"),
)


def _family(f: str) -> list[Metric]:
    wall = f"{f} share of throughput_per_s and latency_p50_ms/p99_ms"
    return [
        Metric(f"{f}.wall_s", "s", "lower", wall, O),
        Metric(f"{f}.build_s", "s", "lower", wall, O),
        Metric(f"{f}.action_s", "s", "lower", wall, O),
        Metric(f"{f}.jobs", "count", "lower", wall, O),
        Metric(f"{f}.stages", "count", "lower", wall, O),
        Metric(f"{f}.tasks", "count", "lower", wall, O),
        Metric(f"{f}.executor_run_s", "s", "lower", wall, O),
        Metric(f"{f}.fixed_overhead_share", "ratio", "lower", wall, O),
        Metric(f"{f}.shuffle_read_bytes", "B", "lower", wall, O),
        Metric(f"{f}.shuffle_write_bytes", "B", "lower", wall, O),
        Metric(f"{f}.spill_bytes", "B", "lower", wall, O),
    ]


_FIXPOINT = FAMILIES["fixpoint"]
_TWINS = FAMILIES["stream_twin"]
_FACADE = "throughput_per_s"
_RPC = "client.rpc_p50_us, client.rpc_p99_us"

PER_LAYER = tuple(
    [
        Metric("session.get_spark_s", "s", "lower", "setup_s", ALL),
        Metric("registry.load_all_s", "s", "lower", "setup_s", ALL),
        Metric("operators.warmup_s", "s", "lower", "setup_s", ALL),
        Metric("streaming.source.stage_events_s", "s", "lower", "setup_s", ALL),
        Metric("cdcmsg.encode_us", "us", "lower", f"{_FACADE}, {_RPC}", C),
        Metric("cdcmsg.decode_us", "us", "lower", f"{_FACADE}, {_RPC}", C),
        Metric("cdcmsg.calls", "count", "lower", f"{_FACADE}, {_RPC}", C),
        Metric("mqtt.match_us", "us", "lower", _FACADE, C),
        Metric("mqtt.match_calls_per_msg", "count", "lower", _FACADE, C),
        Metric("mqtt.hit_ratio", "ratio", "higher", _FACADE, C),
        Metric("client.dispatch_self_us", "us", "lower", f"{_FACADE}, {_RPC}", C),
        Metric("client.rpc_self_us", "us", "lower", _RPC, C),
        Metric("client.rpc_p50_us", "us", "lower", "itself: the facade's RPC round trip", C),
        Metric("client.rpc_p99_us", "us", "lower", "itself: the facade's RPC round trip", C),
        Metric("nats.router.task_us_per_msg", "us", "lower", "nothing (per-message cost under a fixed-cost trigger)", C),
        Metric("nats.spool.segments", "count", "lower", "latency_p50_ms (listing is O(segments))", C),
        Metric("nats.spool.bytes_per_msg", "B", "lower", "latency_p50_ms", C),
        Metric("nats.reader.latest_offset_ms", "ms", "lower", "latency_p50_ms", C),
        Metric("nats.reader.latest_offset_last_ms", "ms", "lower", "latency_p50_ms, latency_p99_ms", C),
        Metric("stream.add_batch_ms", "ms", "lower", "latency_p50_ms", C),
        Metric("stream.trigger_p50_ms", "ms", "lower", "latency_p50_ms", C),
        Metric("stream.trigger_p99_ms", "ms", "lower", "latency_p99_ms", C),
        Metric("stream.query_planning_ms", "ms", "lower", "latency_p50_ms", C),
        Metric("stream.wal_commit_ms", "ms", "lower", "latency_p50_ms", C),
        Metric("stream.commit_offsets_ms", "ms", "lower", "latency_p50_ms", C),
        Metric("stream.triggers", "count", "higher", "latency_p50_ms", C),
        Metric("stream.rows_per_trigger", "count", "lower", "latency_p50_ms, latency_p99_ms", C),
    ]
    + _family("fixpoint")
    + _family("single_pass")
    + _family("stream_twin")
    + [Metric(f"fixpoint.{q}.{k}", u, "lower", "fixpoint share of throughput_per_s, latency_p99_ms", O)
       for q in _FIXPOINT for k, u in (("jobs", "count"), ("build_s", "s"))]
    + [Metric(f"stream_twin.{q}.{k}", u, "lower", "stream_twin share of throughput_per_s", O)
       for q in _TWINS for k, u in (("trigger_ms", "ms"), ("triggers", "count"))]
    + [Metric(f"stream_twin.{k}", "ms", "lower", "stream_twin share of throughput_per_s", O)
       for k in ("query_planning_ms", "wal_commit_ms", "commit_offsets_ms")]
    + [Metric("cache.release_s", "s", "lower", "throughput_per_s", O)]
    + [Metric(f"traced.{m.name}", m.unit, m.better, f"tracing overhead on {m.name}", ALL)
       for m in END_TO_END]
)


def derive_layers(run) -> None:
    """Fill the span-derived per-layer metrics of a traced run: set-up
    phases, codec, matcher and facade self times, and the traced run's own
    end-to-end values (compare with a plain run for the tracing overhead)."""
    L = run.layers
    s = summarize(run.tracer.spans)

    def per_call(name, key="self_us"):
        rec = s.get(name)
        return rec[key] / rec["calls"] if rec and rec["calls"] else 0.0

    def median_total(name):
        durs = [(e - b) / 1e9 for n, b, e, _, _ in run.tracer.spans if n == name]
        return stats.median(durs) if durs else 0.0

    for layer in ("session.get_spark", "registry.load_all", "operators.warmup",
                  "streaming.source.stage_events"):
        L[f"{layer}_s"] = median_total(layer)
    calls = lambda n: s.get(n, {}).get("calls", 0)  # noqa: E731
    L["cdcmsg.encode_us"] = per_call("cdcmsg.encode")
    L["cdcmsg.decode_us"] = per_call("cdcmsg.decode")
    L["cdcmsg.calls"] = calls("cdcmsg.encode") + calls("cdcmsg.decode")
    L["mqtt.match_us"] = per_call("mqtt.match")
    published = calls("client.publish")
    L["mqtt.match_calls_per_msg"] = calls("mqtt.match") / published if published else 0.0
    L["mqtt.hit_ratio"] = calls("client.callback") / calls("mqtt.match") if calls("mqtt.match") else 0.0
    L["client.dispatch_self_us"] = per_call("client.publish")
    L["client.rpc_self_us"] = per_call("client.rpc")
    for m in END_TO_END:
        L[f"traced.{m.name}"] = run.e2e.get(m.name, 0.0)
