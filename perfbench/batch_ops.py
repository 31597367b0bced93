"""``batch_ops``: registered queries one at a time, each checked against
its DuckDB oracle. Closed loop: the next query starts when the previous
result is materialised. The seed sets the query order. Set-up runs
``WARM_PASSES`` unchecked passes over the list. Timed passes then repeat
until the run's seconds are used and at least ``MIN_PASSES`` passes are
done, and each query's wall is its median over passes. One pass takes
longer than a quarter of a 10 s run on this suite, so the floor fixes the
sample count per query and a faster or slower host does not change it."""

from __future__ import annotations

import random
import time

from . import gen, stats

# Three families: iterative (fixpoint) loops that issue many small jobs,
# single-pass queries that issue a few, and bounded runs of stateful
# streaming operators. A subset of each family, sized so one
# pass fits the run (see perfbench/README.md).
FAMILIES = {
    "fixpoint": ("graph_k_core", "graph_label_propagation"),
    "single_pass": ("q18_large_volume", "fanout_dispatch"),
    "stream_twin": ("stream_upsert",),
}
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}
# A fresh JVM is still compiling hot code for many passes: on a 4-core
# host the pass wall falls from about 6.5 s right after the cold pass to
# about 4.5 s five passes later. Set-up runs the cold pass and one more,
# so the timed passes start past the steepest part of that curve; six
# passes in all keep a run near a minute.
WARM_PASSES = 2
MIN_PASSES = 4


class BatchOps:
    name = "batch_ops"
    needs_registry = True

    def __init__(self, run):
        self.run = run
        self.data = None

    def generate(self):
        self.data = gen.write_tables(self.run.path("tables"))
        self.order = list(FAMILY_OF)
        random.Random(self.run.seed).shuffle(self.order)

    def warmup(self, spark):
        """Run every query ``WARM_PASSES`` times, unchecked and untimed: a
        fresh process pays code generation, JIT and Python-worker start on
        each query's first runs, and that cold cost belongs to set-up, not
        to the query."""
        from node_cdc_nats_spark import registry
        from node_cdc_nats_spark.cache import release_persisted

        for _ in range(WARM_PASSES):
            for q in self.order:
                registry.QUERIES[q](spark, self.data).collect()
                release_persisted()

    def stage(self, spark):
        from node_cdc_nats_spark.streaming import upsert
        from node_cdc_nats_spark.streaming.source import stage_events

        # The twin checkpoints to tmpfs, outside the checkout, and leaves the
        # directory behind. Record each one through the binding the twin
        # calls, so the run removes it when it ends.
        make_ckpt = upsert._ckpt_dir

        def recorded_ckpt_dir():
            path = make_ckpt()
            self.run.outside.append(path)
            return path

        upsert._ckpt_dir = recorded_ckpt_dir
        stage_events(spark, self.data, "time")  # cached per process, as the twins use it

    def measure(self, spark, listener):
        from node_cdc_nats_spark import registry
        from node_cdc_nats_spark.cache import release_persisted
        from tests.oracle_diff import duckdb_conn

        from .checks import check_rows
        from .trace import job_group_stats

        run, tr = self.run, self.run.tracer
        sc = spark.sparkContext
        walls: dict[str, list[float]] = {q: [] for q in self.order}
        parts: dict[str, list[tuple[float, float]]] = {q: [] for q in self.order}
        counters: dict[str, dict] = {}
        release_s = []
        con = duckdb_conn(self.data)
        start = time.perf_counter()
        passes = 0
        try:
            while passes < MIN_PASSES or time.perf_counter() - start < run.seconds:
                passes += 1
                for q in self.order:
                    group = f"perfbench-{q}-{passes}"
                    sc.setJobGroup(group, q)
                    seen = len(listener.events) if listener else 0
                    run.attempted += 1
                    fam = FAMILY_OF[q]
                    try:
                        t0 = time.perf_counter()
                        with tr.span(f"{fam}.build"):
                            df = registry.QUERIES[q](spark, self.data)
                        t1 = time.perf_counter()
                        with tr.span(f"{fam}.action"):
                            rows = [tuple(r) for r in df.collect()]
                        t2 = time.perf_counter()
                        cols = df.columns
                    except Exception as exc:  # a query that raises is a counted failure
                        run.fail(1, [f"{q}: raised {type(exc).__name__}: {str(exc)[:200]}"])
                        continue
                    finally:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                    with tr.span("cache.release"):
                        r0 = time.perf_counter()
                        release_persisted()
                        release_s.append(time.perf_counter() - r0)
                    walls[q].append(t2 - t0)
                    parts[q].append((t1 - t0, t2 - t1))
                    res = con.execute(registry.ORACLES[q])
                    problems = check_rows(q, cols, rows, [d[0] for d in res.description], res.fetchall())
                    if problems:
                        run.fail(1, problems)
                    if tr.enabled:
                        groups = [group]
                        if listener:
                            groups += sorted({e["run_id"] for e in listener.events[seen:]})
                        c = counters.setdefault(q, {})
                        for k, v in job_group_stats(spark, groups).items():
                            c[k] = c.get(k, 0) + v
                        if listener:
                            c["triggers"] = c.get("triggers", 0) + len(listener.events) - seen
                            for e in listener.events[seen:]:
                                for ph, ms in e["duration_ms"].items():
                                    c[f"ph_{ph}"] = c.get(f"ph_{ph}", 0) + ms
        finally:
            con.close()
        self.report(walls, parts, counters, release_s, passes)

    def report(self, walls, parts, counters, release_s, passes):
        run = self.run
        done = {q: stats.median(w) for q, w in walls.items() if w}
        if not done:
            return
        vals = list(done.values())
        run.e2e["latency_p50_ms"] = stats.median(vals) * 1e3
        run.e2e["latency_p99_ms"] = stats.percentile(vals, 99) * 1e3
        run.e2e["throughput_per_s"] = stats.rate(len(vals), sum(vals))
        fam_wall = {f: sum(done.get(q, 0.0) for q in qs) for f, qs in FAMILIES.items()}
        run.detail.update({
            "passes": passes,
            "order": self.order,
            "query_wall_s": {q: round(w, 4) for q, w in done.items()},
            "query_walls_by_pass_s": {q: [round(x, 4) for x in w] for q, w in walls.items()},
            **{f"{f}_wall_s": round(w, 4) for f, w in fam_wall.items()},
        })
        cores = int(run.detail.get("cores") or 1)
        L = run.layers
        for f, qs in FAMILIES.items():
            b = sum(stats.median([p[0] for p in parts[q]]) for q in qs if parts[q])
            a = sum(stats.median([p[1] for p in parts[q]]) for q in qs if parts[q])
            L[f"{f}.wall_s"] = fam_wall[f]
            L[f"{f}.build_s"] = b
            L[f"{f}.action_s"] = a
            c = {}
            for q in qs:
                for k, v in counters.get(q, {}).items():
                    c[k] = c.get(k, 0) + v / passes
            L[f"{f}.jobs"] = c.get("jobs", 0)
            L[f"{f}.stages"] = c.get("stages", 0)
            L[f"{f}.tasks"] = c.get("tasks", 0)
            L[f"{f}.executor_run_s"] = c.get("executor_run_ms", 0) / 1e3
            L[f"{f}.fixed_overhead_share"] = (
                1 - L[f"{f}.executor_run_s"] / (fam_wall[f] * cores) if fam_wall[f] else 0.0
            )
            L[f"{f}.shuffle_read_bytes"] = c.get("shuffle_read_bytes", 0)
            L[f"{f}.shuffle_write_bytes"] = c.get("shuffle_write_bytes", 0)
            L[f"{f}.spill_bytes"] = c.get("spill_bytes", 0)
        for q in FAMILIES["fixpoint"]:
            L[f"fixpoint.{q}.jobs"] = counters.get(q, {}).get("jobs", 0) / passes
            L[f"fixpoint.{q}.build_s"] = stats.median([p[0] for p in parts[q]]) if parts[q] else 0.0
        for q in FAMILIES["stream_twin"]:
            c = counters.get(q, {})
            L[f"stream_twin.{q}.trigger_ms"] = c.get("ph_triggerExecution", 0) / passes
            L[f"stream_twin.{q}.triggers"] = c.get("triggers", 0) / passes
        for ph, name in (("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                         ("commitOffsets", "commit_offsets_ms")):
            L[f"stream_twin.{name}"] = sum(
                counters.get(q, {}).get(f"ph_{ph}", 0) for q in FAMILIES["stream_twin"]
            ) / passes
        L["cache.release_s"] = sum(release_s) / passes
