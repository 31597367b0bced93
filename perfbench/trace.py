"""In-memory spans for the traced run, and the readers of Spark's own
progress and status APIs.

A span records name, start, end, parent and run id. Spans stay in memory
and are written out once, when the run ends. The plain (untraced) run uses
:data:`OFF`, whose ``span`` is a shared no-op, so the end-to-end numbers
carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple[str, int, int, int, str]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter_ns(), 0, st[-1] if st else -1, self.run_id))
        st.append(idx)
        try:
            yield
        finally:
            st.pop()
            rec = self.spans[idx]
            self.spans[idx] = (rec[0], rec[1], time.perf_counter_ns(), rec[3], rec[4])

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, run_id in self.spans:
                fh.write(json.dumps({
                    "name": name, "start_ns": start, "end_ns": end,
                    "parent": parent, "run_id": run_id,
                }) + "\n")


class _Off:
    enabled = False
    spans: list = []

    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, fn, name: str):
        return fn


OFF = _Off()


def self_times(spans) -> list[int]:
    """Per span: its duration minus the part of its interval covered by its
    direct children (overlapping children are merged, so concurrent child
    spans are not subtracted twice)."""
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for name, start, end, parent, _ in spans:
        if parent >= 0:
            children[parent].append((start, end))
    out = []
    for i, (_, start, end, _, _) in enumerate(spans):
        covered, cur_s, cur_e = 0, None, None
        for s, e in sorted(children.get(i, ())):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(end - start - covered)
    return out


def summarize(spans) -> dict[str, dict[str, float]]:
    """name -> {calls, total_us, self_us} over all spans of that name."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "total_us": 0.0, "self_us": 0.0})
    for (name, start, end, _, _), self_ns in zip(spans, selfs):
        rec = out[name]
        rec["calls"] += 1
        rec["total_us"] += (end - start) / 1e3
        rec["self_us"] += self_ns / 1e3
    return dict(out)


def make_progress_listener():
    """A StreamingQueryListener that keeps each trigger's ``durationMs``
    and input row count, keyed by the query's run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.events.append({
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def for_run(self, run_id: str) -> list[dict]:
            with self._lock:
                return [e for e in self.events if e["run_id"] == run_id]

    return ProgressLog()


def job_group_stats(spark, groups) -> dict[str, float]:
    """Jobs, stages, tasks, executor run time, shuffle and spill bytes of
    every job in the given job groups, from ``statusTracker`` and the status
    store (both work with the UI disabled). Skipped stages are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                attempts = store.stageData(stage_id, False, no_status, False, no_quantiles)
                it = attempts.iterator()
                while it.hasNext():
                    d = it.next()
                    if d.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                    out["executor_run_ms"] += d.executorRunTime()
                    out["shuffle_read_bytes"] += d.shuffleReadBytes()
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return out
