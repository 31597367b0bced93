"""Run scaffolding shared by the workloads: the checkout-local work
directory, cold set-up, host context and peak-memory sampling."""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time


class Run:
    """Per-run state: paths, tracer, accumulated failures and metrics."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, tracer):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.outside: list[str] = []  # paths the engine made outside the work directory
        self._seq = 0

    def path(self, name: str) -> str:
        """A fresh path under the work directory."""
        self._seq += 1
        return os.path.join(self.work, f"{self._seq:04d}-{name}")

    def fail(self, n: int, problems) -> None:
        self.failed += n
        self.problems.extend(problems)

    def cleanup(self) -> None:
        for path in [self.work, *self.outside]:
            shutil.rmtree(path, ignore_errors=True)


def configure_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout, and pin
    the engine's CPU count to this host's unless the caller set it. The
    driver heap is left at the engine's default."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM to
    exit; the Python workers it started exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def setup(run: Run, since: float, workload):
    """Set the engine up once, cold, and return (spark, seconds).

    Timed from ``since`` (process start plus input generation, which is the
    benchmark's own work): JVM launch, imports, session, ``registry.load_all``
    (for workloads that run registered queries), the ``nats_cdc`` format
    registration, then the workload's ``stage(spark)`` and ``warmup(spark)``. Every run is a fresh process, so
    this is the cold start a user pays; it is measured once per run because
    a second cold start needs a second JVM."""
    from node_cdc_nats_spark import registry
    from node_cdc_nats_spark.session import get_spark
    from node_cdc_nats_spark.sources.nats import register_nats_source

    tr = run.tracer
    with tr.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{run.workload}")
    with tr.span("registry.load_all"):
        if workload.needs_registry:
            registry.load_all()
        register_nats_source(spark)
    with tr.span("streaming.source.stage_events"):
        workload.stage(spark)
    with tr.span("operators.warmup"):
        workload.warmup(spark)
    return spark, time.perf_counter() - since


class RssSampler:
    """Peak summed resident memory of this process and all its descendants
    (the driver JVM and the Python workers), sampled every 100 ms."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            self._stop.wait(0.1)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def tree_rss_kb(root_pid: int) -> int:
    parents: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we looked
        pid = int(entry)
        parents[pid] = int(fields[1])
        rss[pid] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    total = 0
    for pid in rss:
        p = pid
        while p > 1 and p != root_pid:
            p = parents.get(p, 0)
        if p == root_pid:
            total += rss[pid]
    return total


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time since boot, summed over all CPUs. The steal
    share between two readings is how much of the host the hypervisor gave
    to other guests meanwhile."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def host_context(spark=None) -> dict:
    ctx = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg": list(os.getloadavg()),
        "cpu_jiffies": cpu_jiffies(),
    }
    try:
        import pyspark

        ctx["pyspark"] = pyspark.__version__
    except ImportError:
        ctx["pyspark"] = None
    if spark is not None:
        ctx["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return ctx
