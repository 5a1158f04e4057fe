"""Process-level plumbing shared by the workloads: host sizing, the
Spark session's lifetime, the process-tree RSS sampler, the drift
anchor, and the span tracer of the traced run."""

from __future__ import annotations

import functools
import os
import shlex
import statistics
import threading
import time
from contextlib import contextmanager


def host_env(root: str, run_dir: str, event_log: str | None) -> dict:
    """Size the engine to this host through the environment the session
    factory reads (cores = usable CPUs, driver heap = a quarter of
    MemTotal clamped to 1..8 GiB), keep Spark's and Python's scratch
    inside the run directory, and ship the repo to Python workers. The
    heap and its young generation get fixed sizes, so the JVM's resident
    memory follows live data instead of the collector's resizing
    decisions. With ``event_log`` set, Spark writes an uncompressed event
    log there."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = next(int(line.split()[1]) for line in fh
                       if line.startswith("MemTotal:"))
    heap_mib = max(1024, min(8192, mem_kib // 4 // 1024))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
             f"-XX:-UsePerfData -Xms{heap_mib}m -Xmn{heap_mib // 8}m"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{event_log}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mib}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": root,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell",
    }
    os.environ.update(env)
    return env


def start_spark():
    from openeo_odc_driver_spark.session import get_spark

    return get_spark("perfbench")


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (its exit signal)
    and wait for it, so no engine process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive us
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int) -> list:
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out += kids
        frontier += kids
    return out


def tree_rss_mb(pid: int | None = None) -> float:
    """Resident memory of ``pid`` and all its descendants (the Python
    driver, the JVM and the Python workers), from /proc."""
    pid = pid or os.getpid()
    total_kib = 0
    for p in [pid] + _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                total_kib += next(int(line.split()[1]) for line in fh
                                  if line.startswith("VmRSS:"))
        except (OSError, StopIteration):
            pass
    return total_kib / 1024


class RssSampler:
    """Peak process-tree RSS, sampled every ``period`` seconds while
    running (``with RssSampler() as s: ...; s.peak_mb``)."""

    def __init__(self, period: float = 0.1):
        self.period, self.peak_mb = period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def anchor_s(spark) -> float:
    """The fixed pure-JVM calibration query of ``bench.py`` (20M-row
    mod-key groupBy, no parquet, no Python workers), run once. A
    before/after diagnostic of host speed, never a metric."""
    t0 = time.perf_counter()
    (spark.range(0, 20_000_000)
     .selectExpr("id % 97 AS k", "CAST(id % 1021 AS DOUBLE) AS v")
     .groupBy("k").agg({"v": "sum"}).selectExpr("sum(`sum(v)`)")
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values)


class Tracer:
    """In-memory spans around the calls the benchmark makes into each
    layer. Every span sets the Spark local property ``perfbench.span``
    while open and every op sets ``perfbench.op``, so the event log's
    JobStart properties join each Spark job to its op and innermost
    span. Spans are kept in memory and written out at exit."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty("perfbench.span", str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "perfbench.span",
                str(self._stack[-1]) if self._stack else None)

    @contextmanager
    def op_span(self, op_id: str, **attrs):
        self.op = op_id
        self.sc.setLocalProperty("perfbench.op", op_id)
        try:
            with self.span("op", **attrs) as rec:
                yield rec
        finally:
            self.op = None
            self.sc.setLocalProperty("perfbench.op", None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)


class NullTracer:
    """The untraced run's stand-in: no spans, no properties."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs

    op_span = span
