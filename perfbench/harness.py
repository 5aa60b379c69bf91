"""Shared plumbing for the workloads: the run's scratch directory, the Spark
session, spans for the traced run, percentiles and the result line.

Nothing here reaches into the package under test beyond its public entry
points; the traced run wraps calls from the benchmark's side only.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from collections import defaultdict

# The checkout root: the directory that holds the package under test.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Tracer:
    """In-memory spans, read out when the run ends.

    A span is (name, start, end, parent); the parent is the span open on the
    same thread when it started, so a layer's self time is its duration minus
    the part its children cover. With ``enabled=False`` every call is a no-op
    apart from the caller's own timing, so the plain run pays nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    def wrap(self, name: str, fn):
        """Return ``fn`` wrapped in a span called ``name``."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            stack = getattr(self._stack, "ids", None)
            if stack is None:
                stack = self._stack.ids = []
            with self._lock:
                idx = len(self.spans)
                self.spans.append((name, time.perf_counter(), 0.0, stack[-1] if stack else None))
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                with self._lock:
                    n, t0, _, parent = self.spans[idx]
                    self.spans[idx] = (n, t0, time.perf_counter(), parent)

        return traced

    def durations_ms(self, name: str, since: float = 0.0) -> list[float]:
        """Durations of the ``name`` spans that started at or after
        ``since`` (a ``time.perf_counter`` reading)."""
        return [(e - s) * 1e3 for n, s, e, _ in self.spans if n == name and e and s >= since]

    def self_ms(self, name: str, since: float = 0.0) -> list[float]:
        """Duration of each ``name`` span minus the time its direct children
        cover (children of one span run on its thread, so they never
        overlap)."""
        child_ms: dict[int, float] = defaultdict(float)
        for n, s, e, parent in self.spans:
            if parent is not None and e:
                child_ms[parent] += (e - s) * 1e3
        return [
            (e - s) * 1e3 - child_ms[i]
            for i, (n, s, e, _) in enumerate(self.spans)
            if n == name and e and s >= since
        ]


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Percentile (q in 0..100) of a sample, interpolating linearly between
    the two nearest ranks, so a percentile that falls between two groups of
    values moves smoothly instead of jumping from one group to the other."""
    values = sorted(values)
    if not values:
        return 0.0
    pos = (len(values) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(values) - 1)
    return float(values[lo] + (values[hi] - values[lo]) * (pos - lo))


class Run:
    """One benchmark run: scratch directory, Spark session, tracer, results.

    Every directory the run writes lives under ``<checkout>/.perfbench_work``
    and is removed by :meth:`close`, so repeated runs never fill the disk.
    """

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.trace = trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.spark = None
        self.env_before: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """Start the engine's own session factory on ``local[nproc]``, with
        every file Spark writes kept inside the run's scratch directory."""
        cpus = str(os.cpu_count() or 1)
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        local = self.path("spark-local")
        os.makedirs(local)
        os.environ["SPARK_LOCAL_DIRS"] = local
        import bench  # the repo's own machine-load stamp

        self.env_before = bench._env_stamp()
        t0 = time.perf_counter()
        from postgres_cdc_example_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}"
                f" -Dderby.system.home={local}",
                "spark.sql.streaming.stopTimeout": "30s",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        return self.spark

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.notes.append(why)

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            # The JVM exits when its stdin closes; wait for it, so no process
            # of the run outlives it.
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                gateway.shutdown()
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        try:
            os.rmdir(parent)  # only when no concurrent run still uses it
        except OSError:
            pass

    def result(self, e2e_names: list[str], layer_names: list[str]) -> dict:
        if self.trace:  # the traced run's own end-to-end numbers show its overhead
            for name, value in self.e2e.items():
                self.layer.setdefault(f"traced.{name}", value)
        names = layer_names if self.trace else e2e_names
        source = self.layer if self.trace else self.e2e
        metrics = {}
        for name, unit in names:
            metrics[name] = {"value": float(source.get(name, 0.0)), "unit": unit}
        return {
            "correct": self.failed == 0,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": metrics,
        }
