"""Run context shared by every workload: environment, session, host
probe, statistics, tracing spans and the result line."""

from __future__ import annotations

import bisect
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sparkstreaming_realtime_project_spark"


def prepare_environment(work: str) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    ``work`` (inside the checkout), and size the session to the host:
    ``SPARK_GRAFT_CPUS`` is the CPU count this process may run on."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # applies to every JVM spark-submit starts. A fixed set of JIT compiler
    # threads, started with the JVM and never retired, lets JvmCpu leave
    # out all of their CPU: a retired thread's last slice would otherwise
    # be counted as the program's.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    import tempfile

    tempfile.tempdir = tmp


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (``q`` in 0..1): stays inside the sample
    range, which matters for the small per-run samples of the stream
    workloads."""
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def calib_probe(spark) -> float:
    """bench.py's constant-work CPU probe (same expression, a quarter of
    its row count): one warm pass, then the median of three, in seconds.
    It moves only with host contention; it is recorded beside the
    metrics and never used to rescale them."""
    runs = []
    for i in range(4):
        start = time.perf_counter()
        spark.range(0, 16_000_000, 1, 32).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s"
        ).collect()
        if i:
            runs.append(time.perf_counter() - start)
    return statistics.median(runs)


def _cpu_s(stat_path: str) -> float:
    with open(stat_path, encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class JvmCpu:
    """Calling it gives the CPU seconds the Spark JVM has spent so far on
    the program's work: every thread, user and system, except the JIT
    compiler threads. In a run this short, compiling Spark's and the
    generated code takes about half the JVM's CPU and varies from run to
    run; it is a warm-up cost, not a cost of the work measured. Unlike
    wall time, CPU time does not grow while the hypervisor runs other
    tenants on this VM's cores."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self):
        from pyspark import SparkContext

        self._proc = f"/proc/{SparkContext._gateway.proc.pid}"
        self._names: dict[str, str] = {}
        self._jit: dict[str, float] = {}  # last reading of every compiler thread seen

    def __call__(self) -> float:
        total = _cpu_s(f"{self._proc}/stat")
        for tid in os.listdir(f"{self._proc}/task"):
            try:
                name = self._names.get(tid)
                if name is None:
                    with open(f"{self._proc}/task/{tid}/comm", encoding="utf-8") as fh:
                        name = self._names[tid] = fh.read().strip()
                if name.startswith(self.JIT_THREADS):
                    self._jit[tid] = _cpu_s(f"{self._proc}/task/{tid}/stat")
            except OSError:  # the thread ended
                continue
        return total - sum(self._jit.values())


class CpuSampler:
    """Samples :class:`JvmCpu` against wall-clock time every ``period``
    seconds on a background thread, so the CPU spent inside an interval
    known only afterwards (a micro-batch, from its progress timestamp and
    duration) can be read off by interpolation."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.samples: list[tuple[float, float]] = []
        self._cpu = JvmCpu()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.samples.append((time.time(), self._cpu()))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.samples.append((time.time(), self._cpu()))

    def _at(self, t: float) -> float:
        i = bisect.bisect_left(self.samples, (t,))
        if i == 0 or i == len(self.samples):
            raise ValueError(
                f"time {t} lies outside the sampled interval "
                f"{self.samples[0][0]}..{self.samples[-1][0]}"
            )
        (t0, c0), (t1, c1) = self.samples[i - 1], self.samples[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)

    def between(self, start: float, end: float) -> float:
        return self._at(end) - self._at(start)


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent id and
    attributes, all under one trace id per workload run. Disabled, every
    method is a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        if parent is None:
            stack = getattr(self._local, "stack", None)
            parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "trace": self.trace_id, "name": name, "start": start,
                 "end": end, "parent": parent, **attrs}
            )
        self.bookkeeping_s += time.perf_counter() - t0
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body as a child of this thread's open span, if any."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self.add(name, time.time(), 0.0, **attrs)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times_ms(self) -> dict[str, float]:
        """Per layer (first dotted component of a span name): the summed
        span durations minus the part of each interval its children
        cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + 1000 * (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class Run:
    """One workload run: its scratch directory, session, timers, checks
    and result."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(ROOT, "perfbench", ".work", f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(trace, f"{workload}-{seed}-{int(time.time())}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: dict = {}
        self.spark = None
        self.session_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        from sparkstreaming_realtime_project_spark.session import get_spark

        t0, w0 = time.perf_counter(), time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tracer.add("session.start", w0, time.time())
        return self.spark

    def check(self, ok: bool, what: str, n_ops: int = 1) -> bool:
        """Count ``n_ops`` attempted operations; all of them fail when the
        output check ``ok`` does not hold."""
        self.attempted += n_ops
        if not ok:
            self.failed += n_ops
            self.problems.append(what)
        return ok

    def jvm_peak_rss_mb(self) -> float:
        proc = self.spark.sparkContext._gateway.proc
        with open(f"/proc/{proc.pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def finish(self, metrics: dict[str, tuple[float, str]]) -> str:
        """The result line: ``correct``/``attempted``/``failed`` plus every
        metric as {value, unit}."""
        return json.dumps(
            {
                "correct": self.failed == 0 and self.attempted > 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )

    def cleanup(self) -> None:
        """Stop the session, end the JVM and wait for it, then remove the
        scratch directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
