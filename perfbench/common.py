"""Harness pieces shared by the workloads: the run's scratch directory,
the Spark session, memory sampling, run-health markers, statistics and
span tracing."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Everything a run writes lives under this directory of the checkout.
WORK_ROOT = os.path.join(ROOT, ".perfbench")

LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.console.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex
appender.tasks.type = File
appender.tasks.name = tasks
appender.tasks.fileName = {task_log}
appender.tasks.layout.type = PatternLayout
appender.tasks.layout.pattern = %d{UNIX_MILLIS} %m%n
logger.tasks.name = org.apache.spark.scheduler.TaskSetManager
logger.tasks.level = warn
logger.tasks.additivity = false
logger.tasks.appenderRef.tasks.ref = tasks
"""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Work:
    """One run's scratch directory, ``.perfbench/<workload>-<seed>-<pid>``
    under the checkout. The engine's temp and staging roots point
    here, so a run writes nothing outside the checkout.

    ``SBP_STAGING_DIR`` also replaces the engine's default tmpfs
    (``/dev/shm``) staging of streaming checkpoint metadata, so the
    f-query drains behind ``streaming.pipeline.*`` stage on the disk of
    the checkout, a path the engine does not take by default."""

    def __init__(self, workload: str, seed: int) -> None:
        self.dir = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        for sub in ("tmp", "staging", "local", "eventlog"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        self.task_log = self.path("tasks.log")
        with open(self.path("log4j2.properties"), "w") as fh:
            fh.write(LOG4J.replace("{task_log}", self.task_log))
        os.environ.update(
            TMPDIR=self.path("tmp"),
            SBP_STAGING_DIR=self.path("staging"),
            SPARK_LOCAL_DIRS=self.path("local"),
            SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
            SPARK_GRAFT_CPUS=str(nproc()),
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def build_session(work: Work, *, fair: bool, trace: bool, app: str):
    """The engine's own session factory with the run's paths: UI off,
    local dirs, JVM temp and log4j config inside the work dir, the
    event log on in traced runs only."""
    from streamandbatchprocessing_spark.session import build_spark

    java_opts = (
        f"-Djava.io.tmpdir={work.path('tmp')} -XX:-UsePerfData "
        f"-Dlog4j2.configurationFile=file:{work.path('log4j2.properties')}"
    )
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work.path("local"),
        "spark.sql.warehouse.dir": work.path("warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + work.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_spark(app_name=app, enable_fair_scheduler=fair, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    return proc.pid if proc is not None else None


def shutdown_jvm() -> None:
    """Stop the active context and the driver JVM, and wait for the JVM
    process to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context  # noqa: SLF001
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples the resident memory of this process plus the driver JVM
    every 50 ms; ``peak_mb`` is the largest sum seen."""

    def __init__(self) -> None:
        self.jvm: int | None = None
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.05):
            self.peak_mb = max(self.peak_mb, rss_mb(me) + rss_mb(self.jvm))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb


def _spin(_: int = 0) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc ^= i * 2654435761 & 0xFFFFFFFF
    return time.perf_counter() - t0


def health() -> dict:
    """Run-health marker: a fixed pure-Python CPU probe run on every
    core at once (the slowest copy), and the host's load averages. A
    host that is busy or short of cores shows up as a slow probe."""
    import multiprocessing

    n = nproc()
    with multiprocessing.get_context("fork").Pool(n) as pool:
        probe = max(pool.map(_spin, range(n)))
    try:
        with open("/proc/loadavg") as fh:
            load = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        load = []
    return {"cpu_probe_s": round(probe, 4), "loadavg": load}


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100); 0.0 when empty."""
    vals = sorted(values)
    if not vals:
        return 0.0
    if len(vals) == 1:
        return float(vals[0])
    k = (len(vals) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (k - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory spans around the benchmark's calls into the engine's
    public functions. Each span has a name, start, end, parent span and
    the id of the operation it belongs to; spans nest per thread.
    ``on(False)`` turns recording off for the calling thread, which is
    how a traced run interleaves untraced operations to price the
    tracing itself. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack, self._tls.on, self._tls.op = [], True, None
        return self._tls.stack

    @contextlib.contextmanager
    def on(self, flag: bool):
        self._stack()
        prev, self._tls.on = self._tls.on, flag
        try:
            yield
        finally:
            self._tls.on = prev

    @contextlib.contextmanager
    def op(self, name: str):
        """A top-level operation span with a fresh operation id."""
        self._stack()
        prev, self._tls.op = self._tls.op, next(self._ops)
        try:
            with self.span(name):
                yield
        finally:
            self._tls.op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        if not (self.enabled and self._tls.on):
            yield
            return
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, self._tls.op))

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the time its child
        spans cover."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s.name, []).append(s.end - s.start - child.get(s.id, 0.0))
        return out

    def dump(self, path: str, t0: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
                }) + "\n")
