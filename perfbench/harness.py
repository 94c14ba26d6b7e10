"""Run context shared by the workloads: environment, Spark session, scratch
root, span tracer, timing helpers and the result record.

Nothing here imports pyspark or the package at import time; `prepare_env`
must run first so that the session and its Python workers see the
checkout on PYTHONPATH and the per-run scratch root as their temp dir.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A driver heap that fits the box: a quarter of RAM, 1 to 4 GiB."""
    with open("/proc/meminfo") as fh:
        kib = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // (4 * 1024 * 1024)))}g"


def prepare_env(scratch: str) -> None:
    """Point workers at the checkout and every temp dir at the scratch
    root. Must run before pyspark or the package is imported."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(scratch: str):
    from rocketmq_flink_spark.session import get_spark
    from rocketmq_flink_spark.sources import register

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData",
        },
    )
    register(spark)
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed below
            proc.kill()
            proc.wait(timeout=30)


class Tracer:
    """In-memory spans: name, start, end, parent span, run id. Disabled
    tracers record nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": uuid.uuid4().hex[:12], "name": name,
               "parent": stack[-1]["id"] if stack else None, "run": self.run_id}
        stack.append(rec)
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and "end" in s)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs, min_beyond: int = 10):
    """Highest percentile p in (50, 90, 99, 99.9, 99.99) that has at least
    `min_beyond` samples above it (nearest-rank); returns (p, value,
    samples beyond), or None when there are too few samples."""
    xs = sorted(xs)
    best = None
    for p in (50, 90, 99, 99.9, 99.99):
        i = max(0, math.ceil(len(xs) * p / 100) - 1)
        beyond = len(xs) - 1 - i
        if beyond >= min_beyond:
            best = (p, float(xs[i]), beyond)
    return best


class Run:
    """One benchmark invocation: its arguments, scratch root, tracer and
    the numbers and checks it collects."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 smoke: bool = False, wrong_expected: bool = False):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.smoke = smoke
        self.wrong_expected = wrong_expected
        self.run_id = f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
        self.scratch = os.path.join(RUNS_DIR, self.run_id)
        self.tracer = Tracer(trace, self.run_id)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.info: dict[str, tuple[float, str]] = {}
        self.meta: dict[str, object] = {}

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count one operation; a failed or incorrect one counts as failed."""
        return self.count(name, 1, 0 if ok else 1, detail) == 0

    def count(self, name: str, attempted: int, failed: int, detail: str = "") -> int:
        """Count `attempted` operations of which `failed` failed or were
        incorrect."""
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.failures.append(f"{name}: {failed} of {attempted}; {detail}")
        return failed

    def span(self, name: str):
        return self.tracer.span(name)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.scratch, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.scratch, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    @contextmanager
    def job_group(self, group: str):
        """Tag the Spark jobs launched inside the block with `group`."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def job_tasks(self, group: str) -> int:
        """Tasks of every stage of every job run under job group `group`."""
        tracker = self.spark.sparkContext.statusTracker()
        n = 0
        for jid in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(jid)
            for sid in (job.stageIds if job else []):
                stage = tracker.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass
