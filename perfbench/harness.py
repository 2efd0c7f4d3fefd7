"""Run scaffolding shared by the workloads: scratch policy, session
lifecycle, the host record, span recording and the Spark event log.

Importing this module starts nothing; :func:`prepare_env` must run
before ``masd_spark`` is imported, because the engine reads its CPU
count and scratch locations from the environment at import time.
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import os
import subprocess
import sys
import time
from dataclasses import asdict, dataclass, field

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of host memory, between 1 and 4 GiB: the inputs are
    MB-sized and the host is shared, so more buys nothing."""
    return max(1024, min(4096, mem_total_bytes() // 4 // 2**20))


def prepare_env(scratch: str) -> None:
    """Point every scratch location of Python, the JVM and the engine at
    ``scratch`` (inside the checkout) and fix the engine's CPU count."""
    for sub in ("tmp", "spark-local", "masd-scratch"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["MASD_SCRATCH"] = os.path.join(scratch, "masd-scratch")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_confs(scratch: str, event_log: bool) -> dict[str, str]:
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        log_dir = os.path.join(scratch, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return confs


def start_session(scratch: str, event_log: bool = False):
    """``get_spark`` plus the first action, including the launch of the
    JVM; returns (session, start, end) in epoch seconds. The Python
    imports happen before the clock starts."""
    from masd_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(
        app_name="perfbench",
        driver_memory=f"{driver_memory_mb()}m",
        extra_confs=session_confs(scratch, event_log),
    )
    spark.range(0, 100_000, numPartitions=nproc()).selectExpr("sum(id)").collect()
    return spark, t0, time.time()


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits at EOF on its stdin
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def storage_bytes(spark) -> int:
    """Memory plus disk held by cached and checkpointed RDDs."""
    gc.collect()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def pass_plan(n: int, traced: bool) -> list[bool]:
    """Which of ``n`` timed passes record spans. An untraced run traces
    none. A traced run makes a multiple of four passes, at least four,
    untraced and traced in the order u t t u, repeated, so that the JVM's
    warm-up over the run weighs on both kinds alike and the tracing
    overhead is the ratio of their median times."""
    if not traced:
        return [False] * n
    n = max(4, -(-n // 4) * 4)
    return [i % 4 in (1, 2) for i in range(n)]


# -- host record --------------------------------------------------------------


def host_probe() -> dict[str, float]:
    """A fixed single-threaded CPU loop and a 64 MB memory copy, so a slow
    host window shows beside the numbers it slowed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    cpu_s = time.perf_counter() - t0
    a = np.ones(8_000_000)
    b = np.empty_like(a)
    t0 = time.perf_counter()
    for _ in range(8):
        np.copyto(b, a)
    copy_s = time.perf_counter() - t0
    return {
        "cpu_loop_s": round(cpu_s, 6),
        "mem_copy_gb_per_s": round(8 * 2 * a.nbytes / copy_s / 1e9, 3),
    }


def _git_sha() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, env=env,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _source_sha() -> str:
    """Hash of the engine's Python sources: identifies the code under test
    where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "masd_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def host_record(spark) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_bytes": mem_total_bytes(),
        "driver_memory_mb": driver_memory_mb(),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "commit": _git_sha(),
        "source_sha": _source_sha(),
    }


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str = ""


@dataclass
class Tracer:
    """In-memory spans around calls into the engine's layers. Disabled,
    it records nothing and costs one attribute check per span."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str = ""):
        """Span around the ``with`` body, child of the enclosing span."""
        if not self.enabled:
            yield
            return
        sp = self._new(name, layer, time.time(), self.current(), op)
        self._stack.append(sp.sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, op: str = "") -> int | None:
        """Record a finished span; returns its id (None when disabled)."""
        if not self.enabled:
            return None
        sp = self._new(name, layer, start, parent, op)
        sp.end = end
        return sp.sid

    def _new(self, name: str, layer: str, start: float, parent: int | None, op: str) -> Span:
        sp = Span(len(self.spans), name, layer, start, parent=parent, op=op)
        self.spans.append(sp)
        return sp

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children. The
        benchmark's own container spans (layer ``bench``) are left out."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered, cur = 0.0, sp.start
            for k in sorted(kids.get(sp.sid, []), key=lambda k: k.start):
                lo, hi = max(k.start, cur), min(k.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - covered
        out.pop("bench", None)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# -- event log ---------------------------------------------------------------

# Task metric -> per-layer metric name (summed over tasks)
_TASK_SUMS = {
    "Executor Run Time": "operators.executor_run_ms",
    "JVM GC Time": "operators.jvm_gc_ms",
    "Memory Bytes Spilled": "operators.spill_bytes",
}
# SQL metric display names of the Python-worker nodes (MapInArrow & co.);
# the two times are millisecond timing metrics
PY_METRICS = {
    "time to run Python workers": "operators.python_total_ms",
    "time to start Python workers": "operators.python_boot_ms",
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_received",
}


def event_log_metrics(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Per job group: task-level totals of the jobs, read from the
    uncompressed event log of application ``app_id``, rolled
    (``eventlog_v2_<app>/events_<n>_<app>``) or not. A streaming query's
    jobs carry its ``runId`` as their group."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = [n for n in os.listdir(rolled) if n.startswith("events_")]
        paths = [os.path.join(rolled, n)
                 for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        paths = [os.path.join(log_dir, app_id)]
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    groups: dict[str, dict[str, float]] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[group] = jobs.get(group, 0) + 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                g = groups.setdefault(group, {})
                g["operators.stages"] = g.get("operators.stages", 0) + 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is not None:
                _add_task(groups.setdefault(group, {}), ev)
    for group, n in jobs.items():
        groups.setdefault(group, {})["operators.jobs"] = n
    return groups


def _lines(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            yield from fh


def _add_task(g: dict[str, float], ev: dict) -> None:
    def add(key: str, v: float) -> None:
        g[key] = g.get(key, 0) + v

    add("operators.tasks", 1)
    tm = ev.get("Task Metrics") or {}
    for src, dst in _TASK_SUMS.items():
        add(dst, tm.get(src, 0))
    add("operators.executor_cpu_ms", tm.get("Executor CPU Time", 0) / 1e6)
    add("operators.spill_bytes", tm.get("Disk Bytes Spilled", 0))
    g["operators.peak_exec_memory_bytes"] = max(
        g.get("operators.peak_exec_memory_bytes", 0), tm.get("Peak Execution Memory", 0)
    )
    rd = tm.get("Shuffle Read Metrics") or {}
    add(
        "operators.shuffle_read_bytes",
        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
    )
    add(
        "operators.shuffle_write_bytes",
        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
    )
    inp = tm.get("Input Metrics") or {}
    add("sources.input_bytes", inp.get("Bytes Read", 0))
    add("sources.input_rows", inp.get("Records Read", 0))
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        dst = PY_METRICS.get(acc.get("Name"))
        if dst is not None:
            add(dst, float(acc.get("Update") or 0))

