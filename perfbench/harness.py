"""Shared benchmark plumbing: run directory, Spark session, spans, Spark
job-group counters, process-tree memory sampling and small statistics.

Nothing here reaches into ``icrawler_spark`` internals: the session comes
from ``session.get_spark`` and every counter is read from outside (Spark's
status tracker, ``RoundMetrics``, files on disk, ``/proc``).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import uuid
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    s = sorted(values)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


# --- run directory and session ----------------------------------------------------


def make_run_dir(workload: str) -> Path:
    """Per-run scratch inside the checkout. Spark scratch, temp files and the
    JVM's temp dir all point here, so a run writes nowhere else."""
    run_dir = WORK_ROOT / f"{workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # no .pyc files in the checkout
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


def start_session(run_dir: Path, cpus: int):
    """``get_spark`` on a fixed local[nproc] with shuffle partitions sized to
    it, console progress bars off and every scratch path inside ``run_dir``."""
    from icrawler_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM it launched and wait until every process the
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(_tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# --- spans ------------------------------------------------------------------------


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    Disabled tracers hand out ``nullcontext`` so untraced runs pay one
    attribute check per span site. ``overhead_s`` accumulates the time the
    tracer itself spends on bookkeeping and counter reads — the cost a traced
    run adds over an untraced one."""

    enabled: bool
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list = field(default_factory=list)

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        t_in = time.perf_counter()
        rec = {
            "span_id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["span_id"] if self._stack else None,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, ensure_ascii=False) + "\n")


# --- Spark job groups ----------------------------------------------------------------


class JobCounter:
    """Exact Spark job/stage/task counts per operation, read from the status
    tracker through a job group the benchmark sets around each operation."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.per_op: list[dict] = []
        self._n = 0

    @contextmanager
    def op(self, kind: str):
        if not self.tracer.enabled:
            yield
            return
        self._n += 1
        group = f"perfbench-{kind}-{self._n}"
        self.sc.setJobGroup(group, kind)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.sc.setJobGroup("perfbench-idle", "idle")
            self.per_op.append({"kind": kind, **self.counts(group)})
            self.tracer.overhead_s += time.perf_counter() - t0

    def counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages, tasks = set(), 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and sid not in stages:
                    stages.add(sid)
                    tasks += si.numTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def median_of(self, key: str, kind: str | None = None) -> float:
        vals = [o[key] for o in self.per_op if kind is None or o["kind"] == kind]
        return median(vals) if vals else 0.0


# --- process-tree memory -----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree_pids(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_seconds(root_pid: int | None = None) -> float:
    """CPU time (user + system, including reaped children) of a process and
    all its live descendants. Unlike wall time it does not grow while the
    host keeps the machine's CPUs from running, so it tracks the work the
    program does."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(b")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the RSS of this process and all descendants
    (driver JVM, Python workers, the load generator). No psutil: /proc."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


# --- results ---------------------------------------------------------------------------


@dataclass
class Result:
    """What a workload hands back to ``run.py``.

    ``e2e``     the contract's end-to-end metrics (name → value)
    ``named``   the workload's user-facing metrics under their own names,
                as name → (value, unit)
    ``layers``  per-layer metrics of a traced run, name → (value, unit)
    """

    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """One correctness gate: counts toward attempted, and failed if not ok."""
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
