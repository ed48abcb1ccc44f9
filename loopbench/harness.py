"""Run plumbing shared by every workload: the Spark session's life cycle,
host context, memory high-water marks, latency statistics and failure
accounting.

Nothing here starts a thread.  The session runs at ``local[nproc // 2]``
(see ``spark_cores``), with every scratch file (Spark local dirs, JVM and Python temp
files, event logs) inside the run's work directory.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

#: iterations of the CPU probe; bench.py's probe runs 20M, so the reported
#: figure is scaled by 20M / PROBE_N to read on bench.py's scale
PROBE_N = 2_000_000


def cpu_probe_s() -> float:
    """bench.py's pure-Python CPU probe (sum i*i), on a tenth of its
    iterations, reported on bench.py's 20M scale (~1.25 s = healthy)."""
    t0 = time.perf_counter()
    sum(i * i for i in range(PROBE_N))
    return round((time.perf_counter() - t0) * 20_000_000 / PROBE_N, 3)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots of the session: half the host's cores.  The other half
    runs what a run needs beside the tasks (this process, the JVM's
    driver, JIT and GC threads, the Python workers), so a task never
    waits for a core those hold, nor for one the host lends elsewhere."""
    return max(1, nproc() // 2)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB; 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _proc_cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process and by ``root`` with all
    its live descendants (the JVM and its Python workers); children that
    exited are in their parent's cutime/cstime."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    ticks = 0
    for pid in tree:
        try:
            ticks += _proc_cpu_ticks(pid)
        except OSError:
            continue
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float | None, float | None, int]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, n); (None, None, n) when n <= 10."""
    n = len(xs)
    if n <= 10:
        return None, None, n
    s = sorted(xs)
    k = n - 11  # index with exactly ten samples above it
    return round(100.0 * (k + 1) / n, 1), s[k], n


@dataclass
class Ops:
    """Attempted/failed counts per operation kind.  A raised exception is
    one failed operation; the run goes on."""

    attempted: dict[str, int] = field(default_factory=dict)
    failed: dict[str, int] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def run(self, kind: str, fn: Callable, *args, **kwargs):
        """Call ``fn``; returns (ok, result, seconds)."""
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - counted and reported
            dt = time.perf_counter() - t0
            self.failed[kind] = self.failed.get(kind, 0) + 1
            first = str(exc).strip().splitlines()[0] if str(exc).strip() else ""
            self.errors.append(f"{kind}: {type(exc).__name__}: {first[:300]}")
            traceback.print_exc()
            return False, None, dt
        return True, out, time.perf_counter() - t0

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())


class Session:
    """Owns the JVM for one run: starts the engine's SparkSession and at
    the end stops it and waits for the JVM process to exit."""

    def __init__(self, work: str, event_log: bool):
        self.work = work
        self.event_dir = os.path.join(work, "events") if event_log else None
        self.spark = None
        self.jvm_pid: int | None = None
        local = os.path.join(work, "spark-local")
        tmp = os.path.join(work, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        args = [
            f"--conf spark.local.dir={local}",
            # -XX:-UsePerfData: no hsperfdata file outside the work directory
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        ]
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
            args += [
                "--conf spark.eventLog.enabled=true",
                "--conf spark.eventLog.compress=false",
                f"--conf spark.eventLog.dir=file://{self.event_dir}",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"

    def start(self):
        """Start the engine's session, launching the JVM."""
        import tempfile

        from pyspark import SparkContext

        from datayours_spark.session import get_spark

        tempfile.tempdir = None  # pick up TMPDIR
        self.spark = get_spark("loopbench", cpus=spark_cores())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and its workers."""
        return tree_cpu_s(self.jvm_pid)

    @property
    def app_id(self) -> str:
        return self.spark.sparkContext.applicationId

    def rss(self) -> dict[str, float]:
        py = vm_hwm_mb(os.getpid())
        jvm = vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0
        return {"python_mb": py, "jvm_mb": jvm}

    def close(self) -> None:
        """Stop the session, close the gateway and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - best effort, the wait below decides
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=30)


def job_group(spark, group: str | None) -> None:
    """Tag the Spark jobs this thread issues next (None clears the tag)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    sc.setLocalProperty("spark.job.description", group)


def result_line(correct: bool, ops: Ops, metrics: dict[str, tuple[float, str]]) -> str:
    """The result: the last line of standard output."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": max(1, ops.total_attempted),
            "failed": ops.total_failed,
            "metrics": {
                k: {"value": _finite(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )


def _finite(v: float) -> float:
    v = float(v)
    return v if math.isfinite(v) else 0.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
