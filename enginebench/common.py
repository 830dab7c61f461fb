"""Run environment shared by the workloads: paths, the Spark session, the
process-tree memory sampler, percentile helpers and the result identity."""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "1g"  # driver JVM heap, fixed at start so peak RSS does not follow heap resizing
RSS_INTERVAL_S = 0.2  # how often the memory sampler reads the process tree


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every scratch path of Spark, the JVM and Python at the work dir
    inside the checkout, and put the package on the path of UDF workers."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    n = str(cpus())
    os.environ["SPARK_GRAFT_CPUS"] = n
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    from cdc_connector_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="enginebench",
        master=f"local[{cpus()}]",
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------------------
# memory: peak RSS of this process and all its descendants (JVM, workers)
# --------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss_mb() -> float:
    """Summed RSS of this process, its JVM and its Python workers. Other
    descendants are skipped: a child the JVM forks to run a command shows
    the JVM's whole RSS until it execs, which would count the JVM twice."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        comm = _comm(pid)
        if pid == os.getpid() or comm == "java" or comm.startswith("python"):
            total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Background sampler of the process tree's summed RSS; keeps the peak."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat. Steal
    is time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def quantile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p / 100.0 * len(s) // 1)) - 1))
    return s[k]


def tail(values: list[float]) -> tuple[float, str, int]:
    """The highest percentile with at least ten samples beyond it, its label
    and the sample count. Below twenty samples no percentile qualifies and
    the maximum is reported instead."""
    n = len(values)
    best = None
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= 10:
            best = p
    if best is None:
        return max(values), "max", n
    return quantile(values, best), f"p{best:g}", n


def closed_loop(op, seconds: float, min_runs: int) -> tuple[list[float], int, list[str]]:
    """Run ``op`` back to back, starting runs until ``seconds`` have passed
    and at least ``min_runs`` have run (so the last run may end after the
    window). Returns (durations, failures, errors); the loop stops at the
    first failure."""
    times: list[float] = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(times) < min_runs:
        t = time.perf_counter()
        try:
            op()
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not raised
            return times, 1, [f"operation failed: {e!r}"]
        times.append(time.perf_counter() - t)
    return times, 0, []


def phases(marks: list[tuple[str, float]]) -> dict[str, float]:
    """Durations between consecutive (name, perf_counter) marks."""
    return {name: t - marks[i][1] for i, (name, t) in enumerate(marks[1:])}


# --------------------------------------------------------------------------
# result
# --------------------------------------------------------------------------

@dataclass
class Result:
    """What one workload run measured. ``latencies`` are the samples behind
    ``latency_p50_s``/``latency_tail_s``; ``work`` and ``work_s`` give
    ``work_per_s``."""

    setup_s: list[float]
    latencies: list[float]
    work: float
    work_s: float
    attempted: int
    failed: int
    errors: list[str]
    detail: dict = field(default_factory=dict)


def source_digest() -> str:
    """SHA-256 over the engine package sources: the code identity when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "cdc_connector_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def identity(spark, workload: str, seed: int, seconds: int, trace: bool, inputs: dict) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cpus": cpus(),
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "inputs": inputs,
        "unix_time": time.time(),
    }
