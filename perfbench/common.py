"""Shared pieces of the workloads: host settings, percentiles, process-tree
CPU time, peak RSS and reaping, the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
# Enough heap for the tier-1 queries on the benchmark corpus, well below the
# engine's 16g default, which exceeds a small host's memory.
HEAP = "2g"
# Percentiles need this many samples beyond them in every run.
MIN_BEYOND = 10


def host_setup() -> str:
    """Pin the environment every engine process of a run inherits and return
    the run's private working directory (removed by ``cleanup``).

    UDF workers import the engine package, so PYTHONPATH must name the
    checkout root whatever the caller's cwd is. Spark's local dirs, the JVM's
    and Python's temp dirs all go under the run directory, so a run neither
    writes outside the checkout nor leaves disk state to the next run."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=BUILD_DIR)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_dir


def cleanup(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0..1); refuses when fewer than
    MIN_BEYOND samples lie beyond it."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it, needs {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def op_metrics(cpu_s: list[float], setup_s: float) -> dict:
    """The gated end-to-end metrics every workload reports: set-up time and
    the engine's mean CPU time per timed op."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_ms_per_op": {"value": statistics.fmean(cpu_s) * 1000.0, "unit": "ms"},
    }


def latency_detail(latencies_s: list[float]) -> dict:
    """Wall-clock op latency for the detail line, over all timed ops. Not
    gated: on a host that shares its cores, CPU steal from other tenants
    moves it by up to 2x between runs minutes apart."""
    ms = [x * 1000.0 for x in latencies_s]
    return {
        "timed_ops": len(ms),
        "latency_p50_ms": percentile(ms, 0.5),
        "latency_mean_ms": statistics.fmean(ms),
    }


def peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak resident sets (``VmHWM``) of ``root_pid`` and its
    live descendants, in MiB, read once after the timed ops. Not a gated
    metric: a JVM's heap growth and the number of live Python workers move
    it by about a quarter between identical runs."""
    total_kb = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds of ``root_pid``, its live descendants and
    the children they have reaped. Time a virtual CPU spends stolen by the
    hypervisor is not charged to a process."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / tick


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it."""
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what is left
    after ``timeout_s`` and wait for that too."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait for it."""
    from pyspark import SparkContext

    children = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    reap(children)  # the JVM's Python workers end after it


def calibration(spark=None) -> dict:
    """bench.py's fixed-work host probe, recorded as context only."""
    import bench

    if spark is not None:
        return bench._calibrate(spark)
    import numpy as np

    mat = np.random.default_rng(0).standard_normal((1024, 1024))
    return {"numpy_matmul_1024_ms": round(min(bench._timed(lambda: mat @ mat) for _ in range(3)) * 1000, 1)}


def emit(failures: list[str], attempted: int, metrics: dict, detail: dict) -> None:
    """Print the detail line, then the result line (always last)."""
    detail = dict(detail, failures=failures[:20])
    print(json.dumps({"detail": detail}, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
