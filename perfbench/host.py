"""Host configuration and process-tree measurement for the benchmark.

The Spark session is configured only through the package's public
parameters (``session.get_spark``'s master / shuffle partitions / driver
memory) and the environment Spark and its Python workers read.  Every
file Spark, the JVM or Python writes goes under the checkout's cache dir.

CPU and memory are read from /proc for the whole process tree this
benchmark started: the driver, the JVM and the Python workers.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import threading
import time
import urllib.request

DRIVER_MEMORY = "3g"
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def cores() -> int:
    """local[N] with N = the CPUs this process may run on (≤ nproc)."""
    return max(1, min(len(os.sched_getaffinity(0)), os.cpu_count() or 1))


def configure_env(root: str, work_dir: str, ui: bool) -> None:
    """Point Spark, the JVM and Python at ``work_dir`` for scratch files and
    put the checkout on the Python workers' import path.  The package's
    SPARK_GRAFT_* overrides are cleared, so the session is configured only by
    the parameters ``start_session`` passes."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_TASK_CPUS", "SPARK_GRAFT_MAX_PARTITION_BYTES",
                "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)


def start_session(n_cores: int):
    from bloom_filter_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{n_cores}]",
                      shuffle_partitions=n_cores, driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _mix_batches(batches):
    import numpy as np
    import pyarrow as pa
    n = 0
    for b in batches:
        x = b.column(0).to_numpy().astype(np.uint64)
        with np.errstate(over="ignore"):
            for _ in range(16):
                x = (x ^ (x >> np.uint64(31))) * np.uint64(0x9E3779B97F4A7C15)
        n += int(x.size)
    yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})


def calibrate(spark, n_cores: int, rows: int = 2_000_000) -> float:
    """Wall seconds of a fixed job that uses none of the package: JVM rows →
    Arrow → Python workers → numpy integer mixing, on every core.  It slows
    down with the host, not with the package."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    (spark.range(0, rows, 1, n_cores).mapInArrow(_mix_batches, "n long")
     .agg(F.sum("n")).collect())
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# /proc process tree
# --------------------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()  # fields from #3 (state) on


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime + stime + reaped children's time, summed over ``pids``."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * PAGE_MB


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant (Linux prctl), so a Python worker
    whose JVM ends first is still this process's to stop and reap."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace_s: float = 10.0) -> None:
    """Stop every process this one started and wait until each has ended:
    SIGTERM (the JVM runs its shutdown hooks), SIGKILL after ``grace_s``,
    an error if any is still there after 3 × ``grace_s``.  Needs
    ``become_subreaper`` first, so grandchildren are reaped here."""
    me = os.getpid()
    sig, t0 = signal.SIGTERM, time.monotonic()
    while True:
        _reap()
        left = [p for p in descendants(me) if p != me]
        if not left:
            return
        elapsed = time.monotonic() - t0
        if elapsed > 3 * grace_s:
            raise RuntimeError(f"processes {left} still running after {elapsed:.0f} s")
        if elapsed > grace_s:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class TreeMonitor:
    """Samples the process tree's RSS on a thread while a pass runs; the
    pid set is refreshed every few samples so new Python workers count."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.root = os.getpid()
        self.pids = descendants(self.root)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_mb = 0.0
        self._cpu0 = 0.0

    def _run(self) -> None:
        i = 0
        while not self._stop.is_set():
            if i % 10 == 0:
                self.pids = descendants(self.root)
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pids))
            i += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self.pids = descendants(self.root)
        self.peak_mb = tree_rss_mb(self.pids)
        self._cpu0 = tree_cpu_s(self.pids)
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.pids = descendants(self.root)
        self.cpu_s = tree_cpu_s(self.pids) - self._cpu0
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pids))


# --------------------------------------------------------------------------
# Spark REST stage metrics
# --------------------------------------------------------------------------

class Rest:
    """Reads stage metrics of the running application from the Spark UI's
    REST API (local session only)."""

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl
        if self.base is None:
            raise RuntimeError("the Spark UI is off; REST metrics need it")
        self.app = spark.sparkContext.applicationId

    def get(self, path: str):
        url = f"{self.base}/api/v1/applications/{self.app}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def task_times(self, stage_id: int, attempt: int) -> list[float]:
        tasks = self.get(f"/stages/{stage_id}/{attempt}/taskList?length=100000")
        return [t.get("duration", 0) / 1e3 for t in tasks]


def wait_for(pred, timeout_s: float = 10.0, step_s: float = 0.05) -> bool:
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        if pred():
            return True
        time.sleep(step_s)
    return pred()
