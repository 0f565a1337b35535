"""Host evidence and the benchmark's Spark session.

Everything the benchmark writes (shuffle files, event log, staged inputs,
sink outputs, JVM and Python temp files) lives under one work directory
inside the checkout, which the runner removes at the end.
"""

from __future__ import annotations

import os
import platform
import shutil
import sys
import time

import numpy as np

CORES = 4
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load_avg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def dram_probe(threads: int | None = None) -> dict:
    """Memory-bandwidth probe: min of 3 reps of 3 sorts of a 16 MB array
    on one thread, and on ``threads`` (<= nproc) threads each sorting
    its own array. A host phase with memory contention from neighbours
    shows as both numbers rising together."""
    from concurrent.futures import ThreadPoolExecutor

    threads = min(threads or nproc(), nproc())
    a = np.random.RandomState(0).rand(2_000_000)
    single = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(3):
            np.sort(a)
        single = min(single, time.perf_counter() - t0)

    arrays = [np.random.RandomState(s).rand(2_000_000) for s in range(threads)]

    def _one(arr: np.ndarray) -> None:
        for _ in range(3):
            np.sort(arr)

    multi = float("inf")
    with ThreadPoolExecutor(max_workers=threads) as ex:
        for _ in range(3):
            t0 = time.perf_counter()
            list(ex.map(_one, arrays))
            multi = min(multi, time.perf_counter() - t0)
    return {"threads": threads, "sort1_s": round(single, 4),
            f"sort{threads}_s": round(multi, 4)}


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # the process exited between listing and reading
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


class RssMeter:
    """Peak resident memory of this process's children (the Spark
    JVM and its Python workers), read from /proc after each operation.

    The JVM's VmHWM is its own high-water mark; Python workers come and
    go, so their current VmRSS is summed at each sample and the largest
    total seen is kept."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()):
            hwm = _status_kb(pid, "VmHWM")
            total += hwm if _is_java(pid) else _status_kb(pid, "VmRSS")
        self.peak_kb = max(self.peak_kb, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class Session:
    """A ``local[4]`` SparkSession rooted in a private work directory.

    ``event_log`` turns on an uncompressed Spark event log (no zstd module
    is available to read the default codec)."""

    def __init__(self, root: str, work: str, event_log: bool = False) -> None:
        self.root = root
        self.work = work
        self.local_dir = os.path.join(work, "spark-local")
        self.tmp_dir = os.path.join(work, "tmp")
        self.event_dir = os.path.join(work, "eventlog") if event_log else None
        for d in (self.local_dir, self.tmp_dir, self.event_dir):
            if d:
                os.makedirs(d, exist_ok=True)
        # the JVM reads SPARK_LOCAL_DIRS in preference to spark.local.dir,
        # so both point at the work directory
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        os.environ["TMPDIR"] = self.tmp_dir
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYTHONHASHSEED"] = "0"
        from geoharvest_spark.session import get_spark

        conf = {
            "spark.local.dir": self.local_dir,
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH", "")) if p
            ),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
        self.start_s = time.perf_counter() - t0

    def event_log_path(self) -> str:
        files = [os.path.join(self.event_dir, f) for f in os.listdir(self.event_dir)]
        return max(files, key=os.path.getmtime)

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """End the Spark JVM this process launched and wait until it exits
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)


def evidence(spark) -> dict:
    """Versions, heap and Spark configuration for the run record."""
    import pyarrow
    import pyspark

    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.local.dir",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.eventLog.enabled", "spark.executorEnv.PYTHONPATH")
    return {
        "nproc": nproc(),
        "cores_used": CORES,
        "driver_mem": conf.get("spark.driver.memory"),
        "shuffle_dir": os.environ.get("SPARK_LOCAL_DIRS"),
        "shuffle_dir_is_tmpfs": _is_tmpfs(os.environ.get("SPARK_LOCAL_DIRS", "")),
        "spark_conf": {k: conf.get(k) for k in keep},
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "mem_total_mb": _meminfo_mb("MemTotal"),
        "mem_available_mb": _meminfo_mb("MemAvailable"),
        "executable": os.path.basename(sys.executable),
    }


def _meminfo_mb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) // 1024
    return 0


def _is_tmpfs(path: str) -> bool:
    best, fstype = "", ""
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if path.startswith(mnt) and len(mnt) > len(best):
                    best, fstype = mnt, parts[2]
    except OSError:
        return False
    return fstype == "tmpfs"


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
