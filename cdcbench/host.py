"""Host sizing, the Spark session, the host fingerprint and memory sampling.

The engine's session factory pins a 32 GB heap by default, which cannot
start on a small host. The benchmark sizes the heap from ``/proc/meminfo``
and hands it to ``get_spark`` through the environment of its own process.
Every scratch location (Spark local dirs, JVM and Python temp files) is
pointed inside the benchmark's work directory, under the checkout: the
benchmark reads and writes nothing outside it. ``get_spark``'s own default
(shuffle files on ``/dev/shm``) is therefore not used, and on a host whose
checkout sits on a disk the shuffle, spill and table files go to that disk;
the run reports the CPU time spent waiting on I/O during the loop
(``loop_cpu_iowait``) next to the steal time, so a disk-bound run shows.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import threading
import time

HEAP_SHARE = 0.25          # of MemTotal
HEAP_CAP_MB = 4096
SHUFFLE_PARTITIONS = 8


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    return max(1024, min(HEAP_CAP_MB, int(mem_total_mb() * HEAP_SHARE)))


def configure_env(work: str, heap: int) -> None:
    """Set the variables ``nifi_spark.session.get_spark`` reads, before the
    JVM starts. Only this process's environment changes."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        # no hsperfdata file in the system temp dir
        f"-Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={tmp}")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp


def start_spark(cores: int, work: str):
    from nifi_spark.session import get_spark
    spark = get_spark("cdcbench", parallelism=cores,
                      shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf={
                          "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                          # keep every job of a long run in the status store
                          "spark.ui.retainedJobs": "100000",
                          "spark.ui.retainedStages": "100000",
                          "spark.sql.ui.retainedExecutions": "100",
                          "spark.ui.showConsoleProgress": "false",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used (all its threads)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def iowait_s() -> float:
    """CPU time spent idle waiting on I/O, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[5]) / os.sysconf("SC_CLK_TCK")


def _on_tmpfs(path: str) -> bool:
    best, fstype = "", ""
    real = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return fstype == "tmpfs"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except FileNotFoundError:
                pass
    return total


class MemSampler:
    """Samples JVM RSS + Python RSS (+ the work dir's bytes when it sits on
    tmpfs) on a background thread and keeps the peak."""

    def __init__(self, jvm: int, work: str, interval: float = 0.25):
        self.jvm, self.work, self.interval = jvm, work, interval
        self.tmpfs = _on_tmpfs(work)
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> float:
        mb = _rss_mb(self.jvm) + _rss_mb(os.getpid())
        if self.tmpfs:
            mb += dir_bytes(self.work) / 2**20
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "MemSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def fingerprint(repo_root: str, heap: int, cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo_root,
                             capture_output=True, text=True, timeout=10)
        git_sha = sha.stdout.strip() if sha.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        git_sha = None
    # a checkout without .git still gets a content identity
    digest = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(repo_root, "nifi_spark", "*.py"))):
        with open(p, "rb") as f:
            digest.update(f.read())
    return {"nproc": os.cpu_count(), "cores": cores,
            "mem_total_mb": mem_total_mb(), "heap_mb": heap,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "git_sha": git_sha,
            "engine_sources_sha256": digest.hexdigest()[:16],
            "started_at": time.time()}
