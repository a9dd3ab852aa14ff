"""SparkSession factory with scale-appropriate defaults.

Single place where engine-wide Spark tuning lives; tests, bench and the
driver entry point all build sessions here so the same AQE / shuffle /
Arrow settings apply everywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    """Scratch dir for shuffle/spill: env override, tmpfs when writable,
    else the system temp dir."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        import tempfile
        return tempfile.gettempdir()


def _driver_mem() -> str:
    """Default driver heap: about 60% of the host's MemTotal, capped at
    32g (32g when /proc/meminfo is unreadable). The driver JVM is the
    only executor in local mode and its heap is pinned, so it must fit
    the host."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "32g"
    return f"{min(kb * 6 // 10 // 1024, 32 * 1024)}m"


def get_spark(
    app_name: str = "nifi-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    parallelism: local[N] core count; defaults to $SPARK_GRAFT_CPUS or
        the host's CPU count.
    shuffle_partitions: defaults to parallelism (small-data local runs);
        on a real cluster this would be sized to ~128 MB per shuffle
        partition at the target data volume.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS",
                                             os.cpu_count() or 1))
    mem = os.environ.get("SPARK_DRIVER_MEM") or _driver_mem()
    shuf = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting — the first line of defense against hot-repo skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuf))
        .config("spark.default.parallelism", str(cpus))
        # Arrow for every pandas UDF / toPandas boundary (input_hint: no
        # per-row Python anywhere).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast joins for dimension-sized sides (lookup-join analog of
        # NiFi FetchDistributedMapCache).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM IS the executor — size its heap for
        # the task-thread count (8g thrashed GC at 16+ threads)
        .config("spark.driver.memory", mem)
        # Pin the heap (-Xms = -Xmx): G1's commit/uncommit churn showed up
        # as ~80% kernel time (hundreds of millions of minor page faults)
        # under 32 concurrent shuffle tasks — a fixed heap ends it.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-Xms" + mem))
        # Shuffle files on tmpfs: single-box stand-in for a cluster's
        # distributed shuffle (per-node NVMe + network); keeps the shared
        # virtio disk out of the shuffle path. On a real cluster this is
        # per-executor local storage and should NOT point at /dev/shm.
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
