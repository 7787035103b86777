"""SparkSession factory with the engine's recommended configuration.

Tuned for the Arrow-UDF extraction workload; every setting is also safe on a
multi-executor cluster (local[] only changes the master).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def _available_gb() -> int:
    """MemAvailable from /proc/meminfo, in GiB (0 if unreadable)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:  # pragma: no cover
        pass
    return 0


def _default_driver_mem() -> tuple[str, bool]:
    """Heap default derived from available memory (half of MemAvailable,
    clamped to [1g, 24g], so a heap never exceeds what is free: a second
    or third JVM on the host gets half of what the earlier ones left);
    pre-touching (-Xms=heap) only when there is >=1.5x the heap
    available so the fixed heap cannot thrash smaller hosts. Override with
    SPARK_GRAFT_DRIVER_MEM."""
    avail = _available_gb()
    if avail <= 0:
        return "8g", False
    heap = max(1, min(24, avail // 2))
    return f"{heap}g", avail >= heap * 1.5


def _default_local_dir() -> str:
    """Shuffle on tmpfs only when /dev/shm has real headroom (>=16 GiB
    free); otherwise fall back to disk, where spill works instead of
    fighting the heap for physical RAM."""
    try:
        if shutil.disk_usage("/dev/shm").free >= 16 * 1024 ** 3:
            return "/dev/shm/spark-local"
    except OSError:  # pragma: no cover
        pass
    return "/tmp/spark-local"


def build_session(
    app_name: str = "mivaa-extraction-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    env_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env_mem:
        driver_mem, pre_touch = env_mem, True
    else:
        driver_mem, pre_touch = _default_driver_mem()
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        # match task slots at local scale; on a real cluster override to
        # ~2-3x total cores
        shuffle_partitions = int(master[6:-1]) if (
            master.startswith("local[") and master[6:-1].isdigit()
        ) else 2 * cores

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow boundary batch size: the kernel re-coalesces to ~4k docs
        # anyway, so this only sets IPC granularity — 256 paid ~16% extra
        # wall in per-batch transfer overhead at 1.92M docs (measured 25.1s
        # vs 21.1s at 1024; 4096 was equal within noise). Normal-path docs
        # are bounded by the skew threshold (8,192 spans), so a batch is at
        # most ~8.4M spans, and the kernel cuts such a batch at doc
        # boundaries into span-budget chunks; a larger healthy doc crosses
        # it whole only into the salted path's splitter, one row at a time,
        # and its page buckets into the bucket kernel.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # compress the JVM<->Python Arrow IPC stream: this workload is
        # memory-bandwidth-bound at high parallelism (span text crosses the
        # boundary twice), so trading cheap CPU for bus bytes wins where it
        # matters — measured at 1.92M docs: local[32] 45.3 -> 37.5 s
        # (~2.5x text compression), local[8] (CPU-bound) a wash. Override
        # via extra_conf for CPU-starved deployments.
        .config("spark.sql.execution.arrow.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local mode: driver JVM == all executors; size the heap for the
        # task-slot count (32 slots x shuffle/cache state blows an 8g heap
        # into GC thrash). On a real cluster set executor memory instead.
        .config("spark.driver.memory", driver_mem)
        # fixed, pre-touched heap: G1's commit/uncommit cycling under a
        # high allocation rate shows up as 20-60% SYSTEM time at 32 task
        # threads (page-fault + munmap TLB-shootdown storms, measured on
        # this box: wall 31s -> 15s at local[32]). Applied only when the
        # host has the headroom (see _default_driver_mem); same flags apply
        # to executor JVMs on a real cluster via executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch" if pre_touch
                else "-XX:+AlwaysPreTouch")
        # same fix for executor JVMs on a real cluster (no-op in local mode,
        # where the driver JVM is the executor)
        .config("spark.executor.extraJavaOptions", "-XX:+AlwaysPreTouch")
        # shuffle files on tmpfs: in local mode every parallelism level
        # shares ONE OS disk, so shuffle I/O is a data-proportional cost
        # that does not scale with cores and poisons N-vs-4N comparisons.
        # On a real cluster each executor brings its own local NVMe (disk
        # bandwidth scales with cluster size), which tmpfs models honestly.
        # Falls back to disk when /dev/shm lacks headroom (spill must work).
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR") or
                _default_local_dir())
        # PySpark 4 wraps EVERY DataFrame-API call to capture the Python
        # call site for error enrichment: a conf.get + PySparkCurrentOrigin
        # set/clear (3 extra Py4J roundtrips) plus a Python stack walk PER
        # Column/DataFrame op. Plan construction is 35% of this engine's
        # query suite wall (measured: 16,274 -> 5,644 roundtrips for one
        # representative query with this off). Scale-independent driver
        # overhead; errors still raise with full JVM context, only the
        # Python-line annotation is dropped. Re-enable when debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
