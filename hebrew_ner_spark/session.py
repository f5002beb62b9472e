"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
Every knob here is a plain Spark conf so the same code ships unchanged via
``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults shared by every host. On a real cluster the same builder is used;
# only master/shuffle-partitions change via env/submit. The driver heap is
# not here: it depends on the host, see ``driver_memory``.
_DEFAULTS = {
    # Adaptive execution: runtime re-planning, skew-join splitting, shuffle
    # partition coalescing — required at 100 TB where static plans mispredict.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow: every Python kernel in this engine is a vectorized pandas UDF.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Reuse Python workers so executor-local model singletons amortize
    # (the reference preloads models once per process: ner_app.py:34-61).
    "spark.python.worker.reuse": "true",
    # InferFiltersFromGenerate duplicates the generator expression as a
    # pre-explode filter. Our generators are expensive array kernels
    # (triple extraction, span mining) evaluated on almost-never-empty
    # arrays, so the inferred filter doubles the dominant cost for zero
    # row savings: measured 8x on triple extraction at sf0.1.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Parquet scans: keep splits reasonable for the sandbox; at 100 TB the
    # default 128m is right, small files are compacted at ingest instead.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast joins for dimension/alias tables up to 64 MiB.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Better tracebacks if an Arrow worker ever dies (observed once under
    # memory pressure before heap sizing was fixed).
    "spark.python.worker.faulthandler.enabled": "true",
    "spark.ui.enabled": "false",
}

# Heap must track task-slot count: 16+ concurrent hash-aggregate tasks in 8g
# thrash GC and flatten scaling (measured: minhash shuffle lost 2.3x at
# local[16] until the heap followed the cores). 768 MiB per slot is the share
# the measured sizing gave, 24g at local[32] on a 128 GiB host.
HEAP_MB_PER_SLOT = 768
# Spark's hardware-provisioning guide: "allocate at most 75% of the memory
# for Spark; leave the rest for the operating system and buffer cache".
# A heap the host cannot back gets the JVM killed by the kernel mid-run.
HOST_MEMORY_SHARE = 0.75


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def host_memory_mb() -> int | None:
    """Physical memory of this host in MiB, or None where the OS does not
    report it."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return None


def driver_memory(slots: int, host_mb: int | None) -> str:
    """Default ``spark.driver.memory``: ``HEAP_MB_PER_SLOT`` per task slot,
    capped at ``HOST_MEMORY_SHARE`` of ``host_mb`` (no cap when unknown).

    32 slots on a host of 32 GiB or more give 24g; 4 slots give 3g.
    """
    mb = slots * HEAP_MB_PER_SLOT
    if host_mb is not None:
        mb = min(mb, int(host_mb * HOST_MEMORY_SHARE))
    return f"{mb // 1024}g" if mb % 1024 == 0 else f"{mb}m"


def get_spark(
    app_name: str = "hebrew-ner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the core count in local mode; on a
    cluster you want 2-3x total cores (AQE coalesces the excess at runtime).
    The driver heap is ``SPARK_GRAFT_DRIVER_MEM`` verbatim when set, else
    ``driver_memory(default_parallelism(), host_memory_mb())``.
    """
    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.driver.memory"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or driver_memory(cores, host_memory_mb())
    )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
