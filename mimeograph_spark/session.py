"""SparkSession builder with scale-aware defaults.

Local testing runs on local[N]; the same knobs are what you would set
on a real 1000-executor cluster (shuffle partitions sized to the
stage, Arrow batches bounded so a mega-page document cannot blow an
executor's Python worker memory).  AQE is on by Spark's own default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default heap: this share of the memory the host grants, never above
# the cap.  SPARK_DRIVER_MEM overrides both.
HEAP_FRACTION = 0.5
HEAP_CAP_MB = 24 * 1024


def physical_memory_bytes() -> int:
    """Memory available to this process: the cgroup v2 limit when one
    is set, bounded by the host's MemTotal."""
    found = []
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit != "max":
            found.append(int(limit))
    except OSError:
        pass
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                found.append(int(line.split()[1]) * 1024)
                break
    return min(found)


def driver_memory() -> str:
    """`spark.driver.memory`: SPARK_DRIVER_MEM if set, else
    HEAP_FRACTION of physical memory capped at HEAP_CAP_MB."""
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        return override
    heap_mb = int(physical_memory_bytes() * HEAP_FRACTION) >> 20
    return f"{min(heap_mb, HEAP_CAP_MB)}m"


# Arrow batch row cap for pandas UDFs.  A batch of mega-page docs is
# bounded by bytes instead: spark.sql.execution.arrow.maxBytesPerBatch
# (64 MiB by default) also splits UDF input batches.
ARROW_MAX_RECORDS = 4096

# App-level settings, applied by get_spark and by the spark-submit
# entry point alike; the launcher owns master, heap, JVM options and UI.
APP_CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS),
    # Session TZ pinned to UTC so results compare bit-exactly with
    # the DuckDB oracle (duckdb timestamps are UTC-naive).
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "mimeograph_spark",
    master: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=APP_CONF)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # Single-JVM local mode: the driver heap IS the executor heap,
        # sized to the host (driver_memory) and grown on demand rather
        # than reserved and pre-touched at start.  On a real cluster
        # this maps to spark.executor.memory per executor instead.
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", os.environ.get("SPARK_JVM_OPTS", "-XX:+UseG1GC -XX:ReservedCodeCacheSize=1g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
