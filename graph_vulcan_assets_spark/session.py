"""SparkSession factory.

Scale notes (100 TB target):
- AQE is on so shuffle partition counts, join strategies and skew handling
  re-plan at runtime from real statistics; the static
  ``spark.sql.shuffle.partitions`` is only the initial value.
- UTC session timezone pins timestamp semantics for oracle parity (DuckDB
  timestamps are UTC-naive).
- Arrow is enabled for any Pandas-UDF path (vectorized batch transfer).
- On a real cluster the same builder works with ``master`` left to the
  submitter; nothing here assumes local mode except the default master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the default heap is a quarter of the host (the JVM's own
# MaxRAMPercentage=25), never more than this
MAX_DEFAULT_DRIVER_MEM_MB = 24 * 1024
# cgroup v2, then v1; "max" (v2) or a huge number (v1) means no limit
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def host_memory_bytes() -> int:
    """Physical memory, or the cgroup memory limit when one is lower."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def driver_memory() -> str:
    """The ``spark.driver.memory`` that :func:`get_spark` requests.

    ``SPARK_GRAFT_DRIVER_MEM`` is used as given when set. Otherwise the
    heap is ``min(24g, host memory / 4)``: a quarter leaves the rest of
    the host to off-heap buffers, Python workers and the caller, and a
    heap larger than the host lets G1 grow until the kernel kills the JVM.
    """
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    mb = min(MAX_DEFAULT_DRIVER_MEM_MB, host_memory_bytes() // 4 // (1024 * 1024))
    return f"{mb}m"


def get_spark(
    app_name: str = "graph-vulcan-assets-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    ``SPARK_GRAFT_DRIVER_MEM`` sets the driver heap; unset, it is sized to
    the host, ``min(24g, host memory / 4)`` (see :func:`driver_memory`).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode is driver-only: this is the one memory knob that
        # matters (takes effect at JVM launch, ignored afterwards);
        # SPARK_GRAFT_DRIVER_MEM, else min(24g, host memory / 4)
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # honor the advisory partition size instead of maximizing
        # parallelism (round 13): with parallelismFirst (the default) AQE
        # splits small shuffles into per-core slivers whose task overhead
        # dominates at sub-GB shuffle sizes, and 24/38 bench entries ran
        # FASTER on 8 cores than 32 (PERF r12). Bytes-proportional
        # coalescing is the scale-adaptive behavior the tuning guide
        # recommends; the advisory size is env-parameterized — 64m local
        # default (measured: sub-second entries −6%, kernel-heavy vector
        # entries −20–30% at sf0.1, 10× scale rehearsals green), 256m is
        # the documented production setting for cluster-scale shuffles.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # write micros, not INT96: INT96 round-trips through pyarrow as
        # nanoseconds, which Arrow-based readers (pyds) cannot ingest
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # managed-table home for bucketed tables (static config; keep the
        # repo clean and writable in any sandbox)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/gvas-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
