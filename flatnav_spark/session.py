"""SparkSession factory with the engine's required configuration.

Local mode is the sandbox stand-in for a multi-executor cluster; the
configuration below is what we'd ship in spark-defaults on a real
cluster (AQE on, Arrow on, sane shuffle partitioning)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# driver heap cap as a share of physical memory: the rest stays for the
# Python workers, the OS page cache and the JVM's off-heap use
DRIVER_MEM_FRACTION = 0.6
DRIVER_MEM_MAX_MB = 48 * 1024

_JAVA_OPTS = "spark.driver.extraJavaOptions"


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` sized to the host: DRIVER_MEM_FRACTION of
    ``MemTotal``, never above 48g (the cap is also the size used when
    physical memory cannot be read)."""
    mb = DRIVER_MEM_MAX_MB
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    mb = min(mb, int(total_mb * DRIVER_MEM_FRACTION))
                    break
    except (OSError, ValueError, IndexError):
        pass
    return f"{mb}m"


def session_conf(cores: int, shuffle_partitions: int,
                 extra_conf: dict | None = None,
                 meminfo: str = "/proc/meminfo") -> dict:
    """The session's Spark conf. ``FLATNAV_SPARK_DRIVER_MEM`` and
    ``FLATNAV_SPARK_DRIVER_JAVA_OPTS`` set the driver heap and JVM options
    verbatim; otherwise the heap is sized from physical memory and no
    ``-Xms`` is set (a pre-committed heap larger than the host kills the
    JVM at start). A caller's ``spark.driver.extraJavaOptions`` is
    appended to the engine's options, not substituted for them."""
    mem = os.environ.get("FLATNAV_SPARK_DRIVER_MEM")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": mem if mem is not None else _default_driver_memory(meminfo),
        _JAVA_OPTS: os.environ.get("FLATNAV_SPARK_DRIVER_JAVA_OPTS", ""),
        "spark.ui.enabled": "false",
    }
    extra = dict(extra_conf or {})
    caller_opts = extra.pop(_JAVA_OPTS, "")
    conf.update(extra)
    conf[_JAVA_OPTS] = " ".join(o for o in (conf[_JAVA_OPTS], caller_opts) if o)
    return conf


def get_spark(
    app_name: str = "flatnav_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    # shuffle/spill scratch on tmpfs when available: the sandbox's virtual
    # disk shows multi-second stalls and writer contention; on a real
    # cluster this is the usual fast local SSD setting
    local_dir = os.environ.get("FLATNAV_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/flatnav_spark_local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in session_conf(cores, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
