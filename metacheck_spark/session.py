"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness sandbox; the configs are chosen so the same
code runs unchanged on a multi-executor cluster (AQE, Arrow, adaptive
skew-join all apply there too).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """Local-mode task slots: $SPARK_GRAFT_CPUS, else the host's cores."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def default_driver_memory() -> str:
    """Driver heap: $SPARK_DRIVER_MEMORY, else half of the host's MemTotal
    (/proc/meminfo) capped at 48g, so a session fits the host it starts on
    and leaves the other half to the Python workers and the page cache.
    Hosts without /proc/meminfo get the cap."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    mb = 48 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mb = min(mb, int(line.split()[1]) // 2048)  # kB -> MB / 2
                    break
    except OSError:
        pass
    return f"{mb}m"


def get_spark(
    master: str | None = None,
    app_name: str = "metacheck_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults: master local[default_cpus()], driver heap
    default_driver_memory() — both derived from the host unless
    $SPARK_GRAFT_CPUS / $SPARK_DRIVER_MEMORY override them; shuffle
    partitions ~= cores in local mode (the 200 default over-parallelizes
    small local runs and under-parallelizes big ones — on a real cluster,
    callers set it to ~2-3x total cores or rely on AQE coalescing).
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else os.cpu_count() or 1

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
