"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM; the same configuration keys
govern a 1000-executor cluster run — only ``master`` and the memory knobs
change. AQE is always on so shuffle partition counts, skew splitting and
join strategies are re-planned at runtime from real statistics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """A quarter of the host's physical memory (MemTotal on Linux): a
    local master runs the whole engine inside the driver JVM, and the
    rest of the host is shared (other JVMs, Python workers, the page
    cache)."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(total_mb // 4, 1024)}m"


def get_spark(
    app_name: str = "capex-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    All settings are public Spark configuration keys. When an active
    session already exists, Spark returns it (configs on the existing
    session are not changed) — tests share one JVM.
    """
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- planner / optimizer ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # broadcast joins for dimension tables (office_location, region,
        # nation, ...). 64 MB: generous for dims, still safe per-executor.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python interop: Arrow everywhere Python touches data ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- scan sizing: 128 MB splits keep 100TB scans at ~800k tasks,
        #     large enough to amortize task overhead, small enough to spill
        #     safely. Parquet pushdown on by default; made explicit here.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # nanosecond parquet timestamps (e.g. the events table) surface as
        # LongType instead of erroring; sources.parquet re-types them
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # non-interactive runs don't need the UI
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Shuffle partitions come from the host: one per core the started
    # context schedules on (N for local[N], total executor cores on a
    # cluster). A fixed count sized for a bigger box makes every
    # shuffle, and every cache built above one, that many tasks wide on
    # a small one; AQE still coalesces small shuffles and splits skewed
    # ones at runtime. An explicit ``shuffle_partitions`` wins.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or spark.sparkContext.defaultParallelism),
    )
    return spark
