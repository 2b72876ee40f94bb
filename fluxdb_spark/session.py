"""SparkSession factory tuned for this engine.

Local mode is the test bed; the config keys are the ones that matter on a
real cluster too (AQE, shuffle partition sizing, Arrow for the Pandas-UDF
slow path, UTC so results compare bit-for-bit with the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spread(df, min_partitions: int | None = None):
    """Ensure `df` has enough partitions for CPU-bound per-row work.

    Small local parquet files (one row group) scan as a single task, which
    serializes expression-heavy operators (shingling, hashing, cosine) onto
    one core. Repartition up to the session's default parallelism ONLY when
    the scan is narrower than that — on a real cluster a 100-TB input
    already arrives in thousands of splits and this is a no-op, so no shuffle
    is added at scale.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _driver_memory() -> str:
    """`SPARK_DRIVER_MEMORY`, else ¾ of the host's physical memory
    (MemTotal), capped at 48g — a fixed 48g overcommits a smaller box."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, total * 3 // 4 >> 20)}m"


def get_spark(
    app_name: str = "fluxdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are sized for the local[N] test environment but every setting is
    cluster-appropriate: AQE coalesces the 32-way shuffles down when data is
    small and splits skewed partitions when it is not.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Older driver-generated events.parquet used TIMESTAMP(NANOS), which
        # vanilla Spark rejects; this flag reads those as a long (ns). Newer
        # generations ship timestamp[us] (surfaced as TIMESTAMP_NTZ), which
        # this flag does not affect. Either way the loader
        # (fluxdb_spark.sources.tables.normalize_event_ts) normalizes `ts`
        # by inspecting the actual dtype, so both vintages work.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
