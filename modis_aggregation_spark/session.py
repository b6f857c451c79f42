"""SparkSession factory tuned for the engine.

Local-mode defaults match the test/bench environment (local[32], single
JVM); on a real cluster every setting here is still sane — AQE handles
runtime re-planning, shuffle partitions are only a hint once AQE
coalescing is on, and Arrow is required for the Pandas-UDF extension
operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """The core count the bench and sweep record and match priors on:
    ``SPARK_GRAFT_CPUS``, else the host's."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def get_spark(
    app_name: str = "modis_aggregation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults are driven by env so the driver/bench can override:
    ``SPARK_GRAFT_CPUS`` sets local parallelism (default ``*``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

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
        # Python DataSource pushFilters (granule-id partition pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # testdata events.parquet has shipped as TIMESTAMP(NANOS) and as
        # naive TIMESTAMP(MICROS); Spark has no nanos timestamp — read
        # nanos as long (this flag) and normalize either form at the
        # source helper (__spark_entry__._t: NTZ→UTC-pinned TIMESTAMP)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
