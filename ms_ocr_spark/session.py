"""SparkSession factory with the engine's standard scale-oriented config."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "ms_ocr_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the 100-TB design notes (SURVEY.md §4): AQE on for
    runtime shuffle sizing + skew splitting, Arrow on for the driver's DataFrame
    conversions, shuffle partitions sized to the actual parallelism instead of
    the 200 default.  In the sandbox `cores` maps to local[N]; on a real
    cluster the same code runs under spark-submit and `master` is simply
    not overridden.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(int(cores) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cores}]")
    if extra:
        for k, v in extra.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
