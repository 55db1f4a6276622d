"""SparkSession factory.

Analog of the reference's launcher/config bootstrap
(/root/reference/src/main/java/com/codingchili/excelastic/ApplicationLauncher.java:25-48).

Designed for a multi-executor cluster: every setting here is also valid under
spark-submit on a real cluster; local[N] is only the sandbox harness. AQE is
on so skewed shuffles re-plan at runtime; Arrow is on because the entire hot
path is Arrow-vectorized pandas UDFs (no per-row Python anywhere).

Generated code is reused across index writes: ``get_spark`` raises
``spark.sql.codegen.cache.maxEntries`` from Spark's default of 100 to 1000.
A session that builds, appends and merges needs well over 100 distinct
generated classes (measured on the perfbench config: the first build 75,
the first append 19, a merge 20, and each later append 2 for its literal
doc-id offset), so at 100 entries the cache thrashes: every repeat append
recompiled 32-41 classes and every later build 24, which the JIT then
compiles again. At 1000 they compile 2 and 0. The setting is static (it
sizes a JVM-wide cache when the session starts), so :func:`tune_session`
cannot apply it: a driver-provided session keeps its own value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from excelastic_spark.config import EngineConfig


def get_spark(
    app_name: str = "excelastic-spark",
    master: str | None = None,
    config: EngineConfig | None = None,
) -> SparkSession:
    cfg = config or EngineConfig()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_batch_size),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "1000")  # see module doc
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # only used by multi-executor masters (local-cluster / standalone /
        # YARN); plain local[N] executes in the driver JVM
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_EXECUTOR_MEMORY", "8g"),
        )
    )
    if cfg.files_max_partition_bytes:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", str(cfg.files_max_partition_bytes)
        ).config(
            "spark.sql.files.openCostInBytes",
            str(max(cfg.files_max_partition_bytes // 4, 64 * 1024)),
        )
    if cfg.advisory_partition_bytes:
        builder = builder.config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(cfg.advisory_partition_bytes),
        )
    return builder.getOrCreate()


def tune_session(spark: SparkSession, cfg: EngineConfig) -> None:
    """Apply runtime-settable engine configs to an externally provided
    session (the driver hands us one; these are all runtime-safe). Static
    settings, such as ``get_spark``'s codegen cache size, keep the
    session's own values."""
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(cfg.arrow_batch_size)
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if cfg.files_max_partition_bytes:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(cfg.files_max_partition_bytes)
        )
        spark.conf.set(
            "spark.sql.files.openCostInBytes",
            str(max(cfg.files_max_partition_bytes // 4, 64 * 1024)),
        )
    if cfg.advisory_partition_bytes:
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(cfg.advisory_partition_bytes),
        )
