"""SparkSession factory with scale-oriented defaults.

Single place for the configs that matter at 100 TB: AQE (runtime
coalescing + skew-join splitting), Arrow batching for the pandas-UDF
stages, and shuffle-partition sizing. Local test runs use
``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same code ships via
``spark-submit --py-files`` and only master/partition counts change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nlquery-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    iceberg_warehouse: str | None = None,
    iceberg_catalog: str = "local",
) -> SparkSession:
    """Session factory.

    ``iceberg_warehouse``: when set, wires an Iceberg hadoop catalog
    named ``iceberg_catalog`` at that path so ``Pipeline(catalog=...)``
    checkpoints land as table snapshots. Requires the
    iceberg-spark-runtime jar: either on the cluster's classpath
    already or pointed to by ``$SPARK_GRAFT_ICEBERG_JAR`` (added via
    ``spark.jars``). This sandbox has no such jar, so tests exercise
    the parquet checkpoint path; the config wiring below is the
    standard public Iceberg quickstart configuration.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~1x cores; on a cluster this would be sized to
        # target ~128-256MB per shuffle partition at the data scale.
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Oracle parity emits naive UTC-aligned timestamp strings
        # (sliding and tumbling windows, ship-lag months);
        # date_format/to_date render in the session timezone, so pin it
        # rather than depend on a UTC host.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if iceberg_warehouse:
        cat = f"spark.sql.catalog.{iceberg_catalog}"
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config(cat, "org.apache.iceberg.spark.SparkCatalog")
            .config(f"{cat}.type", "hadoop")
            .config(f"{cat}.warehouse", iceberg_warehouse)
        )
        jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
        if jar:
            builder = builder.config("spark.jars", jar)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
