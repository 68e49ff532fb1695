"""SparkSession factory.

One place to encode the engine's execution posture:
- AQE on (runtime shuffle coalescing, skew-join splitting) — the 100 TB
  answer to skewed RECORD_ID / join keys.
- Arrow on — every pandas-interop boundary (the LLM mapInPandas stage,
  the grouped-map operators) crosses via Arrow batches, not pickled rows.
- UTC session timezone — parity with DuckDB oracle timestamps.
- shuffle partitions sized by env (local test: ~cores; cluster: the
  deployment overrides via spark-submit conf, these are defaults only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "medical_examination_data_etl_system_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's standard conf."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        # Local mode runs executors inside the driver JVM, whose default
        # heap is 1 GiB — at 10× test volume that fails broadcast builds
        # and OOM-kills the JVM mid-query (observed in the sf1-equivalent
        # scale check). 16g clears that with mild startup cost — a much
        # larger heap measurably stalls early queries while the JVM grows
        # into it (48g cost ~30 s of first-query latency). A real
        # cluster's spark-submit conf overrides this (it only applies at
        # JVM launch).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    # Only force a master when none is configured (spark-submit on a real
    # cluster sets its own).
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
