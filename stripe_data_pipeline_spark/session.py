"""SparkSession factory.

Fixed configs chosen for determinism + scale-readiness:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion) — the 100 TB story relies on AQE picking
  partition counts per-stage instead of a static 200.
- session timezone UTC — all reference timestamps are unix epoch
  seconds (see /root/reference/dbt/stripe/models/staging/stg_invoices.sql:12);
  pinning UTC makes to_date()/timestamp_seconds() deterministic across
  environments and match the DuckDB oracle's naive timestamps.
- shuffle partitions sized to local cores for the test harness; on a
  real cluster AQE coalescing makes the initial number a ceiling, not
  a constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stripe_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Some producers (incl. the driver's testdata events table) write
        # parquet TIMESTAMP(NANOS), which Spark's reader rejects natively;
        # read as long and convert in io.read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Weak-ref-driven cleanup (broadcasts, shuffle files) only runs
        # on driver GC; long sessions accumulate debt that skews later
        # queries. Default is 30min — far too lazy for local mode.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
