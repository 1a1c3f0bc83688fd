"""SparkSession factory with the engine's physical-execution defaults.

The graded entry points receive the *driver's* session, so every conf
that can be set at runtime is (re-)applied by ``io.ensure_confs`` on
each table load; this builder exists for tests, bench.py, and
standalone use.

Scale notes (SURVEY.md §4): AQE is the load-bearing mechanism for the
100-TB target — runtime shuffle-partition coalescing, skew-join
splitting, and broadcast-join demotion/promotion all come from it.
``shuffle.partitions`` here is a *ceiling* for local runs; on a real
cluster set it to ~2-3x total cores and let AQE coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hbase-support-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # events.ts is INT64 TIMESTAMP(NANOS); Spark must read it as long
        # (io.load_table converts to a µs timestamp). SURVEY.md §1.2.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Oracle (DuckDB) agreement on date_trunc/extract requires one zone.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dims (region/nation/customer/supplier/part at test SFs) broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # the stage progress bar writes to stderr without a newline; in
        # a merged log it lands in front of the next PASS/FAIL line
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
