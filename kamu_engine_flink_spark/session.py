"""SparkSession factory with engine defaults.

Mirrors the reference's environment pinning (UTC session timezone at
TransformApp.scala:61, TIMESTAMP_MILLIS parquet output encoding that the
reference needs 2.1k LoC of vendored Java readers for — SURVEY.md §1.3)
while enabling the Spark-side scale features the reference lacks: AQE,
skew-join handling, vectorized reads.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults sized for the local[32]/128GiB test harness; on a real cluster
# the caller overrides master/partitions via env or builder args.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def engine_session(
    app_name: str = "kamu-engine-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Key choices, each load-bearing at scale:
      - AQE on: runtime shuffle-partition coalescing + skew-join splitting
        replace hand-tuned partition counts when data volume varies by
        orders of magnitude between invocations.
      - UTC + TIMESTAMP_MILLIS: byte-compatible output with the reference's
        golden schemas (int64 TIMESTAMP(MILLIS,true)).
      - nanosAsLong: Spark rejects INT64 TIMESTAMP(NANOS) parquet columns
        outright; we read them as long and convert in the source layer
        (sources/parquet.py), matching DuckDB's ns->us truncation.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataFrame call-site capture costs 3 extra py4j round trips per
        # DataFrame API call (set/conf.get/clear on PySparkCurrentOrigin —
        # measured 0.48 s of a 10.7 s warm 3-invocation transform rep, 145
        # wrapped calls). It only enriches error messages with user line
        # numbers; engine invocations are machine-built SQL, so the
        # call-site would always point into the engine itself.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{_DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
