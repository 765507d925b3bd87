"""SparkSession factory.

Local-mode defaults mirror what we'd set on a real cluster where the knob
carries over (AQE, adaptive skew join, arrow), and use local-appropriate
values where it doesn't (shuffle partitions sized to cores, not 200).

Scale notes (100 TB / 1000-executor deployment):
  - AQE handles runtime coalescing + skew-join splitting, so we deliberately
    do NOT hand-tune `spark.sql.shuffle.partitions` per query; on a cluster
    set it high (2-4x total cores) and let AQE coalesce.
  - `autoBroadcastJoinThreshold` stays at default; dimension tables
    (region/nation/supplier/part at TPC-H shape) are broadcast explicitly
    with hints in the operators so plans stay broadcast at any fact-table SF.
  - Arrow is on for the few pandas-UDF operators (the slow path; see
    operators/multimodal.py and functions/textclean.py P1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_master() -> str:
    """local[$SPARK_GRAFT_CPUS], or one thread per CPU this process may
    run on when the env is unset."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "kafka_flink_slack_pipeline_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    `master` defaults to default_master() when no cluster master is
    configured, so the same entry points run in tests and under
    spark-submit on a real cluster (where `master` is injected).
    """
    if master is None:
        master = default_master()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOT set: adaptive.coalescePartitions.parallelismFirst and
        # adaptive.enabled=false were both A/B'd in r4 against the
        # r2->r3 slowdown hypothesis ("AQE planning latency is the
        # environmental floor"). A drift-cancelling ABAB run (fresh
        # session per leg, two rounds, min per leg) measured both as a
        # wash (+/-5% per query, 1.03x total) — the naive sequential
        # probe that suggested 1.2-2x wins was confounded by JIT
        # warm-up ordering. The 4.1 floor is runtime overhead, not a
        # session conf.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
