"""Testdata table access.

The driver materializes a TPC-H-ish star schema plus `events`, `documents`,
`embeddings` at /root/testdata/sf{0.001,0.01,0.1}/ (TESTDATA.md). All
operators take an `sf_dir` so the same code runs at any scale factor — or,
on a production cluster, against a real warehouse path.

Scale notes:
  - Everything is `spark.read.parquet(...)`: Catalyst pushes filters and
    prunes columns into the parquet scan (verify with .explain →
    PushedFilters / ReadSchema), so operators never pre-materialize.
  - `DIM_TABLES` marks the tables small enough to broadcast at ANY fact-SF
    (region/nation are bounded by geography; supplier/part/customer grow
    with SF and are NOT in the list).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Bounded-cardinality dimensions: safe to broadcast at any scale factor.
DIM_TABLES = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Spark <4.1 rejects it unless
        # nanosAsLong is set (then it arrives as int64 epoch-nanos); Spark
        # >=4.1 reads it natively as TIMESTAMP_NTZ truncated to micros. Both
        # paths normalize to a session-tz TimestampType truncated to micros —
        # the same floor DuckDB applies via epoch_us on its TIMESTAMP_NS
        # (sessions here run UTC, so NTZ wall time == the stored instant).
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # conf removed in newer Spark; native NTZ read applies
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Pinned-width repartition for a compute-dense pipeline head.

    The testdata tables are single-row-group parquet files, so every scan
    is one task no matter the core count — the "one huge unsplittable
    file" input-skew case (optimization guide §2.5): tokenization /
    shingling / vector math downstream of the scan would otherwise run on
    one core. A production corpus hits the same wall whenever its file
    count (or row-group count) is below the cluster's core count.

    Width is `sparkContext.defaultParallelism // 2` (local: half the core
    count; cluster: half the total executor cores; env-overridable, see
    below) — scale-adaptive, not a constant — and
    the explicit numPartitions pins it against AQE coalescing (these
    shuffles are small-bytes / high-CPU-per-row, exactly the shape AQE's
    byte-targeted coalescing mis-sizes). With `cols`, hash-partitions by
    those columns (deterministic under task retry, no sort-before-
    repartition pass, and reusable by downstream ops keyed on a superset);
    without, round-robin. Only use on heads whose per-row compute
    dominates the scan — for a cheap narrow map the extra exchange is
    pure loss.

    Width default is defaultParallelism // 2, overridable with
    $SPARK_GRAFT_SPREAD_WIDTH: measured on bm25_keyword_search at sf0.1
    on this 32-core box, widths 32/16/8/4 gave 1.59/0.82/0.81/1.11 s —
    past ~half the cores these string/array kernels are memory-bandwidth
    bound and extra short tasks only add launch overhead. On a cluster
    whose scan stages are long enough to amortize task launch, set the
    env to the full core count."""
    sc = df.sparkSession.sparkContext
    n = _env_width("SPARK_GRAFT_SPREAD_WIDTH") or max(
        2, sc.defaultParallelism // 2
    )
    if cols:
        return df.repartition(n, *[F.col(c) for c in cols])
    return df.repartition(n)


def _env_width(var: str) -> int:
    """Parse a width/fan env override. 0 or unset means "use the
    default" (documented convention — widths are never legitimately 0);
    a non-integer or negative value fails loudly naming the variable
    instead of surfacing as a bare error from deep inside a plan build
    (or, for a store's prefix modulus, as a negative pmod divisor
    persisted into its layout manifest)."""
    raw = os.environ.get(var, "0")
    try:
        value = int(raw)
    except ValueError:
        value = -1
    if value < 0:
        raise ValueError(
            f"${var} must be a non-negative integer (got {raw!r}); "
            "0 or unset selects the built-in default"
        )
    return value


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}
