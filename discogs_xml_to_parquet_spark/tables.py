"""Loaders for the driver-generated star schema (TESTDATA.md).

All queries take (spark, sf_dir) and load via these helpers so that the
physical reading strategy is controlled in exactly one place. At cluster
scale the same call sites would point at partitioned/bucketed tables; on
the test data they are single parquet files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts has shipped as both parquet TIMESTAMP(MICROS) (reads
    natively as timestamp_ntz) and TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright ([PARQUET_TYPE_ILLEGAL]). For
    the nanos generation: read raw nanos via the legacy conf and
    rebuild a timestamp_ntz:

    - integer `div` (never `/`: double division of an 1.7e18 nanos value
      rounds in the last microseconds)
    - epoch + exact DECIMAL microsecond interval, so the result is
      independent of the session timezone (timestamp_micros() would
      detour through TimestampType and shift under a non-UTC session)

    Truncation ns->us matches DuckDB's TIMESTAMP_NS->TIMESTAMP cast,
    keeping oracle comparisons exact. Both lanes land on the same
    timestamp_ntz column type, so queries never see the difference.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(raw.dtypes)["ts"]
    if ts_dtype == "bigint":
        ts = F.expr(
            "TIMESTAMP_NTZ '1970-01-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, 0, 0, CAST(ts DIV 1000 AS DECIMAL(26,6)) / 1000000)"
        )
    elif ts_dtype == "timestamp_ntz":
        ts = F.col("ts")
    else:
        # refuse rather than cast: a UTC-adjusted TIMESTAMP(MICROS)
        # would arrive as session-zoned 'timestamp', and casting it to
        # timestamp_ntz shifts values under a non-UTC session -- the
        # exact TimestampType detour the nanos lane above avoids
        raise TypeError(
            f"events.ts has dtype {ts_dtype!r}; expected TIMESTAMP_NS "
            "(read as bigint via nanosAsLong) or timestamp_ntz. A "
            "session-zoned 'timestamp' would silently shift under a "
            "non-UTC session timezone."
        )
    return raw.select(
        "event_id", ts.alias("ts"), "user_id", "event_type", "value", "props"
    )


def load_spread(spark: SparkSession, sf_dir: str, name: str,
                parts: int = 64) -> DataFrame:
    """load() + repartition: for compute-bound per-row pipelines over
    under-partitioned sources. Each test table is ONE parquet file =
    one partition, so signature folds / pandas stages would otherwise
    run on a single core until the first shuffle. The same applies in
    production to any single-big-gzip or few-file input: spread before
    heavy per-row compute, skip it for scan-shaped aggregations (the
    extra exchange would cost more than it buys)."""
    return load(spark, sf_dir, name).repartition(parts)
