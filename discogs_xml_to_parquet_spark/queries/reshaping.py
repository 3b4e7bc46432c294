"""Reshaping + order-statistic aggregates: pivot, unpivot, min_by/
max_by, exact and approximate percentiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import dsum
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load

_STATUSES = ["F", "O", "P"]


@query(
    "q_pivot",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_P,
       CAST(SUM(CAST(floor((o_totalprice) * 1000000 + 0.5) AS BIGINT)) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) / 1000000 AS total_F,
       CAST(SUM(CAST(floor((o_totalprice) * 1000000 + 0.5) AS BIGINT)) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / 1000000 AS total_O,
       CAST(SUM(CAST(floor((o_totalprice) * 1000000 + 0.5) AS BIGINT)) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) / 1000000 AS total_P
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns. An explicit value list is
    passed to pivot() -- without it Spark runs a blocking distinct scan
    to discover values, an extra full pass you never want at scale."""
    o = load(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("total"),
        )
    )
    return p.select(
        "o_orderpriority",
        *[F.col(f"{s}_n").alias(f"n_{s}") for s in _STATUSES],
        *[F.col(f"{s}_total").alias(f"total_{s}") for s in _STATUSES],
    ).orderBy("o_orderpriority")


@query(
    "q_unpivot",
    oracle="""
SELECT p_partkey, metric, val
FROM (
  SELECT p_partkey,
         CAST(p_size AS DOUBLE) AS size_val,
         p_retailprice AS price_val
  FROM part WHERE p_partkey < 100
)
UNPIVOT (val FOR metric IN (size_val, price_val))
ORDER BY p_partkey, metric
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide metrics to long form -- the inverse reshape,
    row-multiplying but shuffle-free."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size_val"),
            F.col("p_retailprice").alias("price_val"),
        )
        .unpivot("p_partkey", ["size_val", "price_val"], "metric", "val")
        .orderBy("p_partkey", "metric")
    )


@query(
    "q_minby_maxby",
    oracle="""
SELECT n_nationkey,
       min_by(s_suppkey, s_acctbal) AS poorest_supp,
       max_by(s_suppkey, s_acctbal) AS richest_supp,
       CAST(MIN(s_acctbal) AS DOUBLE) AS min_bal,
       CAST(MAX(s_acctbal) AS DOUBLE) AS max_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_nationkey
ORDER BY n_nationkey
""",
)
def q_minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates (min_by/max_by): the single-pass
    alternative to a rank-and-filter window when only the extreme row's
    companion value is needed. s_acctbal values are distinct per nation
    in this data, so the arg is deterministic."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(
            F.min_by("s_suppkey", "s_acctbal").alias("poorest_supp"),
            F.max_by("s_suppkey", "s_acctbal").alias("richest_supp"),
            F.min("s_acctbal").alias("min_bal"),
            F.max("s_acctbal").alias("max_bal"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "q_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS median_price,
       quantile_cont(l_extendedprice, 0.95) AS p95_price,
       CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q1_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per return flag. Both engines use
    the same sort + linear-interpolation formula (lower + frac*(upper -
    lower)) on identical doubles -- verified bit-identical, so this is
    oracle-checked, not rows-only. Also cross-checked against numpy in
    tests/test_percentile.py. At 100 TB the exact form costs a
    per-group sort; the sketch below is the scale path."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", 0.5).alias("median_price"),
            F.percentile("l_extendedprice", 0.95).alias("p95_price"),
            F.percentile("l_quantity", 0.25).alias("q1_qty"),
        )
        .orderBy("l_returnflag")
    )
