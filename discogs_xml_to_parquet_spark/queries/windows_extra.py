"""Distribution-family window functions: percent_rank, cume_dist,
nth_value, lag/lead with defaults -- the remaining standard window
surface beyond rank/topk/frames (queries/windows.py).

Cross-engine exactness: percent_rank and cume_dist are single IEEE
divisions of exact integer rank counters ((rank-1)/(n-1), n_le/n), so
with a total order (unique tie-break key) both engines produce
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load


@query(
    "q_window_distribution",
    oracle="""
SELECT s_nationkey, s_suppkey,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       nth_value(s_suppkey, 2) OVER (PARTITION BY s_nationkey
                                     ORDER BY s_acctbal, s_suppkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS second_poorest,
       lag(s_acctbal, 1, 0.0) OVER w AS prev_bal,
       lead(s_acctbal, 1, -1.0) OVER w AS next_bal
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
ORDER BY s_nationkey, s_suppkey
""",
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist/nth_value/lag/lead over per-nation
    supplier partitions. The order key ends in the unique s_suppkey, so
    every rank counter -- and therefore every derived double -- is
    deterministic. nth_value gets an explicit unbounded frame (the
    default frame stops at CURRENT ROW, where the standard leaves
    nulls before row 2); lag/lead carry explicit defaults instead of
    null so the boundary rows are value-compared too. Windows
    partition by nation: per-partition sorts parallelize across
    groups, nothing global."""
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return s.select(
        "s_nationkey",
        "s_suppkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("s_suppkey", 2).over(w_full).alias("second_poorest"),
        F.lag("s_acctbal", 1, 0.0).over(w).alias("prev_bal"),
        F.lead("s_acctbal", 1, -1.0).over(w).alias("next_bal"),
    ).orderBy("s_nationkey", "s_suppkey")


@query(
    "q_ratio_to_report",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, r.r_name AS region,
         SUM(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
           AS rev_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name, r.r_name
)
SELECT nation, region,
       CAST(rev_c AS BIGINT) AS rev_c,
       CAST(CAST(rev_c AS HUGEINT) * 1000000
            // SUM(CAST(rev_c AS HUGEINT))
                    OVER (PARTITION BY region)
            AS BIGINT) AS share_ppm
FROM rev
ORDER BY region, nation
""",
)
def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue
    (the percent-of-total window shape every BI layer emits). Revenue
    aggregates to exact cents per (nation, region) -- the star join
    broadcasts all three dimensions, so the fact table shuffles once
    on the group key -- then ONE unbounded window over the ~25-row
    aggregate computes the region totals; shares are integer ppm with
    truncating division in both engines. The window runs over group
    rows, never fact rows: at 100 TB the expensive pass is the
    aggregate, and the share step is free."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o["o_custkey"] == F.col("c_custkey"))
        .join(n.select("n_nationkey", "n_name", "n_regionkey"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r.select("r_regionkey", "r_name"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.col("r_name").alias("region"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
                .cast("bigint")
            ).alias("rev_c")
        )
    )
    wr = Window.partitionBy("region")
    return rev.select(
        "nation",
        "region",
        F.col("rev_c").cast("bigint").alias("rev_c"),
        # widen to decimal BEFORE multiplying: per-region revenue in
        # cents reaches ~9e12 around SF10, so the bigint product
        # rev_c * 1e6 would brush int64 max (DuckDB errors, non-ANSI
        # Spark wraps silently) -- decimal(38,0) keeps both engines
        # exact at any SF; `div` on decimals yields the bigint quotient
        F.expr(
            "CAST(CAST(rev_c AS DECIMAL(38,0)) * 1000000"
            " div SUM(CAST(rev_c AS DECIMAL(38,0)))"
            " OVER (PARTITION BY region) AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("region", "nation")
