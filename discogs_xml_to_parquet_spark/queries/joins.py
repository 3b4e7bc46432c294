"""Join queries: inner/left/semi/anti/non-equi (SURVEY.md §2.B).

The reference is a single-table pipeline with no second input anywhere;
joins are pure Spark primitives here. Scale design per query:

- Star joins broadcast every dimension while it fits the planner's
  threshold (session.py); past it a dimension shuffles on the join
  key -- the correct behavior.
- The fact table is never on the build side.
- Non-equi band joins broadcast the tiny band table into a
  BroadcastNestedLoopJoin; the alternative (shuffle range join) is
  never right for a constant-size dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import dsum
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load


@query(
    "q_join_star_revenue",
    oracle="""
SELECT
  n_name,
  CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_nationkey = c_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q_join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table star join: local-supplier revenue by
    nation. The planner broadcasts the geography dims -- at 100 TB the
    only shuffles left are lineitem-orders and orders-customer on their
    keys, both AQE-coalesced."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q_join_left_outer",
    oracle="""
SELECT
  c_custkey,
  c_mktsegment,
  COUNT(o_orderkey) AS n_orders,
  CAST(SUM(CAST(floor((COALESCE(o_totalprice, 0)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
ORDER BY c_custkey
""",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders.
    COUNT(col) (non-null only) vs COUNT(*) matters here and both
    engines agree on the semantics."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce("o_totalprice", F.lit(0.0))).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
)
ORDER BY c_custkey
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers holding a pending order.
    Semi joins never duplicate the probe side, so the output is bounded
    by the left table -- the safe existence-check shape at scale."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
)
ORDER BY c_custkey
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no recent orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


PRICE_BANDS = [
    ("small", 0.0, 100_000.0),
    ("medium", 100_000.0, 250_000.0),
    ("large", 250_000.0, 400_000.0),
    ("jumbo", 400_000.0, 1e18),
]


@query(
    "q_join_nonequi_bands",
    oracle="""
SELECT
  b.band,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(floor((o_totalprice) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS band_total
FROM orders
JOIN (VALUES
  ('small', 0.0, 100000.0),
  ('medium', 100000.0, 250000.0),
  ('large', 250000.0, 400000.0),
  ('jumbo', 400000.0, 1e18)
) AS b(band, lo, hi)
  ON o_totalprice >= b.lo AND o_totalprice < b.hi
GROUP BY b.band
ORDER BY b.band
""",
)
def q_join_nonequi_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join of a fact table against a constant
    band dimension: broadcast nested-loop against 4 rows -- each fact
    row tests 4 predicates, no shuffle."""
    o = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    return (
        o.join(
            # hint: unhinted, the size estimates build the orders side
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("band_total"),
        )
        .orderBy("band")
    )


@query(
    "q_join_full_outer",
    oracle="""
WITH cust_nations AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
  FROM customer GROUP BY c_nationkey
),
supp_nations AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
)
SELECT
  COALESCE(c.nationkey, s.nationkey) AS nationkey,
  COALESCE(c.n_customers, 0) AS n_customers,
  COALESCE(s.n_suppliers, 0) AS n_suppliers
FROM cust_nations c
FULL OUTER JOIN supp_nations s ON c.nationkey = s.nationkey
ORDER BY nationkey
""",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides. Aggregate-then-join
    keeps both sides small: the join input is |nations|, not |rows|."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.alias("c")
        .join(s.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full_outer")
        .select(
            F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


@query(
    "q_skew_salted_join",
    oracle="""
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor((e.value) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact x dim join (operators/skew.py salted_join):
    each fact row's join key is widened with a deterministic salt
    (pmod(hash(event_id), 8)) and the dim side is replicated 8-fold, so
    one hot user key spreads over 8 shuffle tasks instead of one
    straggler. Results are provably identical to the plain join -- the
    oracle IS the plain join -- which is the whole point: salting is a
    physical rewrite, not a semantic one. Use when AQE's skew splitting
    can't help (it only splits sort-merge partitions, not a
    hot-building broadcast or a combiner-defeated aggregation)."""
    from discogs_xml_to_parquet_spark.operators.skew import salted_join

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(e, c, "user_id", salt_buckets=8,
                         fact_unique_col="event_id")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )
