"""TPC-H shapes Q4 / Q8 / Q12, round 9 -- the remaining classics
expressible over the testdata's column subset (no partsupp table and
no l_commitdate/l_receiptdate/l_shipmode columns exist, which rules
out Q2/Q9/Q11/Q16/Q20 and forces documented predicate adaptations
below; the OPTIMIZER SHAPES -- correlated EXISTS, share-of-total over
a multi-dim star, conditional class aggregation -- are the faithful
part).

Like every relational query here these are pure Spark built-ins; the
reference has no join/agg surface at all (SURVEY.md §2.B,
main.rs has a single-table pipeline), so these pin the engine's
optimizer behavior, not reference parity.

Scale notes per query in the docstrings; the common story: every
dimension is broadcast-reduced BEFORE any fact shuffle, so each query
keeps exactly one big exchange (lineitem |><| orders on the order
key) no matter how many dims participate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import dsum
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load

@query(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-04-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders of a quarter having at least one late
    line, counted per priority. The testdata has no
    l_commitdate/l_receiptdate, so 'late' is adapted to shipped more
    than 60 days after the order date -- the correlated EXISTS whose
    predicate references BOTH sides survives intact.

    Scale shape: the EXISTS decorrelates to a LEFT SEMI join with a
    mixed equi + non-equi condition. The semi join shuffles on the
    equi key (order key) and evaluates the date comparison as the
    join residual -- never a nested loop -- and emits each order at
    most once, so no post-join dedup is needed. One fact-fact
    exchange; the quarter filter is pushed to the orders scan
    (row-group pruning on o_orderdate)."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate")
         >= F.lit("1995-04-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate")
           < F.lit("1995-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q8_market_share",
    oracle="""
WITH vol AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
    AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       CAST(SUM(CAST(floor((CASE WHEN supp_nation = 'NATION_2'
                                 THEN volume ELSE 0 END)
                           * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000 AS nation_volume,
       CAST(SUM(CAST(floor(volume * 1000000 + 0.5) AS BIGINT))
            AS DOUBLE) / 1000000 AS total_volume,
       (CAST(SUM(CAST(floor((CASE WHEN supp_nation = 'NATION_2'
                                  THEN volume ELSE 0 END)
                            * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
          / 1000000)
         / (CAST(SUM(CAST(floor(volume * 1000000 + 0.5) AS BIGINT))
                 AS DOUBLE) / 1000000) AS mkt_share
FROM vol
GROUP BY o_year
ORDER BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_2's share of PROMO-part volume sold to
    ASIA customers, by order year -- the widest star in the registry
    (lineitem + orders + part + supplier + customer + nation x2 roles
    + region) feeding a share-of-total aggregate.

    Scale shape: all six dimension legs reduce BEFORE the fact
    shuffle -- part is filtered to one type and broadcast into the
    lineitem scan, supplier+nation broadcast (carrying supp_nation),
    customer+nation+region collapse to an ASIA customer key set
    broadcast into orders -- so the only exchange moving fact-sized
    data is lineitem |><| orders on the order key, identical to Q7's
    single-shuffle floor. The share division consumes two
    exact-integer-backed doubles, so it is bit-identical across
    engines (IEEE division of identical inputs)."""
    nation = load(spark, sf_dir, "nation")
    # hint: a join estimates the product of its inputs; unhinted, orders builds
    asia_cust = F.broadcast(
        load(spark, sf_dir, "customer")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    # hint: unhinted, AQE's final plan for this join varied run to run
    promo_parts = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp_nat = (
        load(spark, sf_dir, "supplier")
        # hint: at small SF supplier estimates below nation; unhinted, supplier builds
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate")
             >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate")
               < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(asia_cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .join(promo_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_orderkey", "supp_nation",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("volume"),
        )
    )
    nation_vol = dsum(
        F.when(F.col("supp_nation") == "NATION_2",
               F.col("volume")).otherwise(F.lit(0.0))
    )
    total_vol = dsum(F.col("volume"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_year")
        .agg(
            nation_vol.alias("nation_volume"),
            total_vol.alias("total_volume"),
        )
        .withColumn(
            "mkt_share", F.col("nation_volume") / F.col("total_volume")
        )
        .orderBy("o_year")
    )


@query(
    "q12_priority_class",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late lines of a year split into high/low
    priority classes per group. The testdata has no l_shipmode or
    receipt/commit dates, so the group key adapts to l_returnflag and
    'late' to shipped >= 30 days after ordering; the signature CASE
    pivot over the joined priority column is intact.

    Scale shape: the year filter prunes the lineitem scan
    (row-group pruning on l_shipdate) before the single fact-fact
    shuffle on the order key; the cross-side date predicate is a join
    residual, and both class counts come from ONE pass of conditional
    integer aggregation (map-side partials -- no second scan, no
    pivot shuffle)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate")
         >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate")
           < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate")
               >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("long").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )
