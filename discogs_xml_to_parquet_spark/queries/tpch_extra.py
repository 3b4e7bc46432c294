"""Additional TPC-H-shaped analytic queries (Q10/Q14/Q18 adaptations)
-- the realistic multi-join analytic workload the bench exercises."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import dsum
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load


@query(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer over a
    window, top-20. Four-table join; nation broadcast; top-k heap."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle="""
SELECT
  100.0 * (CAST(SUM(CAST(floor((CASE WHEN p_type = 'PROMO'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000)
        / (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000)
    AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month --
    conditional aggregation over a fact-dim join, single-row output.
    Exact decimal numerator/denominator, then one double division."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load(spark, sf_dir, "part")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_net = F.when(F.col("p_type") == "PROMO", net).otherwise(F.lit(0.0))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * dsum(promo_net) / dsum(net)).alias("promo_revenue_pct"))
    )


@query(
    "q18_large_volume",
    oracle="""
SELECT c_custkey, o_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice,
       CAST(SUM(l_quantity) AS BIGINT) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
""",
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via IN + HAVING (planned as
    an aggregate semi join). l_quantity is integral-valued, so the
    double SUM is exact in any order -- no decimal detour needed for
    the HAVING threshold or the emitted total."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(big.withColumnRenamed("l_orderkey", "big_key"),
              F.col("o_orderkey") == F.col("big_key"), "left_semi")
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(50)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the customer and the
    line's supplier share a nation (the classic 6-table star-with-a-
    twist -- the c_nationkey = s_nationkey equality rides ON the
    supplier join, not as a post-filter, so Catalyst plans it inside
    the join condition). supplier/nation/region broadcast; the fact
    table shuffles only for the orders and group-key joins; K-row
    aggregate output."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(floor((l_extendedprice * l_discount) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, single-row output --
    the canonical predicate-pushdown showcase (every filter reaches the
    parquet scan; no join, no wide shuffle, one global two-phase agg).
    Revenue is the discount give-back sum, exact via the 1e6-scaled
    fixed-point fold; n_rows pins the filter cardinality so a silently
    vacuous predicate cannot hash-green."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q19_discounted_revenue",
    oracle="""
SELECT CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a DISJUNCTIVE join predicate (OR of
    brand/size/quantity conjunction triples) -- the classic optimizer
    stress: Catalyst keeps the p_partkey = l_partkey equality as the
    join key (the OR arms ride as a post-join filter with their
    single-side conjuncts pushed to each scan), rather than
    degenerating to a cross product. part broadcasts; single-row
    global aggregate; n_rows pins the branch cardinality."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & q.between(qlo, qhi)
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(
            arm("Brand#1", 15, 1, 11)
            | arm("Brand#2", 25, 10, 20)
            | arm("Brand#3", 35, 20, 30)
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q21_suppliers_waiting",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders   ON o_orderkey = l1.l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 25
""",
)
def q21_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the double-correlated EXISTS / NOT-EXISTS
    anti-join over the same fact table (VERDICT r6 'missing' item 3) --
    suppliers who were the SOLE returned-flag supplier on a finished
    multi-supplier order. The testdata lineitem has no
    commit/receiptdate, so 'kept the order waiting' is adapted to
    l_returnflag = 'R' (same correlation structure, same per-row count
    semantics: one count per qualifying l1 row).

    Spark-first strategy: instead of two correlated re-scans of
    lineitem (the literal EXISTS spelling -- a left-semi plus a
    null-aware left-anti, each shuffling the full fact table), both
    subqueries decorrelate into ONE per-order aggregate pass:

        n_supp      = countDistinct(l_suppkey)              per order
        n_late_supp = countDistinct(l_suppkey) where 'R'    per order

    EXISTS(other supplier)            <=> n_supp > 1
    NOT EXISTS(other late supplier)   <=> n_late_supp = 1   (l1 is late,
    so the one late supplier IS l1's). The aggregate and the l1 side
    both hash-partition on l_orderkey -- one fact-fact shuffle join
    keyed on the order, supplier/nation broadcast. At 100 TB this is
    the plan you want: lineitem is read twice but shuffled once per
    side on the same key, and no null-aware anti-join materializes
    (l_orderkey is non-null in both engines' semantics here)."""
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    l1 = li.filter(F.col("l_returnflag") == "R")
    return (
        l1.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )
