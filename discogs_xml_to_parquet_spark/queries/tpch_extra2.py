"""TPC-H optimizer-shape queries, second batch (Q13/Q17/Q7/Q22
adaptations to the testdata schema -- no partsupp/phone/comment
columns, so the classic predicates are adapted while keeping each
query's defining PLAN shape intact):

- Q13: LEFT OUTER join with a predicate ON the join (not WHERE), then
  a count-of-counts distribution -- the outer-join histogram shape.
- Q17: correlated scalar AVG subquery, decorrelated into a single
  partitioned window over one fact scan (no self-join re-scan).
- Q7: one dimension table joined in TWO roles (supplier nation vs
  customer nation) with a disjunctive pair predicate.
- Q22: global scalar aggregate subquery + NOT EXISTS anti-join,
  with the avg comparison done in exact integers so the boundary
  cannot flip between engines.
- Q15: aggregate -> scalar MAX -> equality-join-back (the view-reused-
  twice "top supplier" shape), with the max-equality on exact scaled
  decimals so ties and boundaries are engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import dsum, scaled, unscale
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load


@query(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) AS c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed 0, 1, 2, ... orders
    (excluding one priority class). The defining feature is the filter
    riding ON the left outer join -- moving it to WHERE would silently
    drop zero-order customers, so the adaptation keeps it in the join
    condition exactly as Q13 keeps its o_comment NOT LIKE there.

    Scale shape: one shuffle of customer+orders on the customer key
    (COUNT(o_orderkey) counts only matched rows, giving the 0 bucket
    for free from the outer join), then a second aggregate over the
    per-customer counts whose key domain is tiny (max orders per
    customer) -- effectively free. No broadcast candidates: both sides
    are fact-sized at 100 TB, and one partitioned shuffle is the floor
    for this semantics."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q17_small_qty_revenue",
    oracle="""
SELECT CAST(SUM(CAST(floor(l_extendedprice * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 / 7.0 AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
  AND l_quantity < 0.2 * (
    SELECT SUM(l_quantity) / COUNT(*) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of a brand/type whose
    quantity is below 20% of that part's average order quantity -- the
    canonical correlated scalar AVG subquery.

    Spark-first strategy: the literal spelling re-scans lineitem per
    part (or as a self-join: two fact scans + two shuffles). Instead
    the correlated average decorrelates into a window over ONE fact
    scan: broadcast-semi-restrict lineitem to the qualifying parts
    first (tiny fraction of the fact survives the scan), then compute
    sum/count over Window.partitionBy(l_partkey) -- one shuffle on
    the part key, each group a handful of rows, no self-join. The
    average is spelled explicitly as SUM/COUNT (not F.avg) so both
    engines perform the identical exact-integer sum (l_quantity is
    integral-valued) followed by one correctly-rounded division and
    one 0.2x multiply -- the comparison cannot flip at the boundary.
    The output dollar sum goes through the scaled-integer fold
    (functions/exact.py); n_rows pins the filter cardinality."""
    pq = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").join(
        pq, F.col("l_partkey") == F.col("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum("l_quantity").over(w) / F.count(F.lit(1)).over(w)
    return (
        li.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q7_volume_shipping",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
   OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year,
    in both directions -- the same dimension table (nation) joined in
    two different ROLES, plus a disjunctive cross-role pair predicate.

    Scale shape: the nation filter is applied BEFORE the role joins,
    so supplier and customer are each broadcast-semi-reduced to the
    two nations' members (2/N of each dim) and then themselves
    broadcast into the fact joins -- the disjunctive pair predicate
    never sees un-reduced inputs. The only big shuffle left is
    lineitem |><| orders on the order key; everything else is
    broadcast. The pair disjunction is a post-join filter over two
    tiny string columns, not a join condition, so no theta-join risk."""
    n_pair = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_20", "NATION_11")
    )
    # hints: a join estimates the product of its inputs (s, c); at small SF
    # supplier estimates below n_pair
    s = F.broadcast(
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n_pair), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = F.broadcast(
        load(spark, sf_dir, "customer")
        .join(n_pair, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = load(spark, sf_dir, "orders").join(
        c, F.col("c_custkey") == F.col("o_custkey")
    )
    li = load(spark, sf_dir, "lineitem").join(
        s, F.col("s_suppkey") == F.col("l_suppkey")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_20")
             & (F.col("cust_nation") == "NATION_11"))
            | ((F.col("supp_nation") == "NATION_11")
               & (F.col("cust_nation") == "NATION_20"))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q22_idle_balance",
    oracle="""
WITH stats AS (
  SELECT SUM(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT)) AS tot,
         COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey AS nation_code,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS totacctbal
FROM customer, stats
WHERE CAST(CAST(floor(c_acctbal * 1000000 + 0.5) AS BIGINT) AS HUGEINT) * n > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY nation_code
""",
)
def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no qualifying orders, grouped by a code column -- a global
    scalar aggregate subquery feeding a filter, plus a NOT EXISTS
    anti-join. (The testdata has no c_phone, so the country code is
    the nation key and 'no orders at all' -- vacuous here, every
    customer has orders -- becomes 'no URGENT orders'.)

    Determinism: `c_acctbal > AVG(c_acctbal)` on raw doubles is
    order-dependent at the boundary, so the comparison is cross-
    multiplied into exact integers -- scaled(c_acctbal) * n > tot with
    a decimal(38,0) accumulator (registry.py determinism rules) --
    bit-identical in both engines regardless of aggregation order.
    The oracle widens the multiply to HUGEINT to mirror the decimal
    headroom: scaled(~1e10) x customer-count overflows a checked
    BIGINT multiply at the 100 TB row counts the Spark side already
    survives.

    Scale shape: the stats row is a 1-row broadcast (two-phase global
    agg), the threshold filter is map-side, and the anti-join shuffles
    only the URGENT slice of orders against the surviving (above-
    average) sliver of customers -- both sides pre-reduced before the
    one shuffle. Output is one row per nation code."""
    cust = load(spark, sf_dir, "customer")
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(scaled("c_acctbal").cast("decimal(38,0)")).alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return (
        cust.crossJoin(stats)
        .filter(
            scaled("c_acctbal").cast("decimal(38,0)") * F.col("n")
            > F.col("tot")
        )
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation_code"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("nation_code")
    )


@query(
    "q15_top_supplier",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1000000 + 0.5) AS BIGINT)) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(r AS DOUBLE) / 1000000 AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE r = (SELECT MAX(r) FROM rev)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals
    the maximum quarterly revenue -- the revenue view consumed TWICE
    (once for the scalar MAX, once re-joined on equality), classically
    written as CREATE VIEW + correlated MAX.

    Determinism: `revenue = MAX(revenue)` on raw double sums is the
    textbook cross-engine trap (a last-bit difference on either side
    drops or adds a winner). Both sides here stay in the EXACT scaled-
    integer domain -- per-supplier totals as decimal(38,0)/HUGEINT,
    the MAX over those integers, integer equality -- and only the
    emitted column unscales to double.

    Scale shape: one fact scan aggregates to the supplier-keyed
    revenue view (map-side combine; supplier domain is dimension-
    sized), the 1-row MAX broadcasts back onto that view (never onto
    the fact), and the winners join supplier by key. The view feeds
    both consumers from the same plan subtree; at any SF the second
    consumer costs one dimension-table pass, not a fact re-scan."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(scaled(net).cast("decimal(38,0)")).alias("r"))
        .localCheckpoint()  # one aggregate serves MAX and the join-back
    )
    mx = rev.agg(F.max("r").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.join(mx, F.col("r") == F.col("mx"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", unscale(F.col("r")).alias("total_revenue"))
        .orderBy("s_suppkey")
    )
