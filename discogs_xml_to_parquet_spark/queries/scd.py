"""Slowly-changing-dimension (SCD type 2) merge: the CDC/upsert shape
every warehouse-style engine needs -- apply a batch of updates to a
dimension, closing out superseded rows and appending current ones,
with validity intervals.

Spark has no MERGE INTO against parquet (that is a table-format
feature: Delta/Iceberg/Hudi); the declarative equivalent is one
left-join + union producing exactly the post-merge state. The shapes
are scale-right: the dimension joins the update set on its key (equi
join, broadcastable when the update batch is small -- the common CDC
case), and no window or global sort appears at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load

# The deterministic "update batch": every 10th customer gets a new
# account balance (+100.00, exact at 2dp) effective 1996-06-01. Derived
# from the customer table itself so the query is self-contained and the
# oracle can rebuild the identical batch.
_EFF = "1996-06-01"
_OPEN = "9999-12-31"


@query(
    "q_scd2_merge",
    oracle=f"""
WITH updates AS (
  SELECT c_custkey,
         CAST(floor(c_acctbal * 100.0 + 0.5) + 10000 AS BIGINT) AS new_bal_c
  FROM customer WHERE c_custkey % 10 = 3
),
closed AS (  -- superseded versions of updated keys
  SELECT c.c_custkey, c.c_mktsegment,
         c.c_acctbal AS acctbal,
         '1995-01-01' AS valid_from, '{_EFF}' AS valid_to,
         FALSE AS is_current
  FROM customer c JOIN updates u ON c.c_custkey = u.c_custkey
),
fresh AS (    -- new current versions carrying the updated balance
  SELECT c.c_custkey, c.c_mktsegment,
         CAST(u.new_bal_c AS DOUBLE) / 100.0 AS acctbal,
         '{_EFF}' AS valid_from, '{_OPEN}' AS valid_to,
         TRUE AS is_current
  FROM customer c JOIN updates u ON c.c_custkey = u.c_custkey
),
untouched AS (
  SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal AS acctbal,
         '1995-01-01' AS valid_from, '{_OPEN}' AS valid_to,
         TRUE AS is_current
  FROM customer c ANTI JOIN updates u ON c.c_custkey = u.c_custkey
)
SELECT * FROM closed
UNION ALL SELECT * FROM fresh
UNION ALL SELECT * FROM untouched
ORDER BY c_custkey, valid_from
""",
)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 upsert as one declarative plan: updated keys emit a closed
    row (old value, valid_to = effective date) plus a current row (new
    value, open-ended), untouched keys pass through. One equi join
    against the update batch serves all three branches -- Catalyst
    reuses the scan, and with a CDC-sized batch the join broadcasts.
    The new balance is derived in exact cents (scaled bigint + 10000)
    and unscaled through the same /100.0 in both engines."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    updates = c.filter(F.col("c_custkey") % 10 == 3).select(
        "c_custkey",
        (F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)) + 10000).alias(
            "new_bal_c"
        ),
    )
    joined = c.join(updates, "c_custkey", "left")
    closed = joined.filter(F.col("new_bal_c").isNotNull()).select(
        "c_custkey", "c_mktsegment",
        F.col("c_acctbal").alias("acctbal"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(_EFF).alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    fresh = joined.filter(F.col("new_bal_c").isNotNull()).select(
        "c_custkey", "c_mktsegment",
        (F.col("new_bal_c").cast("double") / 100.0).alias("acctbal"),
        F.lit(_EFF).alias("valid_from"),
        F.lit(_OPEN).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    untouched = joined.filter(F.col("new_bal_c").isNull()).select(
        "c_custkey", "c_mktsegment",
        F.col("c_acctbal").alias("acctbal"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(_OPEN).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionAll(fresh).unionAll(untouched).orderBy(
        "c_custkey", "valid_from"
    )
