"""Declarative data-quality expectations: a rule set audited in ONE
pass over the fact -- the constraint engine every managed ingest
(Delta Live Tables expectations, Great Expectations, dbt tests) runs
before publishing a table.

A rule is (name, violation predicate). The audit evaluates ALL
row-local rules in a single conditional aggregation over one scan --
adding a rule adds a column to the aggregate, never a pass over the
data -- plus the two rule shapes that are NOT row-local and honestly
cost more than a scan:

  - referential integrity (fk_customer_exists): resolved by folding a
    broadcast LEFT join of the dimension's keys into the SAME scan,
    so the orphan flag is just another row-local predicate by the
    time the aggregate sees it (at 100 TB the dim-key list is the
    broadcastable side by construction);
  - uniqueness (unique_orderkey): COUNT - COUNT(DISTINCT key). A
    uniqueness expectation cannot be verified without key-level
    comparison; the distinct shuffles the key domain (map-side
    partial distinct first). That cost is the rule's, not the
    engine's -- drop the rule and the plan is scan + broadcast join +
    one 1-row aggregate.

The result is one row per rule (violations, checked, passed), so the
driver hash pins every count. The rule set deliberately contains a
FAILING rule (price_cap_400k: TPC-H prices run to ~500k), proving
the audit detects violations rather than vacuously passing.

Plan gate (tests/test_constraints.py): exactly ONE orders scan, the
customer side broadcast, no other exchange before the final 1-row
aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load

def _rules() -> dict[str, Column]:
    """Row-local rules: name -> violation predicate over the joined
    row (`_dim_key` null = customer key missing). Output is sorted by
    rule name."""
    return {
        "not_null_orderkey": F.col("o_orderkey").isNull(),
        "status_in_domain": ~F.col("o_orderstatus").isin("O", "F", "P"),
        "price_positive": ~(F.col("o_totalprice") > 0),
        "price_cap_400k": F.col("o_totalprice") > 400000.0,
        "fk_customer_exists": F.col("_dim_key").isNull(),
    }


def audit_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, one broadcast join, one 1-row aggregate, exploded to
    one row per rule."""
    return _audit(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer").select("c_custkey"),
    )


def _audit(o: DataFrame, dim: DataFrame) -> DataFrame:
    """The audit over an explicit (fact, dimension-key) pair -- split
    from the loader so tests can feed a DUPLICATED dimension. The FK
    fold joins DISTINCT dim keys (set semantics): a dimension carrying
    duplicate keys -- the very defect a DQ engine exists to catch --
    must not multiply fact rows, or n_checked inflates, every
    row-local violation double-counts, and COUNT - COUNT(DISTINCT)
    reports phantom uniqueness violations. The distinct costs one
    exchange over the (small, broadcastable) KEY DOMAIN, never over
    the fact."""
    dim_keys = dim.select(
        F.col(dim.columns[0]).alias("_dim_key")).distinct()
    flagged = o.join(
        dim_keys,
        o["o_custkey"] == dim_keys["_dim_key"],
        "left",
    )
    rules = _rules()
    aggs = [
        F.count(F.when(pred, 1)).alias(f"v_{name}")
        for name, pred in rules.items()
    ] + [
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "v_unique_orderkey"),
    ]
    one = flagged.agg(*aggs)
    entries = [
        F.struct(
            F.lit(name).alias("rule"),
            F.col(f"v_{name}").alias("n_violations"),
        )
        for name in rules
    ] + [
        F.struct(
            F.lit("unique_orderkey").alias("rule"),
            F.col("v_unique_orderkey").alias("n_violations"),
        )
    ]
    return (
        one.select(F.explode(F.array(*entries)).alias("r"), "n_checked")
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.n_violations").alias("n_violations"),
            "n_checked",
            (F.col("r.n_violations") == 0).alias("passed"),
        )
        .orderBy("rule")
    )


@query(
    "q_constraint_audit",
    oracle="""
WITH flags AS (
  SELECT o.*, c.c_custkey AS _dim_key
  FROM orders o
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
),
a AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS v_nn,
         COUNT(*) FILTER (WHERE NOT (o_orderstatus IN ('O','F','P')))
           AS v_dom,
         COUNT(*) FILTER (WHERE NOT (o_totalprice > 0)) AS v_pos,
         COUNT(*) FILTER (WHERE o_totalprice > 400000.0) AS v_cap,
         COUNT(*) FILTER (WHERE _dim_key IS NULL) AS v_fk,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_uni
  FROM flags
)
SELECT 'fk_customer_exists' AS rule, v_fk AS n_violations,
       n AS n_checked, v_fk = 0 AS passed FROM a
UNION ALL SELECT 'not_null_orderkey', v_nn, n, v_nn = 0 FROM a
UNION ALL SELECT 'price_cap_400k', v_cap, n, v_cap = 0 FROM a
UNION ALL SELECT 'price_positive', v_pos, n, v_pos = 0 FROM a
UNION ALL SELECT 'status_in_domain', v_dom, n, v_dom = 0 FROM a
UNION ALL SELECT 'unique_orderkey', v_uni, n, v_uni = 0 FROM a
ORDER BY rule
""",
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six expectations over orders -- not-null, domain, two range
    rules, referential integrity against customer, key uniqueness --
    audited in one scan and hash-compared rule-by-rule; price_cap_400k
    REALLY fails (TPC-H prices reach ~500k), pinning detection, while
    the other five pass with exact zero counts."""
    return audit_frame(spark, sf_dir)
