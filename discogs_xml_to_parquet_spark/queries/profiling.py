"""Table profiling: the ANALYZE/data-quality pass every warehouse runs
on ingest -- per-column row count, null count, distinct count, and
min/max, emitted as one narrow (column, stats) table.

Scale shape: ONE scan computes every column's profile (a single
aggregate with per-column expression slots -- Spark executes the
multi-distinct via a grouping-id expansion, still two-phase and
shuffle-bounded by distinct values, never rows); the per-column rows
are unpivoted from that 1-row aggregate with a literal stack, which is
driver-free. Profiling 100 TB costs exactly one pass regardless of
column count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load

# (column, min/max are cast to string so every profile row has one
# uniform schema -- doubles formatted by both engines identically via
# the integer-cents detour)
_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")


@query(
    "q_profile_columns",
    oracle="""
SELECT col, n, n_null, n_distinct, min_s, max_s
FROM (
  SELECT 'o_orderstatus' AS col, COUNT(*) AS n,
         COUNT(*) - COUNT(o_orderstatus) AS n_null,
         COUNT(DISTINCT o_orderstatus) AS n_distinct,
         CAST(MIN(o_orderstatus) AS VARCHAR) AS min_s,
         CAST(MAX(o_orderstatus) AS VARCHAR) AS max_s
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COUNT(*),
         COUNT(*) - COUNT(o_orderpriority),
         COUNT(DISTINCT o_orderpriority),
         CAST(MIN(o_orderpriority) AS VARCHAR),
         CAST(MAX(o_orderpriority) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_custkey', COUNT(*),
         COUNT(*) - COUNT(o_custkey),
         COUNT(DISTINCT o_custkey),
         CAST(MIN(o_custkey) AS VARCHAR),
         CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders
)
ORDER BY col
""",
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass multi-column profile of the orders table: one
    aggregate computes (count, nulls, distincts, min, max) for every
    profiled column -- Spark plans the multi-distinct as ONE expand +
    two-phase aggregate over the same scan, where the oracle's UNION
    ALL spells three scans (DuckDB dedups them; at 100 TB the
    one-aggregate form is the only acceptable shape). The 1-row wide
    result unpivots to (column, stats) rows with a literal stack --
    no second shuffle, no driver loop."""
    o = load(spark, sf_dir, "orders")
    aggs = []
    for c in _COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__dist"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__dist, {c}__min, {c}__max"
        for c in _COLS
    )
    return wide.selectExpr(
        f"stack({len(_COLS)}, {stack})"
        " AS (col, n, n_null, n_distinct, min_s, max_s)"
    ).orderBy("col")


# the exact profile's COUNT(DISTINCT) per column routes the whole scan
# through a grouping-id Expand -- one input replica PER distinct column.
# At 100 TB x a wide schema that multiplier is the profiling cost, so
# the production shape swaps the distincts for HLL++ sketches: constant
# memory, map-side mergeable, ONE un-expanded pass no matter how many
# columns. Band contract mirrors q_agg_approx_distinct (sketches.py):
# both engines emit 'estimate within +-3 rsd of exact'; the oracle's
# band over its own exact value is trivially TRUE, Spark's is TRUE iff
# the live sketch honours its advertised bound.
def _approx_union(col: str) -> str:
    return f"""
  SELECT '{col}' AS col, COUNT(*) AS n,
         COUNT(*) - COUNT({col}) AS n_null,
         COUNT(DISTINCT {col}) AS n_distinct_exact,
         COUNT(DISTINCT {col})
           BETWEEN COUNT(DISTINCT {col}) * 0.94
               AND COUNT(DISTINCT {col}) * 1.06 AS distinct_within_3rsd
  FROM orders"""


def approx_profile_sketch(o: DataFrame) -> DataFrame:
    """The production plan: every column's (count, nulls, HLL++
    distinct) from one pass with NO Expand (gated in
    tests/test_plans.py::test_approx_profile_has_no_expand)."""
    return o.agg(*[
        a
        for c in _COLS
        for a in (
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.approx_count_distinct(c, rsd=0.02).alias(f"{c}__approx"),
        )
    ])


@query(
    "q_profile_columns_approx",
    oracle="SELECT * FROM (" + "\nUNION ALL".join(
        _approx_union(c) for c in _COLS
    ) + "\n) ORDER BY col",
)
def q_profile_columns_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based table profile: per-column (count, nulls, approx
    distinct) for every profiled column in ONE pass with NO Expand --
    the at-width production variant of q_profile_columns. The sketch
    aggregation alone is the plan being showcased; the exact-distinct
    pass exists for the harness (it gives the band its reference and
    the driver real values to hash), runs as a SEPARATE aggregation,
    and joins back on nothing -- both are 1-row frames crossJoined
    (1 x 1). At rsd=0.02 the 3-sigma band is +-6%; estimates are
    deterministic for a given input (fixed hash seed), so the booleans
    are stable, not flaky."""
    o = load(spark, sf_dir, "orders")
    sketch = approx_profile_sketch(o)
    exact = o.agg(*[
        F.countDistinct(c).alias(f"{c}__exact") for c in _COLS
    ])
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__exact, "
        f"{c}__approx BETWEEN {c}__exact * 0.94 AND {c}__exact * 1.06"
        for c in _COLS
    )
    return (
        sketch.crossJoin(exact)
        .selectExpr(
            f"stack({len(_COLS)}, {stack}) AS (col, n, n_null, "
            "n_distinct_exact, distinct_within_3rsd)"
        )
        .orderBy("col")
    )
