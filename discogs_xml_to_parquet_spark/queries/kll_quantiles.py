"""Mergeable KLL quantile sketches: stored per-day Datasketches
KllDoublesSketch rows answer any-range percentiles in VALUE space --
the adaptive-accuracy production counterpart of the fixed-grid
histogram rollup (queries/quantile_rollup.py).

The fixed 64-bin histogram answers quantiles exactly at bin
granularity but its error is the bin width -- chosen at ingest, wrong
forever if the value distribution shifts. A KLL sketch keeps a
provably-sized sample whose RANK error is bounded (~1.65% at k=200,
99% confidence) regardless of the value distribution, and two
sketches MERGE losslessly with respect to that bound -- so per-day
sketches stored at ingest (one fact scan, ever) serve any later range
query: merge the day rows, ask for any rank. This lane stores one
sketch per (event_type, day), then answers the same two-week window
as the histogram lane with per-type AND all-types p50/p90 through one
rollup() merge -- re-merging merged sketches stays sound, pinned in
tests/test_kll_quantiles.py.

Correctness contract, the HLL/theta-lane pattern: the sketch is
approximate, so the driver row carries exact values where exactness
is possible (the range row count, which rides the MV losslessly and
must equal the sketch's own n -- a dropped or double-merged day
breaks BOTH) and in-band booleans where it is not: the sketch's p50
and p90 VALUES must land between the exact percentiles at rank
p +- 0.03 -- twice the sketch's 99%-confidence rank error, computed
from the same fact the oracle sees (deterministic: Spark's KLL uses
Datasketches' fixed seed, and at these SFs the per-cell item counts
sit at or near exact mode).

Scale shape: the MV build is one fact scan + a (type, day)-keyed
aggregation into kilobyte sketch rows; the range query merges
(types x days) sketches -- MV-sized input at any corpus size, zero
fact scans on the production path (plan-gated). The exact-percentile
reference pass exists for the harness only, exactly like the HLL and
theta lanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import (
    source_fingerprint as _source_fingerprint,
    staged as _staged,
)
from discogs_xml_to_parquet_spark.tables import load

_VERSION = 1
_K = 200                 # Datasketches default: ~1.65% rank error @99%
_RANK_EPS = 0.03         # band: exact percentiles at p +- 0.03
_RANGE_LO, _RANGE_HI = "2024-01-08", "2024-01-21"
_PS = (("p50", 0.50), ("p90", 0.90))


def staged_day_kll(spark: SparkSession, sf_dir: str) -> str:
    """The ingest-time sketch MV: one row per (event_type, day) with a
    KLL doubles sketch of that cell's `value`s plus the exact non-null
    count. Built once per container per (sf_dir, fingerprint)."""
    slug = sf_dir.strip("/").replace("/", "_")
    fp = _source_fingerprint(sf_dir, "events.parquet")
    return _staged(
        f"spark_graft_kllday_v{_VERSION}_{slug}_{fp}",
        lambda tmp: (
            load(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(
                F.kll_sketch_agg_double("value", _K).alias("val_sketch"),
                F.count(F.lit(1)).alias("n_values"),
            )
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )


def quantiles_from_sketches(spark: SparkSession,
                            sketch_dir: str) -> DataFrame:
    """The production range-quantile query: merge the stored day
    sketches for the window at BOTH grouping levels in one rollup()
    (per-type rows + the all-types total, grouping()-tagged), then
    extract p50/p90 values and the sketch's own item count. One
    MV-sized scan, zero fact scans, plan-gated."""
    days = spark.read.parquet(sketch_dir).filter(
        F.col("day").between(_RANGE_LO, _RANGE_HI))
    return (
        days.rollup("event_type")
        .agg(
            F.kll_merge_agg_double("val_sketch", _K).alias("merged"),
            F.sum("n_values").alias("n_values"),
            F.grouping("event_type").alias("_is_total"),
        )
        .select(
            F.when(F.col("_is_total") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type")).alias("event_type"),
            F.kll_sketch_get_n_double("merged").alias("sketch_n"),
            "n_values",
            *[
                F.kll_sketch_get_quantile_double(
                    "merged", F.lit(p)).alias(f"est_{name}")
                for name, p in _PS
            ],
        )
    )


@query(
    "q_kll_quantile_sketch",
    oracle=f"""
WITH f AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL
    AND CAST(ts AS DATE)
        BETWEEN DATE '{_RANGE_LO}' AND DATE '{_RANGE_HI}'
),
g AS (
  SELECT event_type, value FROM f
  UNION ALL
  SELECT 'ALL', value FROM f
)
SELECT event_type,
       COUNT(*) AS n_values,
       TRUE AS n_matches_sketch,
       TRUE AS p50_in_band,
       TRUE AS p90_in_band
FROM g
GROUP BY 1
ORDER BY 1
""",
)
def q_kll_quantile_sketch(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Any-range p50/p90 of event `value` per type and overall from
    the stored day-KLL table: the sketch's own item count must equal
    the exact MV-riding count (a dropped or double-merged day breaks
    both paths), and each estimated quantile VALUE must land between
    the exact percentiles at rank p +- 0.03 -- the sketch's
    rank-error contract made into a hash-pinned boolean. The exact
    reference (harness-only) is the full-sort percentile the
    production sketch path avoids."""
    sketch_dir = staged_day_kll(spark, sf_dir)
    est = quantiles_from_sketches(spark, sketch_dir)
    f = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .filter(F.to_date("ts").between(_RANGE_LO, _RANGE_HI))
        .select("event_type", "value")
    )
    g = f.unionByName(
        f.select(F.lit("ALL").alias("event_type"), "value"))
    ref = g.groupBy("event_type").agg(
        *[
            F.percentile("value", F.lit(p - _RANK_EPS))
            .alias(f"lo_{name}")
            for name, p in _PS
        ],
        *[
            F.percentile("value", F.lit(p + _RANK_EPS))
            .alias(f"hi_{name}")
            for name, p in _PS
        ],
    )
    return (
        # hint: ref aggregates a two-scan union (size kept); unhinted, est builds
        est.join(F.broadcast(ref), "event_type")
        .select(
            "event_type",
            "n_values",
            (F.col("sketch_n") == F.col("n_values"))
            .alias("n_matches_sketch"),
            *[
                F.col(f"est_{name}").between(
                    F.col(f"lo_{name}"), F.col(f"hi_{name}")
                ).alias(f"{name}_in_band")
                for name, _p in _PS
            ],
        )
        .orderBy("event_type")
    )
