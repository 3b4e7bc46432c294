"""Mergeable set-algebra sketches: stored per-day Theta sketches
answer distinct-count INTERSECTIONS and DIFFERENCES between cohorts --
the set operations HLL fundamentally cannot do.

q_hll_union_rollup (queries/sketch_rollup.py) covers the union side:
HLL merges losslessly but supports ONLY union. The questions a real
cohort/retention system asks -- "how many week-1 users came back in
week 3", "how many churned" -- need intersection and A-not-B, and at
100 TB the exact answer is a distinct-distinct self-join of the fact
with itself. A Datasketches Theta sketch (a KMV-style sample of the k
smallest hashes) supports the full algebra: union, intersection, and
difference of two sketches are sketch-sized operations whose results
are THEMSELVES sketches, so the algebra composes. Storage model
mirrors the HLL lane: one kilobyte sketch per (event_type, day) built
at ingest (one fact scan, ever); then ANY window cohort -- week 1,
week 3, an arbitrary span -- is a theta_union_agg over the SAME
stored day rows, and every retention/churn question is sketch-on-
sketch arithmetic over kilobytes. ZERO fact scans on the production
path (plan-gated in tests/test_theta_sets.py).

The exact-distinct reference pass over the fact exists for the
harness only (it gives the driver exact values and the error band its
yardstick), exactly like the HLL lane; the sketch algebra alone is
the production plan. Error model: lgNomEntries=12 -> up to ~4k
retained hashes; below that the sketch is in EXACT mode (estimates
equal true counts -- the regime at these SFs), above it the
set-operation error scales with the operands' union size, so the
bands are +-6% of the cohort pair's exact union -- wide against the
theoretical RSE (<1.6%), deterministic for a given corpus
(Datasketches' fixed hash seed; the KMV retained set is order-
independent, so shuffle nondeterminism cannot move it).

Scale shape: the fact is scanned once at MV build; cohort unions and
the retention algebra run over (types x days) kilobyte rows at any
corpus size. The exact reference costs one distinct projection + one
user-keyed self-join of the two windows -- the thing the sketch path
exists to avoid.
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
_LGK = 12
_BAND = 0.06   # |est - exact| <= 6% of the cohort pair's exact union
_W1_LO, _W1_HI = "2024-01-01", "2024-01-07"   # cohort A: week 1
_W3_LO, _W3_HI = "2024-01-15", "2024-01-21"   # cohort B: week 3


def staged_day_theta(spark: SparkSession, sf_dir: str) -> str:
    """The ingest-time sketch MV: one row per (event_type, day) with a
    Theta sketch of that cell's user_ids plus the exact row count.
    Built once per container per (sf_dir, fingerprint)."""
    slug = sf_dir.strip("/").replace("/", "_")
    fp = _source_fingerprint(sf_dir, "events.parquet")
    return _staged(
        f"spark_graft_thetaday_v{_VERSION}_{slug}_{fp}",
        lambda tmp: (
            load(spark, sf_dir, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(
                F.theta_sketch_agg("user_id", _LGK).alias("user_sketch"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )


def _window_sketches(days: DataFrame, lo: str, hi: str,
                     tag: str) -> DataFrame:
    """Per-type cohort sketch for one date window: a theta_union_agg
    over the stored day rows inside [lo, hi] -- the same MV serves
    every window."""
    return (
        days.filter(F.col("day").between(lo, hi))
        .groupBy("event_type")
        .agg(F.theta_union_agg("user_sketch", _LGK).alias(f"sk_{tag}"))
    )


def retention_from_sketches(spark: SparkSession, sketch_dir: str,
                            with_window_estimates: bool = False,
                            ) -> DataFrame:
    """The production retention algebra: week-1 and week-3 cohort
    sketches per type (unions of stored days), then retained =
    |A intersect B| and churned = |A \\ B| from sketch-on-sketch
    operations. Input is the kilobyte MV -- zero fact scans,
    plan-gated.

    The production projection is exactly what the driver row consumes
    (est_retained/est_churned); the per-window cohort estimates
    est_w1/est_w3 are a test-only diagnostic behind
    `with_window_estimates` (ADVICE r11: they were computed on every
    production run but read by nothing outside the pytest)."""
    days = spark.read.parquet(sketch_dir)
    w1 = _window_sketches(days, _W1_LO, _W1_HI, "w1")
    w3 = _window_sketches(days, _W3_LO, _W3_HI, "w3")
    # LEFT join: a type with week-1 users but no week-3 activity is a
    # fully-churned cohort (retained 0, churned |w1|), matching the
    # oracle's w1 LEFT JOIN w3 -- an inner join here would silently
    # drop it and hash-mismatch on any corpus with a dormant type.
    # (A type with w3 but no w1 has no week-1 cohort to report; both
    # engines drop it, by the same join direction.)
    cols = [
        F.col("event_type"),
        F.when(F.col("sk_w3").isNull(), F.lit(0.0))
        .otherwise(F.theta_sketch_estimate(
            F.theta_intersection("sk_w1", "sk_w3")))
        .alias("est_retained"),
        F.when(F.col("sk_w3").isNull(),
               F.theta_sketch_estimate("sk_w1"))
        .otherwise(F.theta_sketch_estimate(
            F.theta_difference("sk_w1", "sk_w3")))
        .alias("est_churned"),
    ]
    if with_window_estimates:
        cols[1:1] = [
            F.theta_sketch_estimate("sk_w1").alias("est_w1"),
            F.when(F.col("sk_w3").isNull(), F.lit(0.0))
            .otherwise(F.theta_sketch_estimate("sk_w3"))
            .alias("est_w3"),
        ]
    return w1.join(w3, "event_type", "left").select(*cols)


@query(
    "q_theta_set_algebra",
    oracle=f"""
WITH w1 AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{_W1_LO}' AND DATE '{_W1_HI}'
),
w3 AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{_W3_LO}' AND DATE '{_W3_HI}'
)
SELECT w1.event_type,
       COUNT(*) AS users_w1,
       (SELECT COUNT(*) FROM w3 x
        WHERE x.event_type = w1.event_type) AS users_w3,
       COUNT(w3.user_id) AS retained,
       COUNT(*) - COUNT(w3.user_id) AS churned,
       TRUE AS retained_in_band,
       TRUE AS churned_in_band
FROM w1 LEFT JOIN w3
  ON w1.event_type = w3.event_type AND w1.user_id = w3.user_id
GROUP BY 1
ORDER BY 1
""",
)
def q_theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention per event type, answered by Theta-
    sketch set algebra over the stored day-sketch table: retained =
    |week1 intersect week3|, churned = |week1 minus week3|, both
    checked in-band against the exact self-join reference, with the
    exact cohort sizes riding in the row -- a lost cohort member, a
    miscounted window, or a band breach all break the hash. The exact
    reference (harness-only) is the very distinct-distinct window
    self-join the production sketch path avoids."""
    sketch_dir = staged_day_theta(spark, sf_dir)
    est = retention_from_sketches(spark, sketch_dir)
    ev = load(spark, sf_dir, "events")

    def cohort(lo: str, hi: str, tag: str) -> DataFrame:
        return (
            ev.filter(F.to_date("ts").between(lo, hi))
            .select("event_type", "user_id")
            .distinct()
            .withColumnRenamed("user_id", f"u_{tag}")
        )

    w1 = cohort(_W1_LO, _W1_HI, "w1")
    w3 = cohort(_W3_LO, _W3_HI, "w3")
    exact = (
        w1.join(
            w3,
            (w1["event_type"] == w3["event_type"])
            & (w1["u_w1"] == w3["u_w3"]),
            "left",
        )
        .groupBy(w1["event_type"].alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("users_w1"),
            F.count("u_w3").alias("retained"),
        )
        .join(
            w3.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("users_w3")),
            "event_type",
            "left",   # a dormant type has users_w3 = 0, not no row
        )
        .withColumn("users_w3",
                    F.coalesce(F.col("users_w3"), F.lit(0)))
    )
    band = (F.col("users_w1") + F.col("users_w3")
            - F.col("retained")) * _BAND
    return (
        # hint: est is a join (estimate: product of its inputs); unhinted, sort-merge
        exact.join(F.broadcast(est), "event_type")
        .select(
            "event_type",
            "users_w1",
            "users_w3",
            "retained",
            (F.col("users_w1") - F.col("retained")).alias("churned"),
            (F.abs(F.col("est_retained") - F.col("retained"))
             <= band).alias("retained_in_band"),
            (F.abs(F.col("est_churned")
                   - (F.col("users_w1") - F.col("retained")))
             <= band).alias("churned_in_band"),
        )
        .orderBy("event_type")
    )
