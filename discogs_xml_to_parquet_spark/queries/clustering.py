"""Embedding clustering: k-means assignment and the Lloyd centroid
update, expressed as broadcast-join + fold arithmetic so each step is a
scan-shaped distributed pass (the shape MLlib's KMeans uses per
iteration, here open-coded so the oracle can verify it).

Determinism: squared-L2 is an in-order left fold over the vector
(Spark aggregate+zip_with vs DuckDB list_sum(list_transform(list_zip)))
-- verified bit-identical in round 1 for dot products; subtraction and
multiplication are exact IEEE ops. Distances surface as
floor(d2*1e6+0.5) bigints; centroid means go through the scaled-bigint
exact-sum discipline (functions/exact.py).

Scale shape: K centroids broadcast to every executor; assignment is
map-only over the 100 TB side. The update is one shuffle keyed by
(cluster, dim) -- 64*K cells regardless of corpus size -- with
map-side partial aggregation doing almost all the reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import dsum
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load, load_spread

K = 8  # centroids = the first K vec_ids (deterministic seeding)


def _sqdist(v: Column, c: Column) -> Column:
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_sql() -> str:
    """Shared DuckDB fragment: CTEs e (vectors), c (centroids), asg
    (vec_id, cluster_id, d2) -- ONE helper so the assign and update
    oracles cannot drift (round-1 lesson on shared fragments)."""
    return f"""
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {K}
),
dist AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(list_zip(e.v, c.cv),
                  s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d2
  FROM e, c
),
asg AS (
  SELECT vec_id, cid AS cluster_id, d2
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cid) AS rn
        FROM dist)
  WHERE rn = 1
)"""


def kmeans_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, v) x broadcast (cid, cv) -> nearest centroid per vector
    by squared L2, ties broken on the lower cid. Returns
    (vec_id, cluster_id, d2, v)."""
    # hint: a filter keeps its input's size estimate; unhinted, the corpus builds (sf0.1)
    j = vectors.crossJoin(F.broadcast(centroids))
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        j.select(
            "vec_id",
            "cid",
            "v",
            _sqdist(F.col("v"), F.col("cv")).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cluster_id"), "d2", "v")
    )


def _load_vectors(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    e = load_spread(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < K)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
    )
    return e, c


@query(
    "q_kmeans_assign",
    oracle=f"""
WITH {assign_sql()}
SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS d2_ppm
FROM asg
ORDER BY vec_id
""",
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step: every embedding to its nearest of
    K=8 seed centroids (the first K vectors -- deterministic seeding;
    production would use k-means|| but any seeding yields the same
    *operator*). Broadcast NLJ over the corpus, per-vector argmin via a
    WindowGroupLimit-friendly row_number."""
    e, c = _load_vectors(spark, sf_dir)
    return (
        kmeans_assign(e, c)
        .select(
            "vec_id",
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.floor(F.col("d2") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("d2_ppm"),
        )
        .orderBy("vec_id")
    )


@query(
    "q_kmeans_update",
    oracle=f"""
WITH {assign_sql()},
ex AS (
  SELECT a.cluster_id, i.i - 1 AS dim, e.v[i.i] AS val
  FROM asg a
  JOIN e USING (vec_id),
       LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS i) i
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(dim AS INT) AS dim,
       COUNT(*) AS n_members,
       CAST(SUM(CAST(floor((val) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000 / COUNT(*) AS centroid
FROM ex
GROUP BY cluster_id, dim
ORDER BY cluster_id, dim
""",
)
def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lloyd update: new centroid = per-dimension mean of the
    assigned vectors. posexplode_outer unrolls (vector, dim) -- outer,
    so no inferred size()>0 filter re-evaluates the assignment fold in
    the scan stage -- and the mean runs through the scaled-bigint exact
    sum, so the result is order-independent and oracle-exact. Output is
    K x 64 rows however large the corpus is; map-side combine does the
    heavy reduction."""
    e, c = _load_vectors(spark, sf_dir)
    asg = kmeans_assign(e, c)
    ex = asg.select(
        "cluster_id", F.posexplode_outer("v").alias("dim", "val")
    )
    return (
        ex.groupBy("cluster_id", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (dsum("val") / F.count(F.lit(1))).alias("centroid"),
        )
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("dim").cast("int").alias("dim"),
            "n_members",
            "centroid",
        )
        .orderBy("cluster_id", "dim")
    )
