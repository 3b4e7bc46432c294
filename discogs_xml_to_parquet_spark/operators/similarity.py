"""Similarity search over embedding columns (array<float>).

Three tiers, trading recall for scan cost:

- brute_force_topk: exact cosine top-k -- the correctness baseline.
  Cross join of a *small broadcast query set* against the corpus; never
  corpus x corpus. Cost: |Q| x |corpus| dot products in the scan stage,
  then a per-query top-k (WindowGroupLimit heap under the exchange).
- hyperplane LSH: 8 fixed random hyperplanes -> 8 sign bits -> 256
  buckets. At scale, search = hash the query vector, probe its bucket
  plus its 8 Hamming-1 neighbors (implemented: queries/similarity.py
  q_ann_lsh_probe): the corpus scan is replaced by a partition-pruned
  read when the table is written partitioned/bucketed by lsh_bucket.
- IVF-style coarse quantization: assign each vector to its nearest
  centroid; search probes the nprobe closest centroid partitions. The
  centroid set here is the first K corpus vectors (deterministic, no
  iterative k-means) -- the partitioning mechanics, which is the part
  Spark owns, are identical with trained centroids.

All distance math comes from functions/vector.py (in-order folds,
bit-identical to the DuckDB oracle).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions import vector as V

NUM_PLANES = 8
PLANE_SEED = 7
DIM = 64


def hyperplanes(num_planes: int = NUM_PLANES, dim: int = DIM,
                seed: int = PLANE_SEED) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes; the same float64 values
    are embedded as literals in the DuckDB oracle (repr round-trips)."""
    rng = np.random.RandomState(seed)
    return [[float(x) for x in row] for row in rng.randn(num_planes, dim)]


def planes_sql() -> str:
    """The same hyperplanes as a DuckDB VALUES relation (p, plane) --
    float64 repr round-trips, so both engines dot against identical
    planes and bucket ids match exactly."""
    rows = ",\n  ".join(f"({p}, {plane})" for p, plane in enumerate(hyperplanes()))
    return f"(VALUES\n  {rows}\n) AS planes(p, plane)"


def lsh_bucket_norm_sql() -> str:
    """The bits/bk/n CTE block (vec_id, bucket, v, nrm) shared by every
    bucket-computing oracle -- expects a preceding CTE `e(vec_id, v)`.
    One definition so the three LSH oracles (buckets, probe, embedding
    dedup) can never silently diverge from each other."""
    return f"""bits AS (
  SELECT vec_id, p,
         CASE WHEN list_sum(list_transform(list_zip(v, plane), s -> s[1] * s[2])) >= 0
              THEN (1 << p) ELSE 0 END AS bit
  FROM e, {planes_sql()}
),
bk AS (SELECT vec_id, CAST(SUM(bit) AS INT) AS bucket FROM bits GROUP BY vec_id),
n AS (
  SELECT e.vec_id, bucket, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e JOIN bk ON e.vec_id = bk.vec_id
)"""


def with_lsh_bucket(df: DataFrame, vec_col: str = "v",
                    bucket_col: str = "bucket") -> DataFrame:
    """Add the hyperplane-LSH bucket id: bit p = (v . plane_p >= 0),
    bucket = sum(bit_p << p). Planes are literal arrays, so the whole
    computation is per-row codegen -- no join, no shuffle."""
    planes = hyperplanes()
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in plane])
        bucket = bucket + F.when(
            V.dot(F.col(vec_col), plane_col) >= 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    return df.withColumn(bucket_col, bucket)


def brute_force_topk(queries_df: DataFrame, corpus_df: DataFrame,
                     k: int = 5) -> DataFrame:
    """Exact top-k by cosine. Expects both frames as (id, v[, nrm]);
    queries_df must be small (it is broadcast)."""
    q = queries_df.select(
        F.col("id").alias("q_id"), F.col("v").alias("q_v"),
        F.sqrt(V.norm2(F.col("v"))).alias("q_nrm"),
    )
    # spread the probe side: a single-file corpus is one partition, and
    # a broadcast join over it would otherwise score on one core
    c = corpus_df.repartition(64).select(
        F.col("id").alias("n_id"), F.col("v").alias("n_v"),
        F.sqrt(V.norm2(F.col("v"))).alias("n_nrm"),
    )
    scored = (
        # hint: a filter keeps its input's size estimate; unhinted, the corpus builds
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            (V.dot(F.col("q_v"), F.col("n_v")) / (F.col("q_nrm") * F.col("n_nrm"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
