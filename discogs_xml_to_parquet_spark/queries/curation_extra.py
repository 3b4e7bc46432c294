"""Second wave of LLM-curation operators: corpus-wide chunk-level
dedup (the line/paragraph-dedup step of Dolma/CCNet-style pipelines),
quality-ordered token-budget selection (data mixing under a token
budget), and SemDeDup-style semantic dedup (cluster embeddings, prune
near-identical pairs inside each cluster).

Exactness discipline: chunk dedup and budget selection are pure
integer/string pipelines (no float anywhere); semantic dedup reuses
the bit-identical cosine fold of queries/dedup.py (in-order
aggregate+zip_with vs list_sum(list_transform(list_zip)), IEEE
sqrt/div) and surfaces ONLY integer columns, so the threshold compare
is the sole float op and it is bit-identical by construction.

Scale shapes: chunk dedup shuffles once on chunk text (window min) and
once on doc_id (bounded per-doc reassembly); budget selection is a
doc-level-stats global sort (range-partitioned in Spark's orderBy, the
canonical distributed shape for "select to budget"); semantic dedup
bounds the pair space to same-cluster pairs -- the whole point of
SemDeDup -- so the quadratic term is sum of per-cluster sizes squared,
controlled by K, with the K centroids broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions import vector as V
from discogs_xml_to_parquet_spark.operators import prefix as P
from discogs_xml_to_parquet_spark.queries.clustering import (
    K,
    _load_vectors,
    assign_sql,
    kmeans_assign,
)
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load, load_spread

_CH = 4  # tokens per dedup chunk (non-overlapping; the "line" unit)


@query(
    "q_dedup_chunks",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tokens
  FROM documents
), ch AS (
  SELECT doc_id,
         CAST("start" / {_CH} AS INT) AS chunk_no,
         array_to_string(tokens["start" + 1 : "start" + {_CH}], ' ') AS chunk_text
  FROM (SELECT doc_id, tokens,
               UNNEST(generate_series(0, len(tokens) - 1, {_CH})) AS "start"
        FROM toks WHERE len(tokens) >= 1)
), firsts AS (
  SELECT doc_id, chunk_no, chunk_text,
         MIN(CAST(doc_id AS BIGINT) * 1000000 + chunk_no)
           OVER (PARTITION BY chunk_text) AS first_key
  FROM ch
), kept AS (
  SELECT doc_id, chunk_no, chunk_text FROM firsts
  WHERE CAST(doc_id AS BIGINT) * 1000000 + chunk_no = first_key
), tot AS (
  SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(chunk_text, ' ' ORDER BY chunk_no) AS dedup_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_chunks,
       COALESCE(a.n_kept, 0) AS n_kept,
       t.n_chunks - COALESCE(a.n_kept, 0) AS n_dropped,
       COALESCE(a.dedup_text, '') AS dedup_text
FROM tot t LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
""",
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide chunk-level dedup (the Dolma/CCNet line-dedup step,
    over fixed {_CH}-token non-overlapping chunks because the synthetic
    corpus has no newlines): every chunk text keeps exactly its FIRST
    occurrence in (doc_id, chunk_no) order and every other occurrence
    is dropped; each document is then reassembled from its surviving
    chunks in order. Two shuffles total, both keyed and map-side-
    combining: a window-min partitioned by chunk text (the global
    first-occurrence rule -- no self-join), then a per-doc groupBy for
    reassembly whose collect_list is bounded by the document's own
    chunk count, never the corpus. Pure integer/string pipeline, so
    cross-engine hash-exact."""
    d = load_spread(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("tokens"),
    ).filter(F.size("tokens") >= 1)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.size("tokens") - 1, F.lit(_CH))
        ).alias("start"),
        "tokens",
    ).select(
        "doc_id",
        (F.col("start") / _CH).cast("int").alias("chunk_no"),
        F.array_join(
            F.slice("tokens", F.col("start") + 1, F.lit(_CH)), " "
        ).alias("chunk_text"),
    )
    key = F.col("doc_id").cast("bigint") * 1000000 + F.col("chunk_no")
    w = Window.partitionBy("chunk_text")
    kept = (
        chunks.withColumn("first_key", F.min(key).over(w))
        .filter(key == F.col("first_key"))
        .drop("first_key")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_no", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    tot = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    return (
        tot.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
        .orderBy("doc_id")
    )


_BUDGET_DIV = 4  # budget = floor(total corpus tokens / 4)


@query(
    "q_budget_select",
    oracle=f"""
WITH stats AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) * 1000000 // len(toks)
           AS quality_ppm
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 1
), budget AS (
  SELECT SUM(n_tokens) // {_BUDGET_DIV} AS b FROM stats
), ordered AS (
  SELECT doc_id, n_tokens, quality_ppm,
         CAST(SUM(n_tokens) OVER (ORDER BY quality_ppm DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM stats
)
SELECT doc_id, quality_ppm, n_tokens, cum_tokens
FROM ordered, budget
WHERE cum_tokens <= b
ORDER BY doc_id
""",
)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget selection (data mixing under a
    token budget): score every document by lexical diversity (distinct
    tokens per million tokens -- all integer arithmetic), rank the
    corpus best-first, and keep the prefix whose cumulative token
    count fits within a budget of 1/{_BUDGET_DIV} of the corpus. The
    budget is ONE 1-row aggregate broadcast into the filter; the
    running token sum uses the distributed range-partitioned prefix
    scan (operators/prefix.py) -- the r6 spelling's global
    Window.orderBy collapsed the whole doc-stats table into one task
    (and its docstring wrongly claimed otherwise: window ordering,
    unlike ORDER BY, is NOT range-partitioned by Spark). Pure integer
    pipeline, cross-engine hash-exact."""
    d = load_spread(spark, sf_dir, "documents")
    stats = (
        d.select(
            "doc_id",
            F.filter(F.split("text", r"\s+"), lambda t: t != "").alias(
                "toks"
            ),
        )
        .filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.floor(
                F.size(F.array_distinct("toks")).cast("bigint")
                * 1000000
                / F.size("toks").cast("bigint")
            ).alias("quality_ppm"),
        )
    )
    budget = stats.agg(
        F.floor(F.sum("n_tokens") / _BUDGET_DIV).alias("b")
    )
    ordered = P.running_sum(
        stats,
        [F.col("quality_ppm").desc(), F.col("doc_id").asc()],
        F.col("n_tokens"),
        "cum_tokens",
    )
    return (
        ordered.crossJoin(budget)
        .filter(F.col("cum_tokens") <= F.col("b"))
        .select("doc_id", "quality_ppm", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    )


_TAU = 0.40  # within-cluster cosine threshold (matches q_dedup_embedding_cosine)


@query(
    "q_dedup_semantic",
    oracle=f"""
WITH {assign_sql()},
nrm AS (
  SELECT e.vec_id, e.v, a.cluster_id,
         sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm
  FROM e JOIN asg a ON e.vec_id = a.vec_id
),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM nrm a JOIN nrm b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]))
          / (a.nrm * b.nrm) >= {_TAU}
)
SELECT n.vec_id, CAST(n.cluster_id AS BIGINT) AS cluster_id,
       (d.vec_id IS NULL) AS kept
FROM nrm n LEFT JOIN drops d ON n.vec_id = d.vec_id
ORDER BY n.vec_id
""",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-assign every embedding to its nearest of the
    {K} deterministic centroids (broadcast), then inside each cluster
    drop the higher vec_id of every pair with cosine >= {_TAU} --
    near-duplicate semantics without the corpus-wide quadratic pair
    space (the pair join is EQUI on cluster_id, so the cost is the sum
    of squared cluster sizes, the knob K controls it, and the plan has
    no theta join). Assignment reuses queries/clustering.py's
    kmeans_assign (broadcast centroids, map-only over the corpus);
    cosine is the bit-identical in-order fold of the dedup family.
    Output is integers+boolean only, so hash-exactness does not rest
    on surfacing floats."""
    e, c = _load_vectors(spark, sf_dir)
    # stage the assignment ONCE: the K-centroid argmin fold is the
    # per-row-expensive step and asg feeds BOTH self-join sides plus
    # the final kept-audit join -- unstaged, the fold ran 3x
    # (r7 sweep: 6.7 s warm -> 4.0 s staged; the remainder is the
    # within-cluster pair join itself)
    asg = kmeans_assign(e, c).select(
        "vec_id", "cluster_id", "v"
    ).withColumn("nrm", F.sqrt(V.norm2(F.col("v")))).localCheckpoint()
    a, b = asg.alias("a"), asg.alias("b")
    drops = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            V.dot(F.col("a.v"), F.col("b.v"))
            / (F.col("a.nrm") * F.col("b.nrm"))
            >= _TAU
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        asg.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("dropped").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )
