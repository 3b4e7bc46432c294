"""Relevance scoring over the corpus: TF-IDF term statistics and a
BM25-shaped ranked keyword search -- the retrieval half of a data
pipeline (dedup finds near-copies; scoring finds what to keep or
retrieve).

Determinism: term/document frequencies are integers; the TF-IDF
surrogate score is an integer ratio in ppm (tf * 1e6 div df -- the
df-discounting shape of tf-idf without a libm log, which the playbook
bans from oracle outputs: Spark's java.lang.Math.log and DuckDB's libm
may differ in the last bit). BM25 likewise replaces log-idf with the
raw Robertson odds ratio (N - df + 0.5) / (df + 0.5) -- the expression
*inside* the standard BM25 log, same ranking order for a single term
-- and every float op is written in the identical order in both
engines, so the scores are bit-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load_spread

QUERY_TERMS = ("vector", "join", "scan")
K1 = 1.2
B = 0.75
TOP_N = 20


@query(
    "q_tfidf_top_terms",
    oracle="""
WITH ex AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         t.tf * 1000000 // d.df AS score_ppm,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf * 1000000 // d.df DESC,
                                     t.term) AS rn
  FROM tf t JOIN df d USING (term)
)
SELECT doc_id, term AS top_term, tf, df, score_ppm
FROM scored WHERE rn = 1
ORDER BY doc_id
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most df-discounted-frequent term per document: explode to
    (doc, term), two aggregations (term frequency, then document
    frequency over the tf pairs -- each with map-side combine), df
    joined back by term, per-doc argmax via window rank with a term
    tie-break. At 100 TB both aggregates shuffle vocabulary-sized data,
    not corpus-sized; the df table joins term-keyed (broadcast only if
    the vocabulary is small -- left to AQE rather than forced, since
    real vocabularies can be billions of n-grams)."""
    d = load_spread(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("term")
    )
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df, "term").withColumn(
        "score_ppm", F.expr("tf * 1000000 div df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", F.col("term").alias("top_term"), "tf", "df",
            "score_ppm",
        )
        .orderBy("doc_id")
    )


def _bm25_stats_sql() -> str:
    df_cols = ",\n         ".join(
        f"COUNT(*) FILTER (WHERE len(list_filter(t, x -> x = '{q}')) > 0)"
        f" AS df_{i}"
        for i, q in enumerate(QUERY_TERMS)
    )
    return f"""
tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         SUM(len(t)) AS sum_dl,
         {df_cols}
  FROM tok
)"""


def _bm25_score_sql() -> str:
    terms = []
    for i, q in enumerate(QUERY_TERMS):
        tf = f"CAST(len(list_filter(t, x -> x = '{q}')) AS DOUBLE)"
        idf = (
            f"((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE)) + 0.5)"
            f" / (CAST(df_{i} AS DOUBLE) + 0.5)"
        )
        denom = (
            f"({tf} + {K1} * ((1.0 - {B}) + {B} * "
            f"(CAST(len(t) AS DOUBLE) / avgdl)))"
        )
        terms.append(f"({idf} * (({tf} * {K1 + 1.0}) / {denom}))")
    return " + ".join(terms)


@query(
    "q_bm25_search",
    oracle=f"""
WITH {_bm25_stats_sql()},
scored AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS dl,
         CAST(floor(({_bm25_score_sql()}) * 1000000 + 0.5) AS BIGINT)
           AS score_ppm
  FROM tok,
       (SELECT *, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)
          AS avgdl FROM stats) s
)
SELECT doc_id, dl, score_ppm,
       CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id)
            AS BIGINT) AS rank
FROM scored
ORDER BY rank
LIMIT {TOP_N}
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a 3-term query, open-coded: one
    corpus-stats aggregate (N, total length, per-term df -- a single
    row, broadcast back), then a map-only scoring pass and a top-N
    heap. tf per query term is a per-row list_filter count, not an
    explode -- the query is 3 literals, so exploding the corpus
    vocabulary for it would shuffle 1e5x more than needed. The global
    top-N is TakeOrderedAndProject (per-partition heaps + driver merge
    of N*parts rows), never a total sort. score_ppm's float chain is
    written in the same evaluation order in both engines (left-assoc
    sum over the 3 per-term scores), so the floor-scaled integer is
    bit-stable."""
    d = load_spread(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")

    def _tf(term: str) -> F.Column:
        # factory closure, NOT a default arg: pyspark dispatches HOF
        # lambdas by arity, so `lambda x, _q=lit: ...` would receive the
        # element *index* as _q (the round-1 arity trap).
        lit = F.lit(term)
        return F.size(F.filter(t, lambda x: x == lit))

    tok = d.select(
        "doc_id",
        F.size(t).alias("dl"),
        *[_tf(q).alias(f"tf_{i}") for i, q in enumerate(QUERY_TERMS)],
    )
    stats = tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
            for i in range(len(QUERY_TERMS))
        ],
    ).withColumn(
        "avgdl",
        F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"),
    )
    j = tok.crossJoin(stats)
    score = None
    for i in range(len(QUERY_TERMS)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = (
            (F.col("n_docs").cast("double") - F.col(f"df_{i}").cast("double"))
            + F.lit(0.5)
        ) / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
        denom = tf + F.lit(K1) * (
            F.lit(1.0 - B)
            + F.lit(B) * (F.col("dl").cast("double") / F.col("avgdl"))
        )
        term_score = idf * ((tf * F.lit(K1 + 1.0)) / denom)
        score = term_score if score is None else score + term_score
    scored = j.select(
        "doc_id",
        F.col("dl").cast("int").alias("dl"),
        F.floor(score * 1000000 + F.lit(0.5)).cast("bigint").alias(
            "score_ppm"
        ),
    )
    # Top-N FIRST (TakeOrderedAndProject: per-partition heaps), THEN the
    # rank window over only N rows -- a global row_number before the
    # limit would funnel the whole corpus through one window partition.
    top = scored.orderBy(F.desc("score_ppm"), F.asc("doc_id")).limit(TOP_N)
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).orderBy("rank")


_IDX_CAP = 16  # posting-list cap per token


@query(
    "q_inverted_index",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, UNNEST(
    list_filter(string_split_regex(lower(text), '[^a-z]+'),
                t -> length(t) >= 4)) AS token
  FROM documents
), capped AS (
  SELECT token, doc_id,
         ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM tok
)
SELECT token,
       (SELECT COUNT(*) FROM tok t WHERE t.token = capped.token) AS df,
       array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ' ')
         AS postings
FROM capped
WHERE rn <= {_IDX_CAP}
GROUP BY token
ORDER BY token
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the retrieval-side product of the
    TF-IDF/BM25 family): token -> document frequency + a capped,
    doc_id-ordered posting list. The cap is applied with a
    WindowGroupLimit-prunable row_number BEFORE any list is built, so
    the per-token state is bounded at {_IDX_CAP} entries no matter how
    hot the token -- the full df still comes from the uncapped
    two-phase count. Postings surface as a joined string so the
    output is flat-hashable; at scale the same frame writes as an
    array column partitioned by token prefix."""
    d = load_spread(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z]+"),
                    lambda t: F.length(t) >= 4,
                )
            ).alias("token"),
        )
        .distinct()
    )
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("token").orderBy("doc_id")
    capped = tok.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _IDX_CAP
    )
    postings = capped.groupBy("token").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            " ",
        ).alias("postings")
    )
    return (
        df.join(postings, "token")
        .select("token", "df", "postings")
        .orderBy("token")
    )
