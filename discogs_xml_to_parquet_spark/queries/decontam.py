"""Benchmark decontamination: flag training documents that share any
word n-gram with a held-out evaluation set.

This is the standard contamination check run before LLM training
(n-gram overlap against eval benchmarks). Production uses 13-grams
over real prose; the synthetic corpus averages ~55 words per doc, so
the query uses 4-grams to exercise the identical plan shape with a
non-vacuous result (19 contaminated docs at sf0.01 -- verified against
the data; a 13-gram run here would green on an empty set, the round-1
vacuous-query lesson).

Scale shape: the eval side (benchmark suites) is tiny and static -- its
distinct grams broadcast to every executor; the training side is one
map-only explode feeding a broadcast hash join, then a per-doc
aggregate. No shuffle touches the 100 TB side until the (contaminated
docs only) aggregate, so the pass is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.operators import dedup as D
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load_spread

NGRAM = 4
EVAL_MODULUS = 50  # doc_id % 50 == 0 plays the held-out benchmark set


@query(
    "q_decontaminate_ngram",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
         list_aggregate(t[i:i+{NGRAM - 1}], 'string_agg', ' ') AS gram
  FROM tok,
       LATERAL (SELECT unnest(generate_series(1, len(t) - {NGRAM - 1}))
                AS i) s
),
ev AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MODULUS} = 0
)
SELECT g.doc_id,
       COUNT(*) AS n_shared_grams,
       MIN(g.gram) AS example_gram
FROM g JOIN ev USING (gram)
WHERE g.doc_id % {EVAL_MODULUS} <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinct 4-grams (word_shingles: zipped shifted slices,
    one split per row -- the O(n)-splits lambda trap is documented on
    the helper) -> the eval partition's gram set, deduped and broadcast
    -> inner hash join from the exploded training grams -> count of
    distinct shared grams per contaminated doc. Grams are distinct per
    doc on both sides (array_distinct / DISTINCT), so n_shared_grams
    counts gram types, not occurrences."""
    d = load_spread(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode_outer(D.word_shingles(F.col("text"), k=NGRAM)).alias(
            "gram"
        ),
    ).filter(F.col("gram").isNotNull())
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    ev = grams.filter(is_eval).select("gram").distinct()
    train = grams.filter(~is_eval)
    return (
        train.join(ev, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_grams"),
            F.min("gram").alias("example_gram"),
        )
        .orderBy("doc_id")
    )


# --- Bloom-filter decontamination -------------------------------------
#
# q_decontaminate_ngram broadcasts the eval set's DISTINCT GRAMS; at a
# production eval-suite scale (hundreds of millions of 13-grams) that
# broadcast stops fitting. The bloom variant broadcasts only the SET OF
# SET BITS of an m-bit Bloom filter (bounded by m regardless of eval
# size): a training gram is flagged iff all K of its hash positions are
# set. False positives are inherent and bounded (~(n_set/m)^K); false
# negatives are impossible -- the safe direction for decontamination,
# where a flagged doc is dropped or reviewed.

BLOOM_M = 65536  # filter width in bits
BLOOM_K = 3      # hash functions per gram

# DuckDB mirror of the Spark position hash: Horner fold of the first 8
# hex digits of a precomputed md5 column `h`, mod BLOOM_M.
_H32_OF_H = "0"
for _i in range(1, 9):
    _H32_OF_H = (
        f"({_H32_OF_H} * 16 + strpos('0123456789abcdef', h[{_i}]) - 1)"
    )


def _bloom_pos_col(i_col: F.Column, gram: F.Column) -> F.Column:
    """Spark: position of hash i for a gram -- first 8 md5 hex digits of
    'i|gram' as an integer, mod BLOOM_M. Identical to the oracle's
    Horner fold (conv base-16 of the same 8 chars)."""
    h = F.md5(F.concat_ws("|", i_col.cast("string"), gram))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % BLOOM_M
    )


@query(
    "q_decontaminate_bloom",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
         list_aggregate(t[i:i+{NGRAM - 1}], 'string_agg', ' ') AS gram
  FROM tok,
       LATERAL (SELECT unnest(generate_series(1, len(t) - {NGRAM - 1}))
                AS i) s
),
pos AS (
  SELECT doc_id, gram, i, {_H32_OF_H} % {BLOOM_M} AS pos
  FROM (SELECT doc_id, gram, i,
               md5(CAST(i AS VARCHAR) || '|' || gram) AS h
        FROM g,
             LATERAL (SELECT unnest(generate_series(1, {BLOOM_K}))
                      AS i) s)
),
bloom AS (
  SELECT DISTINCT pos FROM pos WHERE doc_id % {EVAL_MODULUS} = 0
),
hits AS (
  SELECT p.doc_id, p.gram
  FROM pos p JOIN bloom USING (pos)
  WHERE p.doc_id % {EVAL_MODULUS} <> 0
  GROUP BY p.doc_id, p.gram
  HAVING COUNT(*) = {BLOOM_K}
)
SELECT doc_id, COUNT(*) AS n_flagged_grams
FROM hits GROUP BY doc_id
ORDER BY doc_id
""",
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-membership decontamination: eval grams set K={BLOOM_K}
    positions each in an m={BLOOM_M}-bit filter (position = first-8-hex
    md5('i|gram') mod m); the filter is represented relationally as its
    distinct set-bit table (<= m rows, broadcast regardless of eval
    size). A training gram is flagged when ALL K of its positions hit
    -- the HAVING COUNT = K after the broadcast join. Per-doc output is
    the count of flagged gram types. Superset-of-exact by construction
    (compare q_decontaminate_ngram for the exact answer); the identical
    hash/threshold runs in the oracle, so the driver checks the bloom
    decision itself, false positives included."""
    d = load_spread(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode_outer(D.word_shingles(F.col("text"), k=NGRAM)).alias(
            "gram"
        ),
    ).filter(F.col("gram").isNotNull())
    pos = grams.select(
        "doc_id",
        "gram",
        F.explode(F.sequence(F.lit(1), F.lit(BLOOM_K))).alias("i"),
    ).select(
        "doc_id",
        "gram",
        "i",
        _bloom_pos_col(F.col("i"), F.col("gram")).alias("pos"),
    )
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    bloom = pos.filter(is_eval).select("pos").distinct()
    return (
        pos.filter(~is_eval)
        .join(bloom, "pos")
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .filter(F.col("k_hits") == BLOOM_K)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_grams"))
        .orderBy("doc_id")
    )
