"""Dataset-mixing operators for training-data curation: stratified
hash sampling, target-weight domain resampling, and the deterministic
global shuffle (hash-shard + in-shard sort) used to order epochs.

The reference (src/main.rs) is a converter with no sampling surface;
these are brief-required LLM-pipeline extensions. Everything is
engine-independent by construction: membership decisions come from md5
of the primary key (identical hex in Spark and DuckDB), thresholds are
either literal hex strings or 8-hex strings rendered with %08x from an
exactly-computed integer, so the same rows are selected on any cluster,
any partitioning, any engine. No rand()/TABLESAMPLE anywhere -- those
are irreproducible across retries, which a curation pipeline cannot
afford (a re-run must produce byte-identical training data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.sharding import (
    shard_col,
    shard_sql,
    shuffle_key,
)
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load

# Per-stratum sampling plan: keep a doc when the first 4 hex chars of
# md5(doc_id) sort below the stratum threshold. 4 lowercase hex chars
# compare identically as strings and as the integer they encode, so
# '8000' = keep 32768/65536 = 50%. One shared table drives both engines.
STRATA: list[tuple[tuple[str, ...], str]] = [
    (("src0", "src1", "src2", "src3", "src4"), "8000"),      # 50%
    (("src5", "src6", "src7", "src8", "src9"), "4000"),      # 25%
]
DEFAULT_THRESHOLD = "1000"  # ~6.25% for the long tail of sources

# Target corpus mix by language for q_sample_weighted_mix: the synthetic
# corpus is ~50% en; the resampler downsamples overrepresented languages
# to approach these proportions (rate capped at 1.0 -- this operator
# never upsamples).
LANG_WEIGHTS: dict[str, float] = {
    "en": 0.30, "de": 0.20, "es": 0.20, "fr": 0.20, "zh": 0.10,
}

def _doc_hash() -> F.Column:
    return F.md5(F.col("doc_id").cast("string"))


def _strata_case_sql() -> str:
    whens = "\n".join(
        "    WHEN source IN ({}) THEN '{}'".format(
            ", ".join(f"'{s}'" for s in srcs), thr
        )
        for srcs, thr in STRATA
    )
    return f"CASE\n{whens}\n    ELSE '{DEFAULT_THRESHOLD}'\n  END"


def _strata_case_col() -> F.Column:
    col = F.lit(DEFAULT_THRESHOLD)
    for srcs, thr in reversed(STRATA):
        col = F.when(F.col("source").isin(*srcs), F.lit(thr)).otherwise(col)
    return col


@query(
    "q_sample_stratified",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
               < {_strata_case_sql()}
       ) AS n_kept,
       CAST(COALESCE(SUM(CAST(n_chars AS BIGINT)) FILTER (
         WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
               < {_strata_case_sql()}
       ), 0) AS BIGINT) AS kept_chars
FROM documents
GROUP BY source
ORDER BY source
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: each source gets its own keep
    rate (50% / 25% / 6.25%), decided per row by comparing an md5
    prefix of the key against the stratum's hex threshold. One map-only
    pass plus a tiny per-source aggregate -- no shuffle of the kept
    rows themselves, so the shape is scan-bound at 100 TB. The
    conditional aggregation reports kept vs total per stratum in the
    same pass a real pipeline would use to audit its sampling plan."""
    d = load(spark, sf_dir, "documents")
    keep = F.substring(_doc_hash(), 1, 4) < _strata_case_col()
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(keep, F.col("n_chars").cast("long"))), F.lit(0)
            ).alias("kept_chars"),
        )
        .orderBy("source")
    )


def _lang_weight_sql() -> str:
    whens = "\n".join(
        f"    WHEN lang = '{k}' THEN {w!r}" for k, w in LANG_WEIGHTS.items()
    )
    return f"CASE\n{whens}\n    ELSE 0.0\n  END"


def _lang_weight_col() -> F.Column:
    col = F.lit(0.0)
    for k, w in reversed(LANG_WEIGHTS.items()):
        col = F.when(F.col("lang") == k, F.lit(w)).otherwise(col)
    return col


@query(
    "q_sample_weighted_mix",
    oracle=f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_lang) AS n_total FROM counts),
rates AS (
  SELECT lang, n_lang,
         least(1.0, ({_lang_weight_sql()})
                    * CAST(n_total AS DOUBLE) / CAST(n_lang AS DOUBLE))
           AS rate
  FROM counts, tot
),
kept AS (
  SELECT d.lang,
         COUNT(*) FILTER (
           WHERE r.rate >= 1.0
              OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                 < printf('%08x', CAST(floor(r.rate * 4294967296.0) AS BIGINT))
         ) AS n_kept
  FROM documents d JOIN rates r USING (lang)
  GROUP BY d.lang
)
SELECT r.lang, r.n_lang, k.n_kept,
       CAST(floor(r.rate * 1000000 + 0.5) AS BIGINT) AS rate_ppm
FROM rates r JOIN kept k USING (lang)
ORDER BY r.lang
""",
)
def q_sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixing to target proportions: pass 1 counts each
    language, pass 2 keeps each doc with probability
    rate = min(1, weight * total / count), decided deterministically by
    md5 prefix against an %08x-rendered threshold (rate arithmetic is
    the same IEEE expression in both engines, so the rendered threshold
    -- and therefore the kept set -- is identical). The per-language
    rate table is a handful of rows, broadcast back onto the corpus:
    at 100 TB this is two scan-bound passes and zero wide shuffles."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    tot = counts.agg(F.sum("n_lang").alias("n_total"))
    rates = counts.crossJoin(tot).select(
        "lang",
        "n_lang",
        F.least(
            F.lit(1.0),
            _lang_weight_col()
            * F.col("n_total").cast("double")
            / F.col("n_lang").cast("double"),
        ).alias("rate"),
    )
    threshold = F.format_string(
        "%08x", F.floor(F.col("rate") * F.lit(4294967296.0)).cast("bigint")
    )
    keep = (F.col("rate") >= 1.0) | (
        F.substring(_doc_hash(), 1, 8) < threshold
    )
    return (
        # hint: rates is a cross join (estimate: product of inputs); unhinted, d builds
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_lang", "rate")
        .agg(F.count(F.when(keep, 1)).alias("n_kept"))
        .select(
            "lang",
            "n_lang",
            "n_kept",
            F.floor(F.col("rate") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("rate_ppm"),
        )
        .orderBy("lang")
    )


@query(
    "q_shuffle_deterministic",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS skey,
         {shard_sql("doc_id")} AS shard
  FROM documents
)
SELECT doc_id, CAST(shard AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id)
            AS BIGINT) AS pos
FROM keyed
ORDER BY shard, pos
""",
)
def q_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for epoch ordering: shard by the
    first hex digit of md5(key), then sort WITHIN each shard by the full
    hash. Reading shards in order yields a reproducible pseudo-random
    permutation of the corpus without any global sort: the only wide
    exchange is the 16-way hash partition, and each in-shard sort is
    local -- exactly how a 100 TB corpus is shuffled for training
    (shard files written per reducer, never a total order). row_number
    ties are impossible (md5 of distinct keys) but doc_id is appended
    to the sort anyway per the registry tie-break rule."""
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        shuffle_key("doc_id").alias("skey"),
        shard_col("doc_id").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        keyed.select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


# Train/validation/test split boundaries: first 4 hex chars of
# md5(doc_id) partition [0000, ffff] into ~80% / ~10% / ~10%. Hex-string
# comparison == integer comparison for fixed-width lowercase hex, so the
# same boundaries drive both engines (same mechanism as STRATA above).
SPLITS: list[tuple[str, str]] = [
    ("train", "cccc"),  # [0000, cccc) ~ 80.0%
    ("valid", "e666"),  # [cccc, e666) ~ 10.0%
]
_TEST = "test"          # [e666, ffff] ~ the remainder


def _split_case_sql() -> str:
    whens = "\n".join(
        f"    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{hi}'"
        f" THEN '{name}'"
        for name, hi in SPLITS
    )
    return f"CASE\n{whens}\n    ELSE '{_TEST}'\n  END"


def _split_case_col() -> F.Column:
    col = F.lit(_TEST)
    for name, hi in reversed(SPLITS):
        col = F.when(
            F.substring(_doc_hash(), 1, 4) < hi, F.lit(name)
        ).otherwise(col)
    return col


@query(
    "q_train_test_split",
    oracle=f"""
SELECT {_split_case_sql()} AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(DISTINCT source) AS n_sources
FROM documents
GROUP BY split
ORDER BY split
""",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic three-way corpus split (80/10/10 by md5-prefix
    range): membership is a pure function of the key, so the split is
    stable under re-runs, retries, appends, and repartitioning -- the
    property rand()-based splits lack and an ML pipeline needs (a doc
    can never migrate between train and test across runs). The audit
    aggregate verifies each split sees every language and source
    (stratification-by-hash gives proportional representation without
    a per-stratum pass). One map-only projection + a 3-group
    aggregate: scan-bound at any scale."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            _split_case_col().alias("split"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "lang",
            "source",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )


_RESERVOIR_K = 5


@query(
    "q_reservoir_per_group",
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT source, doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_RESERVOIR_K}
ORDER BY source, rk
""",
)
def q_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sample (k = _RESERVOIR_K = 5
    docs per source) -- the per-domain inspection sample every curation run
    publishes. Rank within each group by md5(key): uniform like a
    reservoir, but stable under re-runs and append-only growth (a doc
    already in the sample leaves only if a lower-hashing doc arrives --
    the deterministic analogue of reservoir replacement). One hash
    shuffle on the group key; the rank filter plans a WindowGroupLimit,
    so each shuffle partition retains ~k rows per group instead of the
    whole group -- the property that makes this safe when one source
    holds half the corpus."""
    d = load(spark, sf_dir, "documents")
    # rank by the module's canonical membership hash (_doc_hash), not
    # an inline respelling -- every sampling query must hash the key
    # identically or the samples desynchronize across the pipeline
    w = Window.partitionBy("source").orderBy(_doc_hash(), "doc_id")
    return (
        d.select(
            "source",
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= _RESERVOIR_K)
        .orderBy("source", "rk")
    )
