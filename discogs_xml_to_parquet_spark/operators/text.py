"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All per-row JVM expressions (split/filter/aggregate over token arrays)
except language ID, which is the canonical explode-join-argmax shape:
tokens join a broadcast stopword dimension, count overlap per (doc,
lang), argmax by overlap. At 100 TB the stopword table is a few KB --
the join never shuffles the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists -- the n-gram-heuristic stand-in.
# A production languid model is a broadcast table of (lang, ngram,
# weight); the dataflow below is identical.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "a", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en"],
    "fr": ["le", "la", "de", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["de", "shi", "bu", "le", "zai"],
}

ENGLISH_STOPWORDS = STOPWORDS["en"]


def toks(text: Column) -> Column:
    return F.split(text, " ")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append token/char statistics columns; all exact arithmetic."""
    t = toks(F.col(text_col))
    n_tokens = F.size(t)
    sum_len = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    stop_arr = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    n_stop = F.size(F.array_intersect(t, stop_arr))
    n_unique = F.size(F.array_distinct(t))
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("n_unique_tokens", n_unique)
        .withColumn("avg_token_len", sum_len / n_tokens)
        .withColumn("unique_ratio", n_unique / n_tokens)
        .withColumn("stopword_hits", n_stop)
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality score in [0, 1] from token_stats columns:
    rewards lexical diversity and penalizes very short docs. Exact
    arithmetic over integer-derived values -> cross-engine stable."""
    len_component = F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
    return df.withColumn(
        "quality_score",
        (F.col("unique_ratio") + len_component) / 2,
    )


def language_id(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID: (doc, lang, hits) via exploded
    tokens joining the broadcast stopword dim; argmax hits with
    lexicographic tie-break; docs with zero overlap -> 'und'."""
    spark = df.sparkSession
    sw = spark.createDataFrame(
        [(lang, w) for lang, words in STOPWORDS.items() for w in words],
        "lang string, word string",
    )
    hits = (
        df.select(F.col(id_col), F.explode(toks(F.col(text_col))).alias("word"))
        # hint: explode hides the token fan-out, so unhinted the corpus side builds
        .join(F.broadcast(sw), "word")
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("hits").desc(), F.col("lang"))
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, F.col("lang").alias("pred_lang"), "hits")
    )
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("hits", F.lit(0)).alias("hits"),
        )
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Document fingerprints: full-content md5 (after lower+trim
    normalization) plus min/max over word-3-gram md5s (a 2-hash
    winnowing sketch: robust to local edits, cheap to compare)."""
    from discogs_xml_to_parquet_spark.operators.dedup import word_shingles

    norm = F.md5(F.trim(F.lower(F.col(text_col))))
    sh = word_shingles(F.col(text_col))
    hashed = F.transform(sh, lambda s: F.md5(s))
    return df.select(
        F.col(id_col),
        norm.alias("content_md5"),
        F.array_min(hashed).alias("min_shingle_md5"),
        F.array_max(hashed).alias("max_shingle_md5"),
    )


ROLL_BASE = 31
ROLL_MOD = 2_147_483_647  # 2^31 - 1
ROLL_K = 4       # character window
WINNOW_W = 8     # windows per winnowing block


def rolling_window_hashes(text: Column, k: int = ROLL_K,
                          base: int = ROLL_BASE,
                          mod: int = ROLL_MOD) -> Column:
    """Rabin-Karp window hashes: the polynomial hash of every k-char
    window, h_i = sum_j code(c_{i+j}) * base^(k-1-j) mod m, as
    array<bigint>. Built by Horner-composing k shifted slices of the
    char-code array (the same sliced-zip discipline as word_shingles:
    the slices are zip_with *arguments*, evaluated once per row -- an
    element_at-in-lambda formulation would re-split the text per
    element). The sequential add-one-drop-one recurrence is a
    single-thread optimization; the declarative per-window polynomial
    is what parallelizes."""
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("bigint"))
    n = F.greatest(F.size(codes) - (k - 1), F.lit(0))
    parts = [F.slice(codes, j + 1, n) for j in range(k)]
    z = parts[0]
    for p in parts[1:]:
        # reduce INSIDE the fold: the accumulator stays < mod, so the
        # next step is bounded by mod * base + 127 << 2^63 for any k
        # (an end-only mod overflows int64 from k ~ 13)
        z = F.zip_with(z, p, lambda a, b: (a * base + b) % mod)
    return z


def winnow_select(hashes: Column, w: int = WINNOW_W) -> Column:
    """Winnowing selection: the minimum hash of each w-window block
    (array<bigint>, one element per block). Documents sharing a long
    substring share selected hashes, so equal block-mins are plagiarism
    /near-dup evidence at character granularity -- the standard
    winnowing fingerprint (Schleimer et al.). IMPORTANT: `hashes` must
    be a materialized column (repartition barrier), not an inline
    expression -- the block lambda references it per block."""
    n_blocks = F.ceil(F.size(hashes) / w).cast("int")
    # guard: sequence(0, -1) would generate a DESCENDING [0, -1] for
    # empty inputs, not an empty list
    return F.when(
        n_blocks > 0,
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda b: F.array_min(F.slice(hashes, b * w + 1, F.lit(w))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _char_trigrams_of(word: str) -> set[str]:
    p = f" {word} "
    return {p[i:i + 3] for i in range(len(p) - 2)}


# Per-language character-trigram profiles derived deterministically from
# the stopword lists (word-boundary padded) -- the Cavnar-Trenkle-style
# n-gram heuristic. Shared with the DuckDB oracle generator so both
# engines score against identical profiles.
TRIGRAM_PROFILES: dict[str, list[str]] = {
    lang: sorted(set().union(*[_char_trigrams_of(w) for w in words]))
    for lang, words in STOPWORDS.items()
}


def char_trigrams(text: Column) -> Column:
    """Distinct character trigrams of ' '+lower(text)+' ' (array<string>),
    built from three shifted slices of the char array zipped together --
    same single-evaluation discipline as word_shingles."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    chars = F.split(padded, "")
    n = F.greatest(F.size(chars) - 2, F.lit(0))
    parts = [F.slice(chars, j + 1, n) for j in range(3)]
    z = F.zip_with(parts[0], parts[1], lambda a, b: F.concat(a, b))
    z = F.zip_with(z, parts[2], lambda a, b: F.concat(a, b))
    return F.array_distinct(z)


def language_id_ngram(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Character-n-gram language ID (the n-gram heuristic proper):
    distinct doc trigrams explode-join the broadcast per-language
    trigram profile; argmax distinct-trigram overlap per doc,
    lexicographic tie-break, zero overlap -> 'und'. Same
    explode-join-argmax scale shape as the stopword variant -- the
    profile table is KB-sized, the corpus never shuffles whole rows."""
    spark = df.sparkSession
    prof = spark.createDataFrame(
        [(lang, g) for lang, grams in TRIGRAM_PROFILES.items() for g in grams],
        "lang string, trigram string",
    )
    hits = (
        df.select(
            F.col(id_col), F.explode(char_trigrams(F.col(text_col))).alias("trigram")
        )
        # hint: explode hides the trigram fan-out, so unhinted the corpus side builds
        .join(F.broadcast(prof), "trigram")
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("hits").desc(), F.col("lang"))
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, F.col("lang").alias("pred_lang"), "hits")
    )
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("hits", F.lit(0)).alias("hits"),
        )
    )
