"""Fuzzy matching + behavioral funnels: the remaining analytic shapes
a curation/analytics user reaches for."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.queries._fragments import cc_ctes
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import stage_df
from discogs_xml_to_parquet_spark.tables import load


@query(
    "q_fuzzy_levenshtein",
    oracle="""
SELECT a.c_custkey AS id1, b.c_custkey AS id2,
       a.c_name AS name1, b.c_name AS name2,
       levenshtein(a.c_name, b.c_name) AS edit_dist
FROM customer a
JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND a.c_custkey < 150 AND b.c_custkey < 150
WHERE levenshtein(a.c_name, b.c_name) <= 2
ORDER BY id1, id2
""",
)
def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-match by edit distance (entity-resolution kernel).
    Brute pairs on a bounded slice for the oracle; the scale path is
    blocking (join on a cheap key -- first char, length band, or a
    phonetic code) before the quadratic distance step, exactly like
    LSH prunes the minhash pair space."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 150)
    a, b = c.alias("a"), c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(b, F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("id1"),
            F.col("b.c_custkey").alias("id2"),
            F.col("a.c_name").alias("name1"),
            F.col("b.c_name").alias("name2"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
        .orderBy("id1", "id2")
    )


def blocked_pairs_df(c: DataFrame, keep_cap: int = 200,
                     sampled: bool = False) -> DataFrame:
    """Core of the shared blocked-candidate pipeline (mirrors
    _BLOCKED_CTES) over a (c_custkey, c_name) frame.

    `sampled=False` (q_fuzzy_blocked): buckets over `keep_cap` members
    are DROPPED whole (block purging) -- zero work in degenerate
    buckets, but recall in a bucket collapses to nothing the moment it
    crosses the cap. The r13 sf10 run measured the cliff: at 1.5M
    dense names EVERY positional digit band exceeds 200 and output
    goes to zero (both engines agree -- sf1_verify --corpus 100).

    `sampled=True` (q_fuzzy_blocked_sampled): over-cap buckets keep a
    DETERMINISTIC hash-ranked sample of `keep_cap` members instead
    (block sampling, the meta-blocking literature's graceful twin of
    purging): row_number over md5(c_custkey) -- engine-portable, so
    the oracle draws the identical sample. Work stays bounded at
    cap^2/2 candidates per bucket at ANY corpus density; recall in an
    over-cap bucket degrades smoothly as ~(cap/df)^2 instead of to 0.
    Under-cap buckets keep every member, so sampled output is a
    SUPERSET of the purged output on every corpus (pytest-pinned) and
    IDENTICAL on corpora where no bucket crosses the cap.

    Pass 1 (equal length): explode each name to 6 prefix-aligned
    (length, band_no, 3-char band) blocking keys; substitutions never
    shift bands, so <=2 edits leave >=4 of 6 bands intact.

    Pass 2 (length +/-1 or +/-2, the indel lane): TWO band families
    under one target-length equi-key. Suffix-aligned bands (band_no
    0-5, counted from the END) realign after the last indel, catching
    pairs whose edits sit toward the head; prefix-aligned bands
    (band_no 6-11, same 3-char windows as pass 1) align before the
    first edit, catching the length-changing pairs whose edits sit
    toward the tail -- in particular a trailing append/delete, which
    shifts EVERY suffix band and which pass 1 cannot see because its
    join requires equal lengths (the r4 ADVICE recall hole). Each
    record emits both families under target lengths {ln, ln+1, ln+2}
    so a (L, L+d) pair meets on the equi-key mx_ln = L+d; the join
    then requires 1 <= |ln_a - ln_b| <= 2 (pass 1 owns equal
    lengths), and the disjoint band_no ranges keep the families from
    cross-matching. Recall guarantee: exact for any <=2-edit pair
    unless its edits simultaneously touch BOTH the first (full)
    prefix band and the last suffix band (one edit in the first 3
    chars and another in the last 3), the standard residual of
    positional blocking -- with prefix bands now actually in the
    length-changing lane, the guarantee holds for trailing edits too.

    Both passes drop degenerate buckets via the DF cap, then verify
    with levenshtein <= 2. Returns (id1, id2, name1, name2,
    edit_dist), unordered.

    EXECUTION (r6): both passes run in ONE exploded frame, ONE
    df-cap stage, and ONE self-join -- the three band families get
    DISJOINT band_no ranges (0-5 suffix, 6-11 prefix/indel lane,
    12-17 prefix/equal-length lane), so no bucket can mix families,
    bucket df statistics are row-for-row those of the two-pass
    spelling, and a residual band_no-range predicate on the join
    applies each family's length rule. Candidate set therefore
    IDENTICAL to the two-pass spelling (the oracle still spells the
    two-pass UNION and hash-matches).

    EXECUTION (r14, optimization round): the purged lane's df cap is
    a map-side-combining groupBy of the over-cap band keys plus a
    broadcast LEFT ANTI (the exploded frame never shuffles or sorts
    for the cap -- COUNT(*) OVER paid both, 34.9 -> 22.1 s at sf1).
    The self-join carries an explicit SHUFFLE_MERGE hint on both
    lanes: post-Generate size estimates undercount by the 42x
    fan-out, so the planner otherwise broadcasts an O(corpus) build
    side (multi-GB at sf1, OOM at 100 TB); hinted, AQE stage reuse
    pays one band-key exchange for both sides.

    EXECUTION (r15, optimization round 2): the sampled lane's
    row_number window runs ONLY over the over-cap buckets' rows (a
    broadcast semi-join against the same over-cap key set the purged
    lane builds); under-cap rows union in unranked -- their ranks are
    all <= cap by definition, so the kept row set is identical to
    ranking the whole frame, while the window's exchange + sort
    shrinks from the full exploded frame to the degenerate buckets
    only (near-zero at sf1/sf10 density, the old full sort in the
    worst case)."""
    c = c.select("c_custkey", "c_name")
    ln = F.length("c_name")
    # band families under disjoint band_no ranges (order inside the
    # array defines band_no):
    #   0-5   suffix-aligned, length-guarded (indel lane)
    #   6-11  prefix-aligned, length-guarded (indel lane)
    #   12-17 prefix-aligned, UNguarded plain substring -- the
    #         equal-length lane keeps pass 1's exact bucket behavior,
    #         including short/empty windows of short names (their
    #         giant buckets die at the df cap, as before)
    suffix_bands = [
        F.when(
            ln >= 3 * (j + 1),
            F.substr(
                F.col("c_name"), ln - F.lit(3 * (j + 1) - 1), F.lit(3)
            ),
        )
        for j in range(6)
    ]
    prefix_indel_bands = [
        F.when(ln >= 3 * (j + 1), F.substring("c_name", j * 3 + 1, 3))
        for j in range(6)
    ]
    prefix_equal_bands = [
        F.substring("c_name", b * 3 + 1, 3) for b in range(6)
    ]
    # posexplode_outer: avoids the inferred size()>0 filter being
    # pushed into the scan (see q_dedup_simhash_banded); the literal
    # 18-element array is never empty
    ex = (
        c.select(
            "c_custkey",
            "c_name",
            ln.alias("ln"),
            F.posexplode_outer(
                F.array(
                    *suffix_bands, *prefix_indel_bands, *prefix_equal_bands
                )
            ).alias("band_no", "band_val"),
        )
        .filter(F.col("band_val").isNotNull())
        # indel-lane rows pair at target lengths {ln, ln+1, ln+2};
        # equal-length-lane rows only at their own length
        .withColumn(
            "dl",
            F.explode(
                F.when(F.col("band_no") >= 12, F.array(F.lit(0))).otherwise(
                    F.array(F.lit(0), F.lit(1), F.lit(2))
                )
            ),
        )
        .withColumn("mx_ln", F.col("ln") + F.col("dl"))
    )
    # Over-cap bucket KEYS, shared by both lanes (r14 purged lane,
    # r15 sampled lane; guide 2.4): a map-side-combining groupBy finds
    # the few degenerate keys whose bucket exceeds the cap -- the
    # exploded frame never shuffles or sorts to learn bucket sizes.
    over_cap = (
        ex.groupBy("mx_ln", "band_no", "band_val")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > keep_cap)
        .select("mx_ln", "band_no", "band_val")
    )
    if sampled:
        # r15 (VERDICT r14 item 1, guide 2.4): the rank is only NEEDED
        # where it can exceed the cap. The r13-r14 spelling ranked the
        # WHOLE exploded frame (exchange + sort: 63M rows at sf1, 630M
        # at sf10) to keep every under-cap row it ranked -- rows whose
        # rank the <= cap filter can never reject. Split on the
        # over-cap key set instead: under-cap rows pass through a
        # broadcast LEFT ANTI unranked (all kept), and ONLY the
        # over-cap buckets' rows (broadcast LEFT SEMI) pay the
        # row_number window. Row set is provably identical to ranking
        # everything: within a bucket the window sees exactly the same
        # members in the same md5 order, and an under-cap bucket's
        # ranks are all <= cap by definition. The oracle still spells
        # the one global ROW_NUMBER window and hash-matches (sf0.01
        # driver gate + --corpus 100 cell-exact). At sf1/sf10 density
        # almost no bucket is over-cap, so the window input collapses
        # to ~nothing; at sf100 density (every digit band over-cap) it
        # degrades to the old full sort, never worse. The two
        # broadcasts share one build (ReuseExchange: identical
        # canonicalized over_cap subtrees).
        w = Window.partitionBy("mx_ln", "band_no", "band_val")
        rank = F.row_number().over(
            w.orderBy(F.md5(F.col("c_custkey").cast("string"))))
        under = ex.join(
            over_cap,
            ["mx_ln", "band_no", "band_val"],
            "left_anti",
        )
        over = (
            ex.join(
                over_cap,
                ["mx_ln", "band_no", "band_val"],
                "left_semi",
            )
            .withColumn("df", rank)
            .filter(F.col("df") <= keep_cap)
            .drop("df")
        )
        kept = under.unionByName(over)
    else:
        # r14 (guide 2.4): the purged lane only needs MEMBERSHIP of an
        # over-cap bucket, not a per-row rank -- COUNT(*) OVER (the
        # r6-r13 spelling) paid a full exchange + sort of the exploded
        # frame to attach a count that was immediately reduced to one
        # boolean. A broadcast LEFT ANTI drops the over-cap buckets'
        # rows without the exploded frame ever shuffling for the cap.
        # Row set is identical (count <= cap keeps whole buckets; anti
        # against count > cap keys keeps the same whole buckets); the
        # oracle still spells the COUNT(*) window and hash-matches.
        # Measured at sf1: 34.9 -> 22.1 s; at sf10 density (every
        # digit band over-cap) the anti empties the stream map-side
        # instead of sorting the 630M-row explosion first.
        kept = ex.join(
            over_cap,
            ["mx_ln", "band_no", "band_val"],
            "left_anti",
        )
    # SHUFFLE_MERGE, explicitly (guide 3.1): the self-join's static
    # size estimate descends from the customer scan THROUGH two
    # Generates (Catalyst's Generate stats forward the child size), so
    # the planner sees "a few MB" where the exploded frame is really
    # 42 rows per name -- and broadcasts an O(corpus) build side (a
    # multi-GB HashedRelation at sf1, an OOM at 100 TB; the same
    # failure class as setsim's unconditional hint, VERDICT r11 item
    # 1). Hinted, both sides shuffle on the band keys -- identical
    # subtrees, so AQE stage reuse pays ONE exchange -- and the df-cap
    # bounds every bucket at keep_cap, so the merge join has no skew.
    a, b = kept.alias("a"), kept.alias("b").hint("shuffle_merge")
    ln_gap = F.abs(F.col("a.ln") - F.col("b.ln"))
    cand = (
        a.join(
            b,
            (F.col("a.mx_ln") == F.col("b.mx_ln"))
            & (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
            # equal-length lane: equal mx_ln at dl=0 both sides already
            # implies equal ln; indel lanes: gap 1-2 (pass 1 owns
            # equal lengths)
            & (
                (F.col("a.band_no") >= 12)
                | ((ln_gap >= 1) & (ln_gap <= 2))
            ),
        )
        .select(
            F.col("a.c_custkey").alias("id1"),
            F.col("b.c_custkey").alias("id2"),
            F.col("a.c_name").alias("name1"),
            F.col("b.c_name").alias("name2"),
        )
    )
    # ONE distinct over the raw candidates (the oracle's UNION dedups
    # globally): the dedup exchange carries candidate pairs once.
    return (
        cand.distinct()
        .withColumn("edit_dist", F.levenshtein(F.col("name1"), F.col("name2")))
        .filter(F.col("edit_dist") <= 2)
    )


def blocked_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy pairs over the customer table; see
    blocked_pairs_df for the two-pass blocking scheme."""
    return blocked_pairs_df(load(spark, sf_dir, "customer"))


# Shared blocked-candidate CTEs: ONE fragment for the q_fuzzy_blocked
# oracle and the q_entity_resolution oracle so the mirrors cannot drift
# (the shared-fragment rule from round 1).
_BLOCKED_CTES = """ex AS (
  SELECT c_custkey, c_name, LENGTH(c_name) AS ln, b AS band_no,
         substring(c_name, b * 3 + 1, 3) AS band_val
  FROM customer, generate_series(0, 5) AS g(b)
),
kept AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY ln, band_no, band_val) AS df
    FROM ex
  ) WHERE df <= 200
),
cand AS (
  SELECT DISTINCT a.c_custkey AS id1, b.c_custkey AS id2,
         a.c_name AS name1, b.c_name AS name2
  FROM kept a
  JOIN kept b ON a.ln = b.ln AND a.band_no = b.band_no
             AND a.band_val = b.band_val AND a.c_custkey < b.c_custkey
),
ex2 AS (
  SELECT c_custkey, c_name, LENGTH(c_name) AS ln, b AS band_no,
         CASE WHEN b < 6
              THEN substring(c_name, LENGTH(c_name) - (3 * (b + 1) - 1), 3)
              ELSE substring(c_name, (b - 6) * 3 + 1, 3) END AS band_val,
         LENGTH(c_name) + dl AS mx_ln
  FROM customer, generate_series(0, 11) AS g(b), generate_series(0, 2) AS h(dl)
  WHERE LENGTH(c_name) >= 3 * ((b % 6) + 1)
),
kept2 AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY mx_ln, band_no, band_val) AS df
    FROM ex2
  ) WHERE df <= 200
),
cand2 AS (
  SELECT DISTINCT a.c_custkey AS id1, b.c_custkey AS id2,
         a.c_name AS name1, b.c_name AS name2
  FROM kept2 a
  JOIN kept2 b ON a.mx_ln = b.mx_ln AND a.band_no = b.band_no
             AND a.band_val = b.band_val AND a.c_custkey < b.c_custkey
             AND abs(a.ln - b.ln) BETWEEN 1 AND 2
),
cand_all AS (
  SELECT * FROM cand UNION SELECT * FROM cand2
),
matched AS (
  SELECT id1, id2, name1, name2, levenshtein(name1, name2) AS edit_dist
  FROM cand_all
  WHERE levenshtein(name1, name2) <= 2
)"""


@query(
    "q_fuzzy_blocked",
    oracle="WITH " + _BLOCKED_CTES + """
SELECT id1, id2, name1, name2, edit_dist
FROM matched
ORDER BY id1, id2
""",
)
def q_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching, the scale path (VERDICT r1 item 5): over
    the WHOLE customer table (no custkey bound), two blocking passes
    (see blocked_pairs_df) -- prefix bands keyed by exact length for
    substitution pairs, suffix AND prefix bands keyed by target length
    for the length-changing indel pairs (suffix lane from the r3
    verdict; prefix lane closes the trailing-indel hole from the r4
    ADVICE) --
    candidates come from equi-joins on the keys, and only candidates
    pay the levenshtein. A document-frequency cap (bucket > 200
    dropped) keeps degenerate bands (constant prefixes like
    'Cus'/'tom') from regenerating the all-pairs blow-up -- the same
    DF-cap idea as q_dedup_ngram_jaccard. q_fuzzy_levenshtein stays as
    the bounded all-pairs recall baseline (test_oracle asserts blocked
    == all-pairs at the SF where no band is capped; the indel recall
    test in test_determinism feeds synthetic length-changing pairs
    through blocked_pairs_df)."""
    return blocked_match_pairs(spark, sf_dir).orderBy("id1", "id2")


# The sampled-keep oracle is the purged oracle with ONE window swapped
# in each pass: COUNT(*) (membership size, purge whole bucket past the
# cap) -> ROW_NUMBER() over md5(custkey) (keep a deterministic sample
# of the cap). The alias and the <= 200 predicate are untouched, so
# the two oracle texts cannot drift anywhere else.
_SAMPLED_CTES = _BLOCKED_CTES.replace(
    "COUNT(*) OVER (PARTITION BY ln, band_no, band_val) AS df",
    "ROW_NUMBER() OVER (PARTITION BY ln, band_no, band_val "
    "ORDER BY md5(CAST(c_custkey AS VARCHAR))) AS df",
).replace(
    "COUNT(*) OVER (PARTITION BY mx_ln, band_no, band_val) AS df",
    "ROW_NUMBER() OVER (PARTITION BY mx_ln, band_no, band_val "
    "ORDER BY md5(CAST(c_custkey AS VARCHAR))) AS df",
)
if _SAMPLED_CTES.count("ROW_NUMBER") != 2:  # not assert: survives -O
    raise RuntimeError(
        "q_fuzzy_blocked_sampled oracle integrity: the string-replace "
        "over _BLOCKED_CTES swapped fewer than 2 COUNT(*) windows -- "
        "a _BLOCKED_CTES wording change would otherwise silently "
        "register a sampled oracle identical to the purged one")


@query(
    "q_fuzzy_blocked_sampled",
    oracle="WITH " + _SAMPLED_CTES + """
SELECT id1, id2, name1, name2, edit_dist
FROM matched
ORDER BY id1, id2
""",
)
def q_fuzzy_blocked_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching with BLOCK SAMPLING instead of block
    purging (r13): identical band construction and verification to
    q_fuzzy_blocked, but a bucket past the 200-member cap keeps a
    deterministic md5(custkey)-ranked sample of 200 members instead of
    dying whole. The r13 sf10 run measured purging's cliff -- at 1.5M
    dense names every digit band exceeds the cap and recall collapses
    to ZERO (out_rows in bench_records/SF10_SPOT.json, confirmed
    semantically by both engines at --corpus 100). Sampling is the
    production answer for that density regime: per-bucket work stays
    bounded at cap^2/2 candidates no matter the corpus (the property
    the cap exists for), while recall degrades smoothly as ~(cap/df)^2
    per over-cap bucket. On corpora where no bucket crosses the cap
    the two contracts are IDENTICAL, and on every corpus the sampled
    output is a superset of the purged one (under-cap buckets keep all
    members) -- both pinned in tests/test_new_operators.py. The hash
    rank is md5 of the key, so Spark and DuckDB draw the same sample
    and the oracle stays cell-exact."""
    return blocked_pairs_df(
        load(spark, sf_dir, "customer"), sampled=True
    ).orderBy("id1", "id2")


@query(
    "q_funnel_conversion",
    oracle="""
WITH first_signup AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
converted AS (
  SELECT DISTINCT f.user_id
  FROM first_signup f
  JOIN events e
    ON e.user_id = f.user_id
   AND e.event_type = 'purchase'
   AND CAST(e.ts AS TIMESTAMP) >= f.signup_ts
   AND CAST(e.ts AS TIMESTAMP) < f.signup_ts + INTERVAL 7 DAY
)
SELECT
  (SELECT COUNT(*) FROM first_signup) AS n_signed_up,
  (SELECT COUNT(*) FROM converted) AS n_converted,
  (SELECT COUNT(*) FROM converted) * 1.0
    / (SELECT COUNT(*) FROM first_signup) AS conversion_rate
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> purchase-within-7-days funnel: first-touch per user,
    semi join for the conversion event, single-row rates. The two-step
    shape (per-user reduce, then bounded-range existence join) is the
    scalable funnel idiom -- no per-user sequence materialization."""
    e = load(spark, sf_dir, "events")
    first_signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        first_signup.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("signup_ts"))
            & (F.col("p_ts") < F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")),
            "left_semi",
        )
    )
    # single declarative plan (no driver-side counts): two 1-row
    # aggregates cross-joined; a global aggregate's 1-row estimate
    # makes the planner pick BroadcastNestedLoopJoin
    return (
        first_signup.agg(F.count(F.lit(1)).alias("n_signed_up"))
        .crossJoin(converted.agg(F.count(F.lit(1)).alias("n_converted")))
        .select(
            "n_signed_up",
            "n_converted",
            (F.col("n_converted") * 1.0 / F.col("n_signed_up")).alias("conversion_rate"),
        )
    )


@query(
    "q_entity_resolution",
    oracle="WITH RECURSIVE " + _BLOCKED_CTES + ",\n"
    + cc_ctes(pairs="matched", node_alias="c_custkey") + """,
labeled AS (
  SELECT c.c_custkey, c.c_name, c.c_acctbal,
         LEAST(c.c_custkey, COALESCE(m.min_reach, c.c_custkey)) AS entity_id
  FROM customer c
  LEFT JOIN comp m ON c.c_custkey = m.c_custkey
)
SELECT entity_id,
       COUNT(*) AS n_records,
       arg_min(c_name, c_custkey) AS canonical_name,
       CAST(SUM(CAST(floor((c_acctbal) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS total_acctbal
FROM labeled
GROUP BY entity_id
HAVING COUNT(*) > 1
ORDER BY entity_id
""",
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entity-resolution capstone, one declarative plan end to end:
    blocked fuzzy pairs (the scale path -- no all-pairs anywhere) ->
    connected components (records of one real-world entity) -> golden
    record per entity (canonical id = min custkey, its name via min_by
    keyed on the unique custkey, exact-sum of member balances). Output:
    only multi-record entities, i.e. the merge work-list an MDM/dedup
    pipeline would emit. The oracle rebuilds the whole chain -- blocked
    candidates, transitive closure, golden-record aggregates --
    relationally in DuckDB."""
    from discogs_xml_to_parquet_spark.functions.exact import dsum
    from discogs_xml_to_parquet_spark.operators import graph as G

    pairs = blocked_match_pairs(spark, sf_dir)
    comp = G.connected_components(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    labeled = c.join(comp, c["c_custkey"] == comp["id"], "left").select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.coalesce("comp", F.col("c_custkey")).alias("entity_id"),
    )
    return (
        labeled.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min_by("c_name", "c_custkey").alias("canonical_name"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
        .filter(F.col("n_records") > 1)
        .orderBy("entity_id")
    )


@query(
    "q_fuzzy_blocked_stats",
    oracle="WITH " + _BLOCKED_CTES + """,
stats AS (
  SELECT edit_dist, LENGTH(name1) AS ln1, COUNT(*) AS n_pairs
  FROM matched GROUP BY edit_dist, LENGTH(name1)
),
sampled AS (
  SELECT edit_dist, LENGTH(name1) AS ln1, id1, id2,
         ROW_NUMBER() OVER (PARTITION BY edit_dist, LENGTH(name1)
                            ORDER BY id1, id2) AS rk
  FROM matched
)
SELECT s.edit_dist, s.ln1, t.n_pairs, s.rk, s.id1, s.id2
FROM sampled s JOIN stats t ON s.edit_dist = t.edit_dist AND s.ln1 = t.ln1
WHERE s.rk <= 3
ORDER BY s.edit_dist, s.ln1, s.rk
""",
)
def q_fuzzy_blocked_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy blocking, AGGREGATE mode (VERDICT r7 item 6).

    q_fuzzy_blocked is output-bound at scale by construction: the sf1
    lane measured 105k true <=2-edit pairs at sf0.1 vs 7.24M at sf1.0
    (x69 output for x10 data -- the TRUE pair count of a dense
    sequential-id namespace is inherently super-linear), so at 100 TB
    "materialize every pair" is the wrong CONTRACT, not a wrong plan.
    This query is the emit-what-you-need mode: the same blocked
    candidate pipeline (blocked_pairs_df -- one exploded frame, one
    df-cap window, one self-join), but the output is O(groups x K):
    per (edit_dist, name-length) group, the exact pair count plus a
    bounded deterministic sample (the K=3 smallest (id1, id2) pairs).
    Use q_fuzzy_blocked when downstream consumes pairs (e.g. the ER
    components build); use this mode for match-rate monitoring,
    blocking-quality audits, and threshold tuning, where the counts
    and a reviewable sample are the actual need (README: Fuzzy
    matching at scale).

    Scale shape: the matched-pairs frame feeds two consumers (count
    agg + sample), so it is staged once (localCheckpoint -- the
    multi-consumer rule from the r7 perf sweep). Counts are a plain
    map-side-partial groupBy. The sample avoids the giant-task
    Window.partitionBy(group) trap (few huge groups): two-phase salted
    top-K -- a per-(group, salt) row_number keeps <= K rows per salt
    lane (32 bounded tasks per group), then the global per-group
    row_number runs over <= 32*K survivors per group, not the pair
    set. Same two-phase idea as operators/prefix.py: bound the longest
    task, keep the single-partition step to O(small)."""
    pairs = (
        blocked_pairs_df(load(spark, sf_dir, "customer"))
        .withColumn("ln1", F.length("name1").cast("long"))
        .transform(stage_df)
    )
    stats = pairs.groupBy("edit_dist", "ln1").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    w_salt = Window.partitionBy("edit_dist", "ln1", "_salt").orderBy(
        "id1", "id2"
    )
    w_group = Window.partitionBy("edit_dist", "ln1").orderBy("id1", "id2")
    sampled = (
        pairs.withColumn("_salt", F.pmod(F.col("id1"), F.lit(32)))
        .withColumn("_rk1", F.row_number().over(w_salt))
        .filter(F.col("_rk1") <= 3)
        .withColumn("rk", F.row_number().over(w_group).cast("long"))
        .filter(F.col("rk") <= 3)
    )
    return (
        # hint: stats aggregates the staged pairs (no size stats); unhinted, sort-merge
        sampled.join(F.broadcast(stats), ["edit_dist", "ln1"])
        .select("edit_dist", "ln1", "n_pairs", "rk", "id1", "id2")
        .orderBy("edit_dist", "ln1", "rk")
    )
