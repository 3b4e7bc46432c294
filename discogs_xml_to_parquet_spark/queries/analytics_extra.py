"""Graph/analytics operators round 2: degree-oriented triangle
counting, 2-D Pareto frontier (skyline), exact equi-depth histogram,
and the built-in session_window aggregation (the streaming-capable
sessionization lane, batch-checked against the gap-island definition).

Exactness: every query surfaces integers, pass-through doubles (no
float arithmetic), or timestamps -- nothing rests on cross-engine
float accumulation. Scale notes inline per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.operators import prefix as P
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load

_ORDER_CAP = 8  # max parts per order entering the pair join


@query(
    "q_triangle_count",
    oracle=f"""
WITH lp AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), capped AS (
  SELECT o, p FROM (
    SELECT o, p, ROW_NUMBER() OVER (PARTITION BY o ORDER BY p) AS rn
    FROM lp
  ) WHERE rn <= {_ORDER_CAP}
), e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM capped a JOIN capped b ON a.o = b.o AND a.p < b.p
), nodes AS (
  SELECT u AS n FROM e UNION SELECT v FROM e
)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*) FROM e e1
          JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
""",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the parts-co-ordered-together graph,
    with the degree-ordered orientation that makes it feasible at
    scale: every undirected edge is directed from its lower-(degree,
    id) endpoint, so each triangle has exactly ONE vertex with two
    out-edges and is counted once by joining out-wedges against the
    edge set -- and the wedge count is bounded by sum of squared OUT-
    degrees, which orientation provably caps at O(E^1.5) instead of
    the hub-quadratic sum of raw degrees (the reason plain wedge
    counting dies on power-law graphs). Per-order part cap {_ORDER_CAP}
    bounds the clique blow-up at ingestion, the degree table is one
    small broadcast, and the closing check is an equi-semi-join.
    The oracle counts the same triangles by plain a<b<c enumeration."""
    li = load(spark, sf_dir, "lineitem")
    # per-order pair generation in ONE shuffle (r8): collect_set(p)
    # per order (map-side partial merge dedups early), sort + cap the
    # tiny array (<= _ORDER_CAP elements -- identical to the oracle's
    # ROW_NUMBER()-by-p cap), and expand the <= C(cap,2) ordered pairs
    # with a nested HOF -- value-identical to the r7
    # distinct -> cap-window -> self-join chain (xor-hash-checked) but
    # with the window sort and the per-order self-join shuffle gone.
    pairs = li.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.slice(
            F.array_sort(F.collect_set("l_partkey")), 1, _ORDER_CAP
        ).alias("ps")
    )
    # stage the edge list ONCE (the pagerank discipline,
    # graph_iter.py): five consumers read it -- the degree table (read
    # twice as du/dv), the orientation join, the wedge-closing
    # semi-join, and the n_edges audit -- and without the checkpoint
    # each re-ran the pair-generation chain (r7 sweep: 14 s warm ->
    # 7.6 s staged; the remainder is the genuine wedge join). At
    # 100 TB this is the oriented-edge staging write every production
    # triangle count starts from.
    edges = (
        pairs.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint()
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    # hint: deg is checkpointed (no size stats), so unhinted the edge list builds
    ed = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.dst") < F.col("o2.dst")),
    ).select(
        F.col("o1.dst").alias("u"), F.col("o2.dst").alias("v")
    )
    tri = wedges.join(edges, ["u", "v"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        # hint: unhinted, AQE's runtime plan built n_nodes instead at sf0.1
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_triangles")
    )


@query(
    "q_pareto_frontier",
    oracle="""
WITH cells AS (
  SELECT p_retailprice AS price, p_size AS size, COUNT(*) AS n_parts
  FROM part GROUP BY p_retailprice, p_size
)
SELECT price, size, n_parts
FROM cells c
WHERE NOT EXISTS (
  SELECT 1 FROM cells d
  WHERE d.price <= c.price AND d.size >= c.size
    AND (d.price < c.price OR d.size > c.size)
)
ORDER BY price
""",
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): the parts not dominated on
    (minimize retailprice, maximize size). Collapse to distinct
    (price, size) cells first (map-side-combining groupBy -- the 100 TB
    row count drops to the value-domain size), then ONE sort-and-scan:
    ordered by price asc / size desc, a cell is dominated exactly when
    the running max of size over STRICTLY PRECEDING cells reaches its
    own size -- O(n log n) against the oracle's transparent O(n^2)
    NOT EXISTS dominance definition. Doubles are compared and passed
    through, never accumulated, so cross-engine exactness holds."""
    p = load(spark, sf_dir, "part")
    cells = p.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    ).agg(F.count(F.lit(1)).alias("n_parts"))
    # distributed strict-preceding running max (operators/prefix.py):
    # the r6 spelling was a global Window.orderBy -- ONE task sorting
    # the whole cell domain, which for near-unique double prices is
    # ~the table itself at any scale
    scanned = P.running_max_strict(
        cells,
        [F.col("price").asc(), F.col("size").desc()],
        F.col("size"),
        "mx",
    )
    return (
        scanned
        .filter(F.col("mx").isNull() | (F.col("mx") < F.col("size")))
        .select("price", "size", "n_parts")
        .orderBy("price")
    )


_NB = 10  # equi-depth bucket count


@query(
    "q_histogram_equidepth",
    oracle=f"""
WITH pc AS (
  SELECT l_extendedprice AS price, COUNT(*) AS n
  FROM lineitem GROUP BY l_extendedprice
), cum AS (
  SELECT price, n,
         SUM(n) OVER (ORDER BY price ROWS UNBOUNDED PRECEDING) AS c
  FROM pc
), tot AS (
  SELECT SUM(n) AS nt FROM pc
), bucketed AS (
  SELECT price, n,
         1 + list_sum(list_transform(generate_series(1, {_NB - 1}),
               k -> CASE WHEN (k * nt + {_NB - 1}) // {_NB} < c
                         THEN 1 ELSE 0 END)) AS bucket
  FROM cum, tot
)
SELECT CAST(bucket AS INT) AS bucket, CAST(SUM(n) AS BIGINT) AS n_rows,
       COUNT(*) AS n_distinct, MIN(price) AS min_price,
       MAX(price) AS max_price
FROM bucketed GROUP BY bucket
ORDER BY bucket
""",
)
def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth ({_NB}-bucket) histogram of l_extendedprice --
    the ANALYZE/statistics primitive. NOT a full-data global sort:
    phase 1 collapses the corpus to (distinct value, count) with a
    map-side-combining groupBy; phase 2 runs the cumulative sum and
    bucket assignment over the distinct-VALUE table only (orders of
    magnitude smaller than the data; range-partition the window if the
    value domain itself is huge). A value with cumulative count c
    lands in bucket 1 + #{{k : ceil(k*N/{_NB}) < c}} -- whole tie-groups
    stay together (the disc definition), computed as a fold over a
    9-element literal array (map-only, no join). All comparisons are
    integer; prices are passed through, so cross-engine-exact."""
    li = load(spark, sf_dir, "lineitem")
    pc = li.groupBy(F.col("l_extendedprice").alias("price")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # distributed running sum (operators/prefix.py): the r6 spelling's
    # global Window.orderBy("price") was ONE task sorting the whole
    # distinct-price domain -- which for doubles is ~97% of lineitem
    # (583k of 600k at sf0.1), i.e. a single-task sort of the fact
    # table at every scale. Range-partitioned two-phase scan instead.
    cum = P.running_sum(pc, [F.col("price").asc()], F.col("n"), "c")
    tot = pc.agg(F.sum("n").alias("nt"))
    bucketed = cum.crossJoin(tot).withColumn(
        "bucket",
        (
            F.lit(1)
            + F.aggregate(
                F.sequence(F.lit(1), F.lit(_NB - 1)),
                F.lit(0).cast("bigint"),
                lambda acc, k: acc
                + F.when(
                    F.floor(
                        (k.cast("bigint") * F.col("nt") + (_NB - 1)) / _NB
                    )
                    < F.col("c"),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            )
        ).cast("int"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
        .orderBy("bucket")
    )


@query(
    "q_session_window_builtin",
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM ev
), numbered AS (
  SELECT user_id, ts, event_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       MIN(event_id) AS first_event_id
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_start
""",
)
def q_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window aggregation --
    the same call works under Structured Streaming with a watermark
    (the batch gap-island formulation of q_sessionize_events does
    not), so this is the lane a streaming pipeline would actually run.
    Batch-checked here against the definition: a session is a maximal
    run of per-user events with consecutive gaps < 30 min; its window
    is [min_ts, max_ts + 30 min). One shuffle on user_id; session
    merging is Spark-internal per group. The oracle is the gap-island
    mirror (an event exactly 30 min after the previous one starts a
    NEW session, matching session_window's exclusive end)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "first_event_id",
        )
        .orderBy("user_id", "session_start")
    )
