"""SparkSession construction with scale-oriented defaults.

These settings are chosen for the 100 TB / 1000-executor design target
and merely *also* work on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are the main levers that keep a
  static plan healthy at 100x the data.
- One broadcast policy: the planner's size threshold (raised to 64 MB
  so star-schema dimensions never shuffle the fact table) decides.
  Query code hints `F.broadcast` only where the estimate misleads the
  planner (filters, aggregates, Generates, joins and checkpoints hide a
  frame's real size) or a measured gate allows it (setsim), each with a
  one-line reason. A hint on a table that grows with scale overrides
  the size check unconditionally.
- Arrow enabled: every Python-boundary crossing (pandas UDFs, toPandas)
  is Arrow-batched, never row-at-a-time pickling.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Executor-side Python (strict lane, Python DataSource, pandas UDFs)
# imports this package even when the driver found it on sys.path alone.
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)


def get_spark(app_name: str = "discogs-xml-to-parquet-spark",
              master: str | None = None,
              shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        # merged with the worker's own PYTHONPATH, not a replacement
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Long-lived sessions (the bench runs ~200 queries in one JVM;
        # a notebook or job server does the same) accumulate
        # localCheckpoint RDD blocks: the ContextCleaner only frees a
        # block after a DRIVER GC collects its RDD handle, and the
        # default periodic-GC interval (30 min) is longer than an
        # entire bench run -- storage fills, later heavy queries pay
        # eviction + old-gen pressure (measured: setsim's sf1 wall
        # climbing 25 -> 40 s across repeats in one session while
        # fresh sessions held ~13 s flat). 90 s bounds the dead-block
        # window at a negligible System.gc() cost.
        .config("spark.cleaner.periodicGC.interval", "90s")
        # Cached staging frames keep their partitioning CONTRACT
        # (Spark 3.5 flipped this to true, letting AQE re-coalesce a
        # cached plan's output and erase its hash-partitioning):
        # graph_iter persists the src-partitioned edge list precisely
        # so every unrolled PageRank round's join and aggregate can
        # consume it exchange-free -- with the default, every consumer
        # sees UnknownPartitioning and re-shuffles O(edges) per round
        # (the r12 4.79x sf1 ratio). The cost is AQE not re-coalescing
        # inside cached plans, which staged frames don't want anyway.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "false")
    )
    return builder.getOrCreate()
