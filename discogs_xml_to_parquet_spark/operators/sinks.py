"""Partitioned Parquet sink, beyond the reference's single file
(main.rs:219-226; `convert(single_file=True)` keeps that layout).

Layout decisions are the write-side half of every scan optimization:
- partitionBy on a low-cardinality pruning key (date, lang, bucket)
  turns matching filters into directory pruning (PartitionFilters)
- repartition before write controls file count/size: the classic
  failure is 1000 tasks x 1000 partition keys = a million tiny files;
  repartitioning by the partition columns gives one task per key
- maxRecordsPerFile caps file size without an extra shuffle
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_MAX_RECORDS_PER_FILE = 1_000_000


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: list[str]) -> None:
    """Partitioned snappy parquet, pre-shuffled to the partition key so
    each key writes one file (avoiding the tasks x keys small-file
    explosion), capped at _MAX_RECORDS_PER_FILE rows per file."""
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
        .partitionBy(*partition_cols)
        .parquet(path, compression="snappy")
    )
