"""The benchmark's workloads, frozen here so that no change to the
program's own harness (``bench.py``) can change what is measured.

Each workload is a list of operations. One pass runs every operation
once: for query workloads a pass is the query list in a seed-shuffled
order, each query forced through the noop sink on a cold cache; for
the converter workload a pass is one ``convert`` of the whole corpus
through each lane, native and strict, in a seed-shuffled order.
"""

from __future__ import annotations

from dataclasses import dataclass

@dataclass(frozen=True)
class QueryWorkload:
    name: str
    why: str
    queries: tuple[str, ...]
    tables: str  # a directory under data/; fixed, whatever the run seed


@dataclass(frozen=True)
class ConvertWorkload:
    name: str
    why: str
    n_releases: int
    n_files: int


WORKLOADS = {w.name: w for w in (
    QueryWorkload(
        "headline",
        why="latency-bound: 5 star and event queries on the "
            "repository's sf0.01 test data, cold cache, local[nproc]; "
            "build time and per-job floors dominate. The sf1 lane and "
            "q_fuzzy_blocked exceed the run budget",
        queries=(
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q_join_star_revenue",
            "q_sessionize_events",
            "q_cdc_apply",
        ),
        tables="sf0.01",
    ),
    ConvertWorkload(
        "convert",
        why="the paper's program: 30k releases in 8 gz files to Snappy "
            "Parquet, local[nproc], through the native XML lane and the "
            "strict lane (Python-worker parse, pickling, createDataFrame)",
        n_releases=30_000,
        n_files=8,
    ),
)}
