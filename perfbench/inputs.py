"""Benchmark inputs.

- The star-schema tables are the repository's fixed sf0.01 test data
  (seed 42, the tables the DuckDB oracle checks run on), copied byte
  for byte into ``data/sf0.01`` so a run reads them from its checkout.
  They do not depend on the run seed.
- The releases corpus is written by the program's own fixture
  generator with a seed-derived ``start_id``, and cached under the
  checkout's ``.perfbench_cache`` keyed by every parameter that shapes
  it, outside the per-set-up TMPDIR the program stages into.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"


def star_tables(name: str) -> Path:
    """Directory of ``<table>.parquet`` files of one test-data set."""
    return DATA / name


def cache_root(checkout: Path) -> Path:
    return checkout / ".perfbench_cache"


def releases_corpus(checkout: Path, seed: int, n_releases: int,
                    n_files: int) -> tuple[Path, int]:
    """Gzipped releases XML over ``n_files`` files; returns the corpus
    dir and its first release id (derived from the seed)."""
    from discogs_xml_to_parquet_spark.sources.fixture import (
        write_synthetic_releases,
    )

    start_id = 1 + (seed % 1000) * 10_000_000
    corpus = write_synthetic_releases(
        str(cache_root(checkout) / "releases"), n_releases,
        n_files=n_files, start_id=start_id)
    os.utime(corpus)  # recency for prune_releases()
    return Path(corpus), start_id


def prune_releases(checkout: Path, keep: int = 8) -> None:
    """Bound the cache: keep the ``keep`` most recently used corpora
    (one per seed)."""
    corpora = sorted((cache_root(checkout) / "releases").glob("n*"),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for p in corpora[keep:]:
        shutil.rmtree(p, ignore_errors=True)
