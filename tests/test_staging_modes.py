"""stage_df's two staging modes (VERDICT r12 item 5).

Every eager lineage cut in the package goes through staging.stage_df:
the staged lanes (setsim, graph_iter, matching, incremental) and the
single multi-consumer frames (drift's binned table, features' value
counts, the CMS counter table, ...). Default = localCheckpoint
(executor-memory blocks; a lost executor kills the job). Production =
SPARK_GRAFT_CHECKPOINT_DIR set, which swaps the SAME call sites to
reliable checkpoint() files under the configured dir, so a
1000-executor run survives node loss by replaying from the checkpoint
store. These tests pin that the switch (a) actually engages (files
appear under the dir), and (b) changes no values.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

import pytest

from discogs_xml_to_parquet_spark import registry

registry.load_all_queries()

SF = "/root/testdata/sf0.001"


@pytest.fixture
def ckpt_dir():
    d = tempfile.mkdtemp(prefix="spark_graft_reliable_ckpt_")
    try:
        yield d
    finally:
        os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
        shutil.rmtree(d, ignore_errors=True)


def _rows(spark, name):
    df = registry.QUERIES[name](spark, SF)
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name", ["q_incremental_rollup", "q_distribution_drift"])
def test_reliable_checkpoint_mode_same_values(spark, ckpt_dir, name):
    """A staged lane end-to-end in BOTH modes: identical rows, and
    the reliable mode demonstrably wrote checkpoint files (otherwise
    the env switch could silently no-op and this test would pass
    vacuously). q_distribution_drift's only cut is a single
    multi-consumer frame, not a staged lane."""
    default_rows = _rows(spark, name)

    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = ckpt_dir
    reliable_rows = _rows(spark, name)

    assert reliable_rows == default_rows
    written = [p for p in Path(ckpt_dir).rglob("*") if p.is_file()]
    assert written, "reliable mode engaged but wrote no checkpoint files"


def test_reliable_mode_covers_the_iterative_lane(spark, ckpt_dir):
    """The iterative consumer (LPA's between-round label staging)
    under reliable checkpoints: same communities as the default mode."""
    name = "q_label_propagation"
    default_rows = _rows(spark, name)
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = ckpt_dir
    assert _rows(spark, name) == default_rows


def test_reliable_mode_covers_connected_components(spark, ckpt_dir):
    """operators/graph.py's fixpoints (min-label AND two-phase) stage
    every round through stage_df too (r13: they were raw
    localCheckpoints, the one staged surface VERDICT r12 item 5's
    migration missed). Both algorithms under reliable checkpoints must
    label identically to the default mode, and the checkpoint dir must
    actually receive files from the round loop."""
    from discogs_xml_to_parquet_spark.operators.graph import (
        connected_components,
        connected_components_two_phase,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6), (7, 8), (8, 9), (9, 10)],
        ["src", "dst"],
    )

    def labels(fn):
        return sorted(tuple(r) for r in fn(edges).collect())

    default_min = labels(connected_components)
    default_two = labels(connected_components_two_phase)
    assert default_min == default_two  # the documented equivalence

    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = ckpt_dir
    assert labels(connected_components) == default_min
    assert labels(connected_components_two_phase) == default_two
    written = [p for p in Path(ckpt_dir).rglob("*") if p.is_file()]
    assert written, "reliable mode engaged but wrote no checkpoint files"
