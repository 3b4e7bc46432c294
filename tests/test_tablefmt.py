"""The versioned-table format (tablefmt.py) as the MERGE chain uses it:
a crash between writing a version and flipping `_current` must not
wedge the table."""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.queries.merge import (
    delta2_frame,
    publish_next_version,
    versioned_merge,
)
from tests.conftest import SF_SMOKE


def test_publish_rebuilds_orphan_version(spark):
    """Crash between writing v2 and flipping `_current`: the orphan
    v2 dir exists while the table still names v1. The next publish
    must rebuild v2 under the same name (dropping the crashed
    attempt's leftovers) and flip `_current` to it -- the recovery the
    streaming sink relies on, through the same commit."""
    table, _ = versioned_merge(spark, SF_SMOKE)
    t = Path(table)
    stray = t / "v2" / "o_month=2099-01"
    stray.mkdir(parents=True)
    (stray / "part-00000-crashed.parquet").write_bytes(b"not parquet")
    assert (t / "_current").read_text() == "v1"  # crash pre-flip

    delta2 = delta2_frame(spark, SF_SMOKE)
    assert publish_next_version(spark, table, delta2) == "v2"
    assert (t / "_current").read_text() == "v2"
    assert not stray.exists()
    assert (sorted(p.name for p in (t / "v2").glob("o_month=*"))
            == sorted(p.name for p in (t / "v1").glob("o_month=*")))
    v1 = spark.read.parquet(str(t / "v1"))
    v2 = spark.read.parquet(str(t / "v2"))
    assert v2.count() == v1.count()
    assert (v2.filter(F.col("o_orderstatus") == "V").count()
            == delta2.count())
    shutil.rmtree(table, ignore_errors=True)
