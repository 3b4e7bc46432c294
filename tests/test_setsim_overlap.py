"""Setsim's overlapped staging jobs run on a second driver thread. That
thread must carry the caller's job group (so cancelling the group
cancels the whole query), and a failure on either thread must surface
without waiting for the other thread's job."""

from __future__ import annotations

import threading
import time

import pytest

from discogs_xml_to_parquet_spark.queries import setsim
from tests.test_setsim_broadcast import _corpus


def _slow_job(spark, seconds: int) -> int:
    return (spark.sparkContext.parallelize(range(2), 2)
            .map(lambda x: (time.sleep(seconds), x)[1]).count())


def test_overlapped_token_dict_job_joins_callers_group(spark, monkeypatch):
    sc = spark.sparkContext
    seen = {}
    token_dict = setsim._token_dict

    def recording_token_dict(sets):
        seen["thread"] = threading.current_thread()
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        return token_dict(sets)

    monkeypatch.setattr(setsim, "_token_dict", recording_token_dict)
    tracker = sc.statusTracker()
    group = "setsim-overlap-test"
    ungrouped_before = set(tracker.getJobIdsForGroup())
    sc.setJobGroup(group, "setsim overlap test")
    try:
        df = spark.createDataFrame(_corpus(), "doc_id long, text string")
        setsim.setsim_pairs(df).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen["thread"] is not threading.current_thread()
    assert seen["group"] == group
    assert tracker.getJobIdsForGroup(group)
    # every job the query ran, the overlapped ones included, is in it
    assert set(tracker.getJobIdsForGroup()) == ungrouped_before


def test_overlap_side_failure_cancels_main_job(spark):
    def side():
        raise ValueError("side failed")

    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="side failed"):
        setsim._overlap(spark.sparkContext, side,
                        lambda: _slow_job(spark, 20))
    assert time.perf_counter() - t0 < 15


def test_overlap_main_failure_does_not_wait_for_side(spark):
    def main():
        time.sleep(1)  # let the side job start
        raise ValueError("main failed")

    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="main failed"):
        setsim._overlap(spark.sparkContext,
                        lambda: _slow_job(spark, 20), main)
    assert time.perf_counter() - t0 < 15
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 15
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.2)
    assert not tracker.getActiveJobsIds()  # the side job was cancelled
