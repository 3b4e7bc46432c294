"""Tests of the benchmark's own code (no Spark): metric names, the
percentile-sample rule, span self-time math, the result schema, the
output fingerprint and the fixed inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import check
import inputs
import measure
import run
from workloads import WORKLOADS

SPEC = json.loads((Path(__file__).resolve().parent.parent
                   / "BENCHMARK.json").read_text())


def test_metric_names_units_and_bounds_are_valid():
    for section, declared in (("end_to_end", run.END_TO_END),
                              ("per_layer", run.PER_LAYER)):
        got = {m["name"]: m["unit"] for m in SPEC[section]}
        assert got == declared, section
        for name, unit in got.items():
            assert measure.NAME_RE.match(name), name
            assert measure.UNIT_RE.match(unit), unit
    assert {m["name"] for m in SPEC["end_to_end"]}.isdisjoint(
        m["name"] for m in SPEC["per_layer"])
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("bad", ["", "_x", "a b", "x" * 65, "a/b"])
def test_name_regex_rejects(bad):
    assert not measure.NAME_RE.match(bad)


def test_workloads_match_the_spec():
    assert {w["name"]: w["why"] for w in SPEC["workloads"]} == {
        n: w.why for n, w in WORKLOADS.items()}
    for w in SPEC["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


@pytest.mark.parametrize("n,want", [
    (0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert measure.tail_percentile(n) == want


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile([3.0], 99) == 3.0


def _span(s, e):
    return {"start": s, "end": e}


@pytest.mark.parametrize("children,want", [
    ([], 10.0),
    ([_span(1, 3)], 8.0),
    ([_span(1, 3), _span(2, 5)], 6.0),          # overlap counted once
    ([_span(1, 3), _span(2, 5), _span(8, 12)], 4.0),  # clipped to parent
    ([_span(-5, 20)], 0.0),
    ([_span(4, 4)], 10.0),                      # empty interval
])
def test_self_time(children, want):
    assert measure.self_time(_span(0, 10), children) == pytest.approx(want)


def test_tracer_nests_and_shares_run_id():
    t = measure.Tracer(True)
    with t.span("run"):
        with t.span("a", x=1) as a:
            a.set(y=2)
        with t.span("b"):
            pass
    spans = t.to_json()
    assert [s["name"] for s in spans] == ["run", "a", "b"]
    assert [s["parent"] for s in spans] == [None, 0, 0]
    assert {s["run_id"] for s in spans} == {t.run_id}
    assert spans[1]["x"] == 1 and spans[1]["y"] == 2
    assert all(s["end"] >= s["start"] for s in spans)
    covered = sum(s["end"] - s["start"] for s in spans[1:])
    assert spans[0]["self_s"] == pytest.approx(
        spans[0]["end"] - spans[0]["start"] - covered)


def test_disabled_tracer_records_nothing():
    t = measure.Tracer(False)
    with t.span("run"):
        with t.span("a") as a:
            a.set(y=2)
    assert t.to_json() == []


HOST = {"host.busy_frac": 0.5, "host.steal_frac": 0.01,
        "host.spin_s": [0.05, 0.07, 0.06]}


def _fake_passes(traced: bool):
    def op(name, wall):
        rec = {"op": name, "ok": True, "wall_s": wall, "build_s": 0.1,
               "exec_s": wall - 0.1}
        if traced:
            rec.update({k: 1.0 for k in measure.STAGE_SUMS},
                       **{"build_jobs": 1, "spark.jobs": 3,
                          "spark.stages": 4, "spark.tasks": 9,
                          "spark.exec_s": wall - 0.1,
                          "trace_read_s": 0.03,
                          "settled": True})
        return rec

    passes = []
    for i in range(4):
        ops = [op("q1", 0.5 + i / 100), op("q2", 1.0)]
        passes.append({"index": i,
                       "wall_s": sum(o["wall_s"] for o in ops) + 0.01,
                       "ops": ops})
    return passes


@pytest.mark.parametrize("trace", [False, True])
def test_result_schema(trace):
    r = run.Runner(WORKLOADS["headline"], seed=1, seconds=1, trace=trace,
                   cores=4, work=Path("/nonexistent"))
    r.ops.names = ["q1", "q2"]
    setup = {"setup_s": 2.0, "session.start_s": 0.5,
             "registry.import_s": 0.1, "warmup_s": 1.0}
    checks = [{"op": "q1", "ok": True}, {"op": "q2", "ok": True}]
    result, record = r.summarize(setup, _fake_passes(trace), 4.0, 8.0, HOST,
                                 1000.0, {}, checks)
    assert tuple(result) == measure.RESULT_KEYS
    assert result["correct"] is True
    assert result["attempted"] == 8 and result["failed"] == 0
    units = run.PER_LAYER if trace else run.END_TO_END
    assert list(result["metrics"]) == list(units)
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == units[name]
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert result["metrics"]["setup_s"]["value"] == 2.0
        assert result["metrics"]["cpu_s"]["value"] == 2.0
        # q1's median is 0.515, q2's 1.0: the mean of the two
        assert result["metrics"]["op_p50_s"]["value"] == (
            pytest.approx(0.7575))
    else:
        assert result["metrics"]["spark.jobs"]["value"] == 6
        assert result["metrics"]["host.spin_s"]["value"] == 0.06
        assert result["metrics"]["trace.overhead_s"]["value"] == (
            pytest.approx(0.06))
        assert result["metrics"]["trace.unaccounted_s"]["value"] == (
            pytest.approx(0.01 - 0.06))
        per_op = record["extra"]["per_op"]
        assert per_op["q1"]["cache"] == "cold" and per_op["q1"]["cores"] == 4
    assert record["cache"] == "cold" and record["cores"] == 4
    json.dumps(result)


def test_failed_check_fails_its_operations():
    r = run.Runner(WORKLOADS["headline"], seed=1, seconds=1, trace=False,
                   cores=4, work=Path("/nonexistent"))
    setup = {"setup_s": 1.0, "session.start_s": 0.5,
             "registry.import_s": 0.1, "warmup_s": 1.0}
    checks = [{"op": "q1", "ok": False}, {"op": "q2", "ok": True}]
    result, _ = r.summarize(setup, _fake_passes(False), 4.0, 8.0, HOST,
                            1000.0, {}, checks)
    assert result["correct"] is False
    assert result["failed"] == 4 and result["attempted"] == 8


def test_fingerprint_is_order_insensitive_and_type_strict():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, None), (3, "z")]
    swapped = [(r[1], r[0]) for r in reversed(rows)]
    assert check.fingerprint(cols, rows) == check.fingerprint(
        ["a", "b"], swapped)
    assert check.fingerprint(cols, rows)[0] == 3
    assert check.fingerprint(["a"], [(1,)]) != check.fingerprint(
        ["a"], [(1.0,)])


def test_op_p50_is_the_median_of_per_operation_medians():
    def ops(name, walls):
        return [{"op": name, "wall_s": w} for w in walls]

    # pooled, the median of these eight would be (1.9 + 3.0) / 2
    lanes = ops("native", [1.0, 1.1, 1.2, 1.9]) + ops("strict",
                                                       [3.0, 3.1, 3.2, 3.3])
    assert run.op_p50(lanes) == pytest.approx((1.15 + 3.15) / 2)
    assert run.op_p50(lanes + ops("third", [9.0])) == pytest.approx(3.15)


def test_star_tables_are_the_fixed_test_data():
    import pyarrow.parquet as pq

    d = inputs.star_tables(WORKLOADS["headline"].tables)
    rows = {t: pq.ParquetFile(d / f"{t}.parquet").metadata.num_rows
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings")}
    assert rows == {"region": 5, "nation": 25, "customer": 1500,
                    "supplier": 100, "part": 2000, "orders": 15000,
                    "lineitem": 60000, "events": 10000, "documents": 500,
                    "embeddings": 500}
    ts = pq.read_schema(d / "events.parquet").field("ts").type
    assert str(ts) == "timestamp[us]"
