"""Tests of the event-log reducer against a recorded fixture.

    python3 -m pytest perfbench/test_ledger.py -q

`fixtures/eventlog.jsonl` and `fixtures/spans.json` come from
`fixtures/record.py`: a shuffle job and its result job under span `outer`,
a `connected_components` call and a Python `mapInPandas` job under a
refining span `merge.kg`, and one job after every span.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ledger import (  # noqa: E402
    Spans, attribute, callsite_layer, coverage, layer_table, read_jobs,
    reduce_event_log,
)

FIX = os.path.join(HERE, "fixtures")
LAYERS = ["outer", "merge.kg", "merge.components"]


@pytest.fixture
def recorded():
    with open(os.path.join(FIX, "eventlog.jsonl")) as f:
        jobs = read_jobs(f)
    with open(os.path.join(FIX, "spans.json")) as f:
        spans = json.load(f)
    return jobs, spans


def test_recorded_jobs_are_charged_by_time_then_call_site(recorded):
    jobs, spans = recorded
    assert sorted(jobs) == list(range(8))
    got = attribute(jobs, spans, set(LAYERS))
    assert got == {0: "outer", 1: "outer", 2: "merge.components",
                   3: "merge.components", 4: "merge.kg", 5: "merge.kg"}


def test_recorded_layer_table(recorded):
    jobs, spans = recorded
    table = reduce_event_log(os.path.join(FIX, "eventlog.jsonl"), spans, LAYERS)
    assert table == layer_table(spans, jobs, LAYERS)
    outer, kg, comp = (table[n] for n in LAYERS)
    assert (outer["jobs"], outer["tasks"]) == (2, 5)
    assert outer["shuffle_write_mb"] * 1024 * 1024 == pytest.approx(1129)
    assert outer["rows_in"] == 2028 and outer["rows_out"] == 28
    assert (kg["jobs"], kg["tasks"]) == (2, 4)
    assert kg["py_run_s"] == pytest.approx(4.025)
    assert kg["py_start_s"] == pytest.approx(2.819)
    assert outer["py_run_s"] == 0.0
    assert (comp["jobs"], comp["tasks"], comp["wall_s"]) == (2, 2, 0.0)
    for name, span in zip(("outer", "merge.kg"), spans):
        assert table[name]["wall_s"] == pytest.approx(
            (span["end"] - span["start"]) / 1000)


def _job(submit, callsite=""):
    return {"submit": submit, "callsite": callsite, "tasks": 1,
            "exec_run_ms": 0.0, "exec_cpu_ns": 0.0, "shuffle_write_b": 0.0,
            "shuffle_read_b": 0.0, "spill_b": 0.0, "rows_in": 0.0,
            "rows_out": 0.0, "py_run_ms": 0.0, "py_start_ms": 0.0}


def _span(name, start, end, root=False, refine=False):
    return {"name": name, "start": start, "end": end, "root": root,
            "refine": refine, "tag": ""}


def test_innermost_span_wins_and_call_site_needs_a_refining_span():
    site = "collect at /src/itext2kg_spark/merge/resolve.py:9"
    spans = [_span("merge.kg", 0, 100, root=True, refine=True),
             _span("merge.candidates", 10, 20),
             _span("extract.facts", 200, 300, root=True)]
    jobs = {0: _job(15), 1: _job(50, site), 2: _job(250, site), 3: _job(150)}
    layers = {"merge.kg", "merge.candidates", "merge.resolve", "extract.facts"}
    assert attribute(jobs, spans, layers) == {
        0: "merge.candidates", 1: "merge.resolve", 2: "extract.facts"}
    # a call-site layer the ledger does not report leaves the span's layer
    assert attribute({0: _job(50, site)}, spans, {"merge.kg"}) == {0: "merge.kg"}


def test_coverage_counts_root_spans_inside_the_interval():
    spans = [_span("a", 0, 40, root=True), _span("b", 50, 100, root=True),
             _span("child", 10, 30)]
    assert coverage(spans, 0, 100) == pytest.approx(0.9)
    assert coverage(spans, 20, 60) == pytest.approx(0.75)


def test_callsite_layer():
    assert callsite_layer(
        "collect at /x/itext2kg_spark/merge/components.py:67") == "merge.components"
    assert callsite_layer("collect at /x/perfbench/run.py:3") is None
    assert callsite_layer("") is None


def test_wrap_spans_records_and_undoes():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    spans, seen = Spans(), []
    undo = spans.wrap(Mod, "f", "merge.resolve",
                      lambda a, k, out: seen.append((a, out)))
    assert Mod.f(1) == 2
    undo()
    assert Mod.f(1) == 2
    assert seen == [((1,), 2)]
    assert [s["name"] for s in spans.spans] == ["merge.resolve"]
