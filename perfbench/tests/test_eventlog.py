"""Event-log parsing and stage-to-layer attribution, on hand-built plans and
on a tiny recorded traced run (``record_fixture.py``)."""

from __future__ import annotations

import gzip
import json
from pathlib import Path

import pytest

from perfbench import eventlog
from perfbench.trace import Span, self_time

FIXTURE = Path(__file__).parent / "data" / "tiny_run.json.gz"


def _node(name, acc, *children):
    return {"nodeName": name, "metrics": [{"accumulatorId": acc}],
            "children": list(children)}


@pytest.fixture(scope="module")
def recorded():
    return json.loads(gzip.decompress(FIXTURE.read_bytes()))


@pytest.fixture(scope="module")
def parsed(recorded):
    return eventlog.parse(recorded["events"])


def test_parse_description():
    assert eventlog.parse_description("3|tables_io.upsert:extracted") == (
        3, "tables_io.upsert:extracted")
    assert eventlog.parse_description(None) == (None, None)
    assert eventlog.parse_description("warmup") == (None, None)
    assert eventlog.parse_description("x|y") == (None, None)


def test_nested_union_roles():
    # Union(Union(kernel branch, giant branch), oversize branch): the kernel
    # subtree is extract, the giant branch skew, the rest unattributed
    plan = _node(
        "WriteFiles", 1,
        _node("Union", 2,
              _node("Union", 3,
                    _node("MapInArrow", 4, _node("Scan parquet", 5)),
                    _node("Project", 6,
                          _node("FlatMapGroupsInPandas", 7,
                                _node("Exchange", 8)))),
              _node("Filter", 9, _node("Scan parquet", 10))))
    roles, pandas = {}, set()
    eventlog.plan_roles(plan, roles, pandas)
    assert {a for a, r in roles.items() if r == "extract"} == {4, 5}
    assert {a for a, r in roles.items() if r == "skew"} == {6, 7, 8}
    assert pandas == {7}
    assert not {1, 2, 3, 9, 10} & roles.keys()


def test_task_roles_from_accumulators():
    plan = _node("Union", 1, _node("MapInArrow", 2),
                 _node("Window", 3, _node("FlatMapGroupsInPandas", 4)))
    events = [
        {"Event": eventlog._SQL_START, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "0|extract.action"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.job.description": "0|skew.plan_build"}},
    ]

    def task(stage, accs, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [{"ID": a} for a in accs]},
                "Task Metrics": {"Executor Run Time": run_ms}}
    events += [task(0, [2], 1000), task(1, [3, 4], 500), task(1, [3], 250),
               task(1, [99], 100), task(2, [], 50)]
    jobs, tasks = eventlog.parse(events)
    assert [(t.role, t.pandas, t.run_s) for t in tasks] == [
        ("extract", False, 1.0), ("skew", True, 0.5), ("skew", False, 0.25),
        ("other", False, 0.1), ("skew", False, 0.05)]
    assert {j.job: j.span for j in jobs} == {0: "extract.action",
                                             1: "skew.plan_build"}


def test_recorded_run_attribution(parsed):
    jobs, tasks = parsed
    normal = [t for t in tasks if t.iteration == 0]
    pipe = [t for t in tasks if t.iteration == 1]
    assert {t.role for t in normal} == {"extract", "skew"}
    assert {t.role for t in pipe} == {"extract", "skew", "other"}
    assert sum(t.run_s for t in normal if t.role == "extract") > \
        sum(t.run_s for t in normal if t.role == "skew")
    # only the pipeline's giant runs applyInPandas, on the giant path
    assert not any(t.pandas for t in normal)
    pandas = [t for t in pipe if t.pandas]
    assert pandas and all(t.role == "skew" for t in pandas)
    # eager jobs during the giant-path plan build are tagged and skew,
    # also when run_pipeline makes the call
    for it in (0, 1):
        eager = {j.job for j in jobs if j.iteration == it
                 and j.span == eventlog.PLAN_BUILD_SPAN}
        assert eager
        assert all(t.role == "skew" for t in tasks if t.job in eager)
    # the checkpoint upsert runs jobs of its own, outside extraction
    sink_jobs = {j.job for j in jobs
                 if j.span == "tables_io.upsert:checkpoints"}
    assert sink_jobs
    assert all(t.role == "other" for t in pipe if t.job in sink_jobs)


def test_slim_keeps_what_parse_reads(recorded):
    events = recorded["events"]
    assert list(eventlog.slim(events)) == events


def test_self_time_subtracts_covered_child_intervals():
    spans = [Span(0, "run", None, 0, 0.0, 10.0),
             Span(1, "a", 0, 0, 1.0, 3.0), Span(2, "b", 0, 0, 2.0, 4.0),
             Span(3, "c", 0, 0, 6.0, 7.0), Span(4, "d", 3, 0, 6.0, 6.5)]
    assert self_time(spans[0], spans) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(spans[3], spans) == pytest.approx(0.5)
