"""Offline parser for a Spark event log, attributing every task to a layer.

The benchmark tags each layer call with a job description of the form
``"<iteration>|<span name>"`` (see ``trace.Tracer``); the description of a
job's start event says which traced iteration and which call the job ran
under.

Which *engine* layer a task worked for comes from the SQL plans in the log.
Every physical node's metrics carry accumulator ids, and a task's end event
lists the accumulators it updated:

- a task that updated a metric of the ``MapInArrow`` node, or of anything
  below it (the scan feeding the kernel), ran the normal-path kernel:
  role ``extract``;
- a task that updated a metric inside a ``Union`` child holding the
  ``FlatMapGroupsInPandas`` node (and not the kernel: unions nest) ran the
  salted giant path: role ``skew``
  (and ``pandas`` too when it touched that node itself);
- every other task is role ``other`` (sink writes, merges, lineage, reads).

Jobs started during the ``skew.plan_build`` span (eager probes while the
giant-path plan is built) count as ``skew`` as well.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from pathlib import Path

KERNEL_NODE = "MapInArrow"
PANDAS_NODE = "FlatMapGroupsInPandas"
PLAN_BUILD_SPAN = "skew.plan_build"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = ("org.apache.spark.sql.execution.ui."
            "SparkListenerSQLAdaptiveExecutionUpdate")


@dataclass
class Task:
    job: int
    stage: int
    iteration: int | None
    span: str | None
    role: str              # "extract" | "skew" | "other"
    pandas: bool
    run_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int


@dataclass
class Job:
    job: int
    iteration: int | None
    span: str | None
    stages: list[int] = field(default_factory=list)


def read_events(path: Path) -> Iterator[dict]:
    """Events of one uncompressed, non-rolling event log file (or of every
    file in a directory holding exactly one such log)."""
    path = Path(path)
    files = sorted(p for p in path.iterdir() if p.is_file()
                   and not p.name.startswith(".")) if path.is_dir() else [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def parse_description(desc: str | None) -> tuple[int | None, str | None]:
    """``"3|tables_io.upsert:extracted"`` -> ``(3, "tables_io.upsert:...")``;
    untagged jobs give ``(None, None)``."""
    if not desc or "|" not in desc:
        return None, None
    it, _, span = desc.partition("|")
    try:
        return int(it), span
    except ValueError:
        return None, None


def _contains(plan: dict, name: str) -> bool:
    return plan.get("nodeName") == name or any(
        _contains(c, name) for c in plan.get("children", ()))


def _mark(plan: dict, role: str, roles: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        roles[m["accumulatorId"]] = role
    for c in plan.get("children", ()):
        _mark(c, role, roles)


def _pandas_nodes(plan: dict, pandas: set[int]) -> None:
    if plan.get("nodeName") == PANDAS_NODE:
        pandas.update(m["accumulatorId"] for m in plan.get("metrics", ()))
    for c in plan.get("children", ()):
        _pandas_nodes(c, pandas)


def _roles(plan: dict, roles: dict[int, str]) -> None:
    if plan.get("nodeName") == KERNEL_NODE:
        _mark(plan, "extract", roles)
        return
    union = plan.get("nodeName") == "Union"
    for c in plan.get("children", ()):
        if (union and _contains(c, PANDAS_NODE)
                and not _contains(c, KERNEL_NODE)):
            _mark(c, "skew", roles)
        else:
            _roles(c, roles)


def plan_roles(plan: dict, roles: dict[int, str], pandas: set[int]) -> None:
    """Record the role of every accumulator in ``plan`` (see module doc)
    and collect the accumulators of the ``applyInPandas`` node."""
    _pandas_nodes(plan, pandas)
    _roles(plan, roles)


def _task_metrics(e: dict) -> tuple[float, int, int, int]:
    m = e.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    return (m.get("Executor Run Time", 0) / 1000.0,
            sw.get("Shuffle Bytes Written", 0),
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            m.get("Disk Bytes Spilled", 0))


def parse(events: Iterable[dict]) -> tuple[list[Job], list[Task]]:
    """Jobs and tasks of a log, each tagged with iteration, span and role.

    Task end events are kept until the end because an adaptive plan update
    can arrive after the tasks whose accumulators it names."""
    roles: dict[int, str] = {}
    pandas: set[int] = set()
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    pending: list[dict] = []
    for e in events:
        kind = e.get("Event")
        if kind in (_SQL_START, _SQL_AQE):
            plan_roles(e.get("sparkPlanInfo") or {}, roles, pandas)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            it, span = parse_description(props.get("spark.job.description"))
            job = Job(e["Job ID"], it, span, list(e.get("Stage IDs", ())))
            jobs[job.job] = job
            # a later job lists reused shuffle stages as skipped; the
            # tasks belong to the first job that ran the stage
            for s in job.stages:
                stage_job.setdefault(s, job.job)
        elif kind == "SparkListenerTaskEnd":
            pending.append(e)
    tasks = []
    for e in pending:
        job = jobs.get(stage_job.get(e["Stage ID"], -1))
        if job is None:
            continue
        accs = {a["ID"] for a in
                (e.get("Task Info") or {}).get("Accumulables", ())}
        touched = {roles[a] for a in accs if a in roles}
        if "extract" in touched:
            role = "extract"
        elif "skew" in touched or job.span == PLAN_BUILD_SPAN:
            role = "skew"
        else:
            role = "other"
        tasks.append(Task(job.job, e["Stage ID"], job.iteration, job.span,
                          role, bool(accs & pandas), *_task_metrics(e)))
    return list(jobs.values()), tasks


_KEEP_TASK_METRICS = ("Executor Run Time", "Shuffle Write Metrics",
                      "Shuffle Read Metrics", "Disk Bytes Spilled")


def _slim_plan(plan: dict) -> dict:
    return {"nodeName": plan.get("nodeName"),
            "metrics": [{"accumulatorId": m["accumulatorId"]}
                        for m in plan.get("metrics", ())],
            "children": [_slim_plan(c) for c in plan.get("children", ())]}


def slim(events: Iterable[dict]) -> Iterator[dict]:
    """Only the events and fields ``parse`` reads — used to record small
    test fixtures from a real run."""
    for e in events:
        kind = e.get("Event")
        if kind in (_SQL_START, _SQL_AQE):
            yield {"Event": kind,
                   "sparkPlanInfo": _slim_plan(e.get("sparkPlanInfo") or {})}
        elif kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            yield {"Event": kind, "Job ID": e["Job ID"],
                   "Stage IDs": e.get("Stage IDs", []),
                   "Properties": {"spark.job.description": desc}}
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            yield {"Event": kind, "Stage ID": e["Stage ID"],
                   "Task Info": {"Accumulables": [
                       {"ID": a["ID"]} for a in
                       (e.get("Task Info") or {}).get("Accumulables", ())]},
                   "Task Metrics": {k: m[k] for k in _KEEP_TASK_METRICS
                                    if k in m}}
