"""Metric names, units and their assembly from one run's measurements.

``END_TO_END`` come from untraced iterations (``--trace 0``); ``PER_LAYER``
from the traced run (``--trace 1``). ``BENCHMARK.json`` lists the same
names (checked by ``perfbench/tests``).

Which end-to-end metric each layer group should move, and where:

- ``sources.*``: the floor under ``docs_per_s`` on every workload;
- ``extract.*``: ``docs_per_s`` on ``extract_normal``, partly on
  ``pipeline_resume``;
- ``skew.*``: ``spans_per_s`` on ``pipeline_resume``, whose giants carry
  most of its spans; no change predicted on ``extract_normal`` (its giant
  subset is empty);
- ``pipeline.*`` and ``tables_io.*``: ``docs_per_s`` on
  ``pipeline_resume``; no change on ``extract_normal``, where they read 0;
- ``setup.*``: ``setup_s`` on all.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .eventlog import PLAN_BUILD_SPAN, Job, Task
from .trace import KERNEL_STAGES, Span, self_time

MB = 1024.0 * 1024.0

END_TO_END = {
    "docs_per_s": "1/s",
    "spans_per_s": "1/s",
    "setup_s": "s",
    "py_worker_peak_rss_mb": "MB",
}

# per-iteration layer metrics (median over the traced iterations)
_ITERATION = {
    "extract.task_s": "s", "extract.task_max_s": "s",
    "extract.tasks": "count",
    "skew.plan_build_s": "s", "skew.eager_jobs": "count",
    "skew.jobs": "count", "skew.stages": "count", "skew.tasks": "count",
    "skew.task_s": "s", "skew.pandas_task_s": "s", "skew.task_max_s": "s",
    "skew.shuffle_write_mb": "MB", "skew.shuffle_read_mb": "MB",
    "skew.spill_mb": "MB",
    "pipeline.self_s": "s", "pipeline.jobs": "count",
    "pipeline.extract_task_s": "s", "pipeline.sink_task_s": "s",
    "pipeline.shuffle_write_mb": "MB", "pipeline.spill_mb": "MB",
    "tables_io.upsert_extracted_s": "s", "tables_io.append_lineage_s": "s",
    "tables_io.upsert_checkpoints_s": "s", "tables_io.sink_reads": "count",
    "tables_io.buckets_touched": "count", "tables_io.written_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "extract.kernel_s": "s",
    **{f"extract.{v}_s": "s" for v in KERNEL_STAGES.values()},
    "extract.boundary_s": "s", "extract.core_util": "ratio",
    "extract.chunks": "count", "extract.spans_in": "count",
    "extract.spans_out": "count",
    "skew.giant_docs": "count", "skew.giant_spans": "count",
    "pipeline.docs_skipped": "count", "pipeline.docs_processed": "count",
    "setup.session_s": "s", "setup.stage_input_s": "s",
    "setup.warmup_s": "s", "setup.seed_warehouse_s": "s",
    "trace.overhead_frac": "ratio",
    # 0 on a healthy run, so not end-to-end metrics (those are never 0)
    "span_mismatch_docs": "count", "run_error_frac": "ratio",
    **_ITERATION,
}


def _with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def end_to_end(walls: list[float], terminal_docs: int, spans: int,
               setup_s: float, rss_mb: float) -> dict:
    """Throughput over the median untraced iteration wall."""
    wall = statistics.median(walls)
    return _with_units({
        "docs_per_s": terminal_docs / wall,
        "spans_per_s": spans / wall,
        "setup_s": setup_s,
        "py_worker_peak_rss_mb": rss_mb,
    }, END_TO_END)


def _sum(tasks, attr="run_s") -> float:
    return float(sum(getattr(t, attr) for t in tasks))


def _span_s(spans: list[Span], name: str) -> float:
    return sum(s.end - s.start for s in spans if s.name == name)


def iteration_metrics(jobs: list[Job], tasks: list[Task], spans: list[Span],
                      sink: tuple[int, int]) -> dict[str, float]:
    """Layer metrics of one traced iteration: ``jobs``/``tasks`` from the
    event log, ``spans`` from the tracer, ``sink`` = (buckets touched,
    bytes written) from the warehouse manifests."""
    ext = [t for t in tasks if t.role == "extract"]
    skew = [t for t in tasks if t.role == "skew"]
    eager = [j for j in jobs if j.span == PLAN_BUILD_SPAN]
    run = [s for s in spans if s.name == "pipeline.run"]
    pipe = tasks if run else []
    return {
        "extract.task_s": _sum(ext),
        "extract.task_max_s": max((t.run_s for t in ext), default=0.0),
        "extract.tasks": len(ext),
        "skew.plan_build_s": _span_s(spans, PLAN_BUILD_SPAN),
        "skew.eager_jobs": len(eager),
        "skew.jobs": len({t.job for t in skew} | {j.job for j in eager}),
        "skew.stages": len({t.stage for t in skew}),
        "skew.tasks": len(skew),
        "skew.task_s": _sum(skew),
        "skew.pandas_task_s": _sum(t for t in skew if t.pandas),
        "skew.task_max_s": max((t.run_s for t in skew), default=0.0),
        "skew.shuffle_write_mb": _sum(skew, "shuffle_write_b") / MB,
        "skew.shuffle_read_mb": _sum(skew, "shuffle_read_b") / MB,
        "skew.spill_mb": _sum(skew, "spill_b") / MB,
        "pipeline.self_s": sum(self_time(s, spans) for s in run),
        "pipeline.jobs": len(jobs) if run else 0,
        "pipeline.extract_task_s": _sum(t for t in pipe
                                        if t.role != "other"),
        "pipeline.sink_task_s": _sum(t for t in pipe if t.role == "other"),
        "pipeline.shuffle_write_mb": _sum(pipe, "shuffle_write_b") / MB,
        "pipeline.spill_mb": _sum(pipe, "spill_b") / MB,
        "tables_io.upsert_extracted_s":
            _span_s(spans, "tables_io.upsert:extracted"),
        "tables_io.append_lineage_s": _span_s(spans, "tables_io.append:lineage"),
        "tables_io.upsert_checkpoints_s":
            _span_s(spans, "tables_io.upsert:checkpoints"),
        "tables_io.sink_reads": sum(
            1 for s in spans if s.name.startswith("tables_io.read:")),
        "tables_io.buckets_touched": sink[0],
        "tables_io.written_mb": sink[1] / MB,
    }


def per_layer(jobs: list[Job], tasks: list[Task], spans: list[Span],
              sinks: dict[int, tuple[int, int]], run: dict) -> dict:
    """Medians over the traced iterations of ``iteration_metrics``, plus
    the once-per-run figures in ``run`` (kernel profile, set-up, scan,
    counts, walls)."""
    by_it: dict[int, dict] = defaultdict(lambda: {"jobs": [], "tasks": [],
                                                  "spans": []})
    for kind, items in (("jobs", jobs), ("tasks", tasks), ("spans", spans)):
        for x in items:
            if x.iteration is not None:
                by_it[x.iteration][kind].append(x)
    rows = [iteration_metrics(d["jobs"], d["tasks"], d["spans"],
                              sinks.get(it, (0, 0)))
            for it, d in sorted(by_it.items())]
    values = {k: statistics.median(r[k] for r in rows) if rows else 0.0
              for k in _ITERATION}
    k = run["kernel"]
    untraced = statistics.median(run["untraced_walls"])
    values.update({
        "sources.scan_s": run["scan_s"],
        "sources.input_mb": run["input_bytes"] / MB,
        "extract.kernel_s": k["kernel_s"],
        **{f"extract.{v}_s": k[f"{v}_s"] for v in KERNEL_STAGES.values()},
        "extract.boundary_s": values["extract.task_s"] - k["kernel_s"],
        "extract.core_util": k["kernel_s"] / (untraced * run["cores"]),
        "extract.chunks": k["chunks"],
        "extract.spans_in": k["spans_in"],
        "extract.spans_out": k["spans_out"],
        "skew.giant_docs": run["giant_docs"],
        "skew.giant_spans": run["giant_spans"],
        "pipeline.docs_skipped": run["docs_skipped"],
        "pipeline.docs_processed": run["docs_processed"],
        "setup.session_s": run["setup"]["session_s"],
        "setup.stage_input_s": run["setup"]["stage_input_s"],
        "setup.warmup_s": run["setup"]["warmup_s"],
        "setup.seed_warehouse_s": run["setup"]["seed_warehouse_s"],
        "trace.overhead_frac":
            statistics.median(run["traced_walls"]) / untraced - 1.0,
        "span_mismatch_docs": run["mismatch_docs"],
        "run_error_frac": run["error_frac"],
    })
    return _with_units(values, PER_LAYER)
