"""Every metric and workload named in BENCHMARK.json is the one the
benchmark emits, under the same unit; metrics assembled from a recorded
run; the timed loop's order of traced and untraced iterations."""

from __future__ import annotations

import gzip
import json
import math
from pathlib import Path

from perfbench import eventlog, metrics, run, workloads
from perfbench.trace import KERNEL_STAGES, NoTrace, Span

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
FIXTURE = Path(__file__).parent / "data" / "tiny_run.json.gz"


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_benchmark_json_lists_the_emitted_names():
    assert _units("end_to_end") == metrics.END_TO_END
    assert _units("per_layer") == metrics.PER_LAYER
    names = [w["name"] for w in BENCH["workloads"]]
    assert names == list(run.WORKLOADS) == list(workloads.WORKLOADS)
    assert BENCH["command"][1:] == ["perfbench/run.py"]


def test_end_to_end_emits_every_metric():
    out = metrics.end_to_end([2.0, 1.0, 4.0], terminal_docs=100,
                             spans=1000, setup_s=7.5, rss_mb=120.0)
    assert out.keys() == metrics.END_TO_END.keys()
    assert out["docs_per_s"] == {"value": 50.0, "unit": "1/s"}
    assert out["spans_per_s"]["value"] == 500.0


def _recorded():
    rec = json.loads(gzip.decompress(FIXTURE.read_bytes()))
    jobs, tasks = eventlog.parse(rec["events"])
    return rec, jobs, tasks, [Span(**s) for s in rec["spans"]]


def test_per_layer_emits_every_metric_from_a_recorded_run():
    rec, jobs, tasks, spans = _recorded()
    kernel = {"kernel_s": 0.5, "chunks": 1, "spans_in": 10, "spans_out": 8,
              **{f"{v}_s": 0.05 for v in KERNEL_STAGES.values()}}
    out = metrics.per_layer(
        jobs, tasks, spans, {1: tuple(rec["sinks"]["1"])}, {
            "kernel": kernel, "scan_s": 0.2, "input_bytes": 1 << 20,
            "untraced_walls": [2.0], "traced_walls": [2.2], "cores": 4,
            "giant_docs": rec["giant_docs"], "giant_spans": 5000,
            "docs_processed": rec["docs_processed"], "docs_skipped": 30,
            "mismatch_docs": 0, "error_frac": 0.0,
            "setup": {"session_s": 6.0, "stage_input_s": 1.0,
                      "warmup_s": 9.0, "seed_warehouse_s": 8.0}})
    assert out.keys() == metrics.PER_LAYER.keys()
    assert all(math.isfinite(v["value"]) for v in out.values())
    assert math.isclose(out["trace.overhead_frac"]["value"], 0.1)


def test_pipeline_iteration_splits_task_time_into_extraction_and_sink():
    rec, jobs, tasks, spans = _recorded()
    v = metrics.iteration_metrics(
        [j for j in jobs if j.iteration == 1],
        [t for t in tasks if t.iteration == 1],
        [s for s in spans if s.iteration == 1], tuple(rec["sinks"]["1"]))
    total = sum(t.run_s for t in tasks if t.iteration == 1)
    assert math.isclose(v["pipeline.extract_task_s"]
                        + v["pipeline.sink_task_s"], total)
    assert v["pipeline.sink_task_s"] > 0 and v["pipeline.jobs"] > 0
    assert v["tables_io.sink_reads"] == 3
    assert v["tables_io.upsert_extracted_s"] > v["pipeline.self_s"] > 0
    assert v["tables_io.buckets_touched"] > 0
    assert v["skew.pandas_task_s"] > 0


def test_traced_loop_balances_iteration_positions():
    class Wl:
        min_iterations = 3

        def __init__(self):
            self.kinds = []

        def prepare(self, spark):
            pass

        def warehouse(self):
            return None

        def run(self, spark, tracer):
            self.kinds.append(tracer.traced)
            return 1

    untraced, traced = NoTrace(), NoTrace()
    traced.traced = True
    wl = Wl()
    out = run._loop(None, wl, 0.0, [untraced, traced])
    assert wl.kinds == [False, True, True, False]
    assert [len(w) for w in out["walls"]] == [2, 2]
    wl = Wl()
    run._loop(None, wl, 0.0, [untraced])
    assert wl.kinds == [False] * 3


def test_extract_iteration_has_no_pipeline_share():
    rec, jobs, tasks, spans = _recorded()
    v = metrics.iteration_metrics(
        [j for j in jobs if j.iteration == 0],
        [t for t in tasks if t.iteration == 0],
        [s for s in spans if s.iteration == 0], (0, 0))
    assert v["extract.task_s"] > 0 and v["skew.pandas_task_s"] == 0
    assert v["skew.plan_build_s"] > 0 and v["skew.eager_jobs"] > 0
    assert v["pipeline.jobs"] == 0 and v["pipeline.sink_task_s"] == 0
