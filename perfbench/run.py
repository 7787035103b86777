#!/usr/bin/env python3
"""Extraction benchmark: one seeded workload per run, end-to-end metrics
from untraced iterations or, with ``--trace 1``, a per-layer split.

    python3 perfbench/run.py --workload extract_normal --seed 1 \\
        --seconds 5 --trace 0

Workloads (see ``perfbench/workloads.py``): ``extract_normal`` and
``pipeline_resume``. One process runs Spark at
``local[<usable cores>]``; the program sees only the staged inputs.

A run:

1. set-up (``setup_s``): session start, input staging (written three
   times, median), warehouse pre-seed (``pipeline_resume``) and one
   untimed warm-up iteration;
2. timed iterations for ``--seconds``, and at least the workload's
   ``min_iterations`` (Spark cache cleared and outputs or the pre-seeded
   warehouse restored before each, outside the timed wall);
3. an untimed oracle gate over every output document.

With ``--trace 1`` the session writes a Spark event log and the timed
iterations mix untraced ones with traced ones, which carry job
descriptions and timing wrappers around each layer call
(``trace.overhead_frac`` compares the two kinds, so it covers the wrappers
and tags, not the event log itself). The event log is parsed offline into
per-layer task time (``eventlog.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``). ``span_mismatch_docs`` (documents whose span sequence
differs from the oracle) and ``run_error_frac`` (``failed / attempted``)
are logged on stderr and reported with the per-layer metrics; both are 0
on a healthy run, so in the untraced run ``correct`` and ``failed`` carry
them instead of end-to-end metrics, which are never 0. Any oracle
mismatch, or a resume that processed the wrong documents, makes the
command exit non-zero. All files go under ``.perfbench_work/<workload>/`` in the
repository root. Tests: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("extract_normal", "pipeline_resume")
# pinned so set-up time does not follow the host's free memory
DRIVER_MEM = "1g"
STAGE_REPEATS = 3
SCAN_REPEATS = 3


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _environment(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and make the
    repository importable by Spark's Python workers from any cwd."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    for var in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR"):
        os.environ[var] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


class Session:
    """The benchmark's SparkSession, stopped by ``close`` together with
    its JVM and Python workers (each waited for)."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self, event_log: Path | None = None):
        from mivaa_pdf_extractor_spark.session import build_session

        conf = {"spark.ui.showConsoleProgress": "false"}
        if event_log is not None:
            event_log.mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_session(app_name="perfbench",
                                   master=f"local[{self.cores}]",
                                   extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        from perfbench.trace import descendants

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _loop(spark, wl, seconds: float, tracers: list) -> dict:
    """Timed iterations for ``seconds`` and at least the workload's
    ``min_iterations``. With two ``tracers`` (untraced, traced) the
    iterations run in whole blocks of untraced, traced, traced, untraced:
    the mean position of both kinds is the same, so a linear part of the
    JVM's warming trend cancels out of ``trace.overhead_frac`` (alternating
    the two made it read -10% on every workload). Returns walls per tracer,
    terminal-doc counts, attempts, failures, per-iteration sink diffs of
    traced iterations and the Python workers' peak RSS."""
    from perfbench.trace import py_worker_peak_rss_mb
    from perfbench.workloads import manifest_diff, manifests

    order = (0, 1, 1, 0) if len(tracers) == 2 else (0,)
    out = {"walls": [[] for _ in tracers], "terminal": [], "attempted": 0,
           "failed": 0, "sinks": {}, "rss_mb": 0.0}
    least = max(len(order), wl.min_iterations)
    start = time.perf_counter()
    while (out["attempted"] < least or out["attempted"] % len(order)
           or time.perf_counter() - start < seconds):
        it = out["attempted"]
        kind = order[it % len(order)]
        tracer = tracers[kind]
        wl.prepare(spark)
        tracer.iteration = it
        wh = wl.warehouse() if tracer.traced else None
        before = manifests(wh) if wh else {}
        out["attempted"] += 1
        t0 = time.perf_counter()
        try:
            n = wl.run(spark, tracer)
        except Exception:  # a failed iteration is counted, not fatal
            out["failed"] += 1
            traceback.print_exc()
            continue
        out["walls"][kind].append(time.perf_counter() - t0)
        out["terminal"].append(n)
        out["rss_mb"] = max(out["rss_mb"], py_worker_peak_rss_mb())
        if wh:
            out["sinks"][it] = manifest_diff(wh, before, manifests(wh))
    for tracer in tracers:
        tracer.iteration = None
    return out


def _setup(spark, wl, session_s: float) -> dict:
    from perfbench.trace import NoTrace

    wl.generate(spark)
    stage = statistics.median(_timed(lambda: wl.stage(spark))
                              for _ in range(STAGE_REPEATS))
    seed = _timed(lambda: wl.seed_warehouse(spark))
    # one warm-up: the first iteration of a session runs 2-4x slower
    wl.prepare(spark)
    warm = _timed(lambda: wl.run(spark, NoTrace()))
    return {"session_s": session_s, "stage_input_s": stage,
            "seed_warehouse_s": seed, "warmup_s": warm}


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _scan_s(spark, path: Path) -> float:
    from pyspark.sql import functions as F

    def scan():
        spark.read.parquet(str(path)).agg(
            F.count(F.lit(1)), F.sum(F.size("spans"))).collect()
    return statistics.median(_timed(scan) for _ in range(SCAN_REPEATS))


def bench(workload: str, seed: int, seconds: float, trace: bool,
          work: Path, cores: int) -> int:
    from perfbench import eventlog, metrics
    from perfbench.trace import NoTrace, Tracer, profile_kernel
    from perfbench.workloads import WORKLOADS as W, normal_batches

    wl = W[workload](work, seed, parts=2 * cores)
    log_dir = work / "eventlog" if trace else None
    session = Session(cores)
    try:
        session_s = _timed(lambda: session.start(log_dir))
        spark = session.spark
        setup = _setup(spark, wl, session_s)
        setup_s = sum(setup.values())
        _log(f"{workload}: {wl.docs} docs, {wl.spans} spans per action; "
             f"set-up {setup}")
        tracer = Tracer(spark.sparkContext) if trace else None
        res = _loop(spark, wl, seconds, [NoTrace(), tracer] if trace
                    else [NoTrace()])
        walls = res["walls"][0]
        report = {"workload": workload, "seed": seed, "setup": setup,
                  "untraced_walls": walls}
        if trace:
            kernel = profile_kernel(normal_batches(wl.kernel_input()))
            scan_s = _scan_s(spark, wl.input_dir())
        t_gate = time.perf_counter()
        gate, problems = wl.gate(spark)
        report["gate_s"] = time.perf_counter() - t_gate
    finally:
        session.close()

    attempted, failed = res["attempted"], res["failed"]
    if not all(res["walls"]):
        _log("a kind of timed iteration never succeeded")
        return 1
    terminal = res["terminal"][-1]
    docs = terminal if terminal >= 0 else gate.terminal_docs
    report.update(gate=vars(gate), problems=problems)
    if trace:
        t_walls = res["walls"][1]
        jobs, tasks = eventlog.parse(eventlog.read_events(log_dir))
        out = metrics.per_layer(jobs, tasks, tracer.spans, res["sinks"], {
            "kernel": kernel, "scan_s": scan_s,
            "input_bytes": _dir_bytes(wl.input_dir()),
            "untraced_walls": walls, "traced_walls": t_walls,
            "cores": cores, "giant_docs": wl.giant_docs,
            "giant_spans": wl.giant_spans,
            "docs_processed": wl.last_processed,
            "docs_skipped": gate.expected_docs - wl.docs,
            "mismatch_docs": gate.mismatch_docs,
            "error_frac": failed / attempted,
            "setup": setup})
        report.update(traced_walls=t_walls, spans=tracer.to_json())
    else:
        out = metrics.end_to_end(walls, docs, wl.spans, setup_s,
                                 res["rss_mb"])
    correct = gate.ok and not problems
    (work / "report.json").write_text(json.dumps(
        {**report, "metrics": out}, indent=1, default=str))
    _log(f"{workload}: iterations {[round(w, 3) for w in walls]}, "
         f"span_mismatch_docs={gate.mismatch_docs}, "
         f"run_error_frac={failed / attempted:.3f}, "
         f"problems={problems or 'none'}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}), flush=True)
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "mivaa_pdf_extractor_spark" / "__init__.py").is_file():
        _log(f"the engine package is missing under {ROOT}")
        return 2
    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    _environment(work)
    sys.path.insert(0, str(ROOT))
    return bench(args.workload, args.seed, args.seconds, bool(args.trace),
                 work, cores)


if __name__ == "__main__":
    sys.exit(main())
