"""Fixed cost of one Python task: a trivial Arrow job against the same
job with no Python.

Runs ``spark.range(TASKS, numPartitions=TASKS)`` as a ``mapInArrow`` job
whose UDF only imports the engine (so the worker holds its zip-directory
fix, see ``mivaa_pdf_extractor_spark._keep_zip_directories``) and as a
JVM-only ``collect`` of the same range, alternating the two after one
untimed warm-up each. Prints each job's min, median and spread ((max -
min) / median) of the wall, the Python job's min over the JVM job's min,
and the median time of one ``importlib.invalidate_caches()`` call inside
the workers (a separate probe job, so the timed jobs pay no extra call).
A UDF that never imports the engine does not get the fix.

Usage:
    python scripts/task_overhead.py [--tasks 48] [--repeats 5]
        [--master local[<nproc>]] [--json]

For a before/after, copy this script into a ``git archive`` of the parent
commit and run it there in the same window.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine by name, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import pyarrow as pa  # noqa: E402

from mivaa_pdf_extractor_spark.session import build_session  # noqa: E402


def _trivial(batches):
    import mivaa_pdf_extractor_spark  # noqa: F401
    for b in batches:
        yield pa.RecordBatch.from_pydict({"id": b.column(0)})


def _probe(batches):
    import importlib

    import mivaa_pdf_extractor_spark  # noqa: F401
    for _ in batches:
        pass
    t = time.perf_counter()
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pydict({"s": [time.perf_counter() - t]})


def _summary(walls: list[float]) -> dict:
    med = statistics.median(walls)
    return {"min_s": round(min(walls), 3), "median_s": round(med, 3),
            "spread": round((max(walls) - min(walls)) / med, 3)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=48)
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--master",
                    default=f"local[{len(os.sched_getaffinity(0))}]")
    ap.add_argument("--json", action="store_true",
                    help="print one JSON line instead of a table")
    args = ap.parse_args()

    spark = build_session(
        app_name="task-overhead", master=args.master,
        extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    rng = spark.range(0, args.tasks, numPartitions=args.tasks)
    jobs = {"python": lambda: rng.mapInArrow(_trivial, "id long").collect(),
            "jvm": lambda: rng.collect()}
    walls: dict[str, list[float]] = {k: [] for k in jobs}
    for run in jobs.values():
        run()
    for _ in range(args.repeats):
        for name, run in jobs.items():
            t = time.perf_counter()
            n = len(run())
            walls[name].append(time.perf_counter() - t)
            assert n == args.tasks, n
    probe = [r["s"] for r in rng.mapInArrow(_probe, "s double").collect()]
    spark.stop()

    out = {"master": args.master, "tasks": args.tasks,
           "repeats": args.repeats,
           **{name: _summary(w) for name, w in walls.items()},
           "python_over_jvm": round(min(walls["python"])
                                    / min(walls["jvm"]), 2),
           "worker_invalidate_caches_median_ms": round(
               1000 * statistics.median(probe), 2)}
    if args.json:
        print(json.dumps(out))
        return
    for name in jobs:
        s = out[name]
        print(f"{name:>6}: min {s['min_s']:.3f} s  median "
              f"{s['median_s']:.3f} s  spread {s['spread']:.2f}")
    print(f"python/jvm (min): {out['python_over_jvm']}")
    print("worker invalidate_caches median: "
          f"{out['worker_invalidate_caches_median_ms']} ms")


if __name__ == "__main__":
    main()
