"""Record the tiny traced run the tests parse, at local[2]: iteration 0 is
``extract_normal`` over 60 fixture documents, iteration 1 is
``pipeline_resume`` over 60 fixture documents and one one-bucket giant.

    python3 perfbench/tests/record_fixture.py

Writes ``perfbench/tests/data/tiny_run.json.gz``: the event log cut down to
what ``eventlog.parse`` reads, the tracer's spans and the sink diff.
"""

from __future__ import annotations

import gzip
import json
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
OUT = Path(__file__).resolve().parent / "data" / "tiny_run.json.gz"


def main() -> None:
    sys.path.insert(0, str(ROOT))
    from perfbench import eventlog, workloads
    from perfbench.run import Session
    from perfbench.trace import NoTrace, Tracer

    workloads.NORMAL_DOCS = workloads.PIPELINE_DOCS = 60
    workloads.GIANT_EVERY, workloads.GIANT_MULTI_BUCKET = 60, 0
    scratch = ROOT / ".perfbench_work"
    scratch.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        work = Path(tmp)
        session = Session(cores=2)
        try:
            spark = session.start(work / "eventlog")
            tracer = Tracer(spark.sparkContext)
            normal = workloads.ExtractNormal(work / "normal", seed=7, parts=2)
            pipe = workloads.PipelineResume(work / "pipe", seed=7, parts=2)
            for it, wl in enumerate((normal, pipe)):
                wl.generate(spark)
                wl.stage(spark)
                wl.seed_warehouse(spark)
                wl.prepare(spark)
                wl.run(spark, NoTrace())
                wl.prepare(spark)
                tracer.iteration = it
                wl.run(spark, tracer)
            sink = workloads.manifest_diff(
                pipe.warehouse(), workloads.manifests(pipe.seeded_dir()),
                workloads.manifests(pipe.warehouse()))
        finally:
            session.close()
        events = list(eventlog.slim(eventlog.read_events(work / "eventlog")))
    OUT.parent.mkdir(exist_ok=True)
    OUT.write_bytes(gzip.compress(json.dumps(
        {"events": events, "spans": tracer.to_json(), "sinks": {"1": sink},
         "docs_processed": pipe.docs, "giant_docs": pipe.giant_docs},
        separators=(",", ":")).encode(), mtime=0))
    print(f"wrote {OUT} ({OUT.stat().st_size} bytes)")


if __name__ == "__main__":
    main()
