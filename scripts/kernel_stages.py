"""Per-stage time of the Arrow extraction kernel on one fixture chunk.

Builds ``gen_corpus(--docs, seed=--seed, giants=0)`` as Arrow batches of
1,024 documents (the session's ``maxRecordsPerBatch``), pins this process
to one core, and runs ``perfbench.trace.profile_kernel`` (the whole
``extract_iter_arrow`` pass with each stage function timed by name) once
untimed and then ``--repeats`` times. Prints one row per stage and one for
the whole pass (``kernel``): min, median and spread ((max - min) / median)
in ms, and the stage's share of the median kernel time. ``--json`` adds
one JSON line with the same numbers.

Usage:
    python scripts/kernel_stages.py [--docs 4096] [--seed 7] [--repeats 5]
        [--json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402

from mivaa_pdf_extractor_spark.sources.synthetic import gen_corpus  # noqa: E402
from perfbench.trace import KERNEL_STAGES, profile_kernel  # noqa: E402

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
_INPUT = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=4096)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()

    os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
    batches = pa.Table.from_pylist(
        gen_corpus(args.docs, seed=args.seed, giants=0), schema=_INPUT
    ).to_batches(max_chunksize=1024)
    profile_kernel(batches)  # warm-up: imports, regex compilation
    runs = [profile_kernel(batches) for _ in range(args.repeats)]

    names = ["kernel"] + list(KERNEL_STAGES.values())
    kernel_med = statistics.median(r["kernel_s"] for r in runs)
    rows = {}
    for name in names:
        ms = [1000 * r[f"{name}_s"] for r in runs]
        med = statistics.median(ms)
        rows[name] = {"min_ms": round(min(ms), 1),
                      "median_ms": round(med, 1),
                      "spread": round((max(ms) - min(ms)) / med, 3)
                      if med else 0.0,
                      "share": round(med / (1000 * kernel_med), 3)}

    print(f"{args.docs} docs, seed {args.seed}: {runs[0]['spans_in']} "
          f"spans in, {runs[0]['spans_out']} out, {runs[0]['chunks']} "
          f"chunks, {args.repeats} runs on one core")
    print(f"{'stage':<16}{'min ms':>10}{'median ms':>12}{'spread':>9}"
          f"{'share':>8}")
    for name, r in rows.items():
        print(f"{name:<16}{r['min_ms']:>10.1f}{r['median_ms']:>12.1f}"
              f"{r['spread']:>9.3f}{r['share']:>8.3f}")
    if args.json:
        print(json.dumps({"docs": args.docs, "seed": args.seed,
                          "repeats": args.repeats, "stages": rows}))


if __name__ == "__main__":
    main()
