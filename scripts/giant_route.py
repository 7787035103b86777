"""Wall time of one giant document on each route of ``run_extract_skewed``.

Builds 2,000 ``gen_corpus`` documents plus one giant of N spans (gen_corpus
giant documents concatenated, pages renumbered so they follow each other),
stages them to parquet, and runs ``run_extract_skewed`` to a ``noop`` sink
at T=8192 (the giant is salted into page buckets) and at T=2^20 (the whole
corpus runs in the Arrow kernel), the two routes interleaved after one
untimed warm-up each. Prints one JSON line per route with the min, median
and spread ((max - min) / median) of the wall, and for the salted route
the smallest and largest bucket and the giant's largest page, in input
spans (the buckets are the salted splitter's rows for the giant, each the
sum of its whole pages), then one line with the salted route's median over
the kernel route's. Asserts that the giant's output is equal on both routes
and that no bucket holds more than max(T, largest page) spans.

Usage:
    python scripts/giant_route.py --spans 97000 [--repeats 5]
        [--master local[4]] [--work DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import tempfile
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mivaa_pdf_extractor_spark.operators.skew import (  # noqa: E402
    _split_giants, run_extract_skewed)
from mivaa_pdf_extractor_spark.session import build_session  # noqa: E402
from mivaa_pdf_extractor_spark.sources.synthetic import gen_corpus  # noqa: E402

ROUTES = {"salted": 8192, "kernel": 1 << 20}
GIANT_ID = "giant-route"
_PAGE = re.compile(r"(?<=;)page=(-?\d+)")
_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
_INPUT = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])


def giant_doc(n_spans: int, seed: int) -> dict:
    """One document of ``n_spans`` spans: gen_corpus giants (at least 3,000
    spans each) laid end to end, each one's pages shifted past the last."""
    spans: list[dict] = []
    first = 0
    for doc in gen_corpus(n_spans // 3000 + 1, seed=seed,
                          giants=n_spans // 3000 + 1):
        last = first
        for s in doc["spans"]:
            page = first + int(_PAGE.search(s["kind"]).group(1))
            last = max(last, page)
            spans.append(dict(s, kind=_PAGE.sub(f"page={page}", s["kind"])))
        first = last
        if len(spans) >= n_spans:
            break
    return {"doc_id": GIANT_ID, "spans": spans[:n_spans]}


def stage(path: str, n_spans: int, seed: int, parts: int) -> dict:
    """Writes the corpus; returns the giant."""
    giant = giant_doc(n_spans, seed)
    docs = gen_corpus(2000, seed=seed, giants=0) + [giant]
    table = pa.Table.from_pylist(docs, schema=_INPUT)
    per = -(-table.num_rows // parts)
    os.makedirs(path, exist_ok=True)
    for i in range(0, table.num_rows, per):
        pq.write_table(table.slice(i, per), f"{path}/part-{i // per:05d}.parquet")
    return giant


def bucket_sizes(giant: dict, pages: Counter, t: int) -> list[int]:
    """The giant's salted buckets in input spans: the splitter's rows, each
    the sum of the pages its spans are on (a bucket holds whole pages)."""
    batch = pa.RecordBatch.from_pylist([giant], schema=_INPUT)
    return [sum(pages[p] for p in {_PAGE.search(s["kind"]).group(1)
                                   for s in spans})
            for b in _split_giants(iter([batch]), t)
            for spans in b.column("spans").to_pylist()]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spans", type=int, default=97_000)
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--work", default=None)
    args = ap.parse_args()

    spark = build_session(app_name="giant_route", master=args.master,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(args.work or tempfile.mkdtemp(), "docs")
    giant = stage(path, args.spans, args.seed,
                  spark.sparkContext.defaultParallelism)
    pages = Counter(_PAGE.search(s["kind"]).group(1) for s in giant["spans"])
    largest_page = max(pages.values())
    df = spark.read.parquet(path)

    def run(t: int) -> float:
        t0 = time.perf_counter()
        run_extract_skewed(df, skew_threshold=t).write.format("noop") \
            .mode("overwrite").save()
        spark.catalog.clearCache()
        return time.perf_counter() - t0

    walls: dict[str, list[float]] = {r: [] for r in ROUTES}
    for route, t in ROUTES.items():
        run(t)
    for _ in range(args.repeats):
        for route, t in ROUTES.items():
            walls[route].append(run(t))

    t = ROUTES["salted"]
    sizes = bucket_sizes(giant, pages, t)
    assert max(sizes) <= max(t, largest_page), "bucket above T and any page"
    outs = {}
    for route, t in ROUTES.items():
        row = run_extract_skewed(df, skew_threshold=t) \
            .filter(F.col("doc_id") == GIANT_ID).collect()[0].asDict()
        spark.catalog.clearCache()
        outs[route] = (row["status"], row["n_spans"], row["n_chars"],
                       [tuple(s) for s in row["spans"]])
    assert outs["salted"] == outs["kernel"], "giant output differs by route"

    for route, w in walls.items():
        med = statistics.median(w)
        rec = {"route": route, "skew_threshold": ROUTES[route],
               "giant_spans": args.spans, "runs": len(w),
               "min_s": round(min(w), 3), "median_s": round(med, 3),
               "spread": round((max(w) - min(w)) / med, 3)}
        if route == "salted":
            rec.update(buckets=len(sizes), bucket_min_spans=min(sizes),
                       bucket_max_spans=max(sizes),
                       largest_page_spans=largest_page)
        print(json.dumps(rec), flush=True)
    print(json.dumps({"salted_over_kernel_median": round(
        statistics.median(walls["salted"])
        / statistics.median(walls["kernel"]), 3)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
