"""spark-submit entrypoint for the extraction pipeline.

Cluster usage (the north rule's deployment shape):

    zip -r engine.zip mivaa_pdf_extractor_spark
    spark-submit --master <cluster> --py-files engine.zip \\
        scripts/submit_extract.py \\
        --input  <path or Iceberg table of (doc_id, spans)> \\
        --warehouse <catalog warehouse path> \\
        [--skew-threshold 8192] [--max-doc-mb 50] [--run-id r1] \\
        [--no-count-input]

Local smoke:

    python scripts/submit_extract.py --input /tmp/spans.parquet \\
        --warehouse /tmp/wh

The session factory only sets master/memory defaults when none are
provided, so spark-submit's --master/--conf take precedence on a real
cluster. Resume is automatic: a rerun with the same warehouse anti-joins
terminally-completed doc_ids from the `extracted` table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from mivaa_pdf_extractor_spark.core import constants as C

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="parquet path (or Iceberg table name when a "
                         "catalog is configured) of (doc_id, spans) docs")
    ap.add_argument("--warehouse", required=True,
                    help="catalog warehouse dir for the extracted and "
                         "lineage tables")
    ap.add_argument("--skew-threshold", type=int,
                    default=C.DEFAULT_SKEW_THRESHOLD,
                    help="most spans one task extracts for one document; "
                         "larger documents are salted into page buckets")
    ap.add_argument("--max-doc-mb", type=int, default=50)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument("--count-input", action="store_true",
                    help="opt in to the docs_in/docs_skipped count (a full "
                         "scan on non-columnar sources; off by default)")
    args = ap.parse_args()

    from mivaa_pdf_extractor_spark.plans.pipeline import run_pipeline
    from mivaa_pdf_extractor_spark.session import build_session
    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    spark = build_session(app_name="mivaa-extract-submit")
    spark.sparkContext.setLogLevel("WARN")
    if args.input.endswith((".parquet", "/")) or os.path.exists(args.input):
        docs = spark.read.parquet(args.input)
    else:
        docs = spark.read.table(args.input)

    result = run_pipeline(
        spark, docs, Catalog(spark, args.warehouse),
        run_id=args.run_id,
        skew_threshold=args.skew_threshold,
        num_partitions=args.num_partitions,
        max_doc_bytes=args.max_doc_mb * 1024 * 1024,
        count_input=args.count_input,
    )
    print(json.dumps(result.__dict__))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
