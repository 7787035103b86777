"""The resumable extraction pipeline (SURVEY.md §3.1 Spark restatement).

    read documents
      -> anti-join `extracted` on terminally-completed doc_ids   (J1 resume)
      -> skew-aware extraction (whole-doc / per-page salted)     (UDF pass)
      -> stamp run_id, partition_id, ts and persist the result once
      -> upsert `extracted` on doc_id: the sink IS the checkpoint
      -> append `lineage` per partition, aggregated from the persisted
         frame (no read-back of either table); the breaker totals are an
         Observation on that same write
      -> circuit-breaker assertion (>=1 failure and 0 successes -> abort),
         modeling stage_1_layout_precompute.py:466-489,650-674

Resume semantics model the reference's checkpoint-recovery service
(checkpoint_recovery_service.py:27-200): docs whose latest status is
terminal (completed / completed_empty / no_text / empty_doc) are skipped;
retryable statuses (failed) are reprocessed.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..core import constants as C
from ..core.cache import cache_scope, track
from ..operators.extract import OUTPUT_SCHEMA, auto_partition_target
from ..operators.skew import run_extract_skewed
from ..sources.tables_io import Catalog

EXTRACTED_TABLE = "extracted"
LINEAGE_TABLE = "lineage"


@dataclass
class PipelineResult:
    run_id: str
    docs_in: int
    docs_skipped: int
    docs_processed: int
    failures: int
    wall_ms: int


class CircuitBreakerTripped(RuntimeError):
    """>=1 failure and 0 successes in a run — abort the run after its
    `failed` rows (retryable on resume) are written
    (stage_1_layout_precompute.py:650-674 semantics)."""


def completed_doc_ids(catalog: Catalog) -> DataFrame | None:
    """doc_ids whose latest status in `extracted` is terminal. The sink is
    an upsert keyed on doc_id (one row per doc, last status wins — Iceberg
    MERGE / versioned parquet), so 'latest' is the table itself: no
    row_number window over history at read time (round-2 verdict item 4),
    and column pruning reads only `doc_id` and `status`. Rows written by
    any run — batch or stream — count."""
    if not catalog.exists(EXTRACTED_TABLE):
        return None
    return (catalog.read(EXTRACTED_TABLE)
            .filter(F.col("status").isin(*C.TERMINAL_STATUSES))
            .select("doc_id"))


def doc_bytes(spans_col: str = "spans") -> F.Column:
    """Total input span-text bytes per document — the Spark analog of the
    reference's on-disk file size (native fold, no UDF)."""
    return F.aggregate(
        spans_col, F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]),
                                        F.lit(0)).cast("long"))


def stamp_run(extracted: DataFrame, run_id: str) -> DataFrame:
    """Add the resume-state columns every `extracted` row carries: the
    writing run, the Spark partition that produced it, and a timestamp."""
    return (extracted
            .withColumn("run_id", F.lit(run_id))
            .withColumn("partition_id", F.spark_partition_id())
            .withColumn("ts", F.current_timestamp()))


# persists (the giant subset, the stamped extraction) are released on return
@cache_scope()
def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    catalog: Catalog,
    run_id: str | None = None,
    skew_threshold: int = C.DEFAULT_SKEW_THRESHOLD,
    num_partitions: int | None = None,
    max_doc_bytes: int = C.MAX_DOC_BYTES,
    count_input: bool = False,
) -> PipelineResult:
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    # docs_in/docs_skipped metrics need one count of the source. On parquet
    # /Iceberg this is footer-metadata-cheap, but for an arbitrary upstream
    # plan it is a full scan, so the safe-at-scale behavior is the DEFAULT
    # (round-2 verdict item 6): docs_in/docs_skipped report -1 unless the
    # caller opts in with count_input=True; lineage always carries exact
    # processed counts from the extraction itself.
    docs_in = documents.count() if count_input else -1

    done = completed_doc_ids(catalog)
    if done is not None:
        # the completed side is one narrow column; Catalyst broadcasts it
        # under AQE when it is small — the north rule's resume anti-join
        todo = documents.join(done, "doc_id", "left_anti")
    else:
        todo = documents

    # S1 size gate (pdf_processor.py:223 50 MB cap): oversize documents are
    # rejected with a terminal status and never enter the extraction kernel
    # NULL spans -> NULL bytes -> treat as ok (the kernel's empty_doc path)
    size_ok = F.coalesce(doc_bytes() <= F.lit(max_doc_bytes), F.lit(True))
    oversize = todo.filter(~size_ok).select(
        "doc_id",
        F.array().cast(OUTPUT_SCHEMA["spans"].dataType).alias("spans"),
        F.lit(0).alias("n_spans"),
        F.lit(0).cast("long").alias("n_chars"),
        F.lit(C.STATUS_OVERSIZE).alias("status"))
    todo = todo.filter(size_ok)
    if num_partitions is None:
        # size the kernel spread from the source: a broadcast anti-join
        # keeps the stream side's scan partitions, and probing `todo`
        # would execute the anti-join's broadcast once more at plan time
        num_partitions = auto_partition_target(documents)

    # persisted once: the sink upsert evaluates it up to three times and
    # lineage aggregates it again; the scope releases it on return
    extracted = track(stamp_run(
        run_extract_skewed(todo, skew_threshold, num_partitions)
        .unionByName(oversize), run_id))
    # upsert keyed on doc_id: re-extracted docs (retried failures) REPLACE
    # their old rows, so the table is one-row-per-doc and reads need no
    # latest-row compaction window (round-2 verdict item 4). Iceberg MERGE
    # when available; versioned parquet with atomic pointer swap otherwise.
    catalog.upsert(extracted, EXTRACTED_TABLE, key="doc_id")

    # the breaker totals ride the lineage write as an Observation; an
    # empty run sums to NULL, hence the coalesce
    totals = Observation("totals")
    lineage = extracted.groupBy("run_id", "partition_id").agg(
        F.count("*").alias("docs"),
        F.sum("n_spans").alias("spans"),
        F.sum("n_chars").alias("bytes"),
        F.sum((F.col("status") == C.STATUS_FAILED).cast("long")).alias("failures"),
        F.lit(int((time.time() - t0) * 1000)).alias("wall_ms"),
    ).observe(totals,
              F.coalesce(F.sum("docs"), F.lit(0)).alias("docs"),
              F.coalesce(F.sum("failures"), F.lit(0)).alias("failures"))
    catalog.append(lineage, LINEAGE_TABLE)
    got = totals.get
    processed, failures = int(got["docs"]), int(got["failures"])

    if failures > 0 and failures == processed:
        raise CircuitBreakerTripped(
            f"run {run_id}: {failures} failures, 0 successes")

    return PipelineResult(
        run_id=run_id,
        docs_in=docs_in,
        docs_skipped=(docs_in - processed) if docs_in >= 0 else -1,
        docs_processed=processed,
        failures=failures,
        wall_ms=int((time.time() - t0) * 1000),
    )


def read_extracted_latest(catalog: Catalog) -> DataFrame:
    """Current state of the extracted table. The sink upserts on doc_id,
    so this is a plain read — no full-table row_number window over an
    append history (round-2 verdict item 4: at 100 TB of accumulated runs
    that window was a full-table shuffle per read)."""
    return catalog.read(EXTRACTED_TABLE)
