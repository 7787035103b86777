"""Incremental extraction via Structured Streaming.

The reference's streaming-shaped features (SURVEY.md §2.10) are batch
resume + bounded fan-out; the natural Spark expression is a
``Trigger.AvailableNow`` stream over the documents source with
``foreachBatch`` running the same extraction plan per micro-batch:

- new files under the source path are discovered exactly once
  (checkpointLocation tracks consumed files — ingest-level resume),
- each micro-batch runs ``run_extract_skewed`` over ALL of its documents
  (so the router's S1 size gate applies: an oversize document gets its
  terminal ``oversize`` row, as in ``run_pipeline``), stamps the rows with
  ``stamp_run`` and upserts them into ``extracted`` keyed on doc_id (plus,
  with ``index_chunks``, the batch's chunk namespaces). Because
  ``extracted`` is the resume state, stream-written rows with a terminal
  status count as completed for a later ``run_pipeline``. The stream
  itself applies no anti-join and writes no ``lineage``: a re-delivered
  document is re-extracted and replaces its row,
- watermarks/session windows are deliberately absent: the reference has no
  event-time semantics (SURVEY.md §2.10 X3).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..core import constants as C
from ..core.cache import cache_scope, track
from ..operators.extract import INPUT_SCHEMA
from ..operators.skew import run_extract_skewed
from ..sources.tables_io import Catalog
from ..plans.pipeline import EXTRACTED_TABLE, stamp_run


def run_incremental(
    spark: SparkSession,
    source_path: str,
    catalog: Catalog,
    stream_checkpoint: str,
    skew_threshold: int = C.DEFAULT_SKEW_THRESHOLD,
    index_chunks: bool = False,
    chunk_max_size: int = 1000,
) -> None:
    """Process all currently-available new document files, then stop.

    With ``index_chunks`` the micro-batch also runs Stage-2 over exactly
    the batch's documents and namespace-replaces their chunk rows — the
    streaming twin of ``run_chunk_indexing``, incremental in the batch's
    doc set (the chunks of untouched documents are never read or
    rewritten thanks to the bucketed catalog)."""
    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .parquet(source_path)
    )

    # each batch's persists (the routed subset, the shared extraction)
    # are released when the batch returns
    @cache_scope()
    def process_batch(batch_df, batch_id: int) -> None:
        extracted = stamp_run(run_extract_skewed(batch_df, skew_threshold),
                              f"stream-{batch_id}")
        if index_chunks:
            # both sinks consume the extraction output — run it once
            extracted = track(extracted)
        # upsert, not append: the batch pipeline keys `extracted` on
        # doc_id (one row per doc, no read-side compaction) — the
        # streaming sink must preserve that invariant, and
        # re-deliveries of a doc replace rather than duplicate
        catalog.upsert(extracted, EXTRACTED_TABLE, key="doc_id")
        if index_chunks:
            from ..plans.chunk_pipeline import CHUNKS_TABLE, build_chunks
            chunks = build_chunks(extracted, max_size=chunk_max_size)
            # delete-set = the batch's docs, not the produced chunks:
            # a doc re-delivered as failed/empty must shed stale rows
            catalog.replace_namespace(
                chunks, CHUNKS_TABLE, key="doc_id",
                delete_keys=extracted.select("doc_id").distinct())

    q = (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
