"""Incremental (Trigger.AvailableNow) extraction — SURVEY.md §2.10 X1-X3.

The stream's checkpointLocation gives ingest-level exactly-once over source
files; results must equal the batch pipeline's on the same documents, and a
second invocation after new files land must process ONLY the new files.
"""

from __future__ import annotations

import pytest

from mivaa_pdf_extractor_spark.operators.extract import run_extract
from mivaa_pdf_extractor_spark.plans.pipeline import run_pipeline
from mivaa_pdf_extractor_spark.sources.synthetic import (corpus_to_spark_df,
                                                         gen_corpus)
from mivaa_pdf_extractor_spark.sources.tables_io import Catalog
from mivaa_pdf_extractor_spark.streaming.incremental import run_incremental


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": str(src),
        "warehouse": str(tmp_path / "wh"),
        "stream_cp": str(tmp_path / "stream_cp"),
    }


def _write_files(spark, docs, path):
    corpus_to_spark_df(spark, docs).coalesce(1) \
        .write.mode("append").parquet(path)


def test_available_now_matches_batch_and_resumes(spark, dirs):
    docs1 = gen_corpus(40, seed=7)
    _write_files(spark, docs1, dirs["src"])

    catalog = Catalog(spark, dirs["warehouse"])
    run_incremental(spark, dirs["src"], catalog, dirs["stream_cp"])

    got = {r["doc_id"]: r for r in catalog.read("extracted").collect()}
    want = {r["doc_id"]: r
            for r in run_extract(corpus_to_spark_df(spark, docs1)).collect()}
    assert set(got) == set(want)
    for d, row in want.items():
        assert [tuple(s) for s in got[d]["spans"]] == \
            [tuple(s) for s in row["spans"]], d

    # second batch of files: only the delta is processed (no duplicates of
    # batch 1 in the sink; all of batch 2 present)
    docs2 = [{**d, "doc_id": "b2-" + d["doc_id"]}
             for d in gen_corpus(25, seed=8)]
    _write_files(spark, docs2, dirs["src"])
    run_incremental(spark, dirs["src"], catalog, dirs["stream_cp"])

    out = catalog.read("extracted")
    assert out.count() == len(docs1) + len(docs2)
    assert out.select("doc_id").distinct().count() == len(docs1) + len(docs2)

    # idempotence: nothing new -> nothing appended
    run_incremental(spark, dirs["src"], catalog, dirs["stream_cp"])
    assert catalog.read("extracted").count() == len(docs1) + len(docs2)

    # stream-written rows are resume state: a batch run over the same
    # documents finds every one terminally completed
    res = run_pipeline(spark, corpus_to_spark_df(spark, docs1 + docs2),
                       catalog)
    assert res.docs_processed == 0


EVENTS_SCHEMA = ("event_id long, user_id long, ts timestamp, "
                 "event_type string, value double")


def _events_df(spark):
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 9, 0, 0)
    rows = []
    eid = 0
    for user in (1, 2):
        # two sessions per user: 3 events 10 min apart, a 40-min gap, then 2
        for k, ts_off in enumerate([0, 600, 1200, 1200 + 2401, 1200 + 3001]):
            rows.append((eid, user,
                         base + dt.timedelta(seconds=ts_off + user),
                         "click" if k % 2 == 0 else "view", float(k)))
            eid += 1
    return spark.createDataFrame(rows, schema=EVENTS_SCHEMA)


def test_streaming_tumbling_counts_matches_batch(spark, dirs):
    """X-windowing: the watermarked streaming tumbling agg equals the batch
    groupBy(date_trunc) twin (itself DuckDB-value-matched) on one pass."""
    from pyspark.sql import functions as F

    from mivaa_pdf_extractor_spark.streaming.stateful import \
        streaming_tumbling_counts

    df = _events_df(spark)
    df.coalesce(1).write.mode("overwrite").parquet(dirs["src"] + "_ev")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        dirs["src"] + "_ev")
    q = (streaming_tumbling_counts(stream).writeStream
         .format("memory").queryName("tumbling_out")
         .outputMode("complete")
         .option("checkpointLocation", dirs["stream_cp"] + "_w")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                  r["sum_value"])
           for r in spark.sql("SELECT * FROM tumbling_out").collect()}
    want = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                   r["sum_value"])
            for r in (df.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("window_start"),
                "event_type")
                .agg(F.count("*").alias("n_events"),
                     F.round(F.sum("value"), 2).alias("sum_value"))
            ).collect()}
    assert got == want and got


def test_stateful_sessionize_matches_batch(spark, dirs):
    """applyInPandasWithState sessionization == the batch gap-split (the
    ★ sessionize query) on a single micro-batch; state carries ids so a
    second batch continues sessions instead of restarting at 1."""
    from pyspark.sql import Window, functions as F

    from mivaa_pdf_extractor_spark.streaming.stateful import \
        sessionize_stateful

    df = _events_df(spark)
    df.coalesce(1).write.mode("overwrite").parquet(dirs["src"] + "_sess")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        dirs["src"] + "_sess")
    q = (sessionize_stateful(stream).writeStream
         .format("memory").queryName("sessions_out")
         .outputMode("update")
         .option("checkpointLocation", dirs["stream_cp"] + "_s")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # latest row per (user, session): update semantics
    rows = spark.sql("SELECT * FROM sessions_out").collect()
    got = {}
    for r in rows:
        key = (r["user_id"], r["session_id"])
        if key not in got or r["n_events"] > got[key]:
            got[key] = r["n_events"]

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ns = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    w2 = w.rowsBetween(Window.unboundedPreceding, 0)
    want = {(r["user_id"], r["session_id"]): r["n"]
            for r in (df.withColumn("ns", ns)
                      .withColumn("session_id", F.sum("ns").over(w2))
                      .groupBy("user_id", "session_id")
                      .agg(F.count("*").alias("n"))).collect()}
    assert got == want and len(want) == 4


def test_streaming_chunk_indexing(spark, dirs):
    """X3 + Stage-2: with index_chunks, each micro-batch chunk-indexes
    exactly its documents — the chunks table stays in lockstep with the
    extracted table across incremental deliveries."""
    from mivaa_pdf_extractor_spark.plans.chunk_pipeline import CHUNKS_TABLE

    docs1 = gen_corpus(20, seed=31)
    _write_files(spark, docs1, dirs["src"])
    catalog = Catalog(spark, dirs["warehouse"])
    run_incremental(spark, dirs["src"], catalog, dirs["stream_cp"],
                    index_chunks=True)
    chunks1 = {(r["doc_id"], r["chunk_index"]): r["content"]
               for r in catalog.read(CHUNKS_TABLE).collect()}
    extracted_ids = {r["doc_id"] for r in
                     catalog.read("extracted").select("doc_id").collect()}
    chunked_ids = {d for d, _i in chunks1}
    assert chunked_ids  # non-empty
    assert chunked_ids <= extracted_ids  # only extracted docs have chunks
    # embedding_text flows through the streaming path too
    row = catalog.read(CHUNKS_TABLE).limit(1).collect()[0]
    assert row["embedding_text"]

    # second delivery: only new docs' namespaces change
    docs2 = [{**d, "doc_id": "s2-" + d["doc_id"]}
             for d in gen_corpus(10, seed=32)]
    _write_files(spark, docs2, dirs["src"])
    run_incremental(spark, dirs["src"], catalog, dirs["stream_cp"],
                    index_chunks=True)
    chunks2 = {(r["doc_id"], r["chunk_index"]): r["content"]
               for r in catalog.read(CHUNKS_TABLE).collect()}
    old = {k: v for k, v in chunks2.items() if not k[0].startswith("s2-")}
    assert old == chunks1  # batch-1 namespaces byte-identical
    assert any(k[0].startswith("s2-") for k in chunks2)
