"""X5 heartbeat + stuck-job detection/recovery (plans/tracking.py).

Pins the reference semantics (job_heartbeat.py; checkpoint_recovery_
service.py:338-412): immediate first beat, periodic refresh, terminal-
status gate per tick, stuck == processing AND stale, auto-restart flips
resumable jobs to 'pending' and checkpoint-less jobs to 'failed', and the
restarted job's unfinished docs are picked up by the resume anti-join.
"""

from __future__ import annotations

import time

import pytest

from mivaa_pdf_extractor_spark.plans.tracking import (
    JOB_COMPLETED, JOB_FAILED, JOB_PENDING, JOB_PROCESSING,
    JobHeartbeat, JobsStore, auto_restart_stuck, checkpoint_run_ids,
    detect_stuck_jobs, track_job)


def _wait_until(pred, timeout=10.0, step=0.02):
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(step)
    return pred()


def test_heartbeat_immediate_and_periodic(tmp_path):
    store = JobsStore(str(tmp_path / "jobs"))
    store.write("j1", status=JOB_PROCESSING)
    with JobHeartbeat(store, "j1", interval_seconds=0.05):
        # immediate first write (reference: "so dashboards show 'started'
        # instantly")
        assert _wait_until(
            lambda: store.get("j1").get("last_heartbeat") is not None, 5)
        first = store.get("j1")["last_heartbeat"]
        assert _wait_until(
            lambda: store.get("j1")["last_heartbeat"] > first, 5), \
            "heartbeat did not refresh periodically"
    # final write on clean stop
    assert store.get("j1")["last_heartbeat"] >= first


def test_heartbeat_terminal_gate_stops_refresh(tmp_path):
    """A job marked terminal by another path must stop getting fresher
    heartbeats (reference audit fix #44) — otherwise a surviving thread
    fools the recovery cron into thinking a dead job is alive."""
    store = JobsStore(str(tmp_path / "jobs"))
    store.write("j1", status=JOB_PROCESSING)
    hb = JobHeartbeat(store, "j1", interval_seconds=0.05)
    with hb:
        assert _wait_until(
            lambda: store.get("j1").get("last_heartbeat") is not None, 5)
        store.write("j1", status=JOB_COMPLETED)
        # the gate fires on the next tick and the loop exits by itself
        assert _wait_until(lambda: hb._stop.is_set(), 5), \
            "terminal-status gate did not stop the beat loop"
        last = store.get("j1")["last_heartbeat"]
        time.sleep(0.2)
        assert store.get("j1")["last_heartbeat"] == last
    # __exit__ must not add a final write either (job is terminal)
    assert store.get("j1")["last_heartbeat"] == last


def test_track_job_completed_and_failed(tmp_path):
    store = JobsStore(str(tmp_path / "jobs"))
    with track_job(store, "ok", interval_seconds=0.05):
        assert store.get("ok")["status"] == JOB_PROCESSING
    assert store.get("ok")["status"] == JOB_COMPLETED

    with pytest.raises(ValueError):
        with track_job(store, "bad", interval_seconds=0.05):
            raise ValueError("boom")
    rec = store.get("bad")
    assert rec["status"] == JOB_FAILED
    assert "boom" in rec["metadata"]["error"]
    # metadata merges across writes — started_at survived the failure path
    assert "started_at" in rec["metadata"]


def test_detect_stuck_jobs_dataframe(spark, tmp_path):
    store = JobsStore(str(tmp_path / "jobs"))
    now = 1_000_000.0
    store.write("fresh", status=JOB_PROCESSING, last_heartbeat=now - 10)
    store.write("stale", status=JOB_PROCESSING, last_heartbeat=now - 5000)
    store.write("silent", status=JOB_PROCESSING)  # claimed, never beat
    store.write("done", status=JOB_COMPLETED, last_heartbeat=now - 9000)
    got = {r["job_id"] for r in detect_stuck_jobs(
        store.jobs_df(spark), now, timeout_seconds=1800).collect()}
    assert got == {"stale", "silent"}


def test_auto_restart_resumable_vs_checkpointless(spark, tmp_path):
    """End-to-end with the real pipeline: a run that checkpointed docs is
    restartable (pending) and its unfinished docs are reprocessed by the
    resume anti-join; a run with no checkpoints is failed."""
    from pyspark.sql import functions as F

    from mivaa_pdf_extractor_spark.plans.pipeline import run_pipeline
    from mivaa_pdf_extractor_spark.sources.synthetic import (
        corpus_to_spark_df, gen_corpus)
    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    store = JobsStore(str(tmp_path / "jobs"))
    corpus = gen_corpus(20, seed=7)
    docs = corpus_to_spark_df(spark, corpus)
    first_half = sorted(d["doc_id"] for d in corpus)[:10]

    # run A processes only HALF the corpus, then "dies" mid-flight
    run_pipeline(spark, docs.filter(F.col("doc_id").isin(first_half)),
                 cat, run_id="runA")
    now = time.time()
    store.write("runA", status=JOB_PROCESSING, last_heartbeat=now - 9000)
    store.write("runB", status=JOB_PROCESSING, last_heartbeat=now - 9000)

    flips = auto_restart_stuck(
        store, checkpoint_run_ids(cat), now=now,
        timeout_seconds=1800)
    assert flips == {"runA": JOB_PENDING, "runB": JOB_FAILED}
    assert (store.get("runA")["metadata"]["restart_reason"]
            == "auto_recovery_stuck_job")

    # the restarted run resumes: completed docs skipped, the rest done
    with track_job(store, "runA", interval_seconds=60):
        res = run_pipeline(spark, docs, cat, run_id="runA-retry")
    assert res.docs_processed == 10  # only the unfinished half
    assert store.get("runA")["status"] == JOB_COMPLETED
