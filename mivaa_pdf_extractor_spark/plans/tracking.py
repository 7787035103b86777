"""X5: job heartbeat + stuck-job detection / auto-restart (Spark restatement).

Reference semantics being reproduced:

- ``app/services/tracking/job_heartbeat.py``: a periodic heartbeat written
  on a real OS thread (so a CPU-bound stage can't look dead), an immediate
  first write, a terminal-status gate per tick (a thread surviving a hard
  kill must not keep refreshing a finished job), and a final write on clean
  stop.
- ``app/services/tracking/checkpoint_recovery_service.py:338-368``
  ``detect_stuck_jobs``: stuck == status 'processing' AND last update older
  than the cutoff.
- ``checkpoint_recovery_service.py:371-412`` ``auto_restart_stuck_job``:
  a stuck job that can resume from a checkpoint is flipped to 'pending'
  with restart metadata merged (not clobbered); one with no valid
  checkpoint is marked 'failed'.

Spark-first shape: the jobs table is control-plane metadata — a handful of
rows rewritten every few seconds — not analytical data, so it lives
driver-side as one JSON file per job published with atomic ``os.replace``,
the same pattern Structured Streaming uses for its offset/commit logs
(a catalog upsert per heartbeat would be a Spark job every 15 s for one
row). Analysis stays Spark-side: ``jobs_df`` lifts the store into a
DataFrame and ``stuck_filter`` is a native Column predicate, so stuck
detection composes with any monitoring query; the same predicate shape
powers the ``stuck_jobs`` contract query over the synthetic events table.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .pipeline import EXTRACTED_TABLE

JOB_PENDING = "pending"
JOB_PROCESSING = "processing"
JOB_COMPLETED = "completed"
JOB_FAILED = "failed"
JOB_CANCELLED = "cancelled"
JOB_TERMINAL = frozenset({JOB_COMPLETED, JOB_FAILED, JOB_CANCELLED})

_JOB_SCHEMA = T.StructType([
    T.StructField("job_id", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("last_heartbeat", T.DoubleType(), True),
    T.StructField("updated_at", T.DoubleType(), True),
    T.StructField("metadata", T.StringType(), True),
])


class JobsStore:
    """Driver-side jobs table: one JSON file per job, atomic publishes.

    Follows the repo's single-writer model (one writer per job id); readers
    always see a complete document because publishes go through a temp file
    + ``os.replace``.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, job_id: str) -> str:
        return os.path.join(self.root, f"{job_id}.json")

    def get(self, job_id: str) -> dict | None:
        try:
            with open(self._path(job_id)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def write(self, job_id: str, *, now: float | None = None,
              **fields) -> dict:
        """Merge-update one job record (missing fields keep their old
        values — the reference's restart path explicitly merges metadata
        rather than clobbering progress counters)."""
        now = time.time() if now is None else now
        rec = self.get(job_id) or {"job_id": job_id}
        meta = rec.get("metadata") or {}
        meta.update(fields.pop("metadata", None) or {})
        rec.update(fields)
        rec["metadata"] = meta
        rec["updated_at"] = now
        tmp = self._path(job_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, self._path(job_id))
        return rec

    def heartbeat(self, job_id: str, now: float | None = None) -> None:
        self.write(job_id, now=now,
                   last_heartbeat=time.time() if now is None else now)

    def read_all(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.root)):
            if name.endswith(".json"):
                rec = self.get(name[:-5])
                if rec is not None:
                    out.append(rec)
        return out

    def jobs_df(self, spark: SparkSession) -> DataFrame:
        rows = [(r["job_id"], r.get("status", JOB_PENDING),
                 float(r["last_heartbeat"])
                 if r.get("last_heartbeat") is not None else None,
                 float(r["updated_at"])
                 if r.get("updated_at") is not None else None,
                 json.dumps(r.get("metadata") or {}))
                for r in self.read_all()]
        return spark.createDataFrame(rows, _JOB_SCHEMA)


class JobHeartbeat:
    """Periodic heartbeat writer (context manager), modeling
    job_heartbeat.py: OS thread, immediate first write, per-tick terminal-
    status gate, final write on clean stop (skipped if terminal)."""

    def __init__(self, store: JobsStore, job_id: str,
                 interval_seconds: float = 15.0) -> None:
        # the reference floors the interval at 15 s (job_heartbeat.py:43);
        # sub-second intervals are allowed here for tests
        self.store = store
        self.job_id = job_id
        self.interval = interval_seconds
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _is_terminal(self) -> bool:
        rec = self.store.get(self.job_id)
        return bool(rec) and rec.get("status") in JOB_TERMINAL

    def _loop(self) -> None:
        self.store.heartbeat(self.job_id)
        while not self._stop.is_set():
            if self._stop.wait(timeout=self.interval):
                break
            if self._is_terminal():
                # a finished job must not keep looking alive to the
                # recovery cron (reference "audit fix #44")
                self._stop.set()
                return
            self.store.heartbeat(self.job_id)
        if not self._is_terminal():
            self.store.heartbeat(self.job_id)

    def __enter__(self) -> "JobHeartbeat":
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._loop, name=f"heartbeat-{self.job_id}", daemon=False)
        self._thread.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)


class track_job:
    """Wrap a job body: 'processing' + heartbeats while it runs, then a
    terminal status — 'completed' on clean exit, 'failed' with the error
    recorded on an exception (which propagates)."""

    def __init__(self, store: JobsStore, job_id: str,
                 interval_seconds: float = 15.0) -> None:
        self.store = store
        self.job_id = job_id
        self._hb = JobHeartbeat(store, job_id, interval_seconds)

    def __enter__(self) -> "track_job":
        self.store.write(self.job_id, status=JOB_PROCESSING,
                         metadata={"started_at": time.time()})
        self._hb.__enter__()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        # stop the beat thread BEFORE the terminal write so the two
        # writers never interleave on one job file
        self._hb.__exit__(exc_type, exc, tb)
        if exc_type is None:
            self.store.write(self.job_id, status=JOB_COMPLETED,
                             last_heartbeat=time.time())
        else:
            self.store.write(self.job_id, status=JOB_FAILED,
                             last_heartbeat=time.time(),
                             metadata={"error": repr(exc)})


def stuck_filter(now: float, timeout_seconds: float,
                 status_col: str = "status",
                 heartbeat_col: str = "last_heartbeat") -> F.Column:
    """Native predicate: in flight but silent past the cutoff
    (checkpoint_recovery_service.py:350-357 — status 'processing' AND
    updated_at < cutoff). A job with no heartbeat at all counts as stuck:
    it claimed 'processing' and never wrote one."""
    stale = (F.col(heartbeat_col).isNull()
             | (F.col(heartbeat_col) < F.lit(now - timeout_seconds)))
    return (F.col(status_col) == JOB_PROCESSING) & stale


def detect_stuck_jobs(jobs: DataFrame, now: float,
                      timeout_seconds: float = 1800.0) -> DataFrame:
    return jobs.filter(stuck_filter(now, timeout_seconds))


def auto_restart_stuck(store: JobsStore, completed_run_ids: set[str],
                       now: float | None = None,
                       timeout_seconds: float = 1800.0) -> dict[str, str]:
    """Flip each stuck job to 'pending' when it has checkpoint evidence to
    resume from (any checkpointed doc for that run), else 'failed'
    (checkpoint_recovery_service.py:371-412). ``completed_run_ids`` is the
    distinct run_id set from the `extracted` sink — collect it once for
    all jobs (it is bounded by the number of runs, not docs). Returns
    {job_id: new_status}."""
    now = time.time() if now is None else now
    out: dict[str, str] = {}
    for rec in store.read_all():
        hb = rec.get("last_heartbeat")
        if rec.get("status") != JOB_PROCESSING or (
                hb is not None and hb >= now - timeout_seconds):
            continue
        can_resume = rec["job_id"] in completed_run_ids
        new_status = JOB_PENDING if can_resume else JOB_FAILED
        store.write(
            rec["job_id"], now=now, status=new_status,
            metadata={"restart_reason": "auto_recovery_stuck_job"
                      if can_resume else "stuck_without_valid_checkpoint",
                      "restart_at": now})
        out[rec["job_id"]] = new_status
    return out


def checkpoint_run_ids(catalog) -> set[str]:
    """Distinct run_ids present in the `extracted` sink — the 'can this job
    resume' evidence for ``auto_restart_stuck``. One distinct over a
    single small column; rows are one-per-doc so the distinct is bounded
    by runs."""
    if not catalog.exists(EXTRACTED_TABLE):
        return set()
    return {r["run_id"] for r in
            catalog.read(EXTRACTED_TABLE).select("run_id")
            .distinct().collect()}
