"""Benchmark-side tracing: spans around the calls into each layer, a
``Catalog`` subclass that only times its calls, an in-process profile of the
normal-path kernel stages, and the Python-worker memory probe.

Spans are kept in memory (name, start, end, parent, iteration) and written
out once, when the benchmark ends. Nothing here changes what the engine
computes.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections.abc import Iterable
from dataclasses import asdict, dataclass

from mivaa_pdf_extractor_spark.sources.tables_io import Catalog


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int | None
    start: float
    end: float = 0.0


class NoTrace:
    """The untraced stand-in for ``Tracer``: no spans, no job tags."""

    traced = False
    iteration: int | None = None

    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, name: str, fn):
        return fn


class Tracer:
    """Records spans and tags the Spark jobs each span starts with the job
    description ``"<iteration>|<span name>"`` (parsed by ``eventlog``)."""

    traced = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = Span(len(self.spans), name, parent, self.iteration,
                   time.perf_counter())
        self.spans.append(rec)
        self._stack.append(rec.id)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{self.iteration}|{name}")
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    def wrap(self, name: str, fn):
        """``fn`` run inside a span named ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_time(span: Span, spans: Iterable[Span]) -> float:
    """Duration of ``span`` minus the part of it its children cover."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


class TracedCatalog(Catalog):
    """``Catalog`` whose public calls each run in a span
    ``tables_io.<call>:<table>``; behaviour is the parent's."""

    def __init__(self, tracer: Tracer, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._tracer = tracer

    def upsert(self, df, name, key="doc_id"):
        with self._tracer.span(f"tables_io.upsert:{name}"):
            return super().upsert(df, name, key)

    def append(self, df, name, key="doc_id"):
        with self._tracer.span(f"tables_io.append:{name}"):
            return super().append(df, name, key)

    def read(self, name, version=None):
        with self._tracer.span(f"tables_io.read:{name}"):
            return super().read(name, version)


# operators.extract stage functions -> metric suffix; extract_iter_arrow
# reaches each through the module globals, and none calls another
KERNEL_STAGES = {
    "_flatten_arrow": "flatten", "parse_attrs": "parse_attrs",
    "heading_levels": "heading_levels", "_sheet_ctx": "sheet_ctx",
    "mark_media_dups": "media_dedup", "remap_spreads": "remap_spreads",
    "process_flat": "process_flat", "_reassemble_arrow": "reassemble",
}


def profile_kernel(batches: list) -> dict[str, float]:
    """Run ``extract_iter_arrow`` on one core in this process over Arrow
    ``batches``, with each stage function wrapped by name. Returns
    ``kernel_s`` (whole pass), ``<stage>_s`` per stage, ``chunks``,
    ``spans_in`` and ``spans_out``."""
    from mivaa_pdf_extractor_spark.operators import extract as X

    out = {f"{v}_s": 0.0 for v in KERNEL_STAGES.values()}
    originals = {a: getattr(X, a) for a in KERNEL_STAGES}

    def timed(attr, fn):
        key = f"{KERNEL_STAGES[attr]}_s"

        def run(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                out[key] += time.perf_counter() - t
        return run

    try:
        for a, fn in originals.items():
            setattr(X, a, timed(a, fn))
        t0 = time.perf_counter()
        results = list(X.extract_iter_arrow(iter(batches)))
        out["kernel_s"] = time.perf_counter() - t0
    finally:
        for a, fn in originals.items():
            setattr(X, a, fn)
    out["chunks"] = len(results)
    out["spans_in"] = sum(
        int(b.column("spans").value_lengths().fill_null(0)
            .to_numpy().sum()) for b in batches)
    out["spans_out"] = sum(
        int(b.column("n_spans").to_numpy().sum()) for b in results)
    return out


def _proc_table() -> dict[int, tuple[int, bytes]]:
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                ppid = int(f.read().rsplit(b")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, IndexError, ValueError):
            continue
        procs[int(d)] = (ppid, cmd)
    return procs


def descendants(root: int | None = None) -> dict[int, bytes]:
    """pid -> cmdline of every live descendant of ``root`` (this process)."""
    root = os.getpid() if root is None else root
    procs = _proc_table()
    out: dict[int, bytes] = {}
    frontier = [root]
    while frontier:
        p = frontier.pop()
        for pid, (ppid, cmd) in procs.items():
            if ppid == p and pid not in out:
                out[pid] = cmd
                frontier.append(pid)
    return out


def py_worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) among the Spark Python workers descended
    from this process, in MiB; 0.0 when none is alive."""
    peak = 0
    for pid, cmd in descendants().items():
        if b"pyspark.daemon" not in cmd:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0
