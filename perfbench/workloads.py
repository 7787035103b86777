"""The two workloads: seeded inputs staged to parquet, the timed action,
and the untimed correctness gate.

- ``extract_normal``: fixture documents of all 12 classes through
  ``run_extract_skewed``; every kernel stage works, the salted path gets an
  empty subset.
- ``pipeline_resume``: fixture documents plus giant documents built by
  ``documents_to_spans(..., words_per_span=1)`` — one-bucket giants at the
  bench recipe's ratio and one multi-bucket giant, so both giant paths run.
  The warehouse is pre-seeded with a seeded half of the fixture documents,
  and each timed iteration resumes ``run_pipeline`` over the whole corpus:
  the other half and every giant are extracted, and the sink (bucket
  upsert, lineage, checkpoints) does most of the work.

A separate giants-only workload would add half again to the benchmark's
total time on a 4-core host, so the giants ride in the resumed half.

The program only ever sees the staged parquet inputs; the seed stays here.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from mivaa_pdf_extractor_spark.core import constants as C
from mivaa_pdf_extractor_spark.operators.skew import (
    DEFAULT_SPANS_PER_BUCKET, run_extract_skewed)
from mivaa_pdf_extractor_spark.plans import pipeline as P
from mivaa_pdf_extractor_spark.sources.from_flat import documents_to_spans
from mivaa_pdf_extractor_spark.sources.synthetic import gen_corpus
from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

from .gate import GateResult, oracle_gate
from .trace import TracedCatalog

NORMAL_DOCS = 6000
# A resumed run_pipeline costs ~8 s on a 4-core host at 1k or 2k documents
# alike (Spark job and sink overhead, not volume), so the corpus is small
# and the run buys repeated iterations instead.
PIPELINE_DOCS = 1000
# one-bucket giants match the bench recipe's ~4.9k spans, one per
# GIANT_EVERY fixture documents as in the recipe; the multi-bucket giant
# spans two salted buckets. Sizes are fixed so that the seed changes only
# the words, not the amount of work.
ONE_BUCKET_SPANS = 4900
MULTI_BUCKET_SPANS = DEFAULT_SPANS_PER_BUCKET + 1000
GIANT_EVERY = 500
GIANT_MULTI_BUCKET = 1

_VOCAB = ("layout page span reading order block heading table figure "
          "caption markdown extraction pipeline partition shuffle lineage "
          "checkpoint resume column cluster grid cell render media document "
          "offset kind catalog tile porcelain format thickness finish").split()

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
_INPUT = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])


def _reset(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def _write_parts(table: pa.Table, path: Path, parts: int) -> None:
    """Several files, so the scan splits across task slots."""
    _reset(path)
    per = max(1, -(-table.num_rows // parts))
    for i in range(0, table.num_rows, per):
        pq.write_table(table.slice(i, per), path / f"part-{i // per:05d}.parquet")


def _fixture_docs(n: int, seed: int) -> pa.Table:
    return pa.Table.from_pylist(gen_corpus(n, seed=seed, giants=0),
                                schema=_INPUT)


def _spans_per_doc(table: pa.Table) -> pa.Array:
    return pc.fill_null(pc.list_value_length(table.column("spans")), 0)


def normal_batches(table: pa.Table) -> list:
    """The documents the normal kernel receives, as Arrow batches of the
    session's ``maxRecordsPerBatch`` (1024)."""
    n = _spans_per_doc(table)
    return table.filter(pc.less_equal(n, C.DEFAULT_SKEW_THRESHOLD)) \
        .to_batches(max_chunksize=1024)


class Workload:
    """Base: subclasses generate seeded inputs, stage them into
    ``self.dir`` and define the timed action. ``docs``/``spans`` are what
    one action extracts.

    ``min_iterations`` is a floor on timed iterations. Walls keep falling
    for about ten iterations after the warm-up (JIT; ``extract_normal``:
    about 30% over the first four), so a run that stops after 2 iterations
    in one case and 3 in another lands its median on different points of
    that curve. Each floor is set so that it, not ``--seconds``, fixes the
    iteration count on a 4-core host. A second warm-up iteration did not
    narrow the run-to-run spread there."""

    name = ""
    min_iterations = 1
    last_processed = 0  # documents the last resumed run_pipeline extracted

    def __init__(self, work: Path, seed: int, parts: int):
        self.dir = work
        self.seed = seed
        self.parts = parts
        self.docs = 0
        self.spans = 0
        self.giant_docs = 0
        self.giant_spans = 0

    # ---- set-up
    def generate(self, spark) -> None:
        """Build the seeded inputs in memory (untimed, once)."""
        raise NotImplementedError

    def stage(self, spark) -> None:
        """Write the inputs the program reads (timed as set-up)."""
        raise NotImplementedError

    def seed_warehouse(self, spark) -> None:
        """Pre-seed persistent state (only the pipeline has any)."""

    def input_dir(self) -> Path:
        raise NotImplementedError

    def warehouse(self) -> Path | None:
        """The warehouse one action writes, if any."""
        return None

    def _count(self, extracted: pa.Table) -> None:
        n = _spans_per_doc(extracted)
        big = pc.greater(n, C.DEFAULT_SKEW_THRESHOLD)
        self.docs = extracted.num_rows
        self.spans = int(pc.sum(n).as_py() or 0)
        self.giant_docs = int(pc.sum(big.cast(pa.int64())).as_py() or 0)
        self.giant_spans = int(pc.sum(pc.if_else(big, n, 0)).as_py() or 0)

    # ---- per iteration
    def prepare(self, spark) -> None:
        """Untimed reset before each iteration."""
        spark.catalog.clearCache()

    def run(self, spark, tracer) -> int:
        """The timed action; returns documents that reached a terminal
        status (-1 when only the gate can tell)."""
        raise NotImplementedError

    def kernel_input(self) -> pa.Table:
        """Documents one action sends through the normal kernel."""
        raise NotImplementedError

    # ---- correctness
    def gate(self, spark) -> tuple[GateResult, list[str]]:
        raise NotImplementedError


class ExtractNormal(Workload):
    """``run_extract_skewed`` over the staged input, written to parquet."""

    name = "extract_normal"
    min_iterations = 5

    def generate(self, spark) -> None:
        self._docs = _fixture_docs(NORMAL_DOCS, self.seed)
        self._count(self._docs)

    def stage(self, spark) -> None:
        _write_parts(self._docs, self.input_dir(), self.parts)

    def input_dir(self) -> Path:
        return self.dir / "input"

    def out_dir(self) -> Path:
        return self.dir / "output"

    def prepare(self, spark) -> None:
        super().prepare(spark)
        shutil.rmtree(self.out_dir(), ignore_errors=True)

    def run(self, spark, tracer) -> int:
        df = spark.read.parquet(str(self.input_dir()))
        with tracer.span("skew.plan_build"):
            out = run_extract_skewed(df)
        with tracer.span("extract.action"):
            out.write.parquet(str(self.out_dir()))
        return -1

    def kernel_input(self) -> pa.Table:
        return self._docs

    def gate(self, spark):
        return oracle_gate(spark.read.parquet(str(self.input_dir())),
                           spark.read.parquet(str(self.out_dir())),
                           self.docs), []


def _giant_docs(spark, flat: Path, rng: random.Random,
                sizes: list[int]) -> pa.Table:
    """Giant documents of ``sizes`` spans in the engine's input schema, one
    span per seeded word, built by the engine's own flat-text converter."""
    _write_parts(pa.table({
        "doc_id": pa.array(range(10_000_000, 10_000_000 + len(sizes)),
                           pa.int64()),
        "text": [" ".join(rng.choice(_VOCAB) for _ in range(n))
                 for n in sizes]}), flat, 1)
    return documents_to_spans(spark.read.parquet(str(flat)),
                              words_per_span=1).toArrow().cast(_INPUT)


class PipelineResume(Workload):
    """Resume: half the fixture documents are already extracted and
    checkpointed; the giants never are."""

    name = "pipeline_resume"
    min_iterations = 2

    def input_dir(self) -> Path:
        return self.dir / "full"

    def half_dir(self) -> Path:
        return self.dir / "half"

    def seeded_dir(self) -> Path:
        return self.dir / "warehouse_seed"

    def warehouse(self) -> Path:
        return self.dir / "warehouse"

    def generate(self, spark) -> None:
        rng = random.Random(self.seed)
        fixture = _fixture_docs(PIPELINE_DOCS, self.seed)
        ids = fixture.column("doc_id").to_pylist()
        done = pa.array(rng.sample(ids, len(ids) // 2), pa.string())
        self._half = fixture.filter(
            pc.is_in(fixture.column("doc_id"), value_set=done))
        sizes = ([ONE_BUCKET_SPANS] * (PIPELINE_DOCS // GIANT_EVERY)
                 + [MULTI_BUCKET_SPANS] * GIANT_MULTI_BUCKET)
        self._full = pa.concat_tables(
            [fixture, _giant_docs(spark, self.dir / "giant_text", rng, sizes)])
        self.corpus_docs = self._full.num_rows
        self._count(self._todo(self._full, done))

    def stage(self, spark) -> None:
        _write_parts(self._full, self.input_dir(), self.parts)
        _write_parts(self._half, self.half_dir(), self.parts)

    @staticmethod
    def _todo(full: pa.Table, done_ids) -> pa.Table:
        return full.filter(pc.invert(pc.is_in(full.column("doc_id"),
                                              value_set=done_ids)))

    def seed_warehouse(self, spark) -> None:
        shutil.rmtree(self.seeded_dir(), ignore_errors=True)
        P.run_pipeline(spark, spark.read.parquet(str(self.half_dir())),
                       Catalog(spark, str(self.seeded_dir())))

    def prepare(self, spark) -> None:
        super().prepare(spark)
        shutil.rmtree(self.warehouse(), ignore_errors=True)
        shutil.copytree(self.seeded_dir(), self.warehouse())

    def run(self, spark, tracer) -> int:
        wh = str(self.warehouse())
        catalog = (TracedCatalog(tracer, spark, wh) if tracer.traced
                   else Catalog(spark, wh))
        with tracer.span("pipeline.run"), _patched(
                P, "run_extract_skewed",
                tracer.wrap("skew.plan_build", P.run_extract_skewed)):
            res = P.run_pipeline(spark, spark.read.parquet(
                str(self.input_dir())), catalog)
        self.last_processed = res.docs_processed
        return res.docs_processed - res.failures

    def kernel_input(self) -> pa.Table:
        return self._todo(self._full, self._half.column("doc_id"))

    def gate(self, spark):
        """Oracle over the whole sink, one row per doc, and the resume
        processed exactly the documents outside the seeded half."""
        sink = Catalog(spark, str(self.warehouse())).read(P.EXTRACTED_TABLE)
        res = oracle_gate(spark.read.parquet(str(self.input_dir())), sink,
                          self.corpus_docs)
        problems = []
        if self.last_processed != self.docs:
            problems.append(f"docs_processed {self.last_processed} != "
                            f"{self.docs} documents outside the seeded half")
        return res, problems


@contextlib.contextmanager
def _patched(module, attr: str, value):
    """Temporarily replace ``module.attr``."""
    old = getattr(module, attr)
    setattr(module, attr, value)
    try:
        yield
    finally:
        setattr(module, attr, old)


def manifests(warehouse: Path) -> dict[str, dict]:
    """table -> manifest JSON of a parquet-fallback warehouse."""
    out = {}
    if warehouse.is_dir():
        for t in sorted(os.listdir(warehouse)):
            p = warehouse / t / "_MANIFEST"
            if p.is_file():
                out[t] = json.loads(p.read_text())
    return out


def manifest_diff(warehouse: Path, before: dict, after: dict) -> tuple[int, int]:
    """(buckets whose data-dir list changed, bytes of newly referenced
    data dirs) between two ``manifests`` snapshots."""
    touched, written = 0, 0
    for table, m in after.items():
        old = (before.get(table) or {}).get("buckets", {})
        for b, dirs in m["buckets"].items():
            if dirs != old.get(b):
                touched += 1
            for d in set(dirs) - set(old.get(b, [])):
                for root, _, files in os.walk(warehouse / table / d):
                    written += sum(os.path.getsize(os.path.join(root, f))
                                   for f in files)
    return touched, written


WORKLOADS = {w.name: w for w in (ExtractNormal, PipelineResume)}
