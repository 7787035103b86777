"""The benchmark's per-layer kernel attribution (``perfbench.trace``) wraps
each stage by its ``operators.extract`` module name: the kernel must reach
every stage through that name, once per chunk, and no stage may call
another, or a layer's time would be lost or counted twice."""

from collections import Counter

import pyarrow as pa

from mivaa_pdf_extractor_spark.operators import extract as X
from mivaa_pdf_extractor_spark.sources.synthetic import gen_corpus
from perfbench.trace import KERNEL_STAGES

from .test_span_equality import assert_equal


def test_each_stage_runs_once_per_chunk_and_unnested(monkeypatch):
    calls, active, nested = Counter(), [], []

    def counted(name, fn):
        def run(*args, **kwargs):
            if active:
                nested.append((active[-1], name))
            active.append(name)
            calls[name] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                active.pop()
        return run

    for name in KERNEL_STAGES:
        monkeypatch.setattr(X, name, counted(name, getattr(X, name)))
    # every fixture class twice, sheets (spread) and duplicates (dup_media)
    # included, in two chunks
    docs = gen_corpus(24, seed=7, giants=0)
    kinds = [s["kind"] for d in docs for s in d["spans"]]
    assert any(";sw=" in k for k in kinds)
    hashes = [k.split(";phash=")[1] for k in kinds if ";phash=" in k]
    assert len(set(hashes)) < len(hashes)
    monkeypatch.setattr(X, "_CHUNK_SPANS", len(kinds) // 2)
    batches = [pa.RecordBatch.from_pylist(docs[i:i + 6])
               for i in range(0, 24, 6)]

    out = list(X.extract_iter_arrow(iter(batches)))
    assert len(out) == 2
    assert calls == {name: len(out) for name in KERNEL_STAGES}
    assert nested == []
    assert_equal(docs, {r["doc_id"]: r for b in out for r in b.to_pylist()})
