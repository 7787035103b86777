"""The Arrow kernel's chunking (no Spark session): an incoming batch above
the span budget is cut at document boundaries, a single larger document
stays whole, smaller batches coalesce up to the budget, and a failed
document inside a chunk leaves the other documents' parse on their rows."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from mivaa_pdf_extractor_spark.core import constants as C
from mivaa_pdf_extractor_spark.operators.extract import (_CHUNK_SPANS,
                                                         _coalesce_batches,
                                                         extract_iter_arrow)
from mivaa_pdf_extractor_spark.sources.synthetic import gen_corpus

from .test_span_equality import assert_equal


def _batch(prefix, sizes):
    total = sum(sizes)
    spans = pa.StructArray.from_arrays(
        [pa.array(["text"] * total), pa.array([""] * total),
         pa.array([""] * total), pa.array([0] * total, pa.int32())],
        names=["kind", "text", "media_ref", "offset"])
    offsets = pa.array(np.r_[0, np.cumsum(sizes)].astype(np.int32))
    return pa.RecordBatch.from_arrays(
        [pa.array([f"{prefix}{i}" for i in range(len(sizes))]),
         pa.ListArray.from_arrays(offsets, spans)],
        names=["doc_id", "spans"])


def _chunks(batches):
    return [(c.column("doc_id").to_pylist(),
             pc.sum(c.column("spans").value_lengths()).as_py())
            for c in _coalesce_batches(iter(batches))]


def test_oversized_batch_is_cut_at_doc_boundaries():
    t = C.DEFAULT_SKEW_THRESHOLD
    assert _CHUNK_SPANS % t == 0
    per = _CHUNK_SPANS // t
    chunks = _chunks([_batch("d", [t] * 4 * per)])
    assert [ids for ids, _ in chunks] == [
        [f"d{i}" for i in range(j, j + per)] for j in range(0, 4 * per, per)]
    assert [n for _, n in chunks] == [_CHUNK_SPANS] * 4


def test_single_larger_document_stays_whole():
    chunks = _chunks([_batch("g", [3, _CHUNK_SPANS + 1, 3])])
    assert chunks == [(["g0", "g1"], _CHUNK_SPANS + 4), (["g2"], 3)]


def test_small_batches_coalesce_up_to_the_budget():
    q = _CHUNK_SPANS // 4
    chunks = _chunks([_batch("a", [q, q]), _batch("b", [q, q]),
                      _batch("c", [q])])
    assert chunks == [(["a0", "a1", "b0", "b1"], _CHUNK_SPANS), (["c0"], q)]


def test_split_batch_matches_oracle():
    docs = gen_corpus(20, seed=9, giants=8)
    batch = pa.RecordBatch.from_pydict({
        "doc_id": [d["doc_id"] for d in docs],
        "spans": [d["spans"] for d in docs]})
    assert sum(len(d["spans"]) for d in docs) > _CHUNK_SPANS
    rows = {r["doc_id"]: r for b in extract_iter_arrow(iter([batch]))
            for r in b.to_pylist()}
    assert len(rows) == len(docs)
    assert_equal(docs, rows)


def test_failed_doc_mid_chunk_keeps_later_docs_aligned():
    # the failed doc's rows leave a gap in the span frame's index; the
    # parsed attrs of the docs after it must still land on their own rows
    docs = [
        {"doc_id": "a", "spans": [
            {"kind": "text", "text": "A1", "media_ref": "", "offset": 0}]},
        {"doc_id": "bad", "spans": [
            {"kind": None, "text": "x", "media_ref": "", "offset": 0},
            {"kind": "text", "text": "x2", "media_ref": "", "offset": 0}]},
        {"doc_id": "c", "spans": [
            {"kind": "text;y=1", "text": "C1", "media_ref": "", "offset": 0},
            {"kind": "title;y=0", "text": "C0", "media_ref": "",
             "offset": 0}]},
    ]
    batch = pa.RecordBatch.from_pydict({
        "doc_id": [d["doc_id"] for d in docs],
        "spans": [d["spans"] for d in docs]})
    rows = {r["doc_id"]: r for b in extract_iter_arrow(iter([batch]))
            for r in b.to_pylist()}
    assert_equal(docs, rows)
