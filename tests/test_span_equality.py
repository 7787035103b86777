"""The correctness gate: span-sequence equality (kind, text, media_ref,
order) between the vectorized engine and the pure-Python oracle, over the
full deterministic fixture corpus (north rule / BASELINE.json:15)."""

import random
import re
from collections import Counter

import pyarrow as pa
import pytest

from mivaa_pdf_extractor_spark.core import constants as C
from mivaa_pdf_extractor_spark.core.kinds import make_kind, parse_kind
from pyspark.sql.pandas.types import to_arrow_schema

from mivaa_pdf_extractor_spark.operators.extract import (INPUT_SCHEMA,
                                                         extract_iter_arrow,
                                                         run_extract)
from mivaa_pdf_extractor_spark.operators.skew import (_extract_buckets,
                                                      _split_giants,
                                                      run_extract_skewed)
from mivaa_pdf_extractor_spark.oracle import extract_document
from mivaa_pdf_extractor_spark.sources.synthetic import (_span,
                                                          corpus_to_spark_df,
                                                          gen_corpus)

from .conftest import spans_tuples


def assert_equal(docs, rows_by_id):
    for d in docs:
        o = extract_document(d["doc_id"], d["spans"])
        r = rows_by_id[d["doc_id"]]
        assert spans_tuples(r["spans"]) == spans_tuples(o["spans"]), d["doc_id"]
        assert r["status"] == o["status"], d["doc_id"]
        assert int(r["n_spans"]) == o["n_spans"], d["doc_id"]
        assert int(r["n_chars"]) == o["n_chars"], d["doc_id"]


def test_engine_batch_equals_oracle_no_spark():
    # drives the production Arrow kernel directly (no Spark session): the
    # legacy pandas batch path was deleted in round 3 (verdict item 8)
    docs = gen_corpus(120, seed=7, giants=1)
    batch = pa.RecordBatch.from_pydict({
        "doc_id": [d["doc_id"] for d in docs],
        "spans": [d["spans"] for d in docs]})
    rows = {}
    for b in extract_iter_arrow(iter([batch])):
        for r in b.to_pylist():
            rows[r["doc_id"]] = r
    assert len(rows) == len(docs)
    assert_equal(docs, rows)


@pytest.mark.spark
def test_spark_normal_path_equals_oracle(spark):
    docs = [d for d in gen_corpus(80, seed=42, giants=0)]
    df = corpus_to_spark_df(spark, docs)
    rows = {r["doc_id"]: r.asDict() for r in run_extract(df, 4).collect()}
    assert len(rows) == len(docs)
    assert_equal(docs, rows)


def _sparse_pages_giant(threshold):
    """Pages 1, 2 and 900 in turn, plus one span on page -3."""
    return {"doc_id": "edge-sparse-pages",
            "spans": [_span(make_kind("text", page=-3, y=40, x=50), "minus")]
            + [_span(make_kind("text", page=(1, 2, 900)[i % 3],
                               y=40 + i // 3, x=50), f"s{i}")
               for i in range(threshold + 100)]}


def _outlier_page_giant(threshold):
    """Dense pages of 60 spans, then one span on page 10,000."""
    return {"doc_id": "edge-outlier-page",
            "spans": [_span(make_kind("text", page=1 + i // 60,
                                      y=40 + i % 60, x=50), f"o{i}")
                      for i in range(threshold + threshold // 2)]
            + [_span(make_kind("text", page=10_000, y=40, x=50), "far")]}


def _renumbered_giant(seed):
    """Two gen_corpus giants end to end, the second's pages shifted past
    the first's last page."""
    first, second = [d["spans"] for d in gen_corpus(2, seed=seed, giants=2)]
    shift = max(parse_kind(s["kind"]).page for s in first)
    return {"doc_id": "edge-renumbered", "spans": first + [
        dict(s, kind=re.sub(r"(?<=;)page=(-?\d+)",
                            lambda m: f"page={int(m.group(1)) + shift}",
                            s["kind"]))
        for s in second]}


def _dup_media_giant(threshold):
    """One phash repeated on pages that land in different buckets, in the
    image and the figure layer, listed last page first (the kept copy is
    the first in page order, not in input order), plus one copy on a
    header span."""
    shared = "ab" * 8
    return {"doc_id": "edge-dup-media", "spans": [
        _span(make_kind(layer, page=page, y=y, x=60, w=200, h=100, edpi=200,
                        phash=shared))
        for layer, page, y in (("image", 70, 300), ("image", 40, 300),
                               ("image", 5, 300), ("image", 5, 100),
                               ("figure", 60, 500), ("figure", 2, 500))]
        + [_span(make_kind("header", page=1, y=5, x=50, phash=shared), "H")]
        + [_span(make_kind("text", page=1 + i // 30, y=40 + 8 * (i % 30),
                           x=50), f"m{i}") for i in range(threshold + 200)]}


def _sheet_giant(threshold):
    """Sheet-addressed giant: two spread sheets (1200x800) then one single
    (600x800) in turn, a gutter straddler on each spread, and one
    full-spread image (L2) on sheet 4, listed last, that keeps it one
    physical page, so every later sheet's physical page depends on a sheet
    in another bucket."""
    spans = []
    sheet = 0
    while len(spans) < threshold + 400:
        sheet += 1
        spread = sheet % 3 != 0
        sw = 1200 if spread else 600
        spans += [_span(make_kind("text", page=sheet, sw=sw, sh=800,
                                  y=40 + 20 * j,
                                  x=60 + 700 * (j % 2) if spread else 50,
                                  w=150, size=16 if j == 0 else 10),
                        f"s{sheet}-{j}") for j in range(36)]
        if spread:
            spans.append(_span(make_kind("text", page=sheet, sw=sw, sh=800,
                                         y=780, x=520, w=160, size=10),
                               f"gutter{sheet}"))
    spans.append(_span(make_kind("image", page=4, sw=1200, sh=800, y=0,
                                 x=100, w=1000, h=500, edpi=250,
                                 phash="f" * 16)))
    return {"doc_id": "edge-sheets", "spans": spans}


def _split_rows(giants, threshold):
    """The splitter's rows for ``giants``, as one Arrow batch."""
    batch = pa.RecordBatch.from_pylist(giants,
                                       schema=to_arrow_schema(INPUT_SCHEMA))
    return pa.Table.from_batches(list(_split_giants(iter([batch]),
                                                    threshold))
                                 ).combine_chunks().to_batches()[0]


def _join_buckets(rows):
    """The salted plan's native join of bucket rows, in Python: offsets
    shift by the earlier buckets' characters, spans concatenate in bucket
    order, and the status follows the kernel's rule."""
    docs = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["bucket"])):
        d = docs.setdefault(r["doc_id"], {"spans": [], "n_spans": 0,
                                          "n_chars": 0})
        d["spans"] += [dict(s, offset=s["offset"] + d["n_chars"])
                       for s in r["spans"]]
        d["n_spans"] += r["n_spans"]
        d["n_chars"] += r["n_chars"]
    for d in docs.values():
        d["status"] = (C.STATUS_COMPLETED if d["n_chars"]
                       else C.STATUS_NO_TEXT if d["n_spans"]
                       else C.STATUS_COMPLETED_EMPTY)
    return docs


def test_salted_buckets_hold_at_most_threshold_or_one_page():
    """A bucket holds whole pages in page order, so its size in input
    spans is the sum of its pages'."""
    threshold = 2000
    giants = [_outlier_page_giant(threshold), _sparse_pages_giant(threshold),
              _renumbered_giant(seed=11)]
    rows = _split_rows(giants, threshold).to_pylist()
    for g in giants:
        pages = Counter(parse_kind(s["kind"]).page for s in g["spans"])
        own = [r for r in rows if r["doc_id"] == g["doc_id"]]
        assert [r["bucket"] for r in own] == list(range(len(own)))
        bucket_pages = [sorted({parse_kind(s["kind"]).page
                                for s in r["spans"]}) for r in own]
        in_order = [p for ps in bucket_pages for p in ps]
        assert in_order == sorted(pages), g["doc_id"]
        sizes = [sum(pages[p] for p in ps) for ps in bucket_pages]
        n = len(g["spans"])
        assert len(sizes) >= 2, g["doc_id"]
        assert max(sizes) <= max(threshold, max(pages.values())), (
            g["doc_id"], sorted(sizes))
        # cut at an even share n/ceil(n/T), not at T
        assert max(sizes) <= max(-(-n // -(-n // threshold)),
                                 max(pages.values())), (
            g["doc_id"], sorted(sizes))


def test_mixed_giant_bucket_chunk_equals_oracle():
    """Buckets of a sheet giant and of a sheetless one in one kernel
    chunk: the sheetless buckets have no sheet rows, and stay off the
    spread remap."""
    threshold = 2000
    giants = [_sheet_giant(threshold), _dup_media_giant(threshold)]
    split = _split_rows(giants, threshold)
    out = list(_extract_buckets(iter([split])))
    assert len(out) == 1 and out[0].num_rows == split.num_rows
    assert_equal(giants, _join_buckets(pa.Table.from_batches(out)
                                       .to_pylist()))


@pytest.mark.spark
def test_spark_skew_path_equals_oracle(spark):
    threshold = 2000
    docs = gen_corpus(40, seed=11, giants=2)
    # routing boundary: exactly `threshold` spans runs whole in the kernel,
    # one more is salted into two page buckets
    giant = max(docs, key=lambda d: len(d["spans"]))
    docs += [{"doc_id": f"boundary-{n}", "spans": giant["spans"][:n]}
             for n in (threshold, threshold + 1)]
    # edge documents above the threshold: a failed giant (one NULL kind),
    # a boilerplate-only giant, and a giant whose two text sizes tie in
    # count (the smaller is the body, the larger a heading)
    docs += [
        {"doc_id": "edge-failed",
         "spans": giant["spans"][:threshold + 5]
         + [_span(None, "lost")]},
        {"doc_id": "edge-boilerplate",
         "spans": [_span(make_kind("header", page=1 + i // 50, y=5, x=50),
                         "GIANT") for i in range(threshold + 3)]},
        {"doc_id": "edge-size-tie",
         "spans": [_span(make_kind("text", page=1 + i // 40, y=40 + i % 40,
                                   x=50, size=(10, 14)[i % 2]), f"w{i}")
                   for i in range(threshold + 2)]},
    ]
    # bucket edges: spans in shuffled page order, sparse page numbers with
    # one negative page, one far outlying page, a single-page giant (one
    # bucket), media duplicates across buckets and a sheet-addressed giant
    shuffled = list(giant["spans"])
    random.Random(3).shuffle(shuffled)
    docs += [
        {"doc_id": "edge-shuffled", "spans": shuffled},
        _sparse_pages_giant(threshold),
        _outlier_page_giant(threshold),
        {"doc_id": "edge-one-page",
         "spans": [_span(make_kind("text", page=1, y=40 + i, x=50), f"p{i}")
                   for i in range(threshold + 5)]},
        _dup_media_giant(threshold),
        _sheet_giant(threshold),
    ]
    df = corpus_to_spark_df(spark, docs)
    out = run_extract_skewed(df, skew_threshold=threshold, num_partitions=4)
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(rows) == len(docs)
    assert_equal(docs, rows)
    assert rows["edge-failed"]["status"] == C.STATUS_FAILED
    assert rows["edge-boilerplate"]["status"] == C.STATUS_COMPLETED_EMPTY
    tie = [s["text"] for s in rows["edge-size-tie"]["spans"]]
    assert tie[:2] == ["w0", "# w1"]
    media = [(s["kind"], s["page"]) for s in rows["edge-dup-media"]["spans"]
             if s["media_ref"]]
    assert media == [("figure", 2), ("image", 5)]


def test_skew_threshold_below_one_is_rejected(spark):
    df = corpus_to_spark_df(spark, gen_corpus(2, seed=1, giants=0))
    with pytest.raises(ValueError, match="skew_threshold"):
        run_extract_skewed(df, skew_threshold=0)


def test_offsets_are_monotonic_and_cover_text():
    """Property (kb_chunker.py:217-228 coverage-invariant analogue):
    offsets are the running sum of text lengths — no gaps, no overlaps."""
    docs = gen_corpus(60, seed=3, giants=1)
    for d in docs:
        o = extract_document(d["doc_id"], d["spans"])
        running = 0
        for s in o["spans"]:
            assert s["offset"] == running
            running += len(s["text"])
        assert running == o["n_chars"]
