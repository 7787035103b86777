"""Pins for the KB chunk-hit neighbour expansion (issue #318,
rag_routes.py:6340-6470)."""

import pandas as pd

from mivaa_pdf_extractor_spark.operators import kb_expand as ke


def _chunks(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["chunk_id", "document_id",
                                    "product_id", "chunk_index",
                                    "content"]),
        schema="chunk_id long, document_id long, product_id long, "
               "chunk_index int, content string")


def _hits(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["chunk_id", "document_id",
                                    "product_id", "chunk_index",
                                    "content", "document_title",
                                    "product_name", "chunk_type",
                                    "similarity"]),
        schema="chunk_id long, document_id long, product_id long, "
               "chunk_index int, content string, "
               "document_title string, product_name string, "
               "chunk_type string, similarity double")


def _hit(cid, doc, prod, idx, content):
    return (cid, doc, prod, idx, content, "D", "P", "text", 0.9)


def test_budget_skips_oversized_not_breaks(spark):
    # neighbour at idx 1 is oversized; the one at idx 3 still gets in
    hit = [_hit(100, 1, 1, 2, "HIT")]
    corpus = [(1, 1, 1, 1, "B" * 7000), (2, 1, 1, 3, "after"),
              (100, 1, 1, 2, "HIT")]
    r = ke.expand_chunk_hits(_hits(spark, hit),
                             _chunks(spark, corpus),
                             expand_n=1).collect()[0]
    assert r.content == "HIT\n\nafter"
    assert r.expanded and r.neighbors_added == 1
    assert r.expanded_chunk_indexes == "3"


def test_adjacency_scoped_to_product(spark):
    # same document, OTHER product at adjacent index: not a neighbour
    hit = [_hit(100, 1, 1, 2, "HIT")]
    corpus = [(1, 1, 2, 1, "other product"), (2, 1, 1, 9, "too far"),
              (100, 1, 1, 2, "HIT")]
    r = ke.expand_chunk_hits(_hits(spark, hit),
                             _chunks(spark, corpus),
                             expand_n=1).collect()[0]
    assert not r.expanded
    assert r.matched_content is None      # bare hit -> no echo (pin)
    assert r.content == "HIT"


def test_null_index_sorts_last(spark):
    hit = [_hit(100, 1, 1, 2, "HIT")]
    # NULL-index neighbours are excluded from adjacency (NULL
    # comparison), so inject one via expand over an index equal to
    # hit+1 and one NULL: only idx 3 joins, NULL row never does
    corpus = [(1, 1, 1, None, "null idx"), (2, 1, 1, 3, "after"),
              (100, 1, 1, 2, "HIT")]
    r = ke.expand_chunk_hits(_hits(spark, hit),
                             _chunks(spark, corpus),
                             expand_n=1).collect()[0]
    assert r.content == "HIT\n\nafter"


def test_document_id_is_the_address(spark):
    hit = [_hit(100, 77, 1, 2, "HIT")]
    r = ke.expand_chunk_hits(_hits(spark, hit),
                             _chunks(spark, []), # empty corpus
                             expand_n=0).collect()[0]
    assert r.id == 77 and r.chunk_id == 100


def test_matched_content_only_when_expanded(spark):
    hit = [_hit(100, 1, 1, 2, " HIT ")]
    corpus = [(1, 1, 1, 1, "before"), (100, 1, 1, 2, " HIT ")]
    r = ke.expand_chunk_hits(_hits(spark, hit),
                             _chunks(spark, corpus),
                             expand_n=1).collect()[0]
    assert r.expanded
    assert r.matched_content == "HIT"     # stripped hit echo
    assert r.content == "before\n\nHIT"


def test_budget_boundary_neighbour_survives_prefilter(spark):
    # round-6 internals: neighbours longer than the WHOLE budget are
    # pre-filtered (they can never be kept); one of exactly the budget
    # must survive the filter and be kept when the hit is empty
    # (trim -> "" -> budget stays 6000)
    hit = [_hit(100, 1, 1, 2, "   ")]
    corpus = [(1, 1, 1, 1, "a" * 6000),   # == budget: kept
              (2, 1, 1, 3, "b" * 6001),   # > budget: never kept
              (100, 1, 1, 2, "   ")]
    r = ke.expand_chunk_hits(_hits(spark, hit),
                             _chunks(spark, corpus),
                             expand_n=1).collect()[0]
    assert r.neighbors_added == 1
    assert r.expanded_chunk_indexes == "1"
    assert r.content == "a" * 6000 + "\n\n"   # empty hit piece joins


def test_budget_sequential_in_reading_order(spark):
    # budget 6000 - 3 = 5997; idx1 eats 5000, idx3 (1000) no longer
    # fits, idx... -> only idx1 kept even though idx3 alone would fit
    hit = [_hit(100, 1, 1, 2, "HIT")]
    corpus = [(1, 1, 1, 1, "a" * 5000), (2, 1, 1, 3, "b" * 1000),
              (100, 1, 1, 2, "HIT")]
    r = ke.expand_chunk_hits(_hits(spark, hit),
                             _chunks(spark, corpus),
                             expand_n=1).collect()[0]
    assert r.neighbors_added == 1
    assert r.expanded_chunk_indexes == "1"


def test_duplicate_hit_rows_do_not_double_neighbours(spark):
    # the same hit delivered twice: each output row carries the kept
    # neighbour once (the kept-text join-back groups by chunk_id)
    hit = [_hit(100, 1, 1, 2, "HIT"), _hit(100, 1, 1, 2, "HIT")]
    corpus = [(2, 1, 1, 3, "after"), (100, 1, 1, 2, "HIT")]
    rows = ke.expand_chunk_hits(_hits(spark, hit),
                                _chunks(spark, corpus),
                                expand_n=1).collect()
    assert [r.content for r in rows] == ["HIT\n\nafter"] * 2
    assert all(r.neighbors_added == 1 for r in rows)
