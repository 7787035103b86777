"""L3 half-page clip + L5 span-extraction-in-clip (VERDICT.md item 3).

Semantics pinned against reference stage_1_layout_precompute.py:124-141
(`_clip_rect_for_position`) and :198-234 (`_pymupdf_spans_in_clip`):
spread sheets (aspect > 1.4) split at mid = width/2 into two physical
pages; a span is kept for each half whose clip it intersects (INCLUSIVE
bounds — gutter-straddlers land on both halves); right-half x translates
by -mid. Oracle expectations are hand-computed here, then engine==oracle is
asserted on both physical paths.
"""

from __future__ import annotations

from mivaa_pdf_extractor_spark.operators.extract import run_extract
from mivaa_pdf_extractor_spark.operators.skew import run_extract_skewed
from mivaa_pdf_extractor_spark.oracle import extract_document
from mivaa_pdf_extractor_spark.sources.synthetic import corpus_to_spark_df


def span(kind, text="", ref=""):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": 0}


def tuples(result):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in result["spans"]]


# sheet 1: spread 1200x800 (aspect 1.5) -> physical pages 1+2
# sheet 2: single 600x800 -> physical page 3
SPREAD_DOC = [
    # left half of sheet 1 (x+w=210 < mid=600)
    span("text;page=1;sw=1200;sh=800;y=100;x=50;w=160;size=10", "left top"),
    # right half (x=700 > mid, x+w in bounds)
    span("text;page=1;sw=1200;sh=800;y=100;x=700;w=160;size=10", "right top"),
    # gutter straddler (x=550 <= mid <= x+w=750) -> BOTH halves
    span("text;page=1;sw=1200;sh=800;y=300;x=550;w=200;size=10", "straddle"),
    # entirely right of the sheet (x=1300 > sw) -> dropped
    span("text;page=1;sw=1200;sh=800;y=300;x=1300;w=50;size=10", "gone"),
    # below the sheet (y=900 > sh) -> dropped from a spread sheet
    span("text;page=1;sw=1200;sh=800;y=900;x=50;w=50;size=10", "below"),
    # single sheet -> physical page 3, no clipping even out-of-bounds
    span("text;page=2;sw=600;sh=800;y=50;x=50;size=10", "single page"),
    span("text;page=2;sw=600;sh=800;y=900;x=50;size=10", "oob kept"),
]


def test_oracle_spread_mapping():
    r = extract_document("d", SPREAD_DOC)
    got = [t for _k, t, _r, _o in tuples(r)]
    # phys p1: left top (y=100), straddle copy (y=300)
    # phys p2: right top (x 700-600=100, y=100), straddle copy (x -50, y=300)
    # phys p3: single page (y=50), oob kept (y=900)
    assert got == ["left top", "straddle", "right top", "straddle",
                   "single page", "oob kept"]


def test_oracle_straddler_order_on_right_half():
    # on physical page 2, the straddle copy x = 550-600 = -50 sorts BEFORE
    # right-top x = 100 at equal y? different y here: straddle y=300 comes
    # after right-top y=100 (y-major order)
    r = extract_document("d", SPREAD_DOC)
    texts = [t for _k, t, _r, _o in tuples(r)]
    assert texts.index("right top") < texts.index("straddle", 2)


def test_oracle_non_sheet_docs_unchanged():
    # without sw/sh attrs, page numbers pass through untouched (no
    # renumbering of gappy page sequences)
    r = extract_document("d", [
        span("text;page=5;y=10;x=10;size=10", "five"),
        span("text;page=2;y=10;x=10;size=10", "two"),
    ])
    assert [t for _k, t, _r, _o in tuples(r)] == ["two", "five"]


def test_oracle_media_dedup_before_remap():
    # a straddling image dedups at sheet level FIRST (one input span), then
    # the remap duplicates the survivor onto both halves with per-page refs
    r = extract_document("d", [
        span("image;page=1;sw=1200;sh=800;y=10;x=550;w=100;edpi=250;phash=aa"),
        # same phash later on the sheet -> dropped pre-remap
        span("image;page=1;sw=1200;sh=800;y=400;x=100;w=10;edpi=250;phash=aa"),
    ])
    refs = [ref for _k, _t, ref, _o in tuples(r)]
    assert refs == ["d/p1/img0", "d/p2/img0"]


def test_oracle_full_spread_image_blocks_split():
    # L2: image covering >=75% width and >=50% height of a spread sheet ->
    # the sheet is NOT split; next sheet's physical page shifts accordingly
    r = extract_document("d", [
        span("image;page=1;sw=1200;sh=800;y=0;x=100;w=1000;h=500;"
             "edpi=250;phash=aa"),
        span("text;page=1;sw=1200;sh=800;y=600;x=700;w=50;size=10", "right"),
        span("text;page=2;sw=600;sh=800;y=10;x=10;size=10", "next"),
    ])
    got = tuples(r)
    # unsplit sheet 1 -> physical page 1 (image + text, x untranslated);
    # sheet 2 -> physical page 2
    assert [t or ref for _k, t, ref, _o in got] == [
        "d/p1/img0", "right", "next"]


def test_oracle_small_image_does_not_block_split():
    r = extract_document("d", [
        span("image;page=1;sw=1200;sh=800;y=0;x=100;w=200;h=100;"
             "edpi=250;phash=aa"),
        span("text;page=1;sw=1200;sh=800;y=600;x=700;w=50;size=10", "right"),
    ])
    refs = [(k, ref) for k, _t, ref, _o in tuples(r)]
    # split happens: image on physical p1, right-half text on physical p2
    assert refs == [("image", "d/p1/img0"), ("text", "")]


_CORPUS = [
    SPREAD_DOC,
    # L2 full-spread image doc (no split) + a split spread after it
    [span("image;page=1;sw=1200;sh=800;y=0;x=100;w=950;h=420;"
          "edpi=250;phash=ff"),
     span("text;page=1;sw=1200;sh=800;y=700;x=900;w=10;size=10", "kept"),
     span("text;page=2;sw=1300;sh=800;y=10;x=700;w=10;size=10", "rhalf")],
    # mixed: spread + single + no-dims doc in one corpus
    [span("title;page=1;sw=900;sh=600;y=10;x=30;size=18", "Spread Title"),
     span("text;page=1;sw=900;sh=600;y=50;x=500;w=100;size=10", "mid strad"),
     span("text;page=2;sw=400;sh=600;y=20;x=10;size=10", "after")],
    [span("text;page=9;y=1;x=1;size=10", "plain doc")],
    # spread where EVERYTHING clips out -> completed_empty
    [span("text;page=1;sw=1000;sh=500;y=600;x=100;w=10;size=10", "below")],
]


def _assert_equal(spark, runner):
    docs = [{"doc_id": f"sp-{i:02d}", "spans": spans}
            for i, spans in enumerate(_CORPUS)]
    got = {r["doc_id"]: r
           for r in runner(corpus_to_spark_df(spark, docs)).collect()}
    for d in docs:
        want = extract_document(d["doc_id"], d["spans"])
        g = [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in got[d["doc_id"]]["spans"]]
        w = [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in want["spans"]]
        assert g == w, (d["doc_id"], g, w)
        assert got[d["doc_id"]]["status"] == want["status"], d["doc_id"]


def test_engine_equals_oracle_normal_path(spark):
    _assert_equal(spark, lambda df: run_extract(df, 4))


def test_engine_equals_oracle_skew_path(spark):
    # threshold=1: every multi-span doc is salted, one page bucket per span
    _assert_equal(spark,
                  lambda df: run_extract_skewed(df, skew_threshold=1))
