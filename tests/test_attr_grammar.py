"""Regression tests for the shared kind-attr grammar (round-1 fuzz findings).

Round 1's judge minimized a real engine/oracle divergence: int-keyed attrs
with float values (``mono=1.0``) parsed differently in ``core/kinds.py``
(int() raised -> default) vs the Arrow kernel (regex ``-?[0-9.]+`` -> float
-> int). Round 2 unifies ALL paths on one anchored grammar
(core/kinds.py INT_ATTR_PATTERN / FLOAT_ATTR_PATTERN): a value is accepted
only if the whole ``;``-segment matches, else the default applies. These
tests pin the judge's minimized examples plus the ADVICE.md edge cases
(``y=1e3``, ``y=1.2.3``, ``y=.``), across the oracle, the normal Arrow
kernel, AND the skew path (which round 1 parsed with unsigned regexes).
"""

from __future__ import annotations

import pytest

from mivaa_pdf_extractor_spark.core.kinds import parse_kind
from mivaa_pdf_extractor_spark.operators.extract import run_extract
from mivaa_pdf_extractor_spark.operators.skew import run_extract_skewed
from mivaa_pdf_extractor_spark.oracle import extract_document
from mivaa_pdf_extractor_spark.sources.synthetic import corpus_to_spark_df


# --- scalar grammar pins (judge-minimized + ADVICE cases) -------------------

@pytest.mark.parametrize("kind,attr,expected", [
    ("list;mono=1.0", "mono", 0),        # the round-1 fuzz failure: int key,
    ("list;mono=1", "mono", 1),          # float value -> default, not 1
    ("text;page=2.7", "page", 1),        # int key keeps default on floats
    ("image;edpi=250.0", "edpi", 0),
    ("image;edpi=250", "edpi", 250),
    ("image;edpi=-1", "edpi", -1),       # signed ints parse (skew-path bug)
    ("text;y=1e3", "y", 1000.0),         # scientific notation parses fully
    ("text;y=1.2.3", "y", 0.0),          # no prefix parse of garbage
    ("text;y=.", "y", 0.0),              # ArrowInvalid crasher in round 1
    ("text;y=1.", "y", 0.0),             # trailing dot: not in the grammar
    ("text;y=+1", "y", 0.0),             # explicit plus: not in the grammar
    ("text;y=inf", "y", 0.0),
    ("text;y=1_0", "y", 0.0),
    ("text;y=-12.5", "y", -12.5),
    ("text;y=1;y=2", "y", 1.0),          # first valid occurrence wins
    ("text;y=bad;y=2", "y", 2.0),        # invalid first -> later valid wins
    ("page=2", "page", 1),               # segment 0 is the base, never an attr
    (";page=3", "page", 3),              # empty base, attr after it
    ("text;page=3\n", "page", 1),        # a trailing newline is no digit
])
def test_parse_kind_numeric_grammar(kind, attr, expected):
    assert getattr(parse_kind(kind), attr) == expected


def test_parse_kind_phash_first_wins():
    assert parse_kind("image;phash=a;phash=b").phash == "a"
    assert parse_kind("image;phash=;phash=b").phash == ""


# --- engine == oracle on the grammar-edge corpus, both physical paths -------

_EDGE_DOCS = [
    # the judge's minimized repro: mono=1.0 must classify as list, not code
    [{"kind": "list;mono=1.0", "text": "", "media_ref": "", "offset": 0}],
    # int-keyed floats keep defaults everywhere
    [{"kind": "text;page=2.7;y=10", "text": "pg", "media_ref": "", "offset": 0},
     {"kind": "text;page=2;y=5", "text": "p2", "media_ref": "", "offset": 0}],
    # signed edpi: NOT low-DPI (round 1's skew path read -1 as 1 -> gate flip)
    [{"kind": "image;page=1;y=1;x=1;edpi=-1;phash=aa", "text": "",
      "media_ref": "", "offset": 0},
     {"kind": "image;page=1;y=2;x=1;edpi=300;phash=bb", "text": "",
      "media_ref": "", "offset": 0}],
    # edpi=250.0 -> default 0 -> no low-DPI gate either
    [{"kind": "image;page=1;y=1;x=1;edpi=72.0;phash=aa", "text": "",
      "media_ref": "", "offset": 0}],
    # scientific/garbage/duplicate values in sort keys
    [{"kind": "text;y=1e3", "text": "far down", "media_ref": "", "offset": 0},
     {"kind": "text;y=1.2.3", "text": "default y", "media_ref": "", "offset": 0},
     {"kind": "text;y=.", "text": "dot", "media_ref": "", "offset": 0},
     {"kind": "text;y=5;y=900", "text": "first wins", "media_ref": "", "offset": 0}],
    # duplicate phash attrs + negative coordinates
    [{"kind": "image;page=1;y=-5;x=-3;edpi=200;phash=a;phash=b", "text": "",
      "media_ref": "", "offset": 0},
     {"kind": "image;page=1;y=1;x=1;edpi=200;phash=a", "text": "",
      "media_ref": "", "offset": 0}],
    # negative size in the heading histogram
    [{"kind": "text;y=1;size=-4", "text": "neg", "media_ref": "", "offset": 0},
     {"kind": "text;y=2;size=-4", "text": "neg2", "media_ref": "", "offset": 0},
     {"kind": "text;y=3;size=10", "text": "big", "media_ref": "", "offset": 0}],
    # bases that look like attributes: segment 0 is always the base, so
    # "page=2", "y=5" and "size=18" stay on page 1 at y 0 with the default
    # size; an empty base still carries its attrs, and a phash value may
    # contain '='
    [{"kind": "text;y=30", "text": "alpha", "media_ref": "", "offset": 0},
     {"kind": "page=2", "text": "beta", "media_ref": "", "offset": 0},
     {"kind": "text;y=20", "text": "gamma", "media_ref": "", "offset": 0},
     {"kind": "y=5", "text": "delta", "media_ref": "", "offset": 0},
     {"kind": "size=18", "text": "epsilon", "media_ref": "", "offset": 0},
     {"kind": "text;y=40;size=18", "text": "big", "media_ref": "",
      "offset": 0},
     {"kind": ";page=3", "text": "zeta", "media_ref": "", "offset": 0},
     {"kind": "image;y=50;phash=a=b", "text": "", "media_ref": "",
      "offset": 0},
     {"kind": "image;y=60;phash=a=b", "text": "", "media_ref": "",
      "offset": 0},
     {"kind": "image;y=70;phash=a", "text": "", "media_ref": "",
      "offset": 0}],
    # a value with a trailing newline keeps the default on every path,
    # though Java's `$` (the salted path's regex dialect) also matches
    # before a final newline
    [{"kind": "text;page=2", "text": "a", "media_ref": "", "offset": 0},
     {"kind": "text;page=3\n", "text": "b", "media_ref": "", "offset": 0},
     {"kind": "text", "text": "c", "media_ref": "", "offset": 0}],
    # list-marker whitespace class: \x1f is whitespace to Python re's \s
    # but not to RE2 — the explicit class in LIST_MARKER_REGEX must make
    # both classify "*\x1f" as TEXT (fuzz-found divergence, round 2)
    [{"kind": "text", "text": "*\x1f", "media_ref": "", "offset": 0},
     {"kind": "text", "text": "* real list item", "media_ref": "",
      "offset": 0},
     {"kind": "text", "text": "* nbsp", "media_ref": "", "offset": 0}],
]


def _assert_matches_oracle(spark, runner):
    docs = [{"doc_id": f"edge-{i:02d}", "spans": spans}
            for i, spans in enumerate(_EDGE_DOCS)]
    got = {r["doc_id"]: r
           for r in runner(corpus_to_spark_df(spark, docs)).collect()}
    for d in docs:
        want = extract_document(d["doc_id"], d["spans"])
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in got[d["doc_id"]]["spans"]]
        want_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in want["spans"]]
        assert got_spans == want_spans, (d["doc_id"], got_spans, want_spans)
        assert got[d["doc_id"]]["status"] == want["status"], d["doc_id"]


def test_grammar_edges_normal_path(spark):
    _assert_matches_oracle(spark, lambda df: run_extract(df, 4))


def test_grammar_edges_skew_path(spark):
    # threshold=1 sends every doc of 2+ spans through the salted plan, one
    # page bucket per span
    _assert_matches_oracle(
        spark, lambda df: run_extract_skewed(df, skew_threshold=1))
