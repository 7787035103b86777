"""Property-based span-equality fuzzing (SURVEY.md §5.2.3).

Hypothesis generates adversarial documents straight against the kind
grammar — arbitrary attr mixes and orders, degenerate geometry, unicode
text, empty/None fields — and asserts the Spark kernel's output span
sequence equals the pure-Python oracle's exactly.

Strategy note: Spark round-trips are expensive, so hypothesis generates
whole CORPORA (lists of documents) and we run one Spark job per corpus
example, with a reduced example budget.
"""

from __future__ import annotations

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis unavailable", allow_module_level=True)

from mivaa_pdf_extractor_spark.operators.extract import run_extract
from mivaa_pdf_extractor_spark.operators.skew import run_extract_skewed
from mivaa_pdf_extractor_spark.oracle import extract_document
from mivaa_pdf_extractor_spark.sources.synthetic import corpus_to_spark_df

_BASES = ["text", "title", "caption", "image", "figure", "table_cell",
          "code", "list", "header", "footer", "page_number", "weird",
          "", "page=2", "size=18"]

_ATTR_KEYS = ["page", "y", "x", "size", "mono", "col", "edpi", "phash",
              "w", "h", "sw", "sh"]

# adversarial attr values straight at the grammar: float-valued int keys
# (round 1's fuzz failure), scientific notation, prefix-parseable garbage,
# Python-float-lenient-but-not-grammar forms, sign/underscore/overflow
_NASTY_NUMERICS = ["1.0", "2.7", "250.0", "1e3", "1E-2", "1.2.3", ".", "1.",
                   ".5", "+1", "-0", "007", "inf", "nan", "1_0", "", " 1",
                   "9999999999", "1e999", "7\n"]


@st.composite
def _kind(draw):
    base = draw(st.sampled_from(_BASES))
    n_attrs = draw(st.integers(0, 5))
    parts = [base]
    for _ in range(n_attrs):
        k = draw(st.sampled_from(_ATTR_KEYS))
        if k == "phash":
            v = draw(st.sampled_from(["", "abcd1234", "ffff0000", ";bad"]))
        else:
            v = draw(st.one_of(
                st.integers(-5, 3000).map(str),
                st.floats(0, 2000, allow_nan=False).map(
                    lambda f: str(round(f, 2))),
                st.sampled_from(_NASTY_NUMERICS)))
        parts.append(f"{k}={v}")
    return ";".join(parts)


_text = st.one_of(
    st.just(""),
    st.none(),  # schema-nullable text must behave like ""
    st.text(min_size=0, max_size=40),
    st.sampled_from(["/nine.LP x", "a  b\n\n\n\nc", "• item one",
                     "1. numbered", "| a | b |", "word " * 30]),
)

_span = st.fixed_dictionaries({
    "kind": _kind(),
    "text": _text,
    "media_ref": st.sampled_from(["", "keep-me", None]),
    "offset": st.just(0),
})

_doc = st.lists(_span, min_size=0, max_size=25)

_corpus = st.lists(_doc, min_size=1, max_size=8)


def _assert_corpus_equal(spark, corpus, runner):
    docs = [{"doc_id": f"fz-{i:03d}", "spans": spans}
            for i, spans in enumerate(corpus)]
    got = {r["doc_id"]: r
           for r in runner(corpus_to_spark_df(spark, docs)).collect()}
    for d in docs:
        want = extract_document(d["doc_id"], d["spans"])
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in got[d["doc_id"]]["spans"]]
        want_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in want["spans"]]
        assert got_spans == want_spans, d["doc_id"]
        assert got[d["doc_id"]]["status"] == want["status"], d["doc_id"]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(corpus=_corpus)
def test_fuzzed_span_equality(spark, corpus):
    _assert_corpus_equal(spark, corpus, lambda df: run_extract(df, 4))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(corpus=_corpus, threshold=st.sampled_from([1, 3]))
def test_fuzzed_span_equality_skew_path(spark, corpus, threshold):
    """The salted per-page-bucket plan must speak the SAME attr grammar
    (round 1's unsigned regexes diverged on negative numerics here): a
    threshold of 1 or 3 spans routes nearly every fuzzed doc through the
    skew path, split into page buckets of at most threshold spans unless
    one page is larger."""
    _assert_corpus_equal(
        spark, corpus,
        lambda df: run_extract_skewed(df, skew_threshold=threshold))
