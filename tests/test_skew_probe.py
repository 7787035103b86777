"""The router's probe runs before the salted plan is built: a batch with no
document above ``skew_threshold`` or ``max_doc_bytes`` gets the kernel plan
alone, and one eager job answers whether any document leaves the kernel,
whether one is a giant and whether one is oversize. With a giant, one more
eager job collects its context, and no kernel rule runs natively. Oversize
documents come from the probed subset, so the source is scanned once
outside it."""

import re

import pytest

from mivaa_pdf_extractor_spark.core import constants as C
from mivaa_pdf_extractor_spark.core.kinds import make_kind
from mivaa_pdf_extractor_spark.operators.skew import run_extract_skewed
from mivaa_pdf_extractor_spark.sources.synthetic import (_span,
                                                          corpus_to_spark_df,
                                                          gen_corpus)

from .test_span_equality import (_dup_media_giant, _sheet_giant,
                                 assert_equal)


def _build_in_group(spark, df, group, **kw):
    """``run_extract_skewed(df, **kw)`` (default threshold and cap), with
    the jobs it starts while building the plan tagged by ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "skew plan build")
    try:
        return run_extract_skewed(df, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _plan_nodes(df):
    return set(re.findall(r"\b(FlatMapGroupsInArrow|Union)\b",
                          df._jdf.queryExecution().optimizedPlan().toString()))


def _job_count(spark, group):
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _giant(doc_id, text=""):
    """A healthy document of T+1 spans: the salted route's."""
    return {"doc_id": doc_id, "spans": [
        _span(make_kind("text", page=1 + i // 40, y=40 + i % 40, x=50),
              f"w{i}" + text) for i in range(C.DEFAULT_SKEW_THRESHOLD + 1)]}


def _cap(docs):
    """The smallest byte cap every document of ``docs`` fits."""
    return max(sum(len(s["text"].encode()) for s in d["spans"]) for d in docs)


@pytest.mark.spark
def test_no_giant_batch_runs_kernel_plan_alone(spark, tmp_path):
    docs = gen_corpus(60, seed=5, giants=0)
    assert max(len(d["spans"]) for d in docs) <= C.DEFAULT_SKEW_THRESHOLD
    src = str(tmp_path / "docs")
    corpus_to_spark_df(spark, docs).write.parquet(src)

    out = _build_in_group(spark, spark.read.parquet(src), "no-giant")
    assert _job_count(spark, "no-giant") <= 1
    assert _plan_nodes(out) == set()
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(rows) == len(docs)
    assert_equal(docs, rows)

    # one healthy document of T+1 spans brings the salted path back
    src2 = str(tmp_path / "docs_giant")
    corpus_to_spark_df(spark, docs + [_giant("giant-t1")]).write.parquet(src2)
    out = _build_in_group(spark, spark.read.parquet(src2), "one-giant")
    assert "FlatMapGroupsInArrow" in _plan_nodes(out)


@pytest.mark.spark
def test_giant_plan_runs_no_native_kernel_rule(spark, tmp_path):
    """Giants with sheets and media duplicates: the plan build starts the
    probe and the context job only, and the offset shift is the plan's
    only Window (no native dedup or sheet-context window)."""
    t = C.DEFAULT_SKEW_THRESHOLD
    docs = gen_corpus(24, seed=5, giants=0) + [_dup_media_giant(t),
                                                _sheet_giant(t)]
    src = str(tmp_path / "docs")
    corpus_to_spark_df(spark, docs).write.parquet(src)

    out = _build_in_group(spark, spark.read.parquet(src), "giants")
    assert _job_count(spark, "giants") <= 2
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bWindow\b", plan)) == 1
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert_equal(docs, rows)


@pytest.mark.spark
def test_oversize_only_batch_builds_with_probe_alone(spark, tmp_path):
    docs = gen_corpus(60, seed=5, giants=0)
    cap = _cap(docs)
    big = {"doc_id": "big", "spans": [
        _span(make_kind("text", page=1, y=40, x=50), "x" * (cap + 1))]}
    src = str(tmp_path / "docs")
    corpus_to_spark_df(spark, docs + [big]).write.parquet(src)

    out = _build_in_group(spark, spark.read.parquet(src), "oversize-only",
                          max_doc_bytes=cap)
    assert _job_count(spark, "oversize-only") <= 1
    assert "FlatMapGroupsInArrow" not in _plan_nodes(out)
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(rows) == len(docs) + 1
    assert rows.pop("big") == {"doc_id": "big", "spans": [], "n_spans": 0,
                               "n_chars": 0, "status": C.STATUS_OVERSIZE}
    assert_equal(docs, rows)


@pytest.mark.spark
def test_gate_wins_over_every_route(spark, tmp_path):
    """An oversize doc, an oversize giant and an oversize NULL-kind doc
    get the terminal ``oversize`` row beside a healthy giant, and the
    multi-file source is read by one scan outside the probed subset."""
    docs = gen_corpus(40, seed=5, giants=0) + [_giant("giant")]
    cap = _cap(docs)
    pad = "x" * (cap + 1)
    oversize = [
        {"doc_id": "big", "spans": [
            _span(make_kind("text", page=1, y=40, x=50), pad)]},
        _giant("big-giant", "y" * (cap // C.DEFAULT_SKEW_THRESHOLD + 1)),
        {"doc_id": "big-failed", "spans": [
            _span(None, "z"),
            _span(make_kind("text", page=1, y=40, x=50), pad)]}]
    src = str(tmp_path / "docs")
    corpus_to_spark_df(spark, docs + oversize).repartition(4) \
        .write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) == 4

    out = _build_in_group(spark, spark.read.parquet(src), "all-routes",
                          max_doc_bytes=cap)
    assert _job_count(spark, "all-routes") <= 2
    assert "FlatMapGroupsInArrow" in _plan_nodes(out)
    leaves = out._jdf.queryExecution().sparkPlan().collectLeaves()
    assert [leaves.apply(i).getClass().getSimpleName()
            for i in range(leaves.size())].count("FileSourceScanExec") == 1
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(rows) == len(docs) + len(oversize)
    for d in oversize:
        r = rows.pop(d["doc_id"])
        assert (r["status"], r["spans"], r["n_spans"], r["n_chars"]) == (
            C.STATUS_OVERSIZE, [], 0, 0), d["doc_id"]
    assert_equal(docs, rows)
