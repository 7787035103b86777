"""The giant probe runs before the salted plan is built: a batch with no
document above ``skew_threshold`` gets the kernel plan alone, and one
eager job answers whether any giant exists. With a giant, one more eager
job collects its context, and no kernel rule runs natively."""

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


def _build_in_group(spark, df, group):
    """``run_extract_skewed(df)`` at the default threshold, with the jobs
    it starts while building the plan tagged by ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "skew plan build")
    try:
        return run_extract_skewed(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _plan_nodes(df):
    return set(re.findall(r"\b(FlatMapGroupsInArrow|Union)\b",
                          df._jdf.queryExecution().optimizedPlan().toString()))


@pytest.mark.spark
def test_no_giant_batch_runs_kernel_plan_alone(spark, tmp_path):
    docs = gen_corpus(60, seed=5, giants=0)
    assert max(len(d["spans"]) for d in docs) <= C.DEFAULT_SKEW_THRESHOLD
    src = str(tmp_path / "docs")
    corpus_to_spark_df(spark, docs).write.parquet(src)

    out = _build_in_group(spark, spark.read.parquet(src), "no-giant")
    assert len(spark.sparkContext.statusTracker()
               .getJobIdsForGroup("no-giant")) <= 1
    assert _plan_nodes(out) == set()
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(rows) == len(docs)
    assert_equal(docs, rows)

    # one healthy document of T+1 spans brings the salted path back
    giant = {"doc_id": "giant-t1", "spans": [
        _span(make_kind("text", page=1 + i // 40, y=40 + i % 40, x=50),
              f"w{i}") for i in range(C.DEFAULT_SKEW_THRESHOLD + 1)]}
    src2 = str(tmp_path / "docs_giant")
    corpus_to_spark_df(spark, docs + [giant]).write.parquet(src2)
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
    assert len(spark.sparkContext.statusTracker()
               .getJobIdsForGroup("giants")) <= 2
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bWindow\b", plan)) == 1
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert_equal(docs, rows)
