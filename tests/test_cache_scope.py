"""Persist-registry scoping (ADVICE r3): releasing one job's cached
intermediates must not unpersist a concurrent job's."""

from mivaa_pdf_extractor_spark.core.cache import (cache_scope,
                                                  release_cached, track)


def test_scope_releases_only_its_own(spark):
    release_cached()  # drain frames other suites' operators tracked
    # NB: plans must differ semantically (not just by alias) — Spark's
    # cache manager canonicalizes away renames and would share one entry
    a = spark.range(10).selectExpr("id as x")
    b = spark.range(11).selectExpr("id as y")
    track(a)  # global registry (no scope open)
    with cache_scope():
        track(b)
        assert b.storageLevel.useMemory
        assert a.storageLevel.useMemory
    # scope exit released b, left the globally-tracked a alone
    assert not b.storageLevel.useMemory
    assert a.storageLevel.useMemory
    assert release_cached() == 1
    assert not a.storageLevel.useMemory


def test_nested_scopes(spark):
    release_cached()
    outer = spark.range(5).selectExpr("id as o")
    inner = spark.range(6).selectExpr("id as i")
    with cache_scope():
        track(outer)
        with cache_scope():
            track(inner)
        assert not inner.storageLevel.useMemory
        assert outer.storageLevel.useMemory
    assert not outer.storageLevel.useMemory
    assert release_cached() == 0  # nothing leaked to the global registry


def test_run_pipeline_leaves_no_cached_frames(spark, tmp_path):
    """run_pipeline releases what its operators persisted (the skew
    path's giant subset): Spark's CacheManager is empty on return."""
    from mivaa_pdf_extractor_spark.plans.pipeline import run_pipeline
    from mivaa_pdf_extractor_spark.sources.synthetic import (
        corpus_to_spark_df, gen_corpus)
    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    release_cached()
    spark.catalog.clearCache()
    docs = corpus_to_spark_df(spark, gen_corpus(20, seed=3, giants=1))
    run_pipeline(spark, docs, Catalog(spark, str(tmp_path / "wh")))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
