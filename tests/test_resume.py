"""Checkpoint/resume semantics (SURVEY.md §5.2.4, J1): a partial run followed
by a resumed run produces exactly the single-run result; retryable statuses
are reprocessed; the circuit breaker trips on an all-failed run."""

import pytest

from pyspark.sql import functions as F

from mivaa_pdf_extractor_spark.plans.pipeline import (CircuitBreakerTripped,
                                                      read_extracted_latest,
                                                      run_pipeline)
from mivaa_pdf_extractor_spark.sources.synthetic import (INPUT_SCHEMA,
                                                          corpus_to_spark_df,
                                                          gen_corpus)
from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

from .conftest import spans_tuples


@pytest.fixture
def corpus():
    return gen_corpus(50, seed=5, giants=1)


def test_partial_then_resume_equals_single_run(spark, tmp_path, corpus):
    full = corpus_to_spark_df(spark, corpus)

    # single-shot reference run
    cat_once = Catalog(spark, str(tmp_path / "once"))
    run_pipeline(spark, full, cat_once, run_id="single")
    expected = {
        r["doc_id"]: (spans_tuples(r["spans"]), r["status"])
        for r in read_extracted_latest(cat_once).collect()
    }

    class ReadLog(Catalog):
        reads: list[str] = []

        def read(self, name, version=None):
            self.reads.append(name)
            return super().read(name, version)

    # partial run (first 30 docs) then resume over the full input
    cat = ReadLog(spark, str(tmp_path / "resumed"))
    part_ids = {d["doc_id"] for d in corpus[:30]}
    part = full.filter(F.col("doc_id").isin(*part_ids))
    r1 = run_pipeline(spark, part, cat, run_id="r1")
    assert r1.docs_processed == 30

    # count_input is opt-in (full-scan metric; safe-at-scale default is off)
    cat.reads.clear()
    r2 = run_pipeline(spark, full, cat, run_id="r2", count_input=True)
    assert r2.docs_skipped == 30          # anti-join skipped completed docs
    assert r2.docs_processed == len(corpus) - 30
    # the sink is the checkpoint: the resume reads `extracted` once (the
    # anti-join side), reads nothing back after writing, and the warehouse
    # holds only the sink and the lineage log
    assert cat.reads == ["extracted"]
    assert sorted(p.name for p in (tmp_path / "resumed").iterdir()) == [
        "extracted", "lineage"]

    got = {
        r["doc_id"]: (spans_tuples(r["spans"]), r["status"])
        for r in read_extracted_latest(cat).collect()
    }
    assert got == expected


def test_retryable_status_is_reprocessed(spark, tmp_path):
    # doc with a NULL kind -> 'failed' (retryable) -> reprocessed on resume
    bad = [("doc-x", [(None, "t", "", 0)])]
    good = [("doc-x", [("text;page=1;y=1;x=1;size=10", "hello", "", 0)])]
    cat = Catalog(spark, str(tmp_path / "retry"))

    df_bad = spark.createDataFrame(bad, schema=INPUT_SCHEMA)
    with pytest.raises(CircuitBreakerTripped):
        run_pipeline(spark, df_bad, cat, run_id="r1")
    # the failed checkpoint row was still written before the breaker check
    df_good = spark.createDataFrame(good, schema=INPUT_SCHEMA)
    r2 = run_pipeline(spark, df_good, cat, run_id="r2")
    assert r2.docs_processed == 1 and r2.failures == 0

    latest = read_extracted_latest(cat).filter(F.col("doc_id") == "doc-x")
    row = latest.collect()[0]
    assert row["status"] == "completed"
    assert spans_tuples(row["spans"]) == [("text", "hello", "", 0, 1)]


def test_catalog_upsert(spark, tmp_path):
    """S5/S6/J7 upsert shape: second write with overlapping keys replaces
    matched rows and inserts new ones (parquet fallback mirrors what
    Iceberg MERGE INTO does; the MERGE statement itself is shape-pinned)."""
    from mivaa_pdf_extractor_spark.sources.tables_io import (Catalog,
                                                             merge_into_sql)

    assert merge_into_sql("local.db.extracted", "doc_id") == (
        "MERGE INTO local.db.extracted t USING __updates s "
        "ON t.doc_id = s.doc_id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *")

    cat = Catalog(spark, str(tmp_path / "upsert"))
    df1 = spark.createDataFrame([("a", 1), ("b", 1)], "doc_id string, v int")
    cat.upsert(df1, "t")
    df2 = spark.createDataFrame([("b", 2), ("c", 2)], "doc_id string, v int")
    cat.upsert(df2, "t")
    got = {(r["doc_id"], r["v"]) for r in cat.read("t").collect()}
    assert got == {("a", 1), ("b", 2), ("c", 2)}

    # bucketed-manifest mechanics: the second upsert rewrote ONLY the
    # buckets 'b' and 'c' hash into — any bucket holding only 'a' still
    # points at its generation-1 dir (no full-table rewrite, round-3
    # verdict item 2), and the manifest swap is atomic (os.replace)
    import json
    import os
    root = str(tmp_path / "upsert" / "t")
    with open(os.path.join(root, "_MANIFEST")) as f:
        m = json.load(f)
    assert m["version"] == 2
    from pyspark.sql import functions as F
    bucket_of = {r["doc_id"]: r["b"] for r in spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "doc_id string").select(
        "doc_id", F.pmod(F.hash("doc_id"), F.lit(cat.num_buckets))
        .alias("b")).collect()}
    if bucket_of["a"] not in {bucket_of["b"], bucket_of["c"]}:
        assert m["buckets"][str(bucket_of["a"])] == [f"b{bucket_of['a']}_g1"]
    assert m["buckets"][str(bucket_of["b"])][0].endswith("_g2")
    df3 = spark.createDataFrame([("d", 3)], "doc_id string, v int")
    cat.upsert(df3, "t")
    assert len({r["doc_id"] for r in cat.read("t").collect()}) == 4
    # GC: dirs referenced by NO retained generation are gone. Retained =
    # current + previous + the last `snapshot_retention` time-travel
    # snapshots (_MANIFEST.v<N>, round 5) — their dirs stay pinned so
    # read(name, version=N) keeps working.
    live = set()
    for fn in os.listdir(root):
        if fn == "_MANIFEST" or fn == "_MANIFEST.prev" \
                or (fn.startswith("_MANIFEST.v")
                    and not fn.endswith(".tmp")):
            with open(os.path.join(root, fn)) as f:
                live |= {d for dl in json.load(f)["buckets"].values()
                         for d in dl}
    on_disk = {d for d in os.listdir(root)
               if d.startswith("b") and os.path.isdir(os.path.join(root, d))}
    assert on_disk == live
    # and the oldest retained snapshot still reads coherently
    assert {r["doc_id"] for r in
            cat.read("t", version=1).collect()} == {"a", "b"}


def test_catalog_touched_bucket_rewrite_cost(spark, tmp_path):
    """Round-3 verdict item 2: an incremental upsert must rewrite only the
    buckets the update keys fall in — O(update), not O(table)."""
    import json
    import os

    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "buckets"), num_buckets=8)
    base = spark.createDataFrame(
        [(f"doc-{i}", i) for i in range(200)], "doc_id string, v int")
    cat.upsert(base, "t")
    root = str(tmp_path / "buckets" / "t")
    with open(os.path.join(root, "_MANIFEST")) as f:
        m1 = json.load(f)
    # all 8 buckets populated at generation 1
    assert len(m1["buckets"]) == 8

    upd = spark.createDataFrame([("doc-7", 999)], "doc_id string, v int")
    cat.upsert(upd, "t")
    with open(os.path.join(root, "_MANIFEST")) as f:
        m2 = json.load(f)
    changed = [b for b in m2["buckets"] if m2["buckets"][b] != m1["buckets"][b]]
    assert len(changed) == 1  # exactly one bucket rewritten
    got = {r["doc_id"]: r["v"] for r in cat.read("t").collect()}
    assert got["doc-7"] == 999 and got["doc-0"] == 0 and len(got) == 200


def test_catalog_legacy_migration_and_schema_evolution(spark, tmp_path):
    """ADVICE r3: upserting a WIDER schema into a manifest table evolves
    it — old rows surface null for the new column, and the manifest
    records the widened schema."""
    import json
    import os

    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    wh = str(tmp_path / "evolve")
    cat = Catalog(spark, wh)
    cat.upsert(spark.createDataFrame([("a", 1), ("b", 1)],
                                     "doc_id string, v int"), "t")
    wider = spark.createDataFrame([("b", 2, "x"), ("c", 2, "y")],
                                  "doc_id string, v int, extra string")
    cat.upsert(wider, "t")
    got = {r["doc_id"]: (r["v"], r["extra"]) for r in cat.read("t").collect()}
    assert got == {"a": (1, None), "b": (2, "x"), "c": (2, "y")}
    with open(os.path.join(wh, "t", "_MANIFEST")) as f:
        schema = json.loads(json.load(f)["schema"])
    assert [fld["name"] for fld in schema["fields"]] == ["doc_id", "v",
                                                         "extra"]


def test_replace_namespace_explicit_delete_keys(spark, tmp_path):
    """ADVICE r3 (medium): a doc re-indexed to ZERO chunks must shed its
    stale namespace rows when the caller passes the delete key-set."""
    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "ns"))
    chunks1 = spark.createDataFrame(
        [("a", 0, "a0"), ("a", 1, "a1"), ("b", 0, "b0")],
        "doc_id string, chunk_index int, content string")
    cat.replace_namespace(chunks1, "chunks")
    # re-index both docs; 'a' now yields no chunks at all
    chunks2 = spark.createDataFrame([("b", 0, "b0-new")],
                                    "doc_id string, chunk_index int, "
                                    "content string")
    keys = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    cat.replace_namespace(chunks2, "chunks", delete_keys=keys)
    got = {(r["doc_id"], r["chunk_index"]): r["content"]
           for r in cat.read("chunks").collect()}
    assert got == {("b", 0): "b0-new"}  # 'a' fully gone, no stale tail


def test_oversize_gate(spark, tmp_path):
    """S1 size gate (pdf_processor.py:223): docs over the byte cap get the
    terminal 'oversize' status, never enter extraction, and are NOT retried
    on resume."""
    docs = [
        ("small", [("text;page=1;y=1;x=1;size=10", "hello", "", 0)]),
        ("big", [("text;page=1;y=1;x=1;size=10", "x" * 500, "", 0)]),
    ]
    cat = Catalog(spark, str(tmp_path / "oversize"))
    df = spark.createDataFrame(docs, schema=INPUT_SCHEMA)
    r1 = run_pipeline(spark, df, cat, run_id="r1", max_doc_bytes=100)
    assert r1.docs_processed == 2 and r1.failures == 0
    rows = {r["doc_id"]: r for r in read_extracted_latest(cat).collect()}
    assert rows["small"]["status"] == "completed"
    assert rows["big"]["status"] == "oversize"
    assert rows["big"]["spans"] == [] and rows["big"]["n_spans"] == 0
    # terminal: resume skips it (no reprocessing of oversize docs)
    r2 = run_pipeline(spark, df, cat, run_id="r2", max_doc_bytes=100,
                      count_input=True)
    assert r2.docs_skipped == 2 and r2.docs_processed == 0


def test_lineage_is_consistent(spark, tmp_path, corpus):
    cat = Catalog(spark, str(tmp_path / "lineage"))
    res = run_pipeline(spark, corpus_to_spark_df(spark, corpus), cat,
                       run_id="lin")
    lineage = cat.read("lineage").filter(F.col("run_id") == "lin")
    agg = lineage.agg(F.sum("docs").alias("docs"),
                      F.sum("spans").alias("spans")).collect()[0]
    assert int(agg["docs"]) == res.docs_processed == len(corpus)
    ext = cat.read("extracted").filter(F.col("run_id") == "lin")
    assert int(agg["spans"]) == ext.agg(F.sum("n_spans")).collect()[0][0]


def test_catalog_compact_appends(spark, tmp_path):
    """Blind appends grow bucket dir-lists; compact() rewrites only the
    oversize buckets down to one dir each, preserving all rows."""
    import json
    import os

    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "cmp"), num_buckets=4)
    for gen in range(3):
        df = spark.createDataFrame(
            [(f"d{gen}-{i}", gen) for i in range(40)],
            "doc_id string, v int")
        cat.append(df, "t")
    root = str(tmp_path / "cmp" / "t")
    with open(os.path.join(root, "_MANIFEST")) as f:
        m = json.load(f)
    assert any(len(dl) > 1 for dl in m["buckets"].values())
    n = cat.compact("t")
    assert n > 0
    with open(os.path.join(root, "_MANIFEST")) as f:
        m2 = json.load(f)
    assert all(len(dl) <= 1 for dl in m2["buckets"].values())
    assert cat.read("t").count() == 120  # nothing lost
    assert cat.compact("t") == 0  # idempotent


def test_catalog_num_buckets_mismatch_is_safe(spark, tmp_path):
    """A Catalog constructed with a different num_buckets than the
    table's manifest must keep using the TABLE's bucketing — otherwise a
    pruned upsert reads the wrong buckets and duplicates keys."""
    import json
    import os

    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    wh = str(tmp_path / "nb")
    cat8 = Catalog(spark, wh, num_buckets=8)
    cat8.upsert(spark.createDataFrame(
        [(f"d{i}", 1) for i in range(50)], "doc_id string, v int"), "t")

    cat16 = Catalog(spark, wh, num_buckets=16)  # different instance config
    cat16.upsert(spark.createDataFrame(
        [("d7", 2), ("dX", 2)], "doc_id string, v int"), "t")
    got = {r["doc_id"]: r["v"] for r in cat16.read("t").collect()}
    assert got["d7"] == 2 and got["dX"] == 2 and len(got) == 51
    with open(os.path.join(wh, "t", "_MANIFEST")) as f:
        m = json.load(f)
    assert m["num_buckets"] == 8  # table keeps its established bucketing
    assert max(int(b) for b in m["buckets"]) < 8


def test_catalog_orphan_dirs_are_gcd_and_reads_unaffected(spark, tmp_path):
    """Crash between bucket staging and the manifest swap leaves orphan
    b*-dirs: readers never see them (reads go through the manifest), and
    the next successful swap garbage-collects them."""
    import os

    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "crash"), num_buckets=4)
    df = spark.createDataFrame([("a", 1), ("b", 1)], "doc_id string, v int")
    cat.upsert(df, "t")
    root = str(tmp_path / "crash" / "t")
    # simulate a crashed writer: orphan bucket dir with bogus data
    orphan = os.path.join(root, "b0_g99")
    spark.createDataFrame([("zzz", 99)], "doc_id string, v int") \
        .write.parquet(orphan)
    got = {r["doc_id"] for r in cat.read("t").collect()}
    assert got == {"a", "b"}  # orphan invisible to readers
    cat.upsert(spark.createDataFrame([("c", 2)], "doc_id string, v int"),
               "t")
    assert not os.path.isdir(orphan)  # GC'd by the next swap
    assert {r["doc_id"] for r in cat.read("t").collect()} == {"a", "b", "c"}


def test_catalog_model_random_ops(spark, tmp_path):
    """Model check: a random interleaving of upsert / append / namespace
    replace / compact must leave the bucketed table equal to a plain
    dict model (upsert: key->row; append: multiset add; replace: clear
    namespace then add)."""
    import random

    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    rng = random.Random(4242)
    cat = Catalog(spark, str(tmp_path / "model"), num_buckets=4)
    model: dict[str, list[int]] = {}

    def df_of(rows):
        return spark.createDataFrame(rows, "doc_id string, v int")

    for step in range(12):
        op = rng.choice(["upsert", "append", "replace", "compact"])
        keys = [f"k{rng.randrange(8)}" for _ in range(rng.randrange(1, 4))]
        rows = [(k, step) for k in set(keys)]
        if op == "upsert":
            cat.upsert(df_of(rows), "t")
            for k, v in rows:
                model[k] = [v]
        elif op == "append":
            cat.append(df_of(rows), "t")
            for k, v in rows:
                model.setdefault(k, []).append(v)
        elif op == "replace":
            # one key may legitimately produce zero new rows
            drop = rng.choice(sorted({k for k, _ in rows}))
            kept_rows = [(k, v) for k, v in rows if k != drop]
            cat.replace_namespace(
                df_of(kept_rows) if kept_rows else
                spark.createDataFrame([], "doc_id string, v int"),
                "t", delete_keys=df_of(rows).select("doc_id"))
            for k, _ in rows:
                model.pop(k, None)
            for k, v in kept_rows:
                model[k] = [v]
        else:
            if cat.exists("t"):
                cat.compact("t")
            continue
        got: dict[str, list[int]] = {}
        for r in cat.read("t").collect():
            got.setdefault(r["doc_id"], []).append(r["v"])
        want = {k: sorted(v) for k, v in model.items() if v}
        assert {k: sorted(v) for k, v in got.items()} == want, \
            f"divergence at step {step} after {op}"

def test_catalog_same_gen_orphan_collision(spark, tmp_path):
    """A writer that crashed AFTER renaming its generation's bucket dirs
    into the table root but BEFORE publishing the manifest leaves orphans
    named with the very generation the next writer recomputes. The retry
    must clear them and succeed (os.replace onto a non-empty dir raises
    ENOTEMPTY otherwise, wedging every subsequent write)."""
    import json
    import os

    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "wedge"), num_buckets=4)
    cat.upsert(spark.createDataFrame([("a", 1), ("b", 1)],
                                     "doc_id string, v int"), "t")
    root = str(tmp_path / "wedge" / "t")
    with open(os.path.join(root, "_MANIFEST")) as f:
        gen = json.load(f)["version"]
    # crashed writer's leftovers for the NEXT generation, in every bucket
    for b in range(4):
        spark.createDataFrame([("zz", 9)], "doc_id string, v int") \
            .write.parquet(os.path.join(root, f"b{b}_g{gen + 1}"))
    cat.upsert(spark.createDataFrame([("c", 2)], "doc_id string, v int"),
               "t")
    got = {r["doc_id"]: r["v"] for r in cat.read("t").collect()}
    assert got == {"a": 1, "b": 1, "c": 2}  # no wedge, no phantom "zz"


def test_catalog_legacy_scrub_only_after_manifest_publish(
        spark, tmp_path, monkeypatch):
    """A write whose manifest publish dies must not lose the table: the
    previous generation is still served, and the retry commits."""
    import json
    import os

    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    wh = str(tmp_path / "swapcrash")
    cat = Catalog(spark, wh)
    cat.upsert(spark.createDataFrame([("a", 1), ("b", 1)],
                                     "doc_id string, v int"), "t")

    import pytest

    def dying_swap(name, manifest):
        raise RuntimeError("simulated crash during manifest swap")

    monkeypatch.setattr(cat, "_swap_manifest", dying_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.upsert(spark.createDataFrame([("c", 2)],
                                         "doc_id string, v int"), "t")
    monkeypatch.undo()
    # the previous generation survived the crash and is still served
    assert {r["doc_id"] for r in cat.read("t").collect()} == {"a", "b"}
    # retry commits: rows merged, one generation past the survivor
    cat.upsert(spark.createDataFrame([("c", 2)], "doc_id string, v int"),
               "t")
    got = {r["doc_id"]: r["v"] for r in cat.read("t").collect()}
    assert got == {"a": 1, "b": 1, "c": 2}
    with open(os.path.join(wh, "t", "_MANIFEST")) as f:
        assert json.load(f)["version"] == 2


def test_replace_namespace_delete_keys_missing_df_key(spark, tmp_path):
    """delete_keys that does NOT cover every key in df: rows sharing a
    bucket with the uncovered key must survive (previously the staged
    bucket wholesale-replaced the unread bucket's dir list), and with an
    EMPTY delete_keys the df rows must still be inserted."""
    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "nsmiss"), num_buckets=2)
    base = spark.createDataFrame([(f"k{i}", 0) for i in range(8)],
                                 "doc_id string, v int")
    cat.replace_namespace(base, "t")
    upd = spark.createDataFrame([("k1", 7)], "doc_id string, v int")
    only_k0 = spark.createDataFrame([("k0",)], "doc_id string")
    cat.replace_namespace(upd, "t", delete_keys=only_k0)
    got = {}
    for r in cat.read("t").collect():
        got.setdefault(r["doc_id"], []).append(r["v"])
    # k0 deleted; k1 keeps its old row AND gains the new one (it was not
    # in the delete set); every other key intact
    assert "k0" not in got
    assert sorted(got["k1"]) == [0, 7]
    assert all(got[f"k{i}"] == [0] for i in range(2, 8))

    empty_keys = spark.createDataFrame([], "doc_id string")
    cat.replace_namespace(
        spark.createDataFrame([("k9", 9)], "doc_id string, v int"),
        "t", delete_keys=empty_keys)
    got2 = {r["doc_id"] for r in cat.read("t").collect()}
    assert "k9" in got2  # df not silently discarded on empty delete_keys


def test_catalog_compact_unkeyed_column_order(spark, tmp_path):
    """Unkeyed tables bucket rows by full-row hash in the INCOMING column
    order; compaction re-reads in manifest order, which can move rows to
    buckets outside the compacted set — none may be dropped."""
    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "unkeyed"), num_buckets=4)
    # gen 1 fills every bucket with ONE dir (non-fat) in (a, b) order
    df1 = spark.createDataFrame([(f"e{i}", i) for i in range(40)],
                                "a string, b int")
    cat.append(df1, "log", key="doc_id")  # key absent -> unkeyed
    # gen 2 adds a handful of rows in (b, a) order: only their buckets
    # become fat; at compact time they re-hash in manifest (a, b) order
    # and some land in buckets that were never compacted
    df2 = spark.createDataFrame([(i, f"e{i}") for i in range(100, 108)],
                                "b int, a string")
    cat.append(df2, "log", key="doc_id")
    before = {(r["a"], r["b"]) for r in cat.read("log").collect()}
    assert len(before) == 48
    assert cat.compact("log") > 0
    after = {(r["a"], r["b"]) for r in cat.read("log").collect()}
    assert after == before  # no row lost to bucket movement


def test_merge_preserves_caller_persist(spark, tmp_path):
    """upsert/replace_namespace must not unpersist a frame the CALLER
    cached (the streaming path shares one persisted extraction across two
    sinks)."""
    from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

    cat = Catalog(spark, str(tmp_path / "persist"))
    cat.upsert(spark.createDataFrame([("a", 1)], "doc_id string, v int"),
               "t")
    upd = spark.createDataFrame([("b", 2)], "doc_id string, v int").persist()
    try:
        assert upd.is_cached
        cat.upsert(upd, "t")
        assert upd.is_cached  # caller's cache untouched
    finally:
        upd.unpersist()


def test_connected_components_non_convergence_raises(spark):
    """A component whose diameter exceeds max_iter must raise, not return
    silently wrong labels (dedup_canonical would keep several 'canonical'
    docs from one component)."""
    import pytest

    from mivaa_pdf_extractor_spark.operators.dedup import (
        connected_components)

    chain = spark.createDataFrame(
        [(f"d{i}", f"d{i + 1}") for i in range(6)],
        "id_a string, id_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # and with enough rounds the same chain converges to one component
    labels = {r["id"]: r["comp"]
              for r in connected_components(chain, max_iter=10).collect()}
    assert set(labels.values()) == {"d0"}
