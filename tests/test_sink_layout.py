"""Parquet sink layout: every write clusters its rows by bucket, so each
directory a manifest lists holds exactly one parquet file, whichever
public write made it, while reads keep one row per key with the values
the writes put there."""

import os

import pytest

from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

pytestmark = pytest.mark.spark

NAME = "t"


def _frame(spark, ids, tag):
    """One row per id in ``ids``, spread over at least 8 partitions."""
    df = (spark.createDataFrame([(f"d{i}", f"{tag}{i}") for i in ids],
                                "doc_id string, val string")
          .repartition(10))
    assert df.rdd.getNumPartitions() >= 8
    return df


def _check(cat, expected):
    root = os.path.join(cat.warehouse, NAME)
    dirs = [d for dl in cat._manifest(NAME)["buckets"].values() for d in dl]
    assert dirs
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(root, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    rows = cat.read(NAME).collect()
    assert sorted((r["doc_id"], r["val"]) for r in rows) == \
        sorted(expected.items())


def test_every_bucket_dir_holds_one_file(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"), num_buckets=8)
    expected: dict[str, str] = {}

    def put(ids, tag):
        expected.update({f"d{i}": f"{tag}{i}" for i in ids})
        return _frame(spark, ids, tag)

    # new table, then a pruned merge: half the keys replaced, half new
    cat.upsert(put(range(0, 300), "a"), NAME)
    _check(cat, expected)
    cat.upsert(put(range(150, 450), "b"), NAME)
    _check(cat, expected)

    # blind append of fresh keys: a second dir in most buckets
    cat.append(put(range(450, 600), "c"), NAME)
    assert max(len(dl) for dl in
               cat._manifest(NAME)["buckets"].values()) > 1
    _check(cat, expected)

    # namespace replace with explicit delete keys: 500..599 shed their
    # rows, 0..99 get new ones
    gone = range(500, 600)
    for i in gone:
        del expected[f"d{i}"]
    delete_keys = spark.createDataFrame(
        [(f"d{i}",) for i in [*gone, *range(0, 100)]], "doc_id string")
    cat.replace_namespace(put(range(0, 100), "e"), NAME,
                          delete_keys=delete_keys)
    _check(cat, expected)

    # a later append re-grows the dir lists; compact folds each to one dir
    cat.append(put(range(600, 700), "f"), NAME)
    assert cat.compact(NAME) > 0
    assert all(len(dl) == 1 for dl in cat._manifest(NAME)["buckets"].values())
    _check(cat, expected)

    expected.clear()
    cat.overwrite(put(range(1000, 1200), "g"), NAME)
    _check(cat, expected)
