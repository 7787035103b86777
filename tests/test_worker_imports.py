"""Python workers keep zip archives' directory caches across tasks.

PySpark calls ``importlib.invalidate_caches()`` once per task; importing
the engine inside a worker makes that call leave ``zipimporter``
directories alone (``mivaa_pdf_extractor_spark._keep_zip_directories``)
while plain-directory path finders are still invalidated."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from mivaa_pdf_extractor_spark import _keep_zip_directories


def test_zip_directory_cache_survives_invalidate_caches(tmp_path,
                                                         monkeypatch):
    # restored on teardown: the fix is for workers, not this process
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    archive = str(tmp_path / "zipped.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wfix_zipped.py", "X = 1\n")
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "wfix_plain_a.py").write_text("X = 2\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.syspath_prepend(str(plain))
    for mod in ("wfix_zipped", "wfix_plain_a", "wfix_plain_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)

    assert importlib.import_module("wfix_zipped").X == 1
    assert importlib.import_module("wfix_plain_a").X == 2
    # unpatched, the call re-reads the archive into a new directory dict
    before = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not before

    _keep_zip_directories()
    before = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is before
    # a module written after the directory was listed still imports
    (plain / "wfix_plain_b.py").write_text("X = 3\n")
    importlib.invalidate_caches()
    assert importlib.import_module("wfix_plain_b").X == 3


@pytest.mark.spark
def test_worker_invalidate_caches_is_fast(spark):
    def timed(batches):
        import importlib
        import time

        import mivaa_pdf_extractor_spark  # noqa: F401
        for _ in batches:
            pass
        t = time.perf_counter()
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict(
            {"s": [time.perf_counter() - t]})

    rows = (spark.range(0, 16, numPartitions=16)
            .mapInArrow(timed, "s double").collect())
    assert len(rows) == 16
    # ~0.2 s per call when every cached zipimporter re-reads pyspark.zip
    assert max(r["s"] for r in rows) < 0.05, sorted(r["s"] for r in rows)
