"""PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the extraction capabilities of
creativeghq/mivaa-pdf-extractor (reference snapshot at /root/reference):
page-layout parsing, reading-order assembly, markdown-structure inference,
table detection, media-span emission with stable media_refs, chunking,
dedup/similarity/text-analysis operators for training-data pipelines, and a
resumable checkpointed pipeline with per-partition lineage.

Architecture: declarative DataFrame plans + an Arrow-vectorized
``mapInArrow`` extraction kernel (giant documents: a ``mapInArrow``
splitter cuts them into page buckets that run through the same kernel's
Arrow stages); no per-row Python UDFs anywhere.
"""

import zipimport

from pyspark import TaskContext

__version__ = "0.1.0"


def _keep_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` leave zip archives' cached
    directories alone; path finders over plain directories are still
    invalidated.

    PySpark 4.1's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` once per task, and on Python 3.11
    every cached ``zipimporter`` then re-reads its archive's directory:
    ~0.2 s per task for ``pyspark.zip`` (1,328 entries) and its
    sub-package importers. The archives never change during a worker's
    life, so the re-read buys nothing."""
    zipimport.zipimporter.invalidate_caches = lambda self: None


# inside a Python worker (the engine is imported while a task unpickles
# its UDF) every later task of this reused worker skips the re-read
if TaskContext.get() is not None:
    _keep_zip_directories()
