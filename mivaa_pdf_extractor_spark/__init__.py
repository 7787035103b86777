"""PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the extraction capabilities of
creativeghq/mivaa-pdf-extractor (reference snapshot at /root/reference):
page-layout parsing, reading-order assembly, markdown-structure inference,
table detection, media-span emission with stable media_refs, chunking,
dedup/similarity/text-analysis operators for training-data pipelines, and a
resumable checkpointed pipeline with per-partition lineage.

Architecture: declarative DataFrame plans + an Arrow-vectorized
``mapInArrow`` extraction kernel (giant documents: salted page buckets
run through the same kernel's Arrow stages by ``applyInArrow``); no per-row
Python UDFs anywhere.
"""

__version__ = "0.1.0"
