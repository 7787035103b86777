"""Per-document routing: the size gate, the kernel and salted giants.

The reference has no skew handling (SURVEY.md §4: one 200-page catalog just
takes longer). ``run_extract_skewed`` routes each document one of three ways:

- **oversize**: more than ``max_doc_bytes`` of span text (the reference's
  50 MB cap, S1) gets a terminal ``oversize`` row built natively, so it
  never enters a Python worker; the gate wins over both other routes;
- **kernel**: documents with ``size(spans) <= T`` (``skew_threshold``, the
  one size that bounds the spans a task extracts for one document), and
  failed documents (any NULL kind) of any size, run whole through the
  normal ``mapInArrow`` kernel (operators/extract.py), which marks a
  failed one ``failed`` right after flatten;
- **salted**: a larger healthy document is split by page bucket. One
  eager job runs the kernel's own functions over each giant's whole kind
  list: ``parse_attrs``, then its spans per page, its heading levels
  (``heading_levels``, M1), its sheet context (``_sheet_ctx``, L1–L3) and
  the positions of its media duplicates (``mark_media_dups``, I5). The
  driver cuts its pages by the kernel's chunk rule (``cut_runs``) at
  ``n / ceil(n/T)`` spans, so at most T unless one page is larger. Each
  ``(doc_id, bucket)`` group is then a one-document batch for the kernel's
  own stage chain (``run_stages`` through ``applyInArrow``), with the
  giant's context shipped in the closure, and returns one finished row
  with bucket-local offsets. The bucket rows are joined **natively**: a
  window sum of the earlier buckets' characters shifts the offsets, and
  one ``groupBy`` concatenates the span arrays in bucket order (SURVEY.md
  §7.2 step 8's "one subtle shuffle"). No kernel rule has a native copy:
  the only attribute parsed natively is ``page``, the bucket join key.

Work is split only when a document is too big for one task: one 10^6-span
document extracts over at least n/T tasks (only the context job reads all
its kinds in one task, and what it returns is one row per page, heading
size or duplicate) until the final, JVM-side concatenation.

Every document the kernel does not take (oversize or salted) is persisted
once through ``core.cache.track``, released by the caller's
``cache_scope()``, and probed by one eager job before any salted
expression is built: does any document leave the kernel, is one a giant,
is one oversize? The oversize rows come from that persist, so only the
kernel reads the source; a batch with neither runs the kernel plan alone
(no filter, no union: at local[4] on a 6k-doc normal corpus, 0.32 s and
one job to build against 1.04 s and two). The *exploded* span rows are
NOT persisted (see ``_salted_spans``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import (DataFrame, Observation, Window, functions as F,
                         types as T)
from pyspark.sql.pandas.types import from_arrow_schema

from ..core import constants as C
from ..core.cache import track
from ..core.kinds import attr_regex
from .extract import (ATTRS, OUTPUT_SCHEMA, SHEET_CTX_COLS, _flatten_arrow,
                      _sheet_ctx, auto_partition_target, cut_runs,
                      heading_levels, mark_media_dups, parse_attrs,
                      run_extract, run_stages, span_index)

_BUCKET_SCHEMA = T.StructType(
    OUTPUT_SCHEMA.fields + [T.StructField("bucket", T.LongType())])

# salted buckets hold at most skew_threshold spans unless one page is
# larger; perfbench sizes its two-bucket giant against this name
DEFAULT_SPANS_PER_BUCKET = C.DEFAULT_SKEW_THRESHOLD

# The context job's one output table holds four parts. A row belongs to
# the part whose own column it sets (the others are NULL): spans per page
# (cnt), heading levels (level), sheet context (first_phys) and media
# duplicates (pos). doc_idx holds the doc_id.
_CTX_SCHEMA = pa.schema([
    ("doc_idx", pa.string()), ("page", pa.int64()), ("cnt", pa.int64()),
    ("size", pa.float64()), ("level", pa.int64()),
    ("sheet_doc", pa.bool_()), ("is_spread", pa.bool_()),
    ("first_phys", pa.int64()), ("sheet_w", pa.float64()),
    ("sheet_h", pa.float64()), ("pos", pa.int64())])


def _page_hint():
    """Native parse of the ``page`` attr, the bucket join key, by the
    kernel's table row (``ATTRS``): the first value that fully matches the
    pattern in a segment after the base, else the default."""
    _col, key, default, pattern = next(a for a in ATTRS if a[1] == "page")
    v = F.regexp_extract("kind", attr_regex(key, pattern), 1)
    return F.coalesce(F.nullif(v, F.lit("")), F.lit(str(default))).cast("long")


def _doc_context(batches: Iterator[pa.RecordBatch]
                 ) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel over (doc_id, kinds) giant rows: each giant's
    spans per page and its doc-global context, by the kernel's own
    functions over its whole kind list (``_CTX_SCHEMA`` rows)."""
    for b in batches:
        kinds = b.column("kinds")
        doc_idx, pos = span_index(
            kinds.value_lengths().to_numpy(zero_copy_only=False))
        flat = parse_attrs(pd.DataFrame({
            "doc_idx": doc_idx, "pos": pos,
            "kind": kinds.flatten().to_pandas()}))
        ok = ~flat["base"].isin(C.BOILERPLATE_KINDS).to_numpy()
        parts = [flat.groupby(["doc_idx", "page"]).size().rename("cnt")
                 .reset_index(),
                 heading_levels(flat, ok), _sheet_ctx(flat, ok),
                 flat.loc[mark_media_dups(flat, ok), ["doc_idx", "pos"]]]
        doc_ids = np.asarray(b.column("doc_id").to_pylist(), dtype=object)
        # the empty table first fixes every column and its type
        yield from pa.concat_tables([_CTX_SCHEMA.empty_table()] + [
            pa.Table.from_pandas(p.assign(doc_idx=doc_ids[p["doc_idx"]]),
                                 preserve_index=False)
            for p in parts if p is not None and len(p)],
            promote_options="default").to_batches()


def _extract_bucket(table: pa.Table, ctx: tuple) -> pa.Table:
    """applyInArrow kernel: one (doc_id, bucket) group of a giant document,
    run as a one-document batch through the kernel's stage chain.

    ``ctx`` holds every giant's heading levels, sheet context and media
    duplicate positions, keyed by the doc_id in ``doc_idx``. Returns one
    finished output row (offsets local to the bucket) plus its bucket id."""
    batch = table.sort_by("pos").combine_chunks().to_batches()[0]
    doc_id = batch.column("doc_id")[0].as_py()
    if not batch.column("bucket")[0].is_valid:  # see the left join
        raise RuntimeError(f"{doc_id!r}: a page is not in its page table")
    spans = pa.StructArray.from_arrays(
        [batch.column("kind"), batch.column("text"), batch.column("ref")],
        names=["kind", "text", "media_ref"])
    flat, docs = _flatten_arrow(pa.RecordBatch.from_arrays(
        [batch.column("doc_id").slice(0, 1),
         pa.ListArray.from_arrays(pa.array([0, len(spans)], pa.int32()),
                                  spans)],
        names=["doc_id", "spans"]))
    # _flatten_arrow numbers the bucket's spans from 0; the duplicate
    # positions name the giant's own
    flat["pos"] = batch.column("pos").to_numpy().astype(np.int64)

    # a bucket holds whole pages (sheets), so the giant's context applies
    # to it unchanged
    headings, dims, dups = (f[f["doc_idx"] == doc_id].assign(doc_idx=0)
                            for f in ctx)
    out = run_stages(flat, docs, (headings, dims if len(dims) else None,
                                  dups["pos"].to_numpy()))
    return pa.Table.from_batches([out.append_column(
        "bucket", batch.column("bucket").slice(0, 1))])


def _salted_spans(giant: DataFrame, skew_threshold: int
                  ) -> tuple[DataFrame, tuple]:
    """The giants' span rows with their page bucket, and their doc-global
    context (headings, sheet context, duplicate positions) keyed by doc_id:
    the inputs of the per-bucket kernel (see ``_extract_giant``). Runs one
    eager job."""
    # the *exploded* form is NOT persisted: a span-level InMemoryRelation
    # measured 2x slower at 32 threads (cache build + block-manager
    # contention + GC) than re-exploding the cached doc rows
    rows = (
        giant.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .select("doc_id", "pos", "span.kind", "span.text",
                F.col("span.media_ref").alias("ref"))
        .withColumn("page_hint", _page_hint())
    )

    # the giants' page table and context (one row per page, heading size
    # or duplicate, so small), collected. One job over the persisted rows,
    # shipping only the kinds, parallel across their partitions: when it
    # only counted pages, at local[4], eight 100k-span giants counted in
    # 1.34 s (2.68 s natively in one task), one 390k-span giant in 1.50 s
    # (1.13 s)
    t = (giant.select("doc_id", F.col("spans.kind").alias("kinds"))
         .mapInArrow(_doc_context, from_arrow_schema(_CTX_SCHEMA)).toArrow())

    def part(key: str, *cols: str) -> pd.DataFrame:
        return t.filter(pc.is_valid(t[key])).select(
            ["doc_idx", *cols]).to_pandas()

    # buckets: each giant's pages in (reading) order, cut by the kernel's
    # chunk rule at an even share n/ceil(n/T) (whole pages: a small last
    # bucket may follow); built from pandas, its broadcast runs no job
    pages = part("cnt", "page", "cnt").sort_values(["doc_idx", "page"],
                                                   ignore_index=True)
    bucket = []
    for _, n in pages.groupby("doc_idx")["cnt"]:
        share = -(-n.sum() // -(-n.sum() // skew_threshold))
        bucket += [b for b, (i, j, _) in enumerate(cut_runs(n.tolist(), share))
                   for _ in range(i, j)]
    buckets = giant.sparkSession.createDataFrame(pages.drop(columns="cnt")
        .rename(columns={"doc_idx": "doc_id", "page": "page_hint"})
        .assign(bucket=bucket))

    # left: a span off the collected table fails its bucket, not vanishes;
    # page_hint is re-derived by the kernel's own attr parse
    spans = rows.join(F.broadcast(buckets), ["doc_id", "page_hint"], "left")
    return spans.drop("page_hint"), (
        part("level", "size", "level"),
        part("first_phys", "page", *SHEET_CTX_COLS), part("pos", "pos"))


def _extract_giant(giant: DataFrame, skew_threshold: int) -> DataFrame:
    """Per-page-bucket salted extraction of healthy documents above the
    threshold (the bucket rule: see the module doc).

    ``giant`` is the non-empty giant part of the persisted routed subset
    (see ``run_extract_skewed``).

    Only three kinds of work happen here. Each line after the explode is
    one shuffle at most:
      explode -> the driver's page buckets, broadcast-joined (left) on the
                 native ``page`` parse; they and the doc-global context
                 come from one eager job over the giant rows, and the
                 context rides the kernel's closure
              -> one full shuffle into (doc_id, bucket) groups
              -> applyInArrow kernel: one finished row per bucket
              -> window offset shift + groupBy concatenation (same key: one
                 shuffle) over the bucket rows
    The kernel drops boilerplate itself, so every giant keeps at least one
    bucket row and therefore its output row.
    """
    spark = giant.sparkSession
    # explicit repartition on the exact grouping keys: the groupBy reuses
    # this hash partitioning, and the fixed partition count keeps AQE from
    # byte-coalescing the compute-heavy Python stage down to a few tasks.
    # 3x task slots: page buckets are uneven (giants differ in page count),
    # and a single wave of slot-sized tasks lets one straggler extend the
    # whole stage. A partition that holds a bucket pays ~0.06 s of slot
    # time as a Python task before it runs the kernel
    # (scripts/task_overhead.py, local[4])
    n_parts = 3 * spark.sparkContext.defaultParallelism
    spans, ctx = _salted_spans(giant, skew_threshold)
    buckets = (
        spans.repartition(n_parts, "doc_id", "bucket")
        .groupBy("doc_id", "bucket")
        .applyInArrow(lambda t: _extract_bucket(t, ctx),
                      schema=_BUCKET_SCHEMA)
    )

    # ordered concatenation, fully native: each bucket's offsets shift by
    # the characters of the doc's earlier buckets, then the span arrays are
    # flattened in bucket order. The groupBy reuses the window's hash
    # partitioning on doc_id (no extra shuffle).
    w = (Window.partitionBy("doc_id").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, -1))
    shifted = F.transform("spans", lambda s: s.withField(
        "offset", (s["offset"] + F.col("shift")).cast("int")))
    docs = (
        buckets.withColumn("shift", F.coalesce(F.sum("n_chars").over(w),
                                               F.lit(0)))
        .groupBy("doc_id").agg(
            F.flatten(F.array_sort(F.collect_list(F.struct(
                "bucket", shifted.alias("spans"))))["spans"]).alias("spans"),
            F.sum("n_spans").cast("int").alias("n_spans"),
            F.sum("n_chars").alias("n_chars"),
        )
    )
    # status follows the kernel's rule: completed iff any text
    # (n_chars > 0)
    return docs.withColumn(
        "status", F.when(F.col("n_chars") > 0, C.STATUS_COMPLETED)
        .when(F.col("n_spans") > 0, C.STATUS_NO_TEXT)
        .otherwise(C.STATUS_COMPLETED_EMPTY))


def doc_bytes() -> F.Column:
    """Total input span-text bytes per document — the Spark analog of the
    reference's on-disk file size (native fold, no UDF)."""
    return F.aggregate(
        "spans", F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]),
                                        F.lit(0)).cast("long"))


def run_extract_skewed(
    df: DataFrame,
    skew_threshold: int = C.DEFAULT_SKEW_THRESHOLD,
    num_partitions: int | None = None,
    max_doc_bytes: int = C.MAX_DOC_BYTES,
) -> DataFrame:
    """Full extraction plan, one unioned output: each document takes one
    of three routes, oversize, kernel or salted (see the module doc).

    The documents the kernel does not take are persisted and probed with
    one eager job before any salted expression is built (a giant adds the
    context job). With none, the whole input runs the kernel plan alone:
    no filter, no union.

    ``num_partitions`` None probes the raw source once; >0 pins a
    repartition of the kernel's documents (see ``run_extract``)."""
    if skew_threshold < 1:
        raise ValueError(f"skew_threshold must be >= 1, got {skew_threshold}")
    # S1 size gate (pdf_processor.py:223 50 MB cap); NULL spans pass
    oversize = F.coalesce(doc_bytes() > max_doc_bytes, F.lit(False))
    # size() is -1 for NULL arrays, so they stay on the normal path; And
    # short-circuits, so the forall scan only sees documents above T
    salted = ((F.size("spans") > skew_threshold)
              & F.forall("spans", lambda s: s["kind"].isNotNull()))
    if num_partitions is None:
        # probe the RAW source once (one extra plan compile total) instead
        # of letting run_extract probe the filtered subplan per call
        num_partitions = auto_partition_target(df)
    # persist ONLY the tail the kernel does not take (an oversize row
    # keeps no spans): the route filter is not pushable, so each branch
    # would re-scan the FULL corpus. One ordered job (a bare take(1) scans
    # in waves, one job each) fills it, giants first, and observes whether
    # any row is oversize: no row means no tail, an oversize one no giant.
    routed = track(df.filter(oversize | salted).select(
        "doc_id", F.when(~oversize, F.col("spans")).alias("spans"),
        oversize.alias("oversize")))
    seen = Observation()
    first = (routed.observe(seen, F.max("oversize").alias("oversize"))
             .select("oversize").orderBy("oversize").take(1))
    if not first:
        routed.unpersist()
        return run_extract(df, num_partitions)
    out = run_extract(df.filter(~(oversize | salted)), num_partitions)
    if seen.get["oversize"]:
        out = out.unionByName(routed.filter(F.col("oversize")).select(
            "doc_id",
            F.array().cast(OUTPUT_SCHEMA["spans"].dataType).alias("spans"),
            F.lit(0).alias("n_spans"), F.lit(0).cast("long").alias("n_chars"),
            F.lit(C.STATUS_OVERSIZE).alias("status")))
    if first[0]["oversize"]:  # no giant
        return out
    return out.unionByName(
        _extract_giant(routed.filter(~F.col("oversize")), skew_threshold))
