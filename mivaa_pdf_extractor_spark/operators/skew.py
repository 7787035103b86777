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
- **salted**: a larger healthy document is split by page bucket in one
  pass. A ``mapInArrow`` splitter (``_split_giants``) reads each giant row
  once and runs the kernel's own functions over its whole span list:
  ``parse_attrs``, its heading levels (``heading_levels``, M1), its sheet
  context (``_sheet_ctx``, L1–L3) and its media duplicates
  (``mark_media_dups``, I5). It cuts the pages by the kernel's chunk rule
  (``cut_runs``) at ``n / ceil(n/T)`` spans, so at most T unless one page
  is larger, and emits one row per ``(doc_id, bucket)``: the bucket's
  spans that pass the boilerplate and duplicate masks, in giant order, the
  giant's heading levels and the bucket's own sheet rows. The bucket
  kernel (``_extract_buckets``) runs those rows through the kernel's own
  stage chain (``run_stages``) with that context and returns one finished
  row per bucket with bucket-local offsets. The bucket rows are joined
  **natively**: a window sum of the earlier buckets' characters shifts the
  offsets, and one ``groupBy`` concatenates the span arrays in bucket order
  (SURVEY.md §7.2 step 8's "one subtle shuffle"). No kernel rule has a
  native copy, and no attribute is parsed natively.

Work is split only when a document is too big for one task: one 10^6-span
document extracts over at least n/T tasks (only the splitter reads all its
spans in one task, to run the doc-global rules and the cut) until the
final, JVM-side concatenation.

Every document the kernel does not take (oversize or salted) is persisted
once through ``core.cache.track``, released by the caller's
``cache_scope()``, and probed by one eager job before any salted
expression is built: does any document leave the kernel, is one a giant,
is one oversize? The oversize rows and the splitter's input come from that
persist, so only the kernel reads the source; a batch with neither runs
the kernel plan alone (no filter, no union: at local[4] on a 6k-doc normal
corpus, 0.32 s and one job to build against 1.04 s and two). The probe is
the salted plan's only eager job.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import (DataFrame, Observation, Window, functions as F,
                         types as T)
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from ..core import constants as C
from ..core.cache import track
from .extract import (INPUT_SCHEMA, OUTPUT_SCHEMA, _coalesce_batches,
                      _flatten_arrow, _sheet_ctx, auto_partition_target, cut_runs,
                      heading_levels, mark_media_dups, parse_attrs,
                      run_extract, run_stages, span_index)

_BUCKET_SCHEMA = T.StructType(
    OUTPUT_SCHEMA.fields + [T.StructField("bucket", T.LongType())])

# salted buckets hold at most skew_threshold spans unless one page is
# larger; perfbench sizes its two-bucket giant against this name
DEFAULT_SPANS_PER_BUCKET = C.DEFAULT_SKEW_THRESHOLD

# A split row: one page bucket of a giant with the context the bucket
# cannot compute alone, the giant's heading levels and the bucket's own
# sheet rows (see _split_giants)
_HEADING = pa.struct([("size", pa.float64()), ("level", pa.int64())])
_SHEET = pa.struct([("page", pa.int64()), ("sheet_doc", pa.bool_()),
                    ("is_spread", pa.bool_()), ("first_phys", pa.int64()),
                    ("sheet_w", pa.float64()), ("sheet_h", pa.float64())])
_SPLIT_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("bucket", pa.int64()),
    ("spans", to_arrow_type(INPUT_SCHEMA["spans"].dataType)),
    ("headings", pa.list_(_HEADING)), ("sheets", pa.list_(_SHEET))])


def _lists(values: pa.Array, owner: np.ndarray, n: int) -> pa.ListArray:
    """``n`` lists of ``values``, each value in the list its ``owner``
    (non-decreasing) names."""
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(owner, minlength=n), out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def _struct(frame: pd.DataFrame, type_: pa.StructType) -> pa.StructArray:
    return pa.StructArray.from_arrays(
        [pa.array(frame[f.name].to_numpy(), f.type) for f in type_],
        fields=list(type_))


def _split(giant: pa.RecordBatch, skew_threshold: int) -> pa.RecordBatch:
    """One giant row's split rows (``_SPLIT_SCHEMA``), one per bucket."""
    spans = giant.column("spans").flatten()
    n = len(spans)
    flat = parse_attrs(pd.DataFrame({
        "doc_idx": np.zeros(n, dtype=np.int64), "pos": np.arange(n),
        "kind": spans.field("kind").to_pandas()}))
    ok = ~flat["base"].isin(C.BOILERPLATE_KINDS).to_numpy()
    headings = heading_levels(flat, ok)
    sheets = _sheet_ctx(flat, ok)  # sheet geometry is pre-dedup
    keep = np.flatnonzero(ok & ~mark_media_dups(flat, ok).to_numpy())

    # the pages in (reading) order, cut by the kernel's chunk rule at an
    # even share n/ceil(n/T) of all spans (whole pages: a small last bucket
    # may follow)
    pages, page_idx, counts = np.unique(flat["page"].to_numpy(),
                                        return_inverse=True,
                                        return_counts=True)
    runs = [j - i for i, j, _ in
            cut_runs(counts.tolist(), -(-n // -(-n // skew_threshold)))]
    n_b = len(runs)
    page_bucket = np.repeat(np.arange(n_b), runs)
    owner = page_bucket[page_idx[keep]]
    order = np.argsort(owner, kind="stable")  # giant order within a bucket
    h = len(headings)
    if sheets is None:
        sheets = pd.DataFrame({f.name: [] for f in _SHEET})
    return pa.RecordBatch.from_arrays([
        giant.column("doc_id").take(np.zeros(n_b, dtype=np.int64)),
        pa.array(np.arange(n_b), pa.int64()),
        _lists(spans.take(keep[order]), owner[order], n_b),
        # every bucket gets the giant's heading levels
        _lists(_struct(headings, _HEADING).take(np.tile(np.arange(h), n_b)),
               np.repeat(np.arange(n_b), h), n_b),
        _lists(_struct(sheets, _SHEET), page_bucket[np.searchsorted(
            pages, sheets["page"].to_numpy())], n_b),
    ], schema=_SPLIT_SCHEMA)


def _split_giants(batches: Iterator[pa.RecordBatch], skew_threshold: int
                  ) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel over persisted (doc_id, spans) giant rows: each
    giant, read once and whole, becomes one row per page bucket (the bucket
    rule and the row: see the module doc). Every bucket keeps its row even
    when none of its spans survive, so every giant keeps its output row."""
    for b in batches:
        for i in range(b.num_rows):
            yield _split(b.slice(i, 1), skew_threshold)


def _ctx_frame(col: pa.ListArray) -> pd.DataFrame:
    """A list column of split rows as one frame, its row in ``doc_idx``."""
    doc_idx, _ = span_index(col.value_lengths().to_numpy(zero_copy_only=False))
    values = col.flatten()
    return pd.DataFrame({"doc_idx": doc_idx, **{
        f.name: values.field(f.name).to_numpy(zero_copy_only=False)
        for f in values.type}})


def _extract_buckets(batches: Iterator[pa.RecordBatch]
                     ) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel over split rows: each row is one document of the
    kernel's stage chain, with its giant's heading levels and its own sheet
    rows as the context. Returns one finished row per bucket (offsets local
    to the bucket) plus its bucket id."""
    for b in _coalesce_batches(batches):
        sheets = _ctx_frame(b.column("sheets"))
        out = run_stages(*_flatten_arrow(b), (
            _ctx_frame(b.column("headings")), sheets if len(sheets) else None))
        yield out.append_column("bucket", b.column("bucket"))


def _extract_giant(giant: DataFrame, skew_threshold: int) -> DataFrame:
    """Per-page-bucket salted extraction of healthy documents above the
    threshold (the bucket rule: see the module doc).

    ``giant`` is the non-empty giant part of the persisted routed subset
    (see ``run_extract_skewed``).

    Only three kinds of work happen here. Each line is one shuffle at most:
      mapInArrow splitter: one row per (doc_id, bucket) with its context,
                 each giant read once
              -> one full shuffle on (doc_id, bucket)
              -> mapInArrow bucket kernel: one finished row per bucket
              -> window offset shift + groupBy concatenation (same key: one
                 shuffle) over the bucket rows
    The splitter emits every bucket, so every giant keeps its output row.
    """
    spark = giant.sparkSession
    # explicit repartition on the bucket key, at a fixed partition count
    # that keeps AQE from byte-coalescing the compute-heavy Python stage
    # down to a few tasks. 3x task slots: page buckets are uneven (giants
    # differ in page count), and a single wave of slot-sized tasks lets one
    # straggler extend the whole stage. A partition that holds a bucket
    # pays ~0.06 s of slot time as a Python task before it runs the kernel
    # (scripts/task_overhead.py, local[4])
    n_parts = 3 * spark.sparkContext.defaultParallelism
    buckets = (
        giant.select("doc_id", "spans")
        .mapInArrow(lambda it: _split_giants(it, skew_threshold),
                    from_arrow_schema(_SPLIT_SCHEMA))
        .repartition(n_parts, "doc_id", "bucket")
        .mapInArrow(_extract_buckets, _BUCKET_SCHEMA)
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
    one eager job, the plan build's only one, before any salted expression
    is built. With none, the whole input runs the kernel plan alone: no
    filter, no union.

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
