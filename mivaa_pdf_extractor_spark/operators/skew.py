"""Skew-aware extraction: salted per-page processing of giant documents.

The reference has no skew handling (SURVEY.md §4 — one 200-page catalog just
takes longer); the north rule requires it explicitly. One size,
``skew_threshold`` (T), bounds the spans a task extracts for one document:

- documents with ``size(spans) <= T``, and failed documents (any NULL kind)
  of any size, run whole through the normal ``mapInArrow`` kernel
  (operators/extract.py);
- a larger healthy document is **salted by page bucket** into
  ``ceil(n/T) >= 2`` contiguous page ranges. The salted path keeps only the
  doc-global work a page bucket cannot do alone, computed with *native*
  expressions after a ``posexplode``: media dedup (I5) as a window, the
  heading sizes (M1) and the page range as one aggregation, and the sheet
  context (L1–L3) as one aggregation plus a running window. Each
  ``(doc_id, bucket)`` group is then a one-document batch for the kernel's
  own Arrow stages (``applyInArrow``: flatten, attr parse, boilerplate
  filter, spread remap, ``process_flat``, reassembly), which return one
  finished row with bucket-local offsets. The ~n/T bucket rows are joined
  **natively**: a window sum of the earlier buckets' characters shifts the
  offsets, and one ``groupBy`` concatenates the span arrays in bucket order
  (SURVEY.md §7.2 step 8's "one subtle shuffle").

Work is split only when a document is too big for one task: at cluster
scale one 10^6-span document spreads across ~n/T tasks, and no task
materializes the whole document until the final (columnar, JVM-side)
concatenation.

The giant subset (the DOC rows routed here) is persisted through
``core.cache.track`` and probed once, eagerly, before any salted
expression is built; ``run_pipeline`` and the streaming batch release the
persist with ``cache_scope()``. Measured at local[4] on a 6k-doc normal
corpus, the median wall was 1.75 s with the persist and 2.05 s without.
The *exploded* span rows are NOT persisted (see ``_extract_giant``).

One probe answers both routing questions: whether any document is a giant
at all, and whether any giant carries a ``;sw=`` sheet attr. A batch with
no giant runs the kernel plan alone, with no filter, no union and no
salted subplan: at local[4] on the 6k-doc normal corpus (no giant) the
plan build went from 1.04 s and two eager jobs to 0.32 s and one job,
and the median of ten runs went from 2,563 to 3,434 docs/s. Without
``;sw=`` the sheet remap is a provable no-op, so the sheet-context
subplan is built only on a ``True`` answer: always building it measured
3.92 s against 2.49 s on a resumed 1k-doc pipeline with three giants,
and with the folded sheet aggregation it still added six pipeline jobs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..core import constants as C
from ..core.cache import track
from ..core.kinds import attr_regex
from .extract import (ATTRS, OUTPUT_SCHEMA, SHEET_CTX_COLS, _flatten_arrow,
                      _reassemble_arrow, auto_partition_target, parse_attrs,
                      process_flat, remap_spreads, run_extract)

_BUCKET_SCHEMA = T.StructType(
    OUTPUT_SCHEMA.fields + [T.StructField("bucket", T.LongType())])

# the kernel's attribute table by key: the salted path reads the same
# defaults and patterns, so it parses EXACTLY like the kernel and the oracle
_ATTRS = {key: (default, pattern) for _col, key, default, pattern in ATTRS}


def _attr(key: str):
    """Native parse of one attr of ``kind``: the first value that fully
    matches the key's pattern in a segment after the base, else the table
    default, typed like the kernel's column."""
    default, pattern = _ATTRS[key]
    v = F.regexp_extract("kind", attr_regex(key, pattern), 1)
    v = F.coalesce(F.nullif(v, F.lit("")), F.lit(str(default)))
    if isinstance(default, str):
        return v
    return v.cast("long" if isinstance(default, int) else "double")

# salted buckets hold about skew_threshold spans (whole pages, so more or
# less when page densities differ); perfbench sizes its two-bucket giant
# against this name
DEFAULT_SPANS_PER_BUCKET = C.DEFAULT_SKEW_THRESHOLD


def _extract_bucket(table: pa.Table) -> pa.Table:
    """applyInArrow kernel: one (doc_id, bucket) group of a giant document,
    run as a one-document batch through the normal kernel's own stages.

    The rows carry the doc-global heading context as ``heading_sizes`` (the
    sizes above the body, descending: level = index + 1) and, when any giant
    is sheet-addressed, the per-page sheet context columns; media duplicates
    were already removed upstream. Returns one finished output row (offsets
    local to the bucket) plus its bucket id."""
    batch = table.sort_by("pos").combine_chunks().to_batches()[0]
    spans = pa.StructArray.from_arrays(
        [batch.column("kind"), batch.column("text"), batch.column("ref")],
        names=["kind", "text", "media_ref"])
    flat, docs = _flatten_arrow(pa.RecordBatch.from_arrays(
        [batch.column("doc_id").slice(0, 1),
         pa.ListArray.from_arrays(pa.array([0, len(spans)], pa.int32()),
                                  spans)],
        names=["doc_id", "spans"]))

    flat = parse_attrs(flat)
    ok = ~flat["base"].isin(C.BOILERPLATE_KINDS).to_numpy()
    flat = flat[ok]
    # L3/L5 spread remap with the natively-computed doc-global sheet
    # context (a bucket is a range of whole sheets, so per-bucket remap is
    # safe). It was joined on (doc_id, page_hint), the same parse as
    # `page`, so one row per page is the normal path's per-sheet dims frame.
    dims = None
    if "sheet_doc" in batch.schema.names:
        dims = (batch.select(SHEET_CTX_COLS).filter(pa.array(ok)).to_pandas()
                .assign(doc_idx=0, page=flat["page"].to_numpy())
                .drop_duplicates("page"))
    flat = remap_spreads(flat, dims)

    sizes = np.array(batch.column("heading_sizes")[0].as_py() or [],
                     dtype=np.float64)
    headings = pd.DataFrame({
        "doc_idx": np.zeros(len(sizes), dtype=np.int64),
        "size": sizes,
        "level": np.minimum(np.arange(1, len(sizes) + 1, dtype=np.int64),
                            C.MAX_HEADING_LEVEL),
    })

    out = _reassemble_arrow(process_flat(flat, headings), docs, set())
    return pa.Table.from_batches([out.append_column(
        "bucket", batch.column("bucket").slice(0, 1))])


def _salted_spans(giant: DataFrame, skew_threshold: int,
                  has_sheets: bool) -> DataFrame:
    """The giant's span rows with their doc-global context and page
    bucket: the input of the per-bucket kernel (see ``_extract_giant``)."""
    # the *exploded* form is NOT persisted: a span-level InMemoryRelation
    # measured 2x slower at 32 threads (cache build + block-manager
    # contention + GC) than re-exploding the cached doc rows
    rows = (
        giant.select("doc_id", F.size("spans").alias("n_doc_spans"),
                     F.posexplode("spans").alias("pos", "span"))
        .select(
            "doc_id", "n_doc_spans", "pos",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("ref"),
        )
        .withColumn("base", F.split(F.col("kind"), ";").getItem(0))
        .withColumn("page_hint", _attr("page"))
    )

    # media dedup (I5) as a window filter over the (small) media subset:
    # keep the first (page, y, x, pos) occurrence per (doc, layer, phash)
    is_media = F.col("base").isin(*C.MEDIA_KINDS)
    phash = _attr("phash")
    media = (rows.filter(is_media & (phash != ""))
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("doc_id", "base", phash)
                 .orderBy("page_hint", _attr("y"), _attr("x"), "pos")))
             .filter(F.col("rn") == 1).drop("rn"))
    rest = rows.filter(~(is_media & (phash != "")))
    deduped = rest.unionByName(media)

    # doc-global context in one aggregation. Heading context (M1): the body
    # is the most frequent text/title size (deterministic mode breaks ties
    # toward the smaller size, as the kernel does), and every distinct size
    # above it is a heading, level = rank by size descending; the set of
    # distinct font sizes is tiny at any document size. Page range: the
    # bucket bounds below.
    tt_size = F.when(F.col("base").isin("text", "title"), _attr("size"))
    doc_ctx = (
        rows.groupBy("doc_id")
        .agg(F.mode(tt_size, deterministic=True).alias("body"),
             F.collect_set(tt_size).alias("sizes"),
             F.min("page_hint").alias("p0"), F.max("page_hint").alias("p1"))
        .select("doc_id", "p0", "p1", F.sort_array(
            F.filter("sizes", lambda s: s > F.col("body")), asc=False)
            .alias("heading_sizes")))

    with_ctx = deduped.join(F.broadcast(doc_ctx), "doc_id")
    ctx_cols = ["heading_sizes"]

    # doc-global sheet context (L1–L3: per-sheet dims, the L2 full-spread
    # gate, the physical-page counter) from the PRE-dedup, non-boilerplate
    # rows — sheet geometry is a property of the sheet (reference:
    # page.rect / page images), and sourcing from `rows` keeps the
    # expensive dedup-window subplan computed exactly once. Every (doc,
    # sheet) with a non-boilerplate row of `deduped` has a row here.
    # Built only when the probe found a ';sw=' attr (see the module doc).
    if has_sheets:
        wdoc = Window.partitionBy("doc_id")
        wsheet = (Window.partitionBy("doc_id").orderBy("page_hint")
                  .rowsBetween(Window.unboundedPreceding, -1))
        sw, sh = F.col("sheet_w"), F.col("sheet_h")
        full_img = F.exists("media", lambda m: (
            (m["w"] >= C.FULL_SPREAD_WIDTH_FRAC * sw)
            & (m["h"] >= C.FULL_SPREAD_HEIGHT_FRAC * sh)))
        sheet_dims = (
            rows.filter(~F.col("base").isin(*C.BOILERPLATE_KINDS))
            .groupBy("doc_id", "page_hint")
            .agg(F.max(_attr("sw")).alias("sheet_w"),
                 F.max(_attr("sh")).alias("sheet_h"),
                 F.collect_list(F.when(is_media, F.struct(
                     _attr("w").alias("w"), _attr("h").alias("h"))))
                 .alias("media"))
            .withColumn("sheet_doc", F.max((sw > 0) & (sh > 0)).over(wdoc))
            .withColumn("is_spread", (sh > 0)
                        & (sw / sh > C.SPREAD_ASPECT) & ~full_img)
            .withColumn("first_phys", (F.coalesce(
                F.sum(F.when(F.col("is_spread"), 2).otherwise(1))
                .over(wsheet), F.lit(0)) + 1).cast("long"))
            .select("doc_id", "page_hint", *SHEET_CTX_COLS))
        with_ctx = with_ctx.join(F.broadcast(sheet_dims),
                                 ["doc_id", "page_hint"], "left")
        ctx_cols += SHEET_CTX_COLS

    # Salt count ADAPTS to document size (~skew_threshold spans per
    # bucket): a fixed salt count either shreds medium giants into
    # thousands of tiny groups (per-group Python overhead dominates) or
    # under-splits the truly huge ones. A 10^6-span document still spreads
    # across ~n/skew_threshold tasks, so task size stays bounded by bucket,
    # not by document. Every document here has more than skew_threshold
    # spans, so it gets at least two buckets. Buckets are contiguous page
    # ranges of [p0, p1] (monotone in the page), so bucket order is reading
    # order and the bucket outputs concatenate.
    n_buckets = F.ceil(F.col("n_doc_spans") / F.lit(skew_threshold))
    bucket = F.floor((F.col("page_hint") - F.col("p0")) * n_buckets
                     / (F.col("p1") - F.col("p0") + 1))

    # ship the kernel only what it consumes: base/page_hint are re-derived
    # by the kernel's own attr parse
    return with_ctx.select("doc_id", "pos", "kind", "text", "ref",
                           bucket.alias("bucket"), *ctx_cols)


def _extract_giant(giant: DataFrame, skew_threshold: int,
                   has_sheets: bool) -> DataFrame:
    """Per-page-bucket salted extraction of healthy documents above the
    threshold, ``ceil(n_spans / skew_threshold)`` buckets per document.

    ``giant`` is the non-empty, already-persisted giant subset and
    ``has_sheets`` the probe's answer to "does any giant carry ``;sw=``"
    (see ``run_extract_skewed``).

    Only three kinds of work happen here. Each line after the explode is
    one shuffle at most:
      explode -> doc-global context a page bucket cannot compute alone:
                 - media dedup as a window *filter* on media rows only,
                   unioned back with the narrow non-media rows
                 - heading sizes and page range: one per-doc aggregation,
                   broadcast-joined
                 - sheet context (only when the probe finds sheets): one
                   per-(doc, sheet) aggregation plus a running window,
                   broadcast-joined
              -> one full shuffle into (doc_id, page-range bucket) groups
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
    # whole stage
    n_parts = 3 * spark.sparkContext.defaultParallelism
    buckets = (
        _salted_spans(giant, skew_threshold, has_sheets)
        .repartition(n_parts, "doc_id", "bucket")
        .groupBy("doc_id", "bucket")
        .applyInArrow(_extract_bucket, schema=_BUCKET_SCHEMA)
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


def run_extract_skewed(
    df: DataFrame,
    skew_threshold: int = C.DEFAULT_SKEW_THRESHOLD,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full extraction plan with skew salting: documents of at most
    ``skew_threshold`` spans run whole through the Arrow kernel, larger ones
    per page bucket of about ``skew_threshold`` spans; one unioned output.

    A failed document (any NULL kind) of any size also runs in the kernel,
    which marks it ``failed`` and drops its rows right after flatten, so it
    is never parsed: a failed giant costs one flatten in one task. The
    NULL-kind check only runs for documents above the threshold.

    The giant subset is persisted and probed with one eager job before any
    salted expression is built. When it is empty, the whole input runs the
    kernel plan alone: no filter, no union, no salted subplan. Dropping the
    filter is safe, since every document then fits the kernel, and a giant
    that appears in the source after the probe still gets its row.

    ``num_partitions`` None probes the raw source once; >0 pins a
    repartition of the normal documents (see ``run_extract``)."""
    if skew_threshold < 1:
        raise ValueError(f"skew_threshold must be >= 1, got {skew_threshold}")
    # size() is -1 for NULL arrays, so they stay on the normal path; And
    # short-circuits, so the forall scan only sees documents above T
    salted = ((F.size("spans") > skew_threshold)
              & F.forall("spans", lambda s: s["kind"].isNotNull()))
    if num_partitions is None:
        # probe the RAW source once (one extra plan compile total) instead
        # of letting run_extract probe the filtered subplan per call
        num_partitions = auto_partition_target(df)
    # persist ONLY the giant subset: the size filter is not pushable
    # (computed column), so without this the salted subplans would each
    # re-scan the FULL corpus. The subset is the skew tail, so the cache
    # is small by construction. One job fills it and answers both routing
    # questions: no row means no giant, and the sorted-first row's boolean
    # says whether any giant is sheet-addressed.
    giant = track(df.filter(salted))
    probe = (giant.select(F.exists(
        "spans",
        lambda s: F.coalesce(s["kind"].contains(";sw="), F.lit(False))
    ).alias("sheets")).orderBy(F.desc("sheets")).take(1))
    if not probe:
        giant.unpersist()
        return run_extract(df, num_partitions)
    return run_extract(df.filter(~salted), num_partitions).unionByName(
        _extract_giant(giant, skew_threshold, probe[0]["sheets"]))
