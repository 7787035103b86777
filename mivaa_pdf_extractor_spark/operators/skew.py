"""Skew-aware extraction: salted per-page processing of giant documents.

The reference has no skew handling (SURVEY.md §4 — one 200-page catalog just
takes longer); the north rule requires it explicitly. One size,
``skew_threshold`` (T), bounds the spans a task extracts for one document:

- documents with ``size(spans) <= T``, and failed documents (any NULL kind)
  of any size, run whole through the normal ``mapInArrow`` kernel
  (operators/extract.py);
- a larger healthy document is **salted by page bucket**. One eager job
  counts its spans per page and text/title size (the kernel's attr parse);
  the driver cuts its pages by the kernel's chunk rule (``cut_runs``) at
  ``n / ceil(n/T)`` spans, so at most T unless one page is larger, and
  feeds the size counts to the kernel's heading rule (M1). Media dedup
  (I5, a window) and the sheet context (L1–L3, one aggregation plus a
  running window) are *native*. Each
  ``(doc_id, bucket)`` group is then a one-document batch for the kernel's
  own Arrow stages (``applyInArrow``: flatten, attr parse, boilerplate
  filter, spread remap, ``process_flat``, reassembly), which return one
  finished row with bucket-local offsets. The bucket rows are joined
  **natively**: a window sum of the earlier buckets' characters shifts the
  offsets, and one ``groupBy`` concatenates the span arrays in bucket order
  (SURVEY.md §7.2 step 8's "one subtle shuffle").

Work is split only when a document is too big for one task: one 10^6-span
document extracts over at least n/T tasks (only its page count reads all
its kinds in one task) until the final, JVM-side concatenation.

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

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..core import constants as C
from ..core.cache import track
from ..core.kinds import attr_regex
from .extract import (ATTRS, OUTPUT_SCHEMA, SHEET_CTX_COLS, _flatten_arrow,
                      _reassemble_arrow, auto_partition_target, cut_runs,
                      levels_from_counts, parse_attrs, process_flat,
                      remap_spreads, run_extract)

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

# salted buckets hold at most skew_threshold spans unless one page is
# larger; perfbench sizes its two-bucket giant against this name
DEFAULT_SPANS_PER_BUCKET = C.DEFAULT_SKEW_THRESHOLD


def _page_counts(batches: Iterator[pa.RecordBatch]
                 ) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel over (doc_id, kinds) giant rows: spans per
    (doc_id, page, text/title size or NULL), by the kernel's attr parse."""
    for b in batches:
        n = b.column("kinds").value_lengths().to_numpy(zero_copy_only=False)
        flat = parse_attrs(pd.DataFrame({
            "doc_id": np.repeat(b.column("doc_id").to_pylist(), n),
            "kind": b.column("kinds").flatten().to_pandas()}))
        flat["size"] = flat["size"].where(flat["base"].isin(["text", "title"]))
        yield pa.RecordBatch.from_pandas(
            flat.groupby(["doc_id", "page", "size"], dropna=False).size()
            .reset_index(name="cnt"), preserve_index=False)


def _extract_bucket(table: pa.Table, headings: pd.DataFrame) -> pa.Table:
    """applyInArrow kernel: one (doc_id, bucket) group of a giant document,
    run as a one-document batch through the normal kernel's own stages.

    ``headings`` holds every giant's heading levels, keyed by the doc_id
    in ``doc_idx``. Sheet-addressed giants' rows carry the per-page sheet
    context; media duplicates were removed upstream. Returns one finished
    output row (offsets local to the bucket) plus its bucket id."""
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

    out = _reassemble_arrow(process_flat(flat, headings[
        headings["doc_idx"] == doc_id].assign(doc_idx=0)), docs, set())
    return pa.Table.from_batches([out.append_column(
        "bucket", batch.column("bucket").slice(0, 1))])


def _salted_spans(giant: DataFrame, skew_threshold: int, has_sheets: bool
                  ) -> tuple[DataFrame, pd.DataFrame]:
    """The giants' span rows with their doc-global context and page
    bucket, and their heading levels keyed by doc_id: the inputs of the
    per-bucket kernel (see ``_extract_giant``). Runs one eager job."""
    # the *exploded* form is NOT persisted: a span-level InMemoryRelation
    # measured 2x slower at 32 threads (cache build + block-manager
    # contention + GC) than re-exploding the cached doc rows
    rows = (
        giant.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .select("doc_id", "pos", "span.kind", "span.text",
                F.col("span.media_ref").alias("ref"))
        .withColumn("base", F.split(F.col("kind"), ";").getItem(0))
        .withColumn("page_hint", _attr("page"))
    )

    # the giants' page table (one row per page and size, so small),
    # collected. One job over the persisted rows, parallel across their
    # partitions: at local[4], eight 100k-span giants counted in 1.34 s
    # (2.68 s natively in one task), one 390k-span giant in 1.50 s (1.13 s)
    pages = pd.DataFrame(
        giant.select("doc_id", F.col("spans.kind").alias("kinds"))
        .mapInArrow(_page_counts, "doc_id string, page long, size double, "
                    "cnt long").collect(),
        columns=["doc_id", "page_hint", "size", "cnt"])

    # buckets: each giant's pages in (reading) order, cut by the kernel's
    # chunk rule at an even share n/ceil(n/T) (whole pages: a small last
    # bucket may follow); built from pandas, its broadcast runs no job
    per_page = pages.groupby(["doc_id", "page_hint"], as_index=False).cnt.sum()
    bucket = []
    for _, n in per_page.groupby("doc_id")["cnt"]:
        share = -(-n.sum() // -(-n.sum() // skew_threshold))
        bucket += [b for b, (i, j, _) in enumerate(cut_runs(n.tolist(), share))
                   for _ in range(i, j)]
    buckets = giant.sparkSession.createDataFrame(
        per_page.drop(columns="cnt").assign(bucket=bucket))

    # heading levels (M1) by the kernel's rule; doc_idx holds the doc_id
    tt = pages[pages["size"].notna()].rename(columns={"doc_id": "doc_idx"})
    headings = levels_from_counts(
        tt.groupby(["doc_idx", "size"], as_index=False)["cnt"].sum())

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
    # left: a span off the collected table fails its bucket, not vanishes
    with_ctx = rest.unionByName(media).join(F.broadcast(buckets),
                                            ["doc_id", "page_hint"], "left")

    # doc-global sheet context (L1–L3: per-sheet dims, the L2 full-spread
    # gate, the physical-page counter) from the PRE-dedup, non-boilerplate
    # rows — sheet geometry is a property of the sheet (reference:
    # page.rect / page images), and sourcing from `rows` keeps the
    # expensive dedup-window subplan computed exactly once. Every (doc,
    # sheet) with a non-boilerplate row of `with_ctx` has a row here.
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

    # ship the kernel only what it consumes: base/page_hint are re-derived
    # by the kernel's own attr parse
    return with_ctx.drop("base", "page_hint"), headings


def _extract_giant(giant: DataFrame, skew_threshold: int,
                   has_sheets: bool) -> DataFrame:
    """Per-page-bucket salted extraction of healthy documents above the
    threshold (the bucket rule: see the module doc).

    ``giant`` is the non-empty, already-persisted giant subset and
    ``has_sheets`` the probe's answer to "does any giant carry ``;sw=``"
    (see ``run_extract_skewed``).

    Only three kinds of work happen here. Each line after the explode is
    one shuffle at most:
      explode -> doc-global context a page bucket cannot compute alone:
                 - page table: one eager count per giant row, collected;
                   the driver's buckets are broadcast-joined (left)
                 - media dedup as a window *filter* on media rows only,
                   unioned back with the narrow non-media rows
                 - sheet context (only when the probe finds sheets): one
                   per-(doc, sheet) aggregation plus a running window,
                   broadcast-joined
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
    spans, headings = _salted_spans(giant, skew_threshold, has_sheets)
    buckets = (
        spans.repartition(n_parts, "doc_id", "bucket")
        .groupBy("doc_id", "bucket")
        .applyInArrow(lambda t: _extract_bucket(t, headings),
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


def run_extract_skewed(
    df: DataFrame,
    skew_threshold: int = C.DEFAULT_SKEW_THRESHOLD,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full extraction plan with skew salting: documents of at most
    ``skew_threshold`` spans run whole through the Arrow kernel, larger ones
    per page bucket (see the module doc); one unioned output.

    A failed document (any NULL kind) of any size also runs in the kernel,
    which marks it ``failed`` and drops its rows right after flatten, so it
    is never parsed: a failed giant costs one flatten in one task. The
    NULL-kind check only runs for documents above the threshold.

    The giant subset is persisted and probed with one eager job before any
    salted expression is built (a giant adds the page-table job). When it
    is empty, the whole input runs the kernel plan alone: no filter, no
    union, no salted subplan. Dropping the filter is safe, since every
    document then fits the kernel, and a giant that appears in the source
    after the probe still gets its row.

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
