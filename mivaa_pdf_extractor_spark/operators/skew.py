"""Skew-aware extraction: salted per-page processing of giant documents.

The reference has no skew handling (SURVEY.md §4 — one 200-page catalog just
takes longer); the north rule requires it explicitly. One size,
``skew_threshold`` (T), bounds the spans a task extracts for one document:

- documents with ``size(spans) <= T`` run whole through the normal
  ``mapInArrow`` kernel (operators/extract.py);
- a larger document is **salted by page bucket** into ``ceil(n/T) >= 2``
  buckets: ``posexplode`` → the doc-global context (heading histogram M1,
  per-layer media dedup I5) is computed with *native* window/groupBy
  expressions → per ``(doc_id, page % ceil(n/T))`` bucket groups are
  processed by ``applyInPandas`` reusing the same ``process_flat`` kernel
  (one kernel invocation covers ~T spans, so the per-group pandas overhead
  amortizes) → per-page rows are reassembled **natively** with a window
  cumsum for char offsets and ``array_sort``+``flatten`` for ordered span
  concatenation (SURVEY.md §7.2 step 8's "one subtle shuffle").

Work is split only when a document is too big for one task: at cluster
scale one 10^6-span document spreads across ~n/T tasks, and no task
materializes the whole document until the final (columnar, JVM-side)
concatenation.

The giant subset (the DOC rows above the threshold) is persisted through
``core.cache.track`` before fan-out, so the failure scan, the ``has_sheets``
probe and the exploded subplans read it from cache instead of re-scanning
the full corpus; ``run_pipeline`` and the streaming batch release it with
``cache_scope()``. Measured at local[4] on a 6k-doc normal corpus, the
median wall was 1.75 s with the persist and 2.05 s without. The *exploded*
span rows are NOT persisted (see ``_extract_giant``).

The eager ``has_sheets`` probe must stay: always building the sheet-context
subplan measured 3.92 s against 2.49 s on a resumed 1k-doc pipeline with
three giants, and 1.72 s against 1.47 s on the 6k-doc normal corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..core import constants as C
from ..core.cache import track
from ..core.kinds import FLOAT_ATTR_PATTERN, INT_ATTR_PATTERN, attr_regex
from .extract import (OUTPUT_SCHEMA, auto_partition_target, parse_attrs,
                      process_flat, remap_spreads, run_extract)

_ROW_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("page", T.LongType()),
    T.StructField("seq", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("tlen", T.LongType()),
])

# shared attr grammar (core/kinds.py): signed, anchored to the full ;-segment
# so the skew path parses EXACTLY like the normal kernel and the oracle —
# round 1 had unsigned `[0-9.]+` here, which read `edpi=-1` as 1 and flipped
# the low-DPI gate only on the skew path.
_PAGE_RE = attr_regex("page", INT_ATTR_PATTERN)

# salted buckets hold at most skew_threshold spans; perfbench sizes its
# two-bucket giant against this name
DEFAULT_SPANS_PER_BUCKET = C.DEFAULT_SKEW_THRESHOLD


def _extract_page_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: one (doc_id, page-bucket) group of a giant doc.

    Receives the doc-global heading context as a joined ``heading_entries``
    column (list of {size, level}); media duplicates were already removed
    upstream. Reuses the classify/assemble kernel of the normal path over
    *all pages in the bucket at once* and returns FLAT span rows (one row
    per output span, columnar through Arrow — no per-span Python objects);
    per-doc offsets and span-array assembly happen natively downstream."""
    doc_id = pdf["doc_id"].iloc[0]

    flat = pd.DataFrame({
        "doc_idx": np.zeros(len(pdf), dtype=np.int64),
        "doc_id": pdf["doc_id"].to_numpy(),
        "pos": pdf["pos"].to_numpy(),
        "kind": pdf["kind"].astype("object"),
        "text": pdf["text"].astype("object"),
        "ref": pdf["ref"].astype("object"),
    })
    flat = parse_attrs(flat)
    # L3/L5 spread remap with the natively-computed doc-global sheet
    # context (buckets never straddle a sheet, so per-bucket remap is safe).
    # It was joined on (doc_id, page_hint), the same parse as `page`, so
    # one row per page is the normal path's per-sheet dims frame.
    dims = None
    if pdf["sheet_doc"].any():
        dims = pd.DataFrame({
            "doc_idx": flat["doc_idx"].to_numpy(),
            "page": flat["page"].to_numpy(),
            "sheet_doc": pdf["sheet_doc"].to_numpy(dtype=bool),
            "is_spread": pdf["is_spread"].to_numpy(dtype=bool),
            "first_phys": pdf["first_phys"].to_numpy(dtype=np.int64),
            "sheet_w": pdf["sheet_w"].to_numpy(dtype=np.float64),
            "sheet_h": pdf["sheet_h"].to_numpy(dtype=np.float64),
        }).drop_duplicates("page")
    flat = remap_spreads(flat, dims)

    hs = pdf["heading_str"].iloc[0]
    if hs:
        pairs = [e.split(":") for e in hs.split(",")]
        headings = pd.DataFrame({
            "doc_idx": np.zeros(len(pairs), dtype=np.int64),
            "size": [float(p[0]) for p in pairs],
            "level": [int(p[1]) for p in pairs],
        })
    else:
        headings = pd.DataFrame({"doc_idx": pd.Series(dtype=np.int64),
                                 "size": pd.Series(dtype=np.float64),
                                 "level": pd.Series(dtype=np.int64)})

    out = process_flat(flat, headings)
    if not len(out):
        return pd.DataFrame(columns=[f.name for f in _ROW_SCHEMA.fields])

    # out is sorted in reading order (pages ascending; doc constant). `seq`
    # preserves that order through the unordered native collect_list: the
    # downstream array_sort key is (page, seq).
    return pd.DataFrame({
        "doc_id": np.full(len(out), doc_id, dtype=object),
        "page": out["page"].to_numpy(dtype=np.int64),
        "seq": np.arange(len(out), dtype=np.int64),
        "kind": out["out_kind"].to_numpy(dtype=object),
        "text": out["out_text"].to_numpy(dtype=object),
        "media_ref": out["out_ref"].to_numpy(dtype=object),
        "tlen": out["tlen"].to_numpy(dtype=np.int64),
    })


def _extract_giant(giant: DataFrame, skew_threshold: int) -> DataFrame:
    """Per-page-bucket salted extraction of documents above the threshold,
    ``ceil(n_spans / skew_threshold)`` buckets per document.

    Stage-lean plan (each line after the explode is one shuffle at most):
      explode -> [doc-level failure scan (tiny agg)]
              -> media dedup as a window *filter* on media rows only,
                 unioned back with the narrow non-media rows
              -> heading histogram (two tiny aggs) broadcast-joined
              -> one full shuffle into (doc_id, page-bucket) groups
              -> applyInPandas kernel
              -> window cumsum + groupBy reassembly (same key: one shuffle)
              -> final broadcast left-join against the giant id list to
                 restore all-stripped and failed documents
    """
    # persist ONLY the giant subset: the size filter is not pushable
    # (computed column), so without this the 4 downstream subplans would
    # each re-scan the FULL corpus — harmless on a 65 MB bench corpus,
    # disqualifying at 100 TB. The subset is the skew tail (p99 docs), so
    # the cache is small by construction. The *exploded* form is NOT
    # persisted: a span-level InMemoryRelation measured 2x slower at 32
    # threads (cache build + block-manager contention + GC) than
    # re-exploding the cached doc rows.
    giant = track(giant)
    giant_ids = giant.select("doc_id")

    exploded = (
        giant.select("doc_id", F.size("spans").alias("n_doc_spans"),
                     F.posexplode("spans").alias("pos", "span"))
        .select(
            "doc_id", "n_doc_spans", "pos",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("ref"),
        )
        .withColumn("base", F.split(F.col("kind"), ";").getItem(0))
        .withColumn("page_hint", F.coalesce(
            F.nullif(F.regexp_extract("kind", _PAGE_RE, 1), F.lit("")),
            F.lit("1")).cast("long"))
    )
    # doc-level failure: any NULL kind (same semantics as the normal
    # path). Round 6: probed with an array-level exists() on the
    # persisted DOC rows — the explode + distinct shuffle the round-5
    # shape paid for this tiny flag is gone (one cheap cached scan,
    # zero exchanges; giants' spans arrays are non-null by the router's
    # size() > threshold gate).
    failed = (giant.filter(F.exists("spans",
                                    lambda s: s["kind"].isNull()))
              .select("doc_id").withColumn("is_failed", F.lit(True)))

    ok = exploded.filter(F.col("kind").isNotNull()) \
                 .filter(~F.col("base").isin(*C.BOILERPLATE_KINDS))

    # media dedup (I5) as a window filter over the (small) media subset:
    # keep the first (page, y, x, pos) occurrence per (doc, layer, phash)
    def num(key):
        return F.coalesce(
            F.nullif(F.regexp_extract("kind", attr_regex(key, FLOAT_ATTR_PATTERN), 1),
                     F.lit("")), F.lit("0")).cast("double")

    is_media = F.col("base").isin(*C.MEDIA_KINDS)
    phash = F.regexp_extract("kind", r"(?:^|;)phash=([^;]*)", 1)
    media = (ok.filter(is_media & (phash != ""))
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("doc_id", "base", phash)
                 .orderBy("page_hint", num("y"), num("x"), "pos")))
             .filter(F.col("rn") == 1).drop("rn"))
    rest = ok.filter(~(is_media & (phash != "")))
    deduped = rest.unionByName(media)

    # doc-global heading histogram (M1): two tiny aggregations
    size_col = F.coalesce(
        F.nullif(F.regexp_extract("kind", attr_regex("size", FLOAT_ATTR_PATTERN), 1),
                 F.lit("")),
        F.lit("10")).cast("double")
    # Round 6: the body-size window + tt-vs-body join + second groupBy
    # of the round-5 shape (3 exchanges + a join over the histogram)
    # collapse into ONE per-doc aggregation followed by array ops —
    # the per-doc histogram is bounded by DISTINCT font sizes, so the
    # collected array is tiny at any document size. Equivalences:
    # body = first of sort by (count desc, size asc); dense_rank over
    # distinct sizes desc == index+1 in the sorted-desc array.
    tt = (ok.filter(F.col("base").isin("text", "title"))
          .withColumn("size", size_col)
          .groupBy("doc_id", "size").count())
    per_doc = tt.groupBy("doc_id").agg(
        F.collect_list(F.struct("size", "count")).alias("hl"))
    body_size = F.element_at(
        F.array_sort(F.transform(
            F.col("hl"),
            lambda s: F.struct((-s["count"]).alias("nc"),
                               s["size"].alias("size")))), 1)["size"]
    heads_neg = F.array_sort(F.transform(
        F.filter(F.col("hl"), lambda s: s["size"] > F.col("body_size")),
        lambda s: -s["size"]))
    headings = (
        per_doc.withColumn("body_size", body_size)
        .select("doc_id", F.concat_ws(",", F.transform(
            heads_neg,
            lambda ns, i: F.concat_ws(
                ":", (-ns).cast("string"),
                F.least(i + 1, F.lit(C.MAX_HEADING_LEVEL))
                .cast("string")))).alias("heading_str"))
    )

    # doc-global sheet context (L3/L5 spread remap + the L2 full-spread
    # gate): per-sheet dims from tiny aggs over the PRE-dedup rows — sheet
    # geometry is a property of the sheet (reference: page.rect / page
    # images), and sourcing from `ok` keeps the expensive dedup-window
    # subplan computed exactly once. Physical-page counter as a window
    # cumsum, broadcast back per (doc, sheet). Docs without sw/sh attrs
    # flow through with sheet_doc=false -> the kernel's remap fast-path.
    #
    # The whole subplan is gated on a one-boolean probe of the (persisted)
    # giant subset: without any ';sw=' attr the remap is a provable no-op,
    # so corpora with no sheet-addressed docs — the common case — pay one
    # cached early-exit scan instead of two extra aggregate subplans.
    has_sheets = bool(giant.filter(F.exists(
        "spans",
        lambda s: F.coalesce(s["kind"].contains(";sw="), F.lit(False))
    )).take(1))
    if has_sheets:
        wdoc = Window.partitionBy("doc_id")
        wsheet = (Window.partitionBy("doc_id").orderBy("page_hint")
                  .rowsBetween(Window.unboundedPreceding, -1))
        sheet_sizes = (ok.groupBy("doc_id", "page_hint")
                       .agg(F.max(num("sw")).alias("sheet_w"),
                            F.max(num("sh")).alias("sheet_h")))
        full_flag = (
            ok.filter(F.col("base").isin(*C.MEDIA_KINDS))
            .select("doc_id", "page_hint", num("w").alias("iw"),
                    num("h").alias("ih"))
            .join(sheet_sizes, ["doc_id", "page_hint"])
            .groupBy("doc_id", "page_hint")
            .agg(F.max((F.col("iw") >= C.FULL_SPREAD_WIDTH_FRAC
                        * F.col("sheet_w"))
                       & (F.col("ih") >= C.FULL_SPREAD_HEIGHT_FRAC
                          * F.col("sheet_h"))).alias("full_img")))
        sheet_dims = (
            sheet_sizes
            .join(full_flag, ["doc_id", "page_hint"], "left")
            .withColumn("valid",
                        (F.col("sheet_w") > 0) & (F.col("sheet_h") > 0))
            .withColumn("sheet_doc", F.max("valid").over(wdoc))
            .withColumn("is_spread",
                        (F.col("sheet_h") > 0)
                        & (F.col("sheet_w") / F.col("sheet_h")
                           > C.SPREAD_ASPECT)
                        & ~F.coalesce(F.col("full_img"), F.lit(False)))
            .withColumn("n_phys",
                        F.when(F.col("is_spread"), 2).otherwise(1))
            .withColumn("first_phys",
                        (F.coalesce(F.sum("n_phys").over(wsheet), F.lit(0))
                         + 1).cast("long"))
            .select("doc_id", "page_hint", "sheet_doc", "is_spread",
                    "first_phys", "sheet_w", "sheet_h"))

    # ship the kernel only what it consumes: doc-global heading context is a
    # compact string (a per-row list<struct> duplicate is pure Arrow bloat),
    # and base/page_hint are re-derived by the kernel's own attr parse.
    # Salt count ADAPTS to document size (~skew_threshold spans per
    # bucket): a fixed salt count either shreds medium giants into
    # thousands of tiny applyInPandas groups (per-group pandas overhead
    # dominates) or under-splits the truly huge ones. A 10^6-span document
    # still spreads across ~n/skew_threshold tasks, so task size stays
    # bounded by bucket, not by document. Every document here has more
    # than skew_threshold spans, so it gets at least two buckets.
    n_salts_doc = F.ceil(F.col("n_doc_spans") / F.lit(skew_threshold))
    with_ctx = deduped.join(F.broadcast(headings), "doc_id", "left")
    if has_sheets:
        with_ctx = with_ctx.join(F.broadcast(sheet_dims),
                                 ["doc_id", "page_hint"], "left")
    else:
        with_ctx = (with_ctx
                    .withColumn("sheet_doc", F.lit(False))
                    .withColumn("is_spread", F.lit(False))
                    .withColumn("first_phys", F.lit(1).cast("long"))
                    .withColumn("sheet_w", F.lit(0.0))
                    .withColumn("sheet_h", F.lit(0.0)))
    pages_in = (with_ctx
                .withColumn("bucket", F.pmod(F.col("page_hint"),
                                             n_salts_doc))
                .select("doc_id", "pos", "kind", "text", "ref", "bucket",
                        F.coalesce("heading_str", F.lit(""))
                        .alias("heading_str"),
                        F.coalesce("sheet_doc", F.lit(False))
                        .alias("sheet_doc"),
                        F.coalesce("is_spread", F.lit(False))
                        .alias("is_spread"),
                        F.coalesce("first_phys", F.lit(1))
                        .alias("first_phys"),
                        F.coalesce("sheet_w", F.lit(0.0)).alias("sheet_w"),
                        F.coalesce("sheet_h", F.lit(0.0)).alias("sheet_h")))

    # explicit repartition on the exact grouping keys: the groupBy reuses
    # this hash partitioning, and the fixed partition count keeps AQE from
    # byte-coalescing the compute-heavy Python stage down to a few tasks
    spark = giant.sparkSession
    # 3x task slots: page buckets are uneven (giants differ in page count),
    # and a single wave of slot-sized tasks lets one straggler extend the
    # whole stage
    n_parts = 3 * spark.sparkContext.defaultParallelism
    pages_in = pages_in.repartition(n_parts, "doc_id", "bucket")

    span_rows = (
        pages_in.groupBy("doc_id", "bucket")
        .applyInPandas(_extract_page_bucket, schema=_ROW_SCHEMA)
    )

    # ordered reassembly, fully native: one global char-offset cumsum over
    # the doc's reading order (page asc, then within-bucket seq — pages never
    # straddle buckets, so (page, seq) totally orders the doc), then span
    # arrays rebuilt with array_sort over the same key. The groupBy reuses
    # the window's hash partitioning on doc_id (no extra shuffle).
    w = (Window.partitionBy("doc_id").orderBy("page", "seq")
         .rowsBetween(Window.unboundedPreceding, -1))
    with_off = span_rows.withColumn(
        "offset", F.coalesce(F.sum("tlen").over(w), F.lit(0)).cast("int"))
    docs = (
        with_off.groupBy("doc_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    "page", "seq", "kind", "text", "media_ref", "offset"))),
                lambda x: F.struct(
                    x["kind"].alias("kind"), x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    x["offset"].alias("offset"),
                    x["page"].cast("int").alias("page"))).alias("spans"),
            F.count(F.lit(1)).cast("int").alias("n_spans"),
            F.sum("tlen").alias("n_chars"),
            F.max(F.col("tlen") > 0).alias("has_text"),
        )
    )

    # one final join restores documents that produced no page rows at all
    # (failed, or everything stripped as boilerplate)
    empty_spans = F.array().cast(OUTPUT_SCHEMA["spans"].dataType)
    out = (giant_ids
           .join(F.broadcast(failed), "doc_id", "left")
           .join(docs, "doc_id", "left")
           .select(
               "doc_id",
               F.when(F.col("is_failed"), empty_spans)
               .otherwise(F.coalesce(F.col("spans"), empty_spans))
               .alias("spans"),
               F.when(F.col("is_failed"), F.lit(0))
               .otherwise(F.coalesce(F.col("n_spans"), F.lit(0)))
               .alias("n_spans"),
               F.when(F.col("is_failed"), F.lit(0).cast("long"))
               .otherwise(F.coalesce(F.col("n_chars"), F.lit(0).cast("long")))
               .alias("n_chars"),
               F.when(F.col("is_failed"), C.STATUS_FAILED)
               .when(F.col("has_text"), C.STATUS_COMPLETED)
               .when(F.coalesce(F.col("n_spans"), F.lit(0)) > 0,
                     C.STATUS_NO_TEXT)
               .otherwise(C.STATUS_COMPLETED_EMPTY).alias("status"),
           ))
    return out


def run_extract_skewed(
    df: DataFrame,
    skew_threshold: int = C.DEFAULT_SKEW_THRESHOLD,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full extraction plan with skew salting: documents of at most
    ``skew_threshold`` spans run whole through the Arrow kernel, larger ones
    per page bucket of about ``skew_threshold`` spans; one unioned output.

    ``num_partitions`` None probes the raw source once; >0 pins a
    repartition of the normal documents (see ``run_extract``)."""
    if skew_threshold < 1:
        raise ValueError(f"skew_threshold must be >= 1, got {skew_threshold}")
    n = F.size("spans")  # -1 for NULL arrays -> normal path handles them
    normal = df.filter((n <= skew_threshold))
    giant = df.filter(n > skew_threshold)
    if num_partitions is None:
        # probe the RAW source once (one extra plan compile total) instead
        # of letting run_extract probe the filtered subplan per call
        num_partitions = auto_partition_target(df)
    return run_extract(normal, num_partitions).unionByName(
        _extract_giant(giant, skew_threshold))
