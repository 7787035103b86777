"""Skew-aware extraction: salted per-page processing of giant documents.

The reference has no skew handling (SURVEY.md §4 — one 200-page catalog just
takes longer); the north rule requires it explicitly. One size,
``skew_threshold`` (T), bounds the spans a task extracts for one document:

- documents with ``size(spans) <= T``, and failed documents (any NULL kind)
  of any size, run whole through the normal ``mapInArrow`` kernel
  (operators/extract.py);
- a larger healthy document is **salted by page bucket** into
  ``ceil(n/T) >= 2`` buckets. The salted path keeps only the doc-global
  work a page bucket cannot do alone, computed with *native* expressions
  after a ``posexplode``: media dedup (I5) as a window, the heading sizes
  (M1) as one aggregation, and the sheet context (L1–L3) as one aggregation
  plus a running window. Each ``(doc_id, page % ceil(n/T))`` bucket is then
  processed by ``applyInPandas`` reusing the same ``process_flat`` kernel
  (one kernel invocation covers ~T spans, so the per-group pandas overhead
  amortizes), and per-page rows are reassembled **natively** with a window
  cumsum for char offsets and ``array_sort``+``flatten`` for ordered span
  concatenation (SURVEY.md §7.2 step 8's "one subtle shuffle").

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

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..core import constants as C
from ..core.cache import track
from ..core.kinds import FLOAT_ATTR_PATTERN, INT_ATTR_PATTERN, attr_regex
from .extract import (OUTPUT_SCHEMA, SHEET_CTX_COLS, auto_partition_target,
                      parse_attrs, process_flat, remap_spreads, run_extract)

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

    Receives the doc-global heading context as a joined ``heading_sizes``
    column (the sizes above the body, descending: level = index + 1) and,
    when the corpus has sheet-addressed giants, the per-page sheet context
    columns; media duplicates were already removed upstream. Reuses the
    classify/assemble kernel of the normal path over *all pages in the
    bucket at once* and returns FLAT span rows (one row per output span,
    columnar through Arrow — no per-span Python objects); per-doc offsets
    and span-array assembly happen natively downstream."""
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
    if "sheet_doc" in pdf and pdf["sheet_doc"].any():
        dims = (pdf[SHEET_CTX_COLS]
                .assign(doc_idx=0, page=flat["page"].to_numpy())
                .drop_duplicates("page"))
    flat = remap_spreads(flat, dims)

    sizes = pdf["heading_sizes"].iloc[0]
    sizes = np.array([] if sizes is None else sizes, dtype=np.float64)
    headings = pd.DataFrame({
        "doc_idx": np.zeros(len(sizes), dtype=np.int64),
        "size": sizes,
        "level": np.minimum(np.arange(1, len(sizes) + 1, dtype=np.int64),
                            C.MAX_HEADING_LEVEL),
    })

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
                 - heading sizes: one per-doc aggregation, broadcast-joined
                 - sheet context (only when the probe finds sheets): one
                   per-(doc, sheet) aggregation plus a running window,
                   broadcast-joined
              -> one full shuffle into (doc_id, page-bucket) groups
              -> applyInPandas kernel
              -> window cumsum + groupBy reassembly (same key: one shuffle)
              -> final left-join against the giant id list to restore
                 documents whose spans were all stripped
    """
    # the *exploded* form is NOT persisted: a span-level InMemoryRelation
    # measured 2x slower at 32 threads (cache build + block-manager
    # contention + GC) than re-exploding the cached doc rows
    ok = (
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
        .filter(~F.col("base").isin(*C.BOILERPLATE_KINDS))
    )

    def num(key, default="0"):
        return F.coalesce(
            F.nullif(F.regexp_extract("kind", attr_regex(key, FLOAT_ATTR_PATTERN), 1),
                     F.lit("")), F.lit(default)).cast("double")

    # media dedup (I5) as a window filter over the (small) media subset:
    # keep the first (page, y, x, pos) occurrence per (doc, layer, phash)
    is_media = F.col("base").isin(*C.MEDIA_KINDS)
    phash = F.regexp_extract("kind", r"(?:^|;)phash=([^;]*)", 1)
    media = (ok.filter(is_media & (phash != ""))
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("doc_id", "base", phash)
                 .orderBy("page_hint", num("y"), num("x"), "pos")))
             .filter(F.col("rn") == 1).drop("rn"))
    rest = ok.filter(~(is_media & (phash != "")))
    deduped = rest.unionByName(media)

    # doc-global heading context (M1) in one aggregation: the body is the
    # most frequent text/title size (deterministic mode breaks ties toward
    # the smaller size, as the kernel does), and every distinct size above
    # it is a heading, level = rank by size descending. The set of distinct
    # font sizes is tiny at any document size.
    headings = (
        ok.filter(F.col("base").isin("text", "title"))
        .withColumn("size", num("size", "10"))
        .groupBy("doc_id")
        .agg(F.mode("size", deterministic=True).alias("body"),
             F.collect_set("size").alias("sizes"))
        .select("doc_id", F.sort_array(
            F.filter("sizes", lambda s: s > F.col("body")), asc=False)
            .alias("heading_sizes")))

    with_ctx = deduped.join(F.broadcast(headings), "doc_id", "left")
    ctx_cols = ["heading_sizes"]

    # doc-global sheet context (L1–L3: per-sheet dims, the L2 full-spread
    # gate, the physical-page counter) from the PRE-dedup rows — sheet
    # geometry is a property of the sheet (reference: page.rect / page
    # images), and sourcing from `ok` keeps the expensive dedup-window
    # subplan computed exactly once. Every (doc, sheet) of `deduped` has a
    # row here, since both come from `ok`.
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
            ok.groupBy("doc_id", "page_hint")
            .agg(F.max(num("sw")).alias("sheet_w"),
                 F.max(num("sh")).alias("sheet_h"),
                 F.collect_list(F.when(is_media, F.struct(
                     num("w").alias("w"), num("h").alias("h"))))
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
    # thousands of tiny applyInPandas groups (per-group pandas overhead
    # dominates) or under-splits the truly huge ones. A 10^6-span document
    # still spreads across ~n/skew_threshold tasks, so task size stays
    # bounded by bucket, not by document. Every document here has more
    # than skew_threshold spans, so it gets at least two buckets.
    n_salts_doc = F.ceil(F.col("n_doc_spans") / F.lit(skew_threshold))

    # ship the kernel only what it consumes: base/page_hint are re-derived
    # by the kernel's own attr parse
    pages_in = with_ctx.select(
        "doc_id", "pos", "kind", "text", "ref",
        F.pmod(F.col("page_hint"), n_salts_doc).alias("bucket"), *ctx_cols)

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
        )
    )

    # one final join restores documents that produced no page rows at all
    # (everything stripped as boilerplate); status follows the kernel's
    # rule: completed iff any text (n_chars > 0)
    empty_spans = F.array().cast(OUTPUT_SCHEMA["spans"].dataType)
    return (giant.select("doc_id")
            .join(docs, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("spans", empty_spans).alias("spans"),
                F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                F.coalesce("n_chars", F.lit(0).cast("long")).alias("n_chars"),
                F.when(F.col("n_chars") > 0, C.STATUS_COMPLETED)
                .when(F.col("n_spans") > 0, C.STATUS_NO_TEXT)
                .otherwise(C.STATUS_COMPLETED_EMPTY).alias("status"),
            ))


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
