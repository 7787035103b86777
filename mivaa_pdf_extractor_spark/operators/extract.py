"""Vectorized extraction engine — the batched tokenize → block-classify →
span-assemble pass.

``extract_iter_arrow`` processes Arrow batches of documents (one row per
doc, ``spans`` as a list of structs) entirely with numpy/Arrow column
kernels:

- flatten the batch to one flat span table (doc_idx, pos, kind, text, ...),
- parse the kind grammar in one pass: split on ``;`` once, segment 0 is
  the base, pick attributes by key from one table,
- doc-global heading histogram + media dedup with groupby,
- per-page column-split and table assembly (loops only over the rare
  candidate groups),
- one ``np.lexsort`` over the whole batch for reading order,
- glyph/whitespace normalization as chained C string kernels,
- arrow-native reassembly of the output span arrays.

The Spark surface is ``run_extract`` — ``mapInArrow`` directly over the
scan splits (hash-repartition only when the source is coarser than the
cluster) — which never runs per-row Python (north rule). The loop-based
spec this must match lives in oracle/extract_one.py.

``run_stages`` is the one stage chain behind both kernels: after the
flatten, attr parse → doc-global context → filter → spread remap →
``process_flat`` (table assembly → column split → classify → normalize →
sort → media gating → offsets) → reassembly. The skew path
(operators/skew.py) runs the page buckets of a document above the skew
threshold through it, each bucket one document of the batch. The giant's
context (heading levels, sheet context) and its media duplicates come from
the same ``heading_levels`` / ``_sheet_ctx`` / ``mark_media_dups`` calls,
run once over the whole giant by the salted path's splitter, so each
doc-global rule has one implementation.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F, types as T

from ..core import constants as C
from ..core.kinds import ANY_ATTR_PATTERN, FLOAT_ATTR_PATTERN, INT_ATTR_PATTERN
from ..core.normalize import normalize_series
from ..core.tables import grid_to_pipe_table, normalize_grid

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

INPUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), nullable=False),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
])

# an output span is an input span plus its physical page (the reference's
# chunks carry page_number, unified_chunking_service.py:51-61 — stamping it
# on the span lets the chunker derive positional metadata without
# re-parsing geometry)
SPAN_OUT_STRUCT = T.StructType(
    SPAN_STRUCT.fields + [T.StructField("page", T.IntegerType())])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_OUT_STRUCT)),
    T.StructField("n_spans", T.IntegerType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("status", T.StringType()),
])

_HASH_PREFIX = np.array(["", "# ", "## ", "### ", "#### ", "##### ", "###### "],
                        dtype=object)


# The engine's attribute table, one row per parsed column: (column, key,
# default, value pattern from core/kinds.py). Its one reader is parse_attrs
# below, on both routes: the salted path's splitter (operators/skew.py) runs
# it over each giant. The oracle's parse_kind keeps its own defaults
# (core/kinds.py SpanAttrs) as the independent reference. An int default
# makes an int64 column, a float default a float64 one.
ATTRS = (
    # span and sheet dims feed only the L3/L5 spread remap
    ("w", "w", 0.0, FLOAT_ATTR_PATTERN),
    ("h", "h", 0.0, FLOAT_ATTR_PATTERN),
    ("sw", "sw", 0.0, FLOAT_ATTR_PATTERN),
    ("sh", "sh", 0.0, FLOAT_ATTR_PATTERN),
    ("page", "page", 1, INT_ATTR_PATTERN),
    ("y", "y", 0.0, FLOAT_ATTR_PATTERN),
    ("x", "x", 0.0, FLOAT_ATTR_PATTERN),
    ("size", "size", 10.0, FLOAT_ATTR_PATTERN),
    ("mono", "mono", 0, INT_ATTR_PATTERN),
    ("colattr", "col", 0, INT_ATTR_PATTERN),
    ("edpi", "edpi", 0, INT_ATTR_PATTERN),
    ("phash", "phash", "", ANY_ATTR_PATTERN),
)


def parse_attrs(flat: pd.DataFrame) -> pd.DataFrame:
    """Vectorized kind-grammar parse (the tokenizer of this domain), in the
    shape of the oracle's ``parse_kind`` and in one pass: split each kind on
    ``;`` once, segment 0 is the base, every later segment splits at its
    first ``=``. Per table key, the first segment whose value fully matches
    the key's pattern wins; a key without one keeps its default."""
    segs = pc.split_pattern(
        pa.array(flat["kind"].astype("object").fillna(""), pa.string()), ";")
    # numpy, not Series: flat's index has gaps where failed docs were
    # dropped, and a Series would be aligned on it
    flat["base"] = pc.list_element(segs, 0).to_numpy(zero_copy_only=False)
    attrs = pc.list_slice(segs, 1)
    kv = pc.split_pattern(pc.list_flatten(attrs), "=", max_splits=1)
    has_value = pc.equal(pc.list_value_length(kv), 2)
    kv = kv.filter(has_value)
    row = pc.list_parent_indices(attrs).filter(has_value).to_numpy()
    keys, values = pc.list_element(kv, 0), pc.list_element(kv, 1)
    for col, key, default, pattern in ATTRS:
        hit = pc.equal(keys, key)
        v = values.filter(hit)
        ok = pc.match_substring_regex(v, f"^(?:{pattern})$")
        # segments are in (row, position) order: np.unique's first index
        # per row is the row's first valid occurrence
        rows, first = np.unique(row[hit.to_numpy(zero_copy_only=False)]
                                [ok.to_numpy(zero_copy_only=False)],
                                return_index=True)
        v = v.filter(ok).take(first)
        text = isinstance(default, str)
        out = np.full(len(flat), default,
                      dtype=object if text else type(default))
        out[rows] = (v if text else pc.cast(v, pa.float64())).to_numpy(
            zero_copy_only=False)
        flat[col] = out
    return flat


def heading_levels(flat: pd.DataFrame, valid: np.ndarray) -> pd.DataFrame:
    """The engine's heading rule (M1) per (doc_idx, size) over the ``valid``
    text/title spans: body = the most frequent size (ties -> smaller size);
    sizes > body get levels 1.. descending by size, capped at 6. ``valid``
    (row mask) lets the caller defer the boilerplate filter so the frame is
    copied once, not per stage. Returns columns (doc_idx, size, level)."""
    tt = flat[flat["base"].isin(("text", "title")) & valid]
    counts = (tt.groupby(["doc_idx", "size"]).size().rename("cnt")
              .reset_index().sort_values(["doc_idx", "cnt", "size"],
                                         ascending=[True, False, True]))
    body = counts.drop_duplicates("doc_idx")[["doc_idx", "size"]].rename(
        columns={"size": "body"})
    sizes = counts[["doc_idx", "size"]].merge(body, on="doc_idx")
    bigger = sizes[sizes["size"] > sizes["body"]].copy()
    bigger["level"] = (
        bigger.groupby("doc_idx")["size"]
        .rank(ascending=False, method="dense").astype(np.int64)
        .clip(upper=C.MAX_HEADING_LEVEL)
    )
    return bigger[["doc_idx", "size", "level"]]


def mark_media_dups(flat: pd.DataFrame, valid: np.ndarray) -> pd.Series:
    """Boolean mask: valid media span is an exact-phash duplicate within its
    (doc, layer) bucket; first occurrence in (page, y, x, pos) order kept
    (I5, per-layer buckets pdf_processor.py:1184-1238)."""
    is_media = (flat["base"].isin(C.MEDIA_KINDS) & (flat["phash"] != "")
                & valid)
    dup = pd.Series(False, index=flat.index)
    if not is_media.any():
        return dup
    m = flat.loc[is_media, ["doc_idx", "base", "phash", "page", "y", "x", "pos"]]
    m = m.sort_values(["doc_idx", "base", "phash", "page", "y", "x", "pos"])
    dup.loc[m.index] = m.duplicated(["doc_idx", "base", "phash"], keep="first")
    return dup


SHEET_CTX_COLS = ["sheet_doc", "is_spread", "first_phys",
                  "sheet_w", "sheet_h"]


def _sheet_ctx(flat: pd.DataFrame, valid: np.ndarray) -> pd.DataFrame | None:
    """Per-(doc, sheet) physical-page mapping for sheet-addressed documents
    (L1 over the fixture encoding), over the ``valid`` rows: sheet dims =
    max sw/sh over the sheet's spans; aspect > SPREAD_ASPECT -> spread (2
    physical pages); 1-based running first_physical counter in sheet order.
    Returns None when the batch has no sheet-addressed doc (fast path)."""
    # validity is SHEET-level (a sheet's sw and sh may come from different
    # spans — the dims are per-sheet maxes); this cheap span-level probe is
    # only a necessary condition for the fast path
    if not ((flat["sw"] > 0).any() and (flat["sh"] > 0).any()):
        return None
    flat = flat.loc[valid, ["doc_idx", "page", "sw", "sh", "base", "w", "h"]]
    d = (flat.groupby(["doc_idx", "page"], sort=True)[["sw", "sh"]].max()
         .rename(columns={"sw": "sheet_w", "sh": "sheet_h"}).reset_index())
    valid = (d["sheet_w"] > 0) & (d["sheet_h"] > 0)
    if not valid.any():
        return None
    d["sheet_doc"] = valid.groupby(d["doc_idx"]).transform("max")
    safe_h = np.where(d["sheet_h"] > 0, d["sheet_h"], 1.0)
    d["is_spread"] = ((d["sheet_h"] > 0)
                      & (d["sheet_w"] / safe_h > C.SPREAD_ASPECT))
    # L2 full-spread-image gate (pdf_to_images.py:103-158): a media span
    # covering >= 75% of sheet width and >= 50% of sheet height means the
    # spread must NOT be split — the sheet stays one physical page
    media = flat.loc[flat["base"].isin(C.MEDIA_KINDS),
                     ["doc_idx", "page", "w", "h"]]
    if len(media):
        m = media.merge(d[["doc_idx", "page", "sheet_w", "sheet_h"]],
                        on=["doc_idx", "page"])
        m["full_img"] = ((m["w"] >= C.FULL_SPREAD_WIDTH_FRAC * m["sheet_w"])
                         & (m["h"] >= C.FULL_SPREAD_HEIGHT_FRAC * m["sheet_h"]))
        flag = (m.groupby(["doc_idx", "page"])["full_img"].max()
                .reset_index())
        d = d.merge(flag, on=["doc_idx", "page"], how="left")
        # notna()&eq(True) instead of fillna(False): the object-dtype
        # fillna downcast is deprecated in pandas 2.x
        d["is_spread"] &= ~(d["full_img"].notna() & d["full_img"].eq(True))
    n_phys = np.where(d["is_spread"], 2, 1)
    d["first_phys"] = (pd.Series(n_phys).groupby(d["doc_idx"]).cumsum()
                       - n_phys + 1)
    return d[["doc_idx", "page"] + SHEET_CTX_COLS]


def remap_spreads(flat: pd.DataFrame,
                  dims: pd.DataFrame | None) -> pd.DataFrame:
    """L3 half-page clip + L5 span-in-clip remap (reference
    stage_1_layout_precompute.py:124-141 `_clip_rect_for_position`,
    :198-234 `_pymupdf_spans_in_clip`): in sheet-addressed docs the `page`
    attr is a SHEET index; spread sheets (aspect > 1.4) split at mid = sw/2
    into two physical pages. A span lands on each half whose clip rect it
    intersects (inclusive bounds — gutter-straddling spans appear on BOTH
    halves, exactly like the reference); right-half copies translate
    x -> x - mid. Runs AFTER media dedup / heading histogram (content stats
    are sheet-level) and BEFORE classify/sort. `pos` becomes 2*pos + half
    so the duplicated copies stay uniquely ordered.

    Sheet geometry (dims + the L2 gate) is a property of the SHEET, so it
    is computed PRE-media-dedup (reference: page.rect / page images) —
    pass `dims` per (doc_idx, page): `_sheet_ctx` on the pre-dedup frame
    (of the batch, or of the whole giant for a page bucket; None -> no
    sheet-addressed docs, no-op)."""
    if dims is None:
        return flat
    # dims cover every remaining row of a document that has them: they are
    # built from its pre-dedup rows (a page bucket's from its whole giant)
    flat = flat.merge(dims, on=["doc_idx", "page"], how="left")

    flat["pos"] = 2 * flat["pos"]
    # a row without dims (a bucket of a sheetless giant batched with a sheet
    # giant's) is not a sheet: eq(True), as to_numpy(bool) reads NaN as True
    sheet = flat["sheet_doc"].eq(True).to_numpy()
    spread = sheet & flat["is_spread"].eq(True).to_numpy()
    first = flat["first_phys"].fillna(0).to_numpy(dtype=np.int64)
    x = flat["x"].to_numpy(dtype=np.float64)
    y = flat["y"].to_numpy(dtype=np.float64)
    x1 = x + flat["w"].to_numpy(dtype=np.float64)
    y1 = y + flat["h"].to_numpy(dtype=np.float64)
    sw = flat["sheet_w"].to_numpy(dtype=np.float64)
    shh = flat["sheet_h"].to_numpy(dtype=np.float64)
    mid = sw / 2.0
    in_left = spread & ~((x1 < 0) | (x > mid) | (y1 < 0) | (y > shh))
    in_right = spread & ~((x1 < mid) | (x > sw) | (y1 < 0) | (y > shh))

    pg = flat["page"].to_numpy(dtype=np.int64).copy()
    pg[sheet] = first[sheet]  # single sheets + left halves
    flat["page"] = pg
    left_part = flat[~spread | in_left]
    right = flat[in_right].copy()
    right["page"] = first[in_right] + 1
    right["x"] = x[in_right] - mid[in_right]
    right["pos"] = right["pos"].to_numpy() + 1
    out = pd.concat([left_part, right], ignore_index=True)
    return out.drop(columns=SHEET_CTX_COLS)


def _assemble_tables(flat: pd.DataFrame) -> pd.DataFrame:
    """Replace each (doc, page)'s table_cell group with one ``__table__``
    pseudo-row (or per-cell text fallbacks when the grid is < 2x2)."""
    cell_mask = flat["base"] == C.TABLE_CELL_KIND
    if not cell_mask.any():
        # common case: no table cells -> no pseudo-row surgery, and the two
        # marker columns are constant (skip the full-frame copy)
        flat["from_cell"] = False
        flat["pre_normalized"] = False
        return flat
    flat = flat.copy()
    flat["from_cell"] = False
    flat["pre_normalized"] = False
    cells = flat[cell_mask].copy()
    cells["norm"] = normalize_series(cells["text"])
    pseudo_rows = []
    fallback_idx: list = []
    for (d, p), grp in cells.groupby(["doc_idx", "page"], sort=False):
        ys = sorted(grp["y"].unique())
        colids = sorted(grp["colattr"].unique())
        row_of = {y: i for i, y in enumerate(ys)}
        col_of = {c: i for i, c in enumerate(colids)}
        grid = [["" for _ in colids] for _ in ys]
        for y, cid, txt in zip(grp["y"], grp["colattr"], grp["norm"]):
            grid[row_of[y]][col_of[cid]] = txt
        norm = normalize_grid(grid)
        if norm is None:
            fallback_idx.extend(grp.index)
            continue
        pseudo_rows.append({
            "doc_idx": d, "doc_id": grp["doc_id"].iloc[0],
            "pos": int(grp["pos"].min()), "kind": "",
            "text": grid_to_pipe_table(norm), "ref": "",
            "base": "__table__", "page": p,
            "y": float(grp["y"].min()), "x": float(grp["x"].min()),
            "size": 0.0, "mono": 0, "colattr": 0, "edpi": 0, "phash": "",
            "from_cell": True, "pre_normalized": True,
        })
    if fallback_idx:
        flat.loc[fallback_idx, "base"] = "text"
        flat.loc[fallback_idx, "size"] = 0.0
        flat.loc[fallback_idx, "from_cell"] = True
    flat = flat.drop(index=flat.index[flat["base"] == C.TABLE_CELL_KIND])
    if pseudo_rows:
        flat = pd.concat([flat, pd.DataFrame(pseudo_rows)], ignore_index=True)
    return flat


def _column_split(flat: pd.DataFrame) -> pd.Series:
    """Column index (0/1) per span from the per-(doc,page) x-gap split over
    text-like spans (excluding table-cell fallbacks, matching the oracle).

    Fully vectorized (round 3): one lexsort of the text-like rows, then
    segment arithmetic — max gap via ``np.maximum.at``, leftmost-tie index
    via ``np.minimum.at``, and the qualifying (doc, page) -> mid mapping
    applied to the whole frame with one ``searchsorted``. The previous
    per-candidate-group loop re-scanned the WHOLE frame per group
    (`flat["doc_idx"] == key[0]`) — O(rows x groups), profiled at 75% of
    the kernel on multi-column corpora. Gap positions over the
    duplicated sorted xs are equivalent to the oracle's unique-xs gaps
    (duplicate-adjacent diffs are 0, never maximal vs MIN_COLUMN_GAP > 0,
    and tie order is preserved)."""
    n = len(flat)
    col = np.zeros(n, dtype=np.int64)
    tl_mask = (flat["base"].isin(C.TEXT_LIKE_KINDS).to_numpy()
               & ~flat["from_cell"].to_numpy(dtype=bool))
    if not tl_mask.any():
        return pd.Series(col, index=flat.index)
    d_all = flat["doc_idx"].to_numpy(dtype=np.int64)
    p_all = flat["page"].to_numpy(dtype=np.int64)
    x_all = flat["x"].to_numpy(dtype=np.float64)
    # composite (doc, page) key; pages are parsed ints (offset keeps any
    # negative attr value collision-free), doc_idx is batch-bounded
    key_all = d_all * (1 << 33) + (p_all + (1 << 31))

    k = key_all[tl_mask]
    x = x_all[tl_mask]
    order = np.lexsort((x, k))
    ks = k[order]
    xs = x[order]
    seg_new = np.r_[True, ks[1:] != ks[:-1]]
    starts = np.flatnonzero(seg_new)
    ends = np.r_[starts[1:], len(ks)]
    counts = ends - starts
    nseg = len(starts)
    seg_id = np.cumsum(seg_new) - 1

    gaps = np.diff(xs)
    gseg = seg_id[:-1]
    valid = seg_id[:-1] == seg_id[1:]
    segmax = np.full(nseg, -1.0)
    np.maximum.at(segmax, gseg[valid], gaps[valid])
    big = np.iinfo(np.int64).max
    gidx = np.full(nseg, big)
    ismax = valid & (gaps == segmax[gseg])
    np.minimum.at(gidx, gseg[ismax], np.flatnonzero(ismax))

    ok = ((xs[ends - 1] - xs[starts] >= C.MIN_COLUMN_SPREAD)
          & (counts >= 2 * C.MIN_SPANS_PER_COLUMN)
          & (segmax >= C.MIN_COLUMN_GAP)
          & (gidx < big))
    gsafe = np.clip(gidx, 0, max(len(xs) - 2, 0))
    left = gsafe - starts + 1
    ok &= ((left >= C.MIN_SPANS_PER_COLUMN)
           & (counts - left >= C.MIN_SPANS_PER_COLUMN))
    if not ok.any():
        return pd.Series(col, index=flat.index)
    mids = (xs[gsafe] + xs[gsafe + 1]) / 2.0
    qual_keys = ks[starts[ok]]  # ascending (lexsort primary key)
    qual_mids = mids[ok]

    pos = np.searchsorted(qual_keys, key_all)
    posc = np.clip(pos, 0, len(qual_keys) - 1)
    hit = qual_keys[posc] == key_all
    col[hit] = (x_all[hit] >= qual_mids[posc][hit]).astype(np.int64)
    return pd.Series(col, index=flat.index)


def process_flat(flat: pd.DataFrame, headings: pd.DataFrame) -> pd.DataFrame:
    """The classify → assemble core over a flat span frame whose boilerplate
    and media duplicates are already removed.

    ``flat`` columns: doc_idx, doc_id, pos, kind, text, ref + parsed attrs.
    ``headings``: (doc_idx, size, level).
    Returns the frame sorted in reading order with out_kind/out_text/out_ref/
    offset/tlen columns (offsets restart at 0 per doc_idx).
    """
    flat = _assemble_tables(flat)
    flat["col"] = _column_split(flat)

    if len(headings):
        # merge only the 2-column key frame: a full-frame merge copies and
        # re-consolidates every column (profiled at ~25% of this kernel)
        flat["level"] = (flat[["doc_idx", "size"]]
                        .merge(headings, on=["doc_idx", "size"], how="left")
                        ["level"].to_numpy())
    else:
        flat["level"] = np.nan

    base = flat["base"]
    raw_text = flat["text"].astype("object").fillna("")
    is_media = base.isin(C.MEDIA_KINDS)
    is_table = base == "__table__"
    is_code = (base == "code") | ((flat["mono"] == 1) & ~is_media & ~is_table)
    list_marker = pd.Series(
        pc.match_substring_regex(
            pa.array(raw_text, type=pa.string()),
            "^" + C.LIST_MARKER_REGEX).to_numpy(zero_copy_only=False),
        index=raw_text.index)
    is_list = (~is_code & ~is_media & ~is_table
               & ((base == "list") | list_marker))
    is_heading = (~is_code & ~is_list & ~is_media & ~is_table
                  & ((base == "title") | flat["level"].notna()))
    is_caption = (base == "caption") & ~is_code & ~is_list & ~is_heading

    # vectorized normalization for everything except pre-normalized tables
    norm = raw_text.copy()
    to_norm = ~flat["pre_normalized"].to_numpy(dtype=bool)
    norm[to_norm] = normalize_series(raw_text[to_norm])
    norm[is_media.to_numpy()] = ""

    # heading prefix (normalize-then-prefix, like the oracle)
    lvl = flat["level"].fillna(1).astype(np.int64).clip(1, C.MAX_HEADING_LEVEL)
    h = is_heading.to_numpy()
    norm_arr = norm.to_numpy(dtype=object)
    norm_arr[h] = _HASH_PREFIX[lvl.to_numpy()[h]] + norm_arr[h]

    out_kind = np.where(is_media, base, "text").astype(object)
    out_kind[is_table.to_numpy()] = "table"
    out_kind[is_code.to_numpy()] = "code"
    out_kind[is_list.to_numpy()] = "list"
    out_kind[h] = "heading"
    out_kind[is_caption.to_numpy()] = "caption"

    # From here on the frame is done: one reading-order lexsort, then the
    # media gate + offsets run on SORTED NUMPY ARRAYS with contiguous
    # (doc, page) segments — the previous .assign/.iloc/.merge chain spent
    # >80% of this kernel in pandas block copies and consolidation.
    order = np.lexsort((flat["pos"].to_numpy(), flat["x"].to_numpy(),
                        flat["y"].to_numpy(), flat["col"].to_numpy(),
                        flat["page"].to_numpy(), flat["doc_idx"].to_numpy()))
    n = len(order)
    d_s = flat["doc_idx"].to_numpy()[order]
    pg_s = flat["page"].to_numpy()[order]
    base_s = flat["base"].to_numpy(dtype=object)[order]
    edpi_s = flat["edpi"].to_numpy()[order]
    did_s = flat["doc_id"].to_numpy(dtype=object)[order]
    text_s = norm_arr[order]
    kind_s = out_kind[order]

    out = pd.DataFrame({
        "doc_idx": d_s, "doc_id": did_s, "page": pg_s,
        "out_kind": kind_s, "out_text": text_s,
    })
    if n == 0:
        out["out_ref"] = np.array([], dtype=object)
        out["tlen"] = np.array([], dtype=np.int64)
        out["offset"] = np.array([], dtype=np.int32)
        return out

    # contiguous (doc, page) segments after the sort
    seg_new = np.r_[True, (d_s[1:] != d_s[:-1]) | (pg_s[1:] != pg_s[:-1])]
    seg_starts = np.flatnonzero(seg_new)
    seg_id = np.cumsum(seg_new) - 1

    # media gating (I2/I3 low-eDPI page gate) as segment reductions
    emb_np = base_s == "image"
    fig_np = base_s == "figure"
    low = emb_np & (edpi_s > 0) & (edpi_s < C.MIN_EFFECTIVE_DPI)
    pois_np = np.logical_or.reduceat(low, seg_starts)[seg_id]

    refs = np.empty(n, dtype=object)
    refs[:] = ""
    drop_mask = np.zeros(n, dtype=bool)
    media_np = emb_np | fig_np
    if media_np.any():
        # page-as-string only where media refs need it
        pg = np.empty(n, dtype=object)
        pg[media_np] = pg_s[media_np].astype(str).astype(object)

        def seg_rank(mask):
            # within-segment running count of mask rows, valid at mask rows
            cs = np.cumsum(mask)
            before = (cs - mask)[seg_starts]
            return cs - 1 - before[seg_id]

        if emb_np.any():
            rank_full = seg_rank(emb_np)
            healthy = emb_np & ~pois_np
            refs[healthy] = (did_s[healthy] + "/p" + pg[healthy] + "/img"
                             + rank_full[healthy].astype(str)
                             .astype(object))
            first_poisoned = emb_np & pois_np & (rank_full == 0)
            refs[first_poisoned] = (did_s[first_poisoned] + "/p"
                                    + pg[first_poisoned] + "/full_render")
            drop_mask |= emb_np & pois_np & (rank_full > 0)
        if fig_np.any():
            frank = seg_rank(fig_np)
            refs[fig_np] = (did_s[fig_np] + "/p" + pg[fig_np] + "/region"
                            + frank[fig_np].astype(str).astype(object))

    if drop_mask.any():
        keep = ~drop_mask
        out = out[keep].reset_index(drop=True)
        refs = refs[keep]
        d_s = d_s[keep]
        text_s = text_s[keep]

    # offsets: per-doc running char offset in reading order (W4), as
    # contiguous-segment arithmetic over the (sorted) doc runs
    tlen = pc.utf8_length(
        pa.array(text_s, type=pa.string())
    ).to_numpy(zero_copy_only=False).astype(np.int64)
    doc_new = np.r_[True, d_s[1:] != d_s[:-1]]
    doc_starts = np.flatnonzero(doc_new)
    doc_id_seg = np.cumsum(doc_new) - 1
    cum_excl = np.cumsum(tlen) - tlen
    offset = cum_excl - cum_excl[doc_starts][doc_id_seg]

    out["out_ref"] = refs
    out["tlen"] = tlen
    out["offset"] = offset.astype(np.int32)
    return out


def span_index(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(doc_idx, pos) of every span of a batch whose documents hold
    ``lengths`` spans: the document's row and the span's place in it."""
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    doc_idx = np.repeat(np.arange(len(lengths)), lengths)
    return doc_idx, np.arange(len(doc_idx)) - starts[doc_idx]


def _flatten_arrow(batch: "pa.RecordBatch") -> tuple[pd.DataFrame, pd.DataFrame]:
    """Arrow-native flatten: the spans ListArray's offsets/values replace
    the per-span Python loop of ``_flatten`` (dict-per-span materialization
    profiled as the normal path's dominant cost)."""
    spans_col = batch.column("spans")
    lengths = spans_col.value_lengths().to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths, nan=0).astype(np.int64)
    values = spans_col.flatten()  # StructArray of all spans, doc order

    docs = pd.DataFrame({
        "doc_idx": np.arange(len(batch)),
        "doc_id": batch.column("doc_id").to_pandas().astype(object),
        "n_input": lengths,
    })
    doc_idx, pos = span_index(lengths)
    flat = pd.DataFrame({
        "doc_idx": doc_idx,
        "doc_id": docs["doc_id"].to_numpy()[doc_idx],
        "pos": pos,
        "kind": values.field("kind").to_pandas().astype(object),
        "text": values.field("text").to_pandas().astype(object),
        "ref": values.field("media_ref").to_pandas().astype(object),
    })
    return flat, docs


def _reassemble_arrow(flat: pd.DataFrame, docs: pd.DataFrame,
                      failed_docs: set) -> "pa.RecordBatch":
    """Build the output RecordBatch without ever materializing per-span
    Python dicts (no ``to_pylist`` round-trip)."""
    n_docs = len(docs)
    counts = np.zeros(n_docs, dtype=np.int64)
    if len(flat):
        vc = flat["doc_idx"].value_counts()
        counts[vc.index.to_numpy()] = vc.to_numpy()
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])

    struct = pa.StructArray.from_arrays(
        [pa.array(flat["out_kind"], type=pa.string()),
         pa.array(flat["out_text"], type=pa.string()),
         pa.array(flat["out_ref"], type=pa.string()),
         pa.array(flat["offset"], type=pa.int32()),
         pa.array(flat["page"].to_numpy(dtype=np.int64), type=pa.int32())],
        names=["kind", "text", "media_ref", "offset", "page"],
    )
    spans = pa.ListArray.from_arrays(pa.array(offsets), struct)

    n_chars = np.zeros(n_docs, dtype=np.int64)
    if len(flat):
        per_doc = flat.groupby("doc_idx")["tlen"].sum()
        n_chars[per_doc.index.to_numpy()] = per_doc.to_numpy()

    # tlen is the UTF-8 character count, so n_chars > 0 is the oracle's
    # "any span has text"
    status = np.where(
        docs["n_input"].to_numpy() == 0, C.STATUS_EMPTY,
        np.where(n_chars > 0, C.STATUS_COMPLETED,
                 np.where(counts > 0, C.STATUS_NO_TEXT,
                          C.STATUS_COMPLETED_EMPTY)),
    ).astype(object)
    # failed docs carry no flat rows, so their list slot is already empty
    for d in failed_docs:
        status[d] = C.STATUS_FAILED

    failed = status == C.STATUS_FAILED
    return pa.RecordBatch.from_arrays(
        [pa.array(docs["doc_id"], type=pa.string()),
         spans,
         pa.array(np.where(failed, 0, counts).astype(np.int32)),
         pa.array(np.where(failed, 0, n_chars).astype(np.int64)),
         pa.array(status, type=pa.string())],
        names=["doc_id", "spans", "n_spans", "n_chars", "status"],
    )


# input spans per processing chunk: the kernel runs ~60 vectorized ops per
# chunk, so Spark's default 256-record Arrow batches pay that fixed cost
# every ~2k spans (measured 2.5x slowdown); accumulate to amortize. Kernel
# memory grows per span, so the budget counts spans, not docs: ~4k average
# docs per chunk. An incoming batch above the budget (up to 1,024 docs of
# at most skew-threshold spans, ~8.4M spans) is first cut at doc
# boundaries into pieces of at most this budget, so no chunk reaches twice
# the budget unless it is one document.
_CHUNK_SPANS = 1 << 15


def cut_runs(sizes: list[int],
             budget: int) -> Iterator[tuple[int, int, int]]:
    """(start, stop, total) runs of ``sizes`` in order, each closed before
    it would pass ``budget``; a unit is never split, so only a one-unit run
    passes it. Cuts kernel batches at docs and giants at pages (skew.py)."""
    start = acc = 0
    for i, n in enumerate(sizes):
        if acc and acc + n > budget:
            yield start, i, acc
            start, acc = i, 0
        acc += n
    yield start, len(sizes), acc


def _coalesce_batches(
        batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    pending: list[pa.RecordBatch] = []
    n_docs = n_spans = 0
    for b in batches:
        if b.num_rows == 0:
            continue
        lengths = b.column("spans").value_lengths().fill_null(0).to_pylist()
        for start, stop, piece_spans in cut_runs(lengths, _CHUNK_SPANS):
            pending.append(b.slice(start, stop - start))
            n_docs += stop - start
            n_spans += piece_spans
            if n_spans >= _CHUNK_SPANS:
                yield pa.Table.from_batches(pending).combine_chunks().to_batches(
                    max_chunksize=n_docs)[0]
                pending, n_docs, n_spans = [], 0, 0
    if pending:
        yield pa.Table.from_batches(pending).combine_chunks().to_batches(
            max_chunksize=n_docs)[0]


def run_stages(flat: pd.DataFrame, docs: pd.DataFrame,
               ctx: tuple | None = None) -> "pa.RecordBatch":
    """The one stage chain of both kernels over a flattened batch: attr
    parse -> doc-global context -> filter -> spread remap -> ``process_flat``
    -> reassembly. A document with a NULL kind is ``failed`` and leaves
    before the parse.

    ``ctx`` None computes the context in the batch. The rows of a giant's
    page buckets (operators/skew.py) already passed the boilerplate and
    duplicate masks over the whole giant, and pass its context instead,
    computed by the same functions: (headings, sheet dims or None)."""
    failed_docs = set(flat.loc[flat["kind"].isna(), "doc_idx"].unique())
    if failed_docs:  # drop, not a mask: see the take below
        flat = flat.drop(flat.index[flat["doc_idx"].isin(failed_docs)])

    flat = parse_attrs(flat)
    # boilerplate and media duplicates leave in one take: the stages
    # before it read the `ok` mask instead of a filtered copy. A take, not
    # a mask: a masked copy of a frame the caller still holds warns on
    # every column the later stages add
    ok = ~flat["base"].isin(C.BOILERPLATE_KINDS).to_numpy()
    if ctx is None:
        headings = heading_levels(flat, ok)
        sheet_dims = _sheet_ctx(flat, ok)  # sheet geometry is pre-dedup
        ok &= ~mark_media_dups(flat, ok).to_numpy()
    else:
        headings, sheet_dims = ctx
    flat = remap_spreads(flat.take(np.flatnonzero(ok)), sheet_dims)
    return _reassemble_arrow(process_flat(flat, headings), docs, failed_docs)


def extract_iter_arrow(
        batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """mapInArrow entrypoint: one tokenize->classify->assemble pass per
    Arrow chunk of documents, with zero per-span Python objects at either
    boundary."""
    for batch in _coalesce_batches(batches):
        yield run_stages(*_flatten_arrow(batch))


def source_partitions(df: DataFrame) -> int:
    """Physical partition count of `df`'s plan. The df->RDD bridge compiles
    a separate physical plan, so call this ONCE per source, not per subplan
    (ADVICE r1) — run_extract_skewed probes the raw source and passes the
    decision down."""
    try:
        return df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive
        return df.sparkSession.sparkContext.defaultParallelism


# Bytes of source per extraction task when spreading a too-coarse source.
# The kernel runs ~135 ms per source MiB. A trivial mapInArrow task costs
# ~0.06 s of task-slot time once the worker keeps its zip directories
# (see the package's _keep_zip_directories): scripts/task_overhead.py ran
# 48 of them at local[4] on 4 vCPU in 0.75-0.81 s of wall against
# 0.08-0.09 s for the same JVM-only job (min of 5, 2026-10-19). At
# 2 MiB/task that fixed cost is ~20% of the compute; resizing this is a
# measured perf change of its own.
_REPART_BYTES_PER_TASK = 2 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan (file-footprint-derived for
    parquet/Iceberg scans). -1 when unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:  # pragma: no cover - defensive
        return -1


def auto_partition_target(df: DataFrame) -> int:
    """Decide whether (and how wide) to spread a too-coarse source before
    the Arrow pass. Returns 0 for "leave the scan partitions alone", else
    a pinned repartition count: ~one task per 2 MiB of source, capped at
    3x parallelism, and never narrower than the scan already is. Sources
    at least as wide as the cluster are never reshuffled (their splits
    are size-balanced by maxPartitionBytes already)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    src = source_partitions(df)
    if src >= par:
        return 0
    size = _plan_size_bytes(df)
    target = 3 * par if size < 0 else min(
        3 * par, max(1, -(-size // _REPART_BYTES_PER_TASK)))
    return target if target > src else 0


def run_extract(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """The physical extraction plan for documents that fit one task: an
    optional hash-repartition by doc_id, then one Arrow-vectorized pass.

    ``num_partitions``: None probes the source (``auto_partition_target``),
    >0 pins a repartition, 0 keeps the scan's partitions."""
    if num_partitions is None:
        # extraction is per-document and every document is ONE row, so no
        # co-location is required — shuffling the full corpus just to
        # rebalance is pure serialize/write/read waste (it was ~20% of job
        # time and, worse, a cost that does not scale with cores). Run the
        # kernel directly on the scan partitions (Iceberg/parquet splits
        # are already size-balanced by maxPartitionBytes); repartition only
        # when the source is too coarse to use the cluster, and size the
        # spread by BYTES, not a fixed 3x-parallelism fan: at small inputs
        # the fixed fan's per-task Python round-trips dominated the wall
        # (96 near-empty Arrow tasks for a 15 KB source measured ~1.3 s).
        # Unknown stats fall back to the 3x fan (Long.Max default ->
        # target caps at 3*par, the prior behavior).
        num_partitions = auto_partition_target(df)
    if num_partitions > 0:
        # pin the count: a bare repartition(col) is AQE-coalescible by
        # bytes, and span rows are bytes-small but Python-compute-heavy
        df = df.repartition(num_partitions, F.col("doc_id"))
    # mapInArrow, not mapInPandas: the spans column is array<struct>, which
    # pandas conversion would materialize as a dict per span on BOTH
    # boundaries — the flatten/reassemble work on the Arrow buffers directly
    return df.mapInArrow(extract_iter_arrow, schema=OUTPUT_SCHEMA)
