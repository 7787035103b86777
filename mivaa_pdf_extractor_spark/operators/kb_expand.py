"""KB chunk-hit neighbour expansion — issue #318
(app/api/rag_routes.py:5860,6340-6470; adjacency RPC
``expand_document_chunk_hits``; guarded by the reference's own
tests/unit/test_kb_chunk_retrieval.py).

The vector-search floor bookkeeping is covered by
``similarity_floor_stats``; this folds the structure expansion that
reassembles each retrieved chunk with its reading-order neighbours:

* adjacency is resolved inside the hit's own (document, product)
  namespace — ``chunk_index`` restarts at 0 per product, so a
  document-wide walk would interleave products (pin);
  neighbours are the rows with ``0 < |idx - hit_idx| <= expand_n``;
* the char budget starts at ``EXPANDED_CHUNK_CHAR_BUDGET -
  len(stripped hit content)`` = 6000 and is consumed SEQUENTIALLY in
  reading order: an empty (stripped) neighbour is skipped, and an
  oversized one is SKIPPED rather than breaking the loop — the
  smaller chunk on its far side still gets in (pin);
* reading order = ``chunk_index`` with NULL -> 2_147_483_647 (the
  explicit total-order guard: a None-vs-None tuple key would
  TypeError and the outer handler would swallow the whole search —
  reference comment); Python's stable sorts keep the hit before any
  equal-keyed neighbour, canonicalized here as (ro_key, is_neighbour,
  neighbour chunk_id);
* the final row's ``id`` is the DOCUMENT id, not the chunk's — it is
  the address ``/search/read-section`` reads from (pin);
  ``content`` joins the kept pieces with blank lines (full text, no
  500-char cut); ``matched_content`` carries the bare hit ONLY when
  expansion actually added something, else NULL (pin);
* the expansion stats (requested / hits / expanded_hits /
  neighbors_added) ship with the response.

Scale: one (doc, product)-keyed self-join bounded by 2·expand_n rows
per hit, then a per-hit ``aggregate`` HOF over the sorted neighbour
array — the budget fold is O(neighbours) inside one row, no shuffle
beyond the join and the per-hit collect.

Round 6 (10x audit, second pass): the keep/skip decision of the
budget fold depends only on the LENGTH of each neighbour's trimmed
text, yet the plan shuffled the full text per (hit, neighbour) pair —
with the synth's index-collision fan-out (hundreds of chunks per
(doc, product, index) bucket at 10x) that was ~GBs of duplicated
text through the neighbour collect. The fold now runs over
(ro, nid, len) structs; the (few) KEPT neighbours' texts are joined
back by chunk_id afterwards for the content assembly. Always-skipped
neighbours (empty after trim, or longer than the whole char budget —
the running budget starts at ``char_budget - len(hit)`` and only
shrinks, so they can never fit) are filtered before the join.
Identical output for any corpus keyed by ``chunk_id`` (the reference
PK; duplicate chunk_id rows were never defined for this RPC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core.cache import track

EXPANDED_CHUNK_CHAR_BUDGET = 6000
_RO_NULL = 2_147_483_647


def expand_chunk_hits(hits: DataFrame, chunks: DataFrame, *,
                      expand_n: int = 1,
                      char_budget: int = EXPANDED_CHUNK_CHAR_BUDGET
                      ) -> DataFrame:
    """hits: (chunk_id, document_id, product_id, chunk_index,
    content, document_title, product_name, chunk_type, similarity);
    chunks: (chunk_id, document_id, product_id, chunk_index,
    content)."""
    if not expand_n:
        x = hits.withColumn(
            "_nbs",
            F.array().cast(
                "array<struct<ro:long,nid:long,len:long>>"))
    else:
        # one slim trimmed-text projection of the corpus, persisted:
        # both the length side of the neighbour join and the kept-text
        # join-back below read it, and ``chunks`` may arrive as an
        # arbitrary computed lineage (the contract synth builds its
        # texts with repeat()) — unpersisted, that lineage would
        # materialize twice. On a cluster over a parquet chunk table
        # the persist is optional (the second read is a pruned
        # column scan), here it keeps the single-materialization
        # shape of the round-5 plan.
        corpus = track(chunks.select(
            F.col("chunk_id").alias("_nid"),
            F.col("document_id").alias("_nd"),
            F.col("product_id").alias("_np"),
            F.col("chunk_index").alias("_nix"),
            F.trim(F.coalesce("content", F.lit("")))
            .alias("_ntext")))
        # lengths of the trimmed neighbour texts are all the budget
        # fold needs; always-skipped neighbours (empty, or longer than
        # the whole budget) are dropped before the join (module
        # docstring, round-6 second pass)
        c = corpus.select(
            "_nid", "_nd", "_np", "_nix",
            F.length("_ntext").cast("long").alias("_nlen")).where(
            (F.col("_nlen") > 0) & (F.col("_nlen") <= char_budget))
        # Round 6 (10x-scale audit finding, second pass): a neighbour
        # at distance <= n is exactly index + off for off in
        # [-n..n]\{0}, and with the synth's index collisions hundreds
        # of chunks share each (document, product, index) key — every
        # hit on that key needs the SAME candidate set. Build each
        # bucket's nid-sorted (nid, len) array ONCE, then left-join
        # every hit to its 2n bucket rows on the full
        # (document, product, index+off) equi-key: identical match set
        # (each neighbour matches exactly one offset; NULL indexes
        # never equal on either side), and the per-hit neighbour
        # collect disappears from the plan entirely — no shuffle of
        # per-(hit, neighbour) rows at any scale.
        buckets = track(
            c.groupBy("_nd", "_np", "_nix")
            .agg(F.array_sort(F.collect_list(F.struct(
                F.coalesce(F.col("_nix").cast("long"),
                           F.lit(_RO_NULL)).alias("ro"),
                F.col("_nid").cast("long").alias("nid"),
                F.col("_nlen").alias("len")))).alias("_barr")))
        offs = [o for o in range(-expand_n, expand_n + 1) if o != 0]
        x = hits
        parts = []
        drop_cols = []
        for i, off in enumerate(offs):
            bo = buckets.select(
                F.col("_nd").alias(f"_bd{i}"),
                F.col("_np").alias(f"_bp{i}"),
                F.col("_nix").alias(f"_bx{i}"),
                F.col("_barr").alias(f"_ba{i}"))
            x = x.join(
                bo,
                (x["document_id"] == F.col(f"_bd{i}"))
                & (x["product_id"] == F.col(f"_bp{i}"))
                & (F.col(f"_bx{i}") == x["chunk_index"] + F.lit(off)),
                "left")
            parts.append(F.coalesce(F.col(f"_ba{i}"), F.array().cast(
                "array<struct<ro:long,nid:long,len:long>>")))
            drop_cols += [f"_bd{i}", f"_bp{i}", f"_bx{i}", f"_ba{i}"]
        # concat in ascending-offset order == the (ro, nid) sort the
        # budget fold walks: ro = index + off rises with off, and each
        # bucket array is nid-sorted
        x = x.withColumn(
            "_nbs",
            F.concat(*parts) if len(parts) > 1 else parts[0]
        ).drop(*drop_cols)
    matched = F.trim(F.coalesce("content", F.lit("")))
    # sequential budget fold over the reading-order-sorted neighbours;
    # kept carries (ro, nid) in fold (= reading) order — the prefilter
    # above already removed empty texts, so len >= 1 here
    init = F.struct(
        (F.lit(char_budget) - F.length(matched)).cast("long")
        .alias("budget"),
        F.array().cast("array<struct<ro:long,nid:long>>")
        .alias("kept"))
    folded = F.aggregate(
        F.col("_nbs"), init,
        lambda acc, n: F.struct(
            F.when(n["len"] <= acc["budget"],
                   acc["budget"] - n["len"])
            .otherwise(acc["budget"]).alias("budget"),
            F.when(n["len"] <= acc["budget"],
                   F.concat(acc["kept"], F.array(F.struct(
                       n["ro"].alias("ro"), n["nid"].alias("nid")))))
            .otherwise(acc["kept"]).alias("kept")))
    x = x.withColumn("_kept", folded["kept"]).drop("_nbs")
    if expand_n:
        # persist the folded frame: the kept-text join-back below and
        # the final select both read it, and its lineage holds the
        # neighbour join + per-hit fold
        x = track(x)
        # join the KEPT neighbours' texts back by chunk_id (few per
        # hit — their lengths sum to <= char_budget-ish counts, vs the
        # full neighbour fan-out the old plan shuffled). Duplicate hit
        # rows of one chunk_id collect the same kept parts twice;
        # array_distinct drops the copies (a hit's parts are unique per
        # (ro, nid)) without the shuffle a distinct() would add
        kept_rows = (x.select(F.col("chunk_id").alias("_kcid"),
                              F.explode("_kept").alias("_k"))
                     .select("_kcid", F.col("_k.ro").alias("_kro"),
                             F.col("_k.nid").alias("_knid")))
        kparts = (kept_rows
                  .join(corpus.select("_nid", "_ntext"),
                        F.col("_knid") == F.col("_nid"), "inner")
                  .groupBy(F.col("_kcid").alias("chunk_id"))
                  .agg(F.array_distinct(F.collect_list(F.struct(
                      F.col("_kro").alias("ro"),
                      F.col("_knid").alias("nid"),
                      F.col("_ntext").alias("text"))))
                      .alias("_kparts")))
        x = x.join(kparts, "chunk_id", "left")
    else:
        x = x.withColumn(
            "_kparts",
            F.lit(None).cast(
                "array<struct<ro:long,nid:long,text:string>>"))
    x = x.withColumn(
        "_kparts", F.coalesce(
            F.col("_kparts"),
            F.array().cast(
                "array<struct<ro:long,nid:long,text:string>>")))
    hit_piece = F.struct(
        F.coalesce(F.col("chunk_index").cast("long"),
                   F.lit(_RO_NULL)).alias("ro"),
        F.lit(-1).cast("long").alias("nid"),   # hit sorts before
        matched.alias("text"))                  # equal-keyed others
    pieces = F.array_sort(
        F.concat(F.array(hit_piece), F.col("_kparts")))
    # _kept is in fold order = (ro, nid) ascending (the fold walked
    # the sorted array), so the added-index list reads off it directly
    added = F.transform(
        F.col("_kept"),
        lambda p: F.when(p["ro"] == _RO_NULL,
                         F.lit(None).cast("long"))
        .otherwise(p["ro"]))
    has_added = F.size("_kept") > 0
    return x.select(
        F.col("document_id").alias("id"),      # the read address
        "chunk_id", "chunk_index", "product_id",
        F.array_join(F.transform(pieces, lambda p: p["text"]),
                     "\n\n").alias("content"),
        F.when(has_added, matched).alias("matched_content"),
        "document_title", "product_name",
        F.col("chunk_type").alias("category"),
        has_added.alias("expanded"),
        F.array_join(F.transform(added, lambda i: F.coalesce(
            i.cast("string"), F.lit("null"))), ",")
        .alias("expanded_chunk_indexes"),
        F.size("_kept").cast("int").alias("neighbors_added"),
        F.coalesce(F.col("similarity"), F.lit(0.0))
        .alias("relevance_score"),
        F.lit("pdf").alias("source"),
        F.lit("chunk").alias("type"))


def expansion_stats(expanded: DataFrame, *,
                    expand_n: int) -> DataFrame:
    return expanded.agg(
        F.lit(expand_n).cast("int").alias("requested"),
        F.count("*").cast("long").alias("hits"),
        F.sum(F.col("expanded").cast("int")).cast("long")
        .alias("expanded_hits"),
        F.sum("neighbors_added").cast("long")
        .alias("neighbors_added"))


# ---------------------------------------------------------------------------
# synthesizers + DuckDB twins
# ---------------------------------------------------------------------------


def synth_kb_corpus(events: DataFrame) -> DataFrame:
    """Chunk corpus keyed (doc, product, idx); some NULL indexes and
    some empty/oversized texts to exercise the budget fold."""
    e = F.col("event_id")
    return events.select(
        e.cast("long").alias("chunk_id"),
        (e % 19).cast("long").alias("document_id"),
        ((e % 19) * 3 + e % 3).cast("long").alias("product_id"),
        F.when(e % 13 == 0, F.lit(None).cast("int"))
        .otherwise(F.floor(e / 57).cast("int") % 40)
        .alias("chunk_index"),
        F.when(e % 7 == 0, F.lit(""))
        .when(e % 7 == 1, F.lit("   "))
        .otherwise(F.concat(
            F.lit(" chunk "), e.cast("string"), F.lit(" "),
            F.repeat(F.lit("x"), ((e % 40) * 90).cast("int"))))
        .alias("content"))


SYNTH_KB_CORPUS_SQL = """
    SELECT CAST(event_id AS BIGINT) AS chunk_id,
           CAST(event_id % 19 AS BIGINT) AS document_id,
           CAST((event_id % 19) * 3 + event_id % 3 AS BIGINT)
               AS product_id,
           CASE WHEN event_id % 13 = 0 THEN NULL
                ELSE CAST((event_id // 57) % 40 AS INT) END
               AS chunk_index,
           CASE WHEN event_id % 7 = 0 THEN ''
                WHEN event_id % 7 = 1 THEN '   '
                ELSE ' chunk ' || CAST(event_id AS VARCHAR) || ' '
                     || repeat('x', CAST((event_id % 40) * 90
                                         AS INT)) END AS content
    FROM events
"""


def synth_kb_hits(events: DataFrame) -> DataFrame:
    """Every 23rd corpus chunk with a non-empty text is a hit."""
    e = F.col("event_id")
    corpus = synth_kb_corpus(events)
    return (corpus
            .where((F.col("chunk_id") % 23 == 0)
                   & (F.trim("content") != "")
                   & F.col("chunk_index").isNotNull())
            .select("chunk_id", "document_id", "product_id",
                    "chunk_index", "content",
                    F.concat(F.lit("Doc "),
                             F.col("document_id").cast("string"))
                    .alias("document_title"),
                    F.concat(F.lit("Prod "),
                             F.col("product_id").cast("string"))
                    .alias("product_name"),
                    F.when(F.col("chunk_id") % 2 == 0, "text")
                    .otherwise("table").alias("chunk_type"),
                    F.round(0.5 + (F.col("chunk_id") % 50) / 100.0, 2)
                    .alias("similarity")))


SYNTH_KB_HITS_SQL = f"""
    SELECT chunk_id, document_id, product_id, chunk_index, content,
           'Doc ' || CAST(document_id AS VARCHAR) AS document_title,
           'Prod ' || CAST(product_id AS VARCHAR) AS product_name,
           CASE WHEN chunk_id % 2 = 0 THEN 'text'
                ELSE 'table' END AS chunk_type,
           round(0.5 + (chunk_id % 50) / 100.0, 2) AS similarity
    FROM ({SYNTH_KB_CORPUS_SQL})
    WHERE chunk_id % 23 = 0 AND trim(content) <> ''
      AND chunk_index IS NOT NULL
"""


def _expand_core_sql(expand_n: int, char_budget: int) -> str:
    return f"""
        c AS ({SYNTH_KB_CORPUS_SQL}),
        h AS ({SYNTH_KB_HITS_SQL}),
        nb AS (
          SELECT h.chunk_id AS hit_id, c.chunk_id AS nid,
                 coalesce(CAST(c.chunk_index AS BIGINT),
                          {_RO_NULL}) AS ro,
                 trim(coalesce(c.content, '')) AS text,
                 row_number() OVER (
                     PARTITION BY h.chunk_id
                     ORDER BY coalesce(CAST(c.chunk_index AS BIGINT),
                                       {_RO_NULL}), c.chunk_id)
                     AS pos
          FROM h JOIN c
            ON h.document_id = c.document_id
           AND h.product_id = c.product_id
           AND c.chunk_index <> h.chunk_index
           AND abs(c.chunk_index - h.chunk_index) <= {expand_n}),
        mx AS (SELECT hit_id, max(pos) AS npos FROM nb
               GROUP BY hit_id),
        rec AS (
          WITH RECURSIVE r(hit_id, pos, budget, kept_ids) AS (
            SELECT h.chunk_id, 0,
                   CAST({char_budget}
                        - length(trim(coalesce(h.content, '')))
                        AS BIGINT),
                   CAST([] AS BIGINT[])
            FROM h
            UNION ALL
            SELECT r.hit_id, r.pos + 1,
                   CASE WHEN nb.text <> ''
                             AND length(nb.text) <= r.budget
                        THEN r.budget - length(nb.text)
                        ELSE r.budget END,
                   CASE WHEN nb.text <> ''
                             AND length(nb.text) <= r.budget
                        THEN list_append(r.kept_ids, nb.nid)
                        ELSE r.kept_ids END
            FROM r JOIN nb ON nb.hit_id = r.hit_id
                          AND nb.pos = r.pos + 1)
          SELECT r.hit_id, r.kept_ids FROM r
          LEFT JOIN mx ON mx.hit_id = r.hit_id
          WHERE r.pos = coalesce(mx.npos, 0)),
        pieces AS (
          SELECT h.chunk_id AS hit_id,
                 coalesce(CAST(h.chunk_index AS BIGINT), {_RO_NULL})
                     AS ro,
                 CAST(-1 AS BIGINT) AS nid,
                 trim(coalesce(h.content, '')) AS text
          FROM h
          UNION ALL
          SELECT nb.hit_id, nb.ro, nb.nid, nb.text
          FROM nb JOIN rec ON rec.hit_id = nb.hit_id
          WHERE list_contains(rec.kept_ids, nb.nid)),
        asm AS (
          SELECT hit_id,
                 string_agg(text, chr(10) || chr(10)
                            ORDER BY ro, nid) AS content,
                 CAST(sum(CASE WHEN nid <> -1 THEN 1 ELSE 0 END)
                      AS INT) AS neighbors_added,
                 string_agg(
                     CASE WHEN nid <> -1 THEN
                       CASE WHEN ro = {_RO_NULL} THEN 'null'
                            ELSE CAST(ro AS VARCHAR) END END,
                     ',' ORDER BY ro, nid) AS expanded_chunk_indexes
          FROM pieces GROUP BY hit_id),
        fin AS (
          SELECT h.document_id AS id, h.chunk_id, h.chunk_index,
                 h.product_id, a.content,
                 CASE WHEN a.neighbors_added > 0
                      THEN trim(coalesce(h.content, '')) END
                     AS matched_content,
                 h.document_title, h.product_name,
                 h.chunk_type AS category,
                 a.neighbors_added > 0 AS expanded,
                 coalesce(a.expanded_chunk_indexes, '')
                     AS expanded_chunk_indexes,
                 coalesce(a.neighbors_added, 0) AS neighbors_added,
                 coalesce(h.similarity, 0.0) AS relevance_score,
                 'pdf' AS source, 'chunk' AS type
          FROM h JOIN asm a ON a.hit_id = h.chunk_id)
"""


def expand_sql(*, expand_n: int = 1,
               char_budget: int = EXPANDED_CHUNK_CHAR_BUDGET) -> str:
    return f"""
        WITH {_expand_core_sql(expand_n, char_budget)}
        SELECT * FROM fin
    """


def stats_sql(*, expand_n: int = 1,
              char_budget: int = EXPANDED_CHUNK_CHAR_BUDGET) -> str:
    return f"""
        WITH {_expand_core_sql(expand_n, char_budget)}
        SELECT CAST({expand_n} AS INT) AS requested,
               CAST(count(*) AS BIGINT) AS hits,
               CAST(sum(CASE WHEN expanded THEN 1 ELSE 0 END)
                    AS BIGINT) AS expanded_hits,
               CAST(sum(neighbors_added) AS BIGINT)
                   AS neighbors_added
        FROM fin
    """
