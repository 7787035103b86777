"""Driver contract for the spark-graft builder (PySpark target).

``entry``      — flagship: full skew-aware extraction pipeline over spans
                 synthesized natively from the sf0.001 documents table.
``queries``    — one entry per implemented operator family (SURVEY.md §2 +
                 the training-data battery); each callable (spark, sf_dir) ->
                 DataFrame.
``oracle_sql`` — exact DuckDB twins for the SQL-expressible ones. Column
                 names and value rounding match the Spark side; md5-based
                 hashing keeps cross-engine results bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mivaa_pdf_extractor_spark.core.constants import (GLYPH_REPLACEMENTS,
                                                      LIGATURE_AND_WS_PASSES)
from mivaa_pdf_extractor_spark.operators import dedup as dd
from mivaa_pdf_extractor_spark.operators import similarity as sim
from mivaa_pdf_extractor_spark.operators import text_analysis as ta
from mivaa_pdf_extractor_spark.operators import chunking as ck
from mivaa_pdf_extractor_spark.operators import packing as pk
from mivaa_pdf_extractor_spark.operators.chunking import (chunk_documents,
                                                          classify_chunk_types,
                                                          detect_cross_refs,
                                                          with_embedding_text)
from mivaa_pdf_extractor_spark.operators.layout import (analyze_sheet_layout,
                                                        is_full_spread_image,
                                                        normalize_regions,
                                                        spans_in_clip)
from mivaa_pdf_extractor_spark.operators.tables_op import (
    aggregate_product_metadata, mine_table_metadata,
    parse_and_classify_tables)
from mivaa_pdf_extractor_spark.operators.extract import run_extract
from mivaa_pdf_extractor_spark.operators.media import (
    extract_image_features, media_object_rows, sample_audio_windows,
    sample_frames, synth_media_for_extracted)
from mivaa_pdf_extractor_spark.operators.skew import run_extract_skewed
from mivaa_pdf_extractor_spark.sources.from_flat import (documents_to_spans,
                                                         with_synthetic_giants)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The testdata documents table is a single-row-group ~1.5 MB parquet
    # file: it scans as ONE task, and minPartitionNum can't split below
    # row-group granularity — so any query whose per-row work dwarfs the
    # scanned bytes would run single-threaded until its first shuffle
    # (measured: winnowing 4.3 -> 1.4 s, the section regex tier
    # 117 -> 9 s once distributed). One tiny hash repartition here fixes
    # every consumer; a production table has >= cores splits and skips
    # this (extraction sizes its own repartition on source bytes).
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(spark.sparkContext.defaultParallelism,
                         "doc_id"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same single-row-group trap as _docs: events.parquet scans as ONE
    # task, and the ~400 service-fold queries that synthesize their
    # frames from it run their expression ladders single-threaded until
    # the first shuffle — shuffle-free folds (salary_normalize: 13 s ->
    # ~1 s) never parallelize at all. One hash repartition here fixes
    # every consumer; a production events table has >= cores splits.
    return (spark.read.parquet(f"{sf_dir}/events.parquet")
            .repartition(spark.sparkContext.defaultParallelism,
                         "event_id"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same single-row-group trap as _docs: the per-row vector math in
    # the similarity tier dwarfs the ~0.8 MB scan
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .repartition(spark.sparkContext.defaultParallelism,
                         "vec_id"))


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Skew-aware span extraction over sf0.001 (native span synthesis ->
    mapInArrow kernel, salted page buckets for giants -> per-doc
    spans/status)."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    spans = with_synthetic_giants(docs, every=200, repeat=60)
    out = run_extract_skewed(spans, skew_threshold=2000)
    return out.select("doc_id", "n_spans", "n_chars", "status",
                      F.col("spans").getItem(0).getField("kind").alias("first_kind"))


# ---------------------------------------------------------------------------
# SQL helpers shared by Spark and DuckDB sides
# ---------------------------------------------------------------------------

_DUCK_WORDS = "list_filter(regexp_split_to_array(lower({c}), '\\s+'), w -> w <> '')"

_LANGS = sorted(ta.LANG_STOPWORDS)


def _duck_lang_hits(lang: str, col: str = "text") -> str:
    stop = ", ".join(f"'{w}'" for w in ta.LANG_STOPWORDS[lang])
    return (f"length(list_intersect(list_distinct("
            f"{_DUCK_WORDS.format(c=col)}), [{stop}]))")


def _duck_glyph_chain(col: str) -> str:
    expr = col
    for g, c in GLYPH_REPLACEMENTS.items():
        gq = g.replace("'", "''")
        cq = c.replace("'", "''")
        expr = f"replace({expr}, '{gq}', '{cq}')"
    for pat, repl in LIGATURE_AND_WS_PASSES:
        pq = pat.replace("'", "''")
        # DuckDB RE2 replacement backrefs are \1 — our table already uses \1
        rq = repl.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pq}', '{rq}', 'g')"
    return expr


def _spark_glyph_chain(col):
    expr = col
    for g, c in GLYPH_REPLACEMENTS.items():
        expr = F.replace(expr, F.lit(g), F.lit(c))
    for pat, repl in LIGATURE_AND_WS_PASSES:
        expr = F.regexp_replace(expr, pat, repl.replace("\\1", "$1")
                                .replace("\\2", "$2").replace("\\3", "$3"))
    return expr


_GLYPH_SALT = " /nine.LP deci/s_ion  x/emdash.cap pa/t_terns /f end"

_Q1_DATE = "1998-09-02"

_QUALITY_DUCK = (
    "CAST(floor(("
    " 0.2 * least(length(text) / 500.0, 1.0)"
    " + 0.2 * (CASE WHEN regexp_matches(text, '[.!?]\\s*$') THEN 1.0 ELSE 0.7 END)"
    " + 0.2 * (CASE WHEN regexp_matches(text, '^[A-Z0-9]') THEN 1.0 ELSE 0.8 END)"
    " + 0.2 * least(length(regexp_extract_all(text, '[.!?]+')) / 3.0, 1.0)"
    " + 0.2 * least(({hits}) / greatest(CAST(length({words}) AS DOUBLE), 1.0)"
    "   * 5.0, 1.0)"
    ") * 1000000) AS BIGINT)"
).format(hits=" + ".join(_duck_lang_hits(x) for x in _LANGS),
         words=_DUCK_WORDS.format(c="text"))


def _spark_quality_u(col):
    n = F.length(col)
    nw = ta.token_count_ws(col).cast("double")
    sentences = F.regexp_count(col, F.lit(r"[.!?]+"))
    stop_hits = sum(ta.lang_hits(col, lang) for lang in _LANGS)
    score = (
        0.2 * F.least(n / F.lit(500.0), F.lit(1.0))
        + 0.2 * F.when(F.regexp_like(col, F.lit(r"[.!?]\s*$")), 1.0).otherwise(0.7)
        + 0.2 * F.when(F.regexp_like(col, F.lit(r"^[A-Z0-9]")), 1.0).otherwise(0.8)
        + 0.2 * F.least(sentences / F.lit(3.0), F.lit(1.0))
        + 0.2 * F.least(stop_hits.cast("double") / F.greatest(nw, F.lit(1.0))
                        * F.lit(5.0), F.lit(1.0))
    )
    return F.floor(score * 1e6).cast("long")


def _dup_union(spark, sf_dir):
    """documents sample + exact-duplicate shadow docs (id+100000)."""
    d = _docs(spark, sf_dir)
    base = d.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("id"), "text")
    dups = d.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 100000).alias("id"), "text")
    return base.unionByName(dups)


_DUP_UNION_SQL = (
    "SELECT doc_id AS id, text FROM documents WHERE doc_id % 20 = 0 "
    "UNION ALL SELECT doc_id + 100000 AS id, text FROM documents "
    "WHERE doc_id % 100 = 0"
)

_DUCK_SHINGLES = """
SELECT DISTINCT id, shingle FROM (
  SELECT id, unnest(list_transform(
      generate_series(1, greatest(len(words) - 2, 0)),
      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
  FROM (SELECT id, {words} AS words FROM ({src})))
""".format(words=_DUCK_WORDS.format(c="text"), src=_DUP_UNION_SQL)

_DUCK_SIGS = """
SELECT id,
  min(md5('s0|' || shingle)) AS sig_0, min(md5('s1|' || shingle)) AS sig_1,
  min(md5('s2|' || shingle)) AS sig_2, min(md5('s3|' || shingle)) AS sig_3
FROM ({sh}) GROUP BY id
""".format(sh=_DUCK_SHINGLES)

# stop-shingle cap for the n-gram tier: the contract query keeps the
# inverted-index fan-out guard ON; the twin applies the identical cap
_SHINGLE_FREQ_CAP = 1000

# one budget for the packing query AND its waste report — the report's
# greatest(budget - fill, 0) must use the same knob the packer packed to
_PACK_BUDGET = 128

# shared next-fit recursion for the packing twins (pack_training_sequences
# and packing_report): (fill, seq_id) carried along each part's doc_id order
_DUCK_PACK_RECURSION = """d AS (
                SELECT doc_id, CAST(doc_id % 8 AS INT) AS part,
                       CAST(len(list_filter(
                           regexp_split_to_array(text, '\\s+'),
                           x -> x <> '')) AS INT) AS tokens,
                       row_number() OVER (PARTITION BY doc_id % 8
                                          ORDER BY doc_id) AS rn
                FROM documents),
            r AS (
                SELECT part, rn, doc_id, tokens,
                       CAST(0 AS INT) AS seq_id, tokens AS fill
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.part, d.rn, d.doc_id, d.tokens,
                       CAST(CASE WHEN r.fill > 0 AND d.tokens > 0
                                      AND r.fill + d.tokens > 128
                            THEN r.seq_id + 1 ELSE r.seq_id END AS INT),
                       CASE WHEN r.fill > 0 AND d.tokens > 0
                                 AND r.fill + d.tokens > 128
                            THEN d.tokens ELSE r.fill + d.tokens END
                FROM d JOIN r ON d.part = r.part AND d.rn = r.rn + 1)"""

_DUCK_SHINGLES_CAPPED = """
SELECT id, shingle FROM ({sh})
QUALIFY count(*) OVER (PARTITION BY shingle) <= {cap}
""".format(sh=_DUCK_SHINGLES, cap=_SHINGLE_FREQ_CAP)


def _duck_simhash(src: str) -> str:
    """DuckDB twin of operators/dedup.py simhash: per-word md5 -> 64-bit
    sign aggregation. The engine's kernel is Arrow-vectorized numpy; the twin
    re-derives the exact same bits from md5 hex, so the driver can value-hash
    the fingerprints instead of a rows-only check."""
    return f"""
WITH src AS ({src}),
w AS (SELECT id, unnest(list_filter(
          regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS w
      FROM src),
hv AS (SELECT id, CAST(('0x' || substring(md5(w), 1, 16)) AS UBIGINT) AS v
       FROM w),
bits AS (SELECT id, b,
                sum(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
         FROM hv, unnest(generate_series(0, 63)) t(b)
         GROUP BY id, b),
agg AS (SELECT id,
               sum(CASE WHEN acc > 0 THEN CAST(1 AS UBIGINT) << b
                        ELSE CAST(0 AS UBIGINT) END) AS u
        FROM bits GROUP BY id)
SELECT s.id,
       CAST(CASE WHEN coalesce(u, 0) >= 9223372036854775808
                 THEN CAST(u AS HUGEINT) - 18446744073709551616
                 ELSE CAST(coalesce(u, 0) AS HUGEINT) END AS BIGINT)
           AS simhash
FROM src s LEFT JOIN agg ON s.id = agg.id
"""


def _duck_extract_twin(src: str) -> str:
    """DuckDB twin of the FULL extraction pipeline's contract projection
    (doc_id, n_spans, n_chars, status) over documents_to_spans-synthesized
    spans: chunk counts from the word-split spec, per-chunk glyph/whitespace
    normalization via the shared chain, the '# ' heading prefix for
    non-list titles, media chunks contributing zero chars. An independent
    SQL derivation of what the Arrow kernel computes.

    ``src`` must yield (doc_id VARCHAR, text, k) where k = words per span.
    """
    norm = _duck_glyph_chain("ctext")
    list_re = "^\\s*([•\\-\\*]|\\d+[.)])\\s+"
    return f"""
        WITH src AS ({src}),
        w AS (SELECT doc_id, k,
                     list_filter(regexp_split_to_array(coalesce(text, ''),
                         '\\s+'), x -> x <> '') AS words
              FROM src),
        n AS (SELECT doc_id, k, words,
                     greatest(CAST(ceil(len(words) / (k * 1.0)) AS BIGINT),
                              1) AS nch
              FROM w),
        chunks AS (
          SELECT doc_id, nch, i,
                 (i % 13 = 5 AND i > 0) AS is_media,
                 CASE WHEN i % 13 = 5 AND i > 0 THEN ''
                      ELSE array_to_string(words[i*k+1 : i*k+k], ' ')
                      END AS ctext
          FROM n, unnest(generate_series(0, nch - 1)) t(i))
        SELECT doc_id,
               CAST(nch AS INT) AS n_spans,
               CAST(sum(CASE WHEN is_media THEN 0
                             ELSE length({norm})
                                  + CASE WHEN i = 0 AND NOT regexp_matches(
                                             ctext, '{list_re}')
                                         THEN 2 ELSE 0 END
                        END) AS BIGINT) AS n_chars,
               'completed' AS status
        FROM chunks GROUP BY doc_id, nch"""


def _duck_layout_chunks_sql() -> str:
    """DuckDB twin of chunk_layout_spans: the layout chunker's sequential
    size-cap fold re-derived with a RECURSIVE CTE over the span index (in
    this corpus only span 0 can be a heading, and it always starts the
    first chunk, so the transition reduces to `cur_len == 0 OR cur_len +
    tlen + 2 > max_size` -> new chunk). Content via string_agg in span
    order; quality/hash/keep-first dedup mirror the Spark expressions."""
    norm = _duck_glyph_chain("raw")
    list_re = "^\\s*([•\\-\\*]|\\d+[.)])\\s+"
    return f"""
        WITH RECURSIVE
        w AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     list_filter(regexp_split_to_array(coalesce(text, ''),
                         '\\s+'), x -> x <> '') AS words
              FROM documents),
        n AS (SELECT doc_id, words,
                     greatest(CAST(ceil(len(words) / 8.0) AS BIGINT), 1)
                         AS nch
              FROM w),
        sp AS (SELECT doc_id, i,
                      (i % 13 = 5 AND i > 0) AS is_media,
                      CASE WHEN i % 13 = 5 AND i > 0 THEN ''
                           ELSE array_to_string(words[i*8+1 : i*8+8], ' ')
                           END AS raw
               FROM n, unnest(generate_series(0, nch - 1)) t(i)),
        sp2 AS (SELECT doc_id, i,
                       CASE WHEN is_media THEN ''
                            WHEN i = 0 AND NOT regexp_matches(raw,
                                '{list_re}')
                            THEN '# ' || {norm}
                            ELSE {norm} END AS txt
                FROM sp),
        sp3 AS (SELECT doc_id, i, txt, length(txt) AS tl,
                       CAST(i // 10 + 1 AS INT) AS page,
                       CAST(coalesce(sum(length(txt)) OVER (
                            PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            0) AS INT) AS off
                FROM sp2),
        st AS (
          SELECT doc_id, CAST(-1 AS BIGINT) AS i,
                 CAST(-1 AS BIGINT) AS chunk_id, CAST(0 AS BIGINT) AS cur_len
          FROM n
          UNION ALL
          SELECT s.doc_id, s.i,
                 CASE WHEN s.tl = 0 THEN st.chunk_id
                      WHEN st.cur_len = 0
                           OR st.cur_len + s.tl + 2 > 1000
                      THEN st.chunk_id + 1
                      ELSE st.chunk_id END,
                 CASE WHEN s.tl = 0 THEN st.cur_len
                      WHEN st.cur_len = 0
                           OR st.cur_len + s.tl + 2 > 1000
                      THEN s.tl
                      ELSE st.cur_len + s.tl + 2 END
          FROM st JOIN sp3 s
            ON s.doc_id = st.doc_id AND s.i = st.i + 1),
        ch AS (SELECT s.doc_id, st.chunk_id,
                      string_agg(s.txt, chr(10) || chr(10) ORDER BY s.i)
                          AS content,
                      CAST(min(s.page) AS INT) AS page,
                      CAST(min(s.off) AS INT) AS start_offset,
                      CAST(max(s.off + s.tl) AS INT) AS end_offset
               FROM sp3 s JOIN st
                 ON st.doc_id = s.doc_id AND st.i = s.i
               WHERE s.tl > 0
               GROUP BY s.doc_id, st.chunk_id),
        q AS (SELECT doc_id, CAST(chunk_id AS INT) AS chunk_index, content,
                     page, start_offset, end_offset,
                     CAST(count(*) OVER (PARTITION BY doc_id) AS INT)
                         AS total_chunks,
                     FALSE AS is_table,
                     round(0.20 * least(length(content) / 1000.0, 1.0)
                         + 0.30 * CASE WHEN regexp_matches(content,
                               '[.!?]\\s*$') THEN 1.0 ELSE 0.7 END
                         + 0.20 * CASE WHEN regexp_matches(content,
                               '^[A-Z0-9#|]') THEN 1.0
                               WHEN regexp_matches(content, '^[a-z]')
                               THEN 0.4 ELSE 0.8 END
                         + 0.30 * least(length(regexp_extract_all(content,
                               '[.!?]+')) / 3.0, 1.0), 6) AS quality,
                     md5(trim(regexp_replace(lower(content), '\\s+', ' ',
                         'g'))) AS h
              FROM ch)
        SELECT doc_id, chunk_index, content, is_table, quality,
               page, start_offset, end_offset, total_chunks FROM q
        QUALIFY row_number() OVER (PARTITION BY doc_id, h
                                   ORDER BY chunk_index) = 1"""


def _duck_cos_lit(vec_expr: str, row) -> str:
    """cosine(vec, literal centroid) with the exact fold order of
    operators/similarity.py cosine() (list_reduce == aggregate with 0.0
    seed for doubles)."""
    arr = ("CAST([" + ", ".join(repr(float(x)) for x in row)
           + "] AS DOUBLE[])")
    return (f"(list_reduce(list_transform(list_zip({vec_expr}, {arr}), "
            f"p -> p[1] * p[2]), (x, y) -> x + y) "
            f"/ (sqrt(list_reduce(list_transform({vec_expr}, "
            f"x -> x * x), (x, y) -> x + y)) "
            f"* sqrt(list_reduce(list_transform({arr}, "
            f"x -> x * x), (x, y) -> x + y))))")


def _duck_topk_ivf_sql(k: int = 10, n_probe: int = 3, n_centroids: int = 8,
                       dim: int = 64, seed: int = 123) -> str:
    from mivaa_pdf_extractor_spark.operators.similarity import \
        random_centroids

    cents = random_centroids(n_centroids, dim, seed)
    sims = "[" + ", ".join(_duck_cos_lit("v", c) for c in cents) + "]"
    cos_qc = ("(list_reduce(list_transform(list_zip(qv, cv), "
              "p -> p[1] * p[2]), (x, y) -> x + y) "
              "/ (sqrt(list_reduce(list_transform(qv, x -> x * x), "
              "(x, y) -> x + y)) "
              "* sqrt(list_reduce(list_transform(cv, x -> x * x), "
              "(x, y) -> x + y))))")
    return f"""
        WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
        asg AS (SELECT vec_id, v, {sims} AS sims FROM base),
        asg2 AS (SELECT vec_id, v AS cv,
                        CAST(list_position(sims, list_max(sims)) - 1
                             AS INT) AS cluster
                 FROM asg),
        probes AS (
          SELECT query_id, qv, cluster FROM (
            SELECT b.vec_id AS query_id, b.v AS qv, t.ci AS cluster,
                   row_number() OVER (PARTITION BY b.vec_id
                       ORDER BY b.sims[t.ci + 1] DESC, t.ci) AS rk
            FROM asg b, unnest(generate_series(0, {n_centroids - 1})) t(ci)
            WHERE b.vec_id < 5)
          WHERE rk <= {n_probe}),
        cand AS (SELECT p.query_id, c.vec_id AS neighbor_id,
                        round({cos_qc}, 6) AS sim
                 FROM asg2 c JOIN probes p ON c.cluster = p.cluster
                 WHERE c.vec_id <> p.query_id)
        SELECT query_id, rank, neighbor_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rank FROM cand)
        WHERE rank <= {k}"""


def _duck_srp_bucket(vec_expr: str, planes) -> str:
    """DuckDB replica of operators/similarity.py srp_bucket: the hyperplanes
    are deterministic seeded constants, so the twin embeds them as literals
    (repr round-trips doubles exactly) and folds sign bits MSB-first exactly
    like the Spark expression."""
    n = len(planes)
    terms = []
    for i, row in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in row) + "]"
        bit = (f"CASE WHEN list_reduce(list_transform(list_zip({vec_expr}, "
               f"{arr}), q -> q[1] * q[2]), (x, y) -> x + y) > 0 "
               f"THEN 1 ELSE 0 END")
        terms.append(f"{bit} * {1 << (n - 1 - i)}")
    return "(" + " + ".join(terms) + ")"


def _duck_topk_lsh_sql(k: int = 10, n_planes: int = 8, n_tables: int = 4,
                       dim: int = 64, seed: int = 42) -> str:
    from mivaa_pdf_extractor_spark.operators.similarity import _hyperplanes

    per_table = ["SELECT vec_id, v, {t} AS tbl, {b} AS bucket FROM base"
                 .format(t=t, b=_duck_srp_bucket("v", _hyperplanes(
                     dim, n_planes, seed + t)))
                 for t in range(n_tables)]
    buckets = " UNION ALL ".join(per_table)
    return f"""
        WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings),
        cb AS ({buckets}),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 q.v AS qv, c.v AS cv
          FROM cb c JOIN cb q ON c.tbl = q.tbl AND c.bucket = q.bucket
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        s AS (
          SELECT query_id, neighbor_id,
                 round(list_reduce(list_transform(list_zip(qv, cv),
                           p -> p[1] * p[2]), (x, y) -> x + y)
                       / (sqrt(list_reduce(list_transform(qv, x -> x * x),
                               (x, y) -> x + y))
                          * sqrt(list_reduce(list_transform(cv, x -> x * x),
                                 (x, y) -> x + y))), 6) AS sim
          FROM cand)
        SELECT query_id, rank, neighbor_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id) AS rank FROM s)
        WHERE rank <= {k}"""


# golden fixtures for the C11 pattern classifier: one text per type in the
# reference's precedence order, crafted to trip exactly one branch each
# (chunk_type_classification_service.py:250-327); doc_id % 10 picks the text
_CHUNK_TYPE_TEXTS = [
    "ALUMA series design available in matte finish 15×38",
    "specification: thickness 12 mm, high density • resistance tested",
    "style aesthetic moodboard ![](img.jpg)",
    "anna of the studio shares her inspiration and philosophy and"
    " creative process",
    "the collection comprises a range of pieces, featuring many works",
    "table of contents ... 4",
    "sustainable and recycled materials, responsibly eco-friendly",
    "certified to ISO 9001 standard compliance",
    "the quiet afternoon sun settled over the warehouse floor while folks"
    " talked about lunch",
    "ok then",
]


def _duck_type_preds() -> dict[str, str]:
    """C11 predicates as SQL fragments over columns ``content``/``lc``,
    generated from the SAME keyword tables as the Spark expression
    (operators/chunking.py), so the two engines cannot drift."""
    def kw(kws):
        return "(" + " + ".join(
            f"(CASE WHEN contains(lc, '{k}') THEN 1 ELSE 0 END)"
            for k in kws) + ")"

    upper = r"\b[A-Z]{2,}\b"
    preds = {
        "product_description": (
            rf"regexp_matches(content, '{upper}') AND ({kw(ck.PRODUCT_KW)}"
            r" >= 2 OR regexp_matches(content, '\d+\s*[×x]\s*\d+'))"),
        "technical_specs": (
            rf"{kw(ck.TECH_KW)} >= 2 OR (regexp_matches(content,"
            r" '\d+\s*(mm|cm|m|kg|g|%|°C|°F)') AND (contains(content, '•')"
            " OR contains(content, '-') OR contains(content, ':')))"),
        "visual_showcase": (
            rf"{kw(ck.VISUAL_KW)} >= 2 OR contains(content, '![')"
            " OR contains(content, '<img') OR contains(lc, 'see image')"
            " OR contains(lc, 'shown in')"),
        "designer_story": (
            rf"{kw(ck.DESIGNER_KW)} >= 3 OR ({kw(ck.DESIGNER_KW)} >= 2"
            r" AND (regexp_matches(content,"
            r" '\b[A-Z][a-z]+\s+[A-Z][a-z]+\b')"
            " OR contains(lc, 'studio') OR contains(lc, 'design by')))"),
        "collection_overview": (
            rf"{kw(ck.COLLECTION_KW)} >= 2 OR ({kw(ck.COLLECTION_KW)} >= 1"
            " AND (contains(content, '•') OR contains(content, '-')"
            r" OR regexp_matches(lc, '\d+\s+(products|items|pieces)')))"),
        "index_content": (
            rf"(len(regexp_extract_all(content, '{upper}')) >= 3"
            " AND len(list_filter(string_split(content, chr(10)),"
            " l -> length(trim(l)) < 50 AND length(trim(l)) > 0)) >= 3)"
            r" OR len(regexp_extract_all(content, 'by\s+[A-Z]+')) >= 3"
            " OR contains(lc, 'collections index')"
            " OR contains(lc, 'product index')"
            r" OR (len(regexp_extract_all(content, '\d+[×x]\d+\s*cm')) >= 3"
            r" AND len(list_filter(regexp_split_to_array(content, '\s+'),"
            " x -> x <> '')) < 100)"
            rf" OR {kw(ck.INDEX_KW)} >= 1"
            r" OR regexp_matches(content, '\.\.\.\s*\d+')"
            r" OR regexp_matches(content, '(?i)page\s+\d+')"
            r" OR regexp_matches(trim(content), '^\d+\.')"
            " OR contains(content, '...')"),
        "sustainability_info": f"{kw(ck.SUSTAIN_KW)} >= 2",
        "certification_info": (
            rf"{kw(ck.CERT_KW)} >= 2 OR regexp_matches(content,"
            r" '\b(ISO|CE|EN|ASTM|ANSI)\s*\d+')"),
    }
    return preds


def _duck_type_case() -> str:
    """The full CASE expression assigning chunk_type from content/lc."""
    whens = " ".join(f"WHEN ({p}) THEN '{name}'"
                     for name, p in _duck_type_preds().items())
    return (f"CASE {whens} WHEN length(content) > 50 "
            "THEN 'supporting_content' ELSE 'unclassified' END")


def _duck_chunk_type_sql() -> str:
    """DuckDB twin of classify_chunk_types over the golden texts."""
    texts = "[" + ", ".join(
        "'" + t.replace("'", "''") + "'" for t in _CHUNK_TYPE_TEXTS) + "]"
    whens = " ".join(f"WHEN ({p}) THEN '{name}'"
                     for name, p in _duck_type_preds().items())
    confs = " ".join(f"WHEN '{name}' THEN {conf}"
                     for name, conf in ck.CHUNK_TYPE_CONFIDENCE.items())
    return f"""
        WITH c AS (SELECT doc_id,
                          {texts}[CAST(doc_id % 10 AS INT) + 1] AS content
                   FROM documents),
        l AS (SELECT doc_id, content, lower(content) AS lc FROM c),
        t AS (SELECT doc_id,
                     CASE {whens}
                          WHEN length(content) > 50 THEN 'supporting_content'
                          ELSE 'unclassified' END AS chunk_type
              FROM l)
        SELECT doc_id, chunk_type,
               round(CASE chunk_type {confs} END, 2) AS type_confidence
        FROM t"""


# media refs exactly as the extraction pipeline derives them from
# documents_to_spans: n_spans = max(ceil(n_words/8), 1); span i is an
# embedded image iff i % 13 = 5 and i > 0 (edpi=250, unique phash -> no
# dedup/gate); page = i // 10 + 1; within-page img rank follows i order
# (constant x, ascending y)
_DUCK_MEDIA_REFS = r"""
nsp AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         greatest(CAST(ceil(coalesce(length(list_filter(
             regexp_split_to_array(text, '\s+'), x -> x <> '')), 0) / 8.0)
             AS BIGINT), 1) AS n
  FROM documents),
idx AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM nsp),
m AS (SELECT doc_id, i, i // 10 + 1 AS page
      FROM idx WHERE i % 13 = 5 AND i > 0),
refs AS (
  SELECT doc_id,
         doc_id || '/p' || CAST(page AS VARCHAR) || '/img' ||
         CAST(row_number() OVER (PARTITION BY doc_id, page ORDER BY i) - 1
              AS VARCHAR) AS media_ref
  FROM m)
"""


# ---------------------------------------------------------------------------
# contract-boundary serialization
#
# The driver's canonicalizer sorts every output column (pandas
# ``sort_values`` over raw values) before hashing; a top-level
# array/map column makes that throw ``unhashable type: 'list'`` — the
# only red rows in CORRECTNESS_r04 were exactly this shape.  Operators
# keep their natural array outputs; the CONTRACT projection flattens
# them deterministically:
#   array<string>              -> array_join(col, ' | ')
#   array<numeric>             -> elements cast to string, ' | '-joined
#   array<struct<a,b,...>>     -> per-element 'a:b:...' (fields
#                                 coalesced to ''), ' | '-joined
# NULL arrays stay NULL; empty arrays become ''.  The DuckDB twins of
# the affected queries are wrapped with the identical expressions via
# ``SELECT * REPLACE`` (see _ORACLE_COMPLEX below), so the value hash
# still compares the full content, just in a sortable encoding.
# ---------------------------------------------------------------------------

def _contract_serialize(df: DataFrame) -> DataFrame:
    from pyspark.sql.types import (ArrayType, MapType, StringType,
                                   StructType)

    def _struct_fmt(et: StructType):
        names = [f.name for f in et.fields]

        def mk(s):
            parts = []
            for i, fname in enumerate(names):
                if i:
                    parts.append(F.lit(":"))
                parts.append(F.coalesce(s[fname].cast("string"),
                                        F.lit("")))
            return F.concat(*parts)
        return mk

    cols, changed = [], False
    for f in df.schema.fields:
        c, t = F.col(f.name), f.dataType
        if isinstance(t, ArrayType):
            et = t.elementType
            if isinstance(et, StringType):
                expr = F.array_join(c, " | ")
            elif isinstance(et, StructType):
                expr = F.array_join(F.transform(c, _struct_fmt(et)),
                                    " | ")
            else:
                expr = F.array_join(
                    F.transform(c, lambda x: x.cast("string")), " | ")
            cols.append(expr.alias(f.name))
            changed = True
        elif isinstance(t, (MapType, StructType)):
            cols.append(F.to_json(c).alias(f.name))
            changed = True
        else:
            cols.append(c)
    return df.select(*cols) if changed else df


def _serialize_wrap(fn):
    def wrapped(spark, sf_dir, _fn=fn):
        return _contract_serialize(_fn(spark, sf_dir))
    return wrapped


# Oracle-side twin of _contract_serialize: query -> {col: spec} where
# spec is 'str' (VARCHAR[]), 'num' (numeric[]), or a list of struct
# field names.  Derived from the Spark schemas of every registered
# query (the 20 below are the only ones with complex top-level
# columns; tests/test_contract_registry.py enforces the closed set).
_ORACLE_COMPLEX: dict[str, dict[str, object]] = {
    "category_prompt_build": {"skip_fields": "str",
                              "controlled_vocab": "str"},
    "keyword_expansion_curate": {"expanded": "str", "rejected": "str",
                                 "query_phrasings": "str"},
    "product_field_mine": {"sku_entries": "str",
                           "grout_suppliers": "str",
                           "grout_color_codes": "str",
                           "dimensions": "str",
                           "grout_products": "str"},
    "vision_rollup": {"patterns": "str", "textures": "str",
                      "appearance_colors": "str",
                      "applications": "str", "detected_text": "str"},
    "enrich_merge_fields": {"filled": "str", "provenance": "str",
                            "final_kv": "str"},
    "facet_canonicals_view": {"aliases": "str"},
    "doc_entities_for_product": {"page_range": "num"},
    "doc_entities_by_factory": {"page_range": "num"},
    "job_persistence_fold": {"metadata": ["key", "value"]},
    "product_progress_fold": {"stages_completed": "str",
                              "metrics": ["key", "value"]},
    "job_product_summary": {"failed_product_ids": "str"},
    "catalog_knowledge_certs": {"certifications": "str"},
    "knowledge_cert_propagate": {"certifications": "str"},
    "legend_cert_propagate": {"certifications": "str"},
    "security_scan_violations": {"matches": "str"},
    "perf_analysis": {"rec_types": "str", "rec_severities": "str",
                      "rec_messages": "str", "rec_metrics": "str",
                      "rec_values": "num"},
    "product_enrich_properties": {"colors": "str", "finishes": "str",
                                  "patterns": "str", "textures": "str",
                                  "materials": "str"},
    "probe_extract_deterministic": {"competitors_mentioned": "str"},
    "probe_snapshot_models": {"positions": "num"},
    "probe_snapshot_run": {"top_competitors": "str"},
}


def _duck_flatten_expr(col: str, spec) -> str:
    if spec == "str":
        inner = col
    elif spec == "num":
        inner = (f"list_transform({col}, "
                 f"x -> CAST(x AS VARCHAR))")
    else:  # struct field list
        fields = " || ':' || ".join(
            f"COALESCE(CAST(s.{f} AS VARCHAR), '')" for f in spec)
        inner = f"list_transform({col}, s -> {fields})"
    return (f"CASE WHEN {col} IS NULL THEN NULL "
            f"ELSE COALESCE(array_to_string({inner}, ' | '), '') END "
            f"AS {col}")


def _wrap_complex_oracles(oracles: dict[str, str]) -> None:
    for name, colspec in _ORACLE_COMPLEX.items():
        if name not in oracles:
            continue
        repl = ", ".join(_duck_flatten_expr(c, s)
                         for c, s in colspec.items())
        oracles[name] = (f"SELECT * REPLACE ({repl}) "
                         f"FROM ({oracles[name]})")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- extraction-semantic operators, SQL-expressible (SURVEY.md §2) ---

    def reading_order_sort(spark, sf_dir):  # L6/W1
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return _events(spark, sf_dir).select(
            "event_id", "user_id",
            F.row_number().over(w).alias("reading_order"))
    q["reading_order_sort"] = reading_order_sort

    def offset_cumsum(spark, sf_dir):  # W4
        w = (Window.partitionBy("source").orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, -1))
        return _docs(spark, sf_dir).select(
            "doc_id", "source",
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("offset"))
    q["offset_cumsum"] = offset_cumsum

    def reading_text_assembly(spark, sf_dir):  # S4/L6/T3
        return (_events(spark, sf_dir)
                .groupBy("user_id")
                .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("ts", "event_id", "event_type"))),
                        lambda x: x["event_type"]), " ").alias("reading_text")))
    q["reading_text_assembly"] = reading_text_assembly

    def glyph_fix(spark, sf_dir):  # T1/T2
        salted = F.concat(F.col("text"), F.lit(_GLYPH_SALT))
        return _docs(spark, sf_dir).select(
            "doc_id", _spark_glyph_chain(salted).alias("fixed_text"))
    q["glyph_fix"] = glyph_fix

    def content_hashes(spark, sf_dir):  # T6
        return _docs(spark, sf_dir).select(
            "doc_id", ta.content_hash(F.col("text")).alias("content_hash"))
    q["content_hashes"] = content_hashes

    def doc_metrics(spark, sf_dir):  # T7
        return ta.doc_metrics(_docs(spark, sf_dir))
    q["doc_metrics"] = doc_metrics

    def resume_anti_join(spark, sf_dir):  # J1
        d = _docs(spark, sf_dir)
        completed = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        return d.join(completed, "doc_id", "left_anti").select("doc_id")
    q["resume_anti_join"] = resume_anti_join

    def caption_link(spark, sf_dir):  # J4 lead/lag linking
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev = _events(spark, sf_dir).withColumn(
            "next_type", F.lead("event_type").over(w))
        return ev.filter(F.col("event_type") == "click").select(
            "event_id", "next_type")
    q["caption_link"] = caption_link

    def label_taxonomy(spark, sf_dir):  # L8 + boilerplate strip
        m = (F.when(F.col("event_type") == "error", "boilerplate")
             .when(F.col("event_type").isin("click", "signup"), "interaction")
             .when(F.col("event_type") == "purchase", "transaction")
             .otherwise("text"))
        return (_events(spark, sf_dir).select("event_id", m.alias("region_type"))
                .filter(F.col("region_type") != "boilerplate"))
    q["label_taxonomy"] = label_taxonomy

    def sessionize(spark, sf_dir):  # X3-adjacent stateful windowing
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = (F.unix_timestamp("ts")
               - F.unix_timestamp(F.lag("ts").over(w)))
        new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        ev = _events(spark, sf_dir).withColumn("ns", new_sess)
        w2 = (Window.partitionBy("user_id").orderBy("ts", "event_id")
              .rowsBetween(Window.unboundedPreceding, 0))
        return ev.select("user_id", "event_id",
                         F.sum("ns").over(w2).alias("session_id"))
    q["sessionize"] = sessionize

    def tumbling_window_agg(spark, sf_dir):  # streaming windowed-agg twin
        return (_events(spark, sf_dir)
                .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"),
                         "event_type")
                .agg(F.count("*").alias("n_events"),
                     F.round(F.sum("value"), 2).alias("sum_value")))
    q["tumbling_window_agg"] = tumbling_window_agg

    def image_doc_heuristic(spark, sf_dir):  # L11 routing
        return (_docs(spark, sf_dir).groupBy("lang")
                .agg(F.round(F.avg("n_chars"), 4).alias("avg_chars"))
                .withColumn("route", F.when(F.col("avg_chars") < 250,
                                            "ocr_first").otherwise("text_first")))
    q["image_doc_heuristic"] = image_doc_heuristic

    def chunk_fixed_windows(spark, sf_dir):  # C2 windows
        t = F.col("text")
        n = F.floor((F.length(t) - 1) / 150).cast("int")
        pieces = F.transform(F.sequence(F.lit(0), n),
                             lambda i: F.substring(t, i * 150 + 1, 200))
        return (_docs(spark, sf_dir).filter(F.length(t) > 0)
                .select("doc_id", F.posexplode(pieces)
                        .alias("chunk_index", "content")))
    q["chunk_fixed_windows"] = chunk_fixed_windows

    def chunk_quality(spark, sf_dir):  # C5
        return _docs(spark, sf_dir).select(
            "doc_id", _spark_quality_u(F.col("text")).alias("quality_u"))
    q["chunk_quality"] = chunk_quality

    def media_dedup_first_per_key(spark, sf_dir):  # I5 keep-first tier
        return (_emb(spark, sf_dir).groupBy("label")
                .agg(F.min("vec_id").alias("vec_id_kept")))
    q["media_dedup_first_per_key"] = media_dedup_first_per_key

    def tpch_q1_pricing_summary(spark, sf_dir):
        li = _lineitem(spark, sf_dir).filter(
            F.col("l_shipdate") <= F.lit(_Q1_DATE).cast("timestamp"))
        disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (li.groupBy("l_returnflag", "l_linestatus").agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order")))
    q["tpch_q1_pricing_summary"] = tpch_q1_pricing_summary

    # --- training-data battery: dedup / similarity / text analysis ---

    def dedup_exact(spark, sf_dir):
        return dd.exact_dedup(_docs(spark, sf_dir))
    q["dedup_exact"] = dedup_exact

    def dedup_minhash_signatures(spark, sf_dir):
        return dd.minhash_signatures(_dup_union(spark, sf_dir), "text", "id",
                                     n=3, num_hashes=4)
    q["dedup_minhash_signatures"] = dedup_minhash_signatures

    def dedup_minhash_lsh_pairs(spark, sf_dir):
        return dd.minhash_lsh_pairs(_dup_union(spark, sf_dir), "text", "id",
                                    n=3, num_hashes=4, band_size=2)
    q["dedup_minhash_lsh_pairs"] = dedup_minhash_lsh_pairs

    def dedup_ngram_jaccard(spark, sf_dir):
        # max_shingle_freq ON (stop-shingle cap): the guard that bounds the
        # inverted-index self-join fan-out at 100 TB stays in the published
        # plan; the DuckDB twin applies the same cap (VERDICT.md item 7)
        return dd.ngram_jaccard_pairs(_dup_union(spark, sf_dir), "text", "id",
                                      n=3, threshold=0.8,
                                      max_shingle_freq=_SHINGLE_FREQ_CAP)
    q["dedup_ngram_jaccard"] = dedup_ngram_jaccard

    def lang_id(spark, sf_dir):
        return _docs(spark, sf_dir).select(
            "doc_id", ta.lang_id(F.col("text")).alias("lang_detected"))
    q["lang_id"] = lang_id

    def doc_fingerprint(spark, sf_dir):
        return _docs(spark, sf_dir).select(
            "doc_id", ta.doc_fingerprint(F.col("text")).alias("fp"))
    q["doc_fingerprint"] = doc_fingerprint

    def doc_winnowing(spark, sf_dir):
        # rolling-hash winnowing fingerprints (k=8 char grams, window 4)
        # over FULL document text — no truncation (round-3 verdict item 6)
        return ta.winnowing_fingerprints(_docs(spark, sf_dir))
    q["doc_winnowing"] = doc_winnowing

    def embedding_topk(spark, sf_dir):
        e = _emb(spark, sf_dir)
        return sim.cosine_topk(e.filter(F.col("vec_id") < 5), e, k=10)
    q["embedding_topk"] = embedding_topk

    # --- non-SQL-expressible (driver records rows-only checks) ---
    # (simhash + media queries moved OUT of this group in round 2: their
    # md5-closed-form semantics admit exact DuckDB twins after all)

    def extract_pipeline(spark, sf_dir):
        spans = documents_to_spans(_docs(spark, sf_dir))
        return run_extract(spans).select("doc_id", "n_spans", "n_chars",
                                         "status")
    q["extract_pipeline"] = extract_pipeline

    def extract_skew_giants(spark, sf_dir):
        spans = with_synthetic_giants(_docs(spark, sf_dir), every=200,
                                      repeat=40)
        return run_extract_skewed(spans, skew_threshold=2000).select(
            "doc_id", "n_spans", "n_chars", "status")
    q["extract_skew_giants"] = extract_skew_giants

    def simhash_fingerprints(spark, sf_dir):
        return dd.simhash(_docs(spark, sf_dir))
    q["simhash_fingerprints"] = simhash_fingerprints

    def simhash_near_pairs(spark, sf_dir):
        return dd.simhash_near_pairs(_dup_union(spark, sf_dir), "text", "id",
                                     max_hamming=3)
    q["simhash_near_pairs"] = simhash_near_pairs

    def embedding_topk_lsh(spark, sf_dir):
        e = _emb(spark, sf_dir)
        return sim.cosine_topk_lsh(e.filter(F.col("vec_id") < 5), e, k=10)
    q["embedding_topk_lsh"] = embedding_topk_lsh

    def embedding_topk_ivf(spark, sf_dir):
        # IVF with the deterministic pretrained coarse quantizer (seeded
        # centroids as literals -> exact DuckDB twin); Lloyd TRAINING is
        # recall-verified separately in tests/test_ann_recall.py
        e = _emb(spark, sf_dir)
        cents = sim.random_centroids(8, 64, 123)
        return sim.ivf_topk(e.filter(F.col("vec_id") < 5), e, cents,
                            k=10, n_probe=3)
    q["embedding_topk_ivf"] = embedding_topk_ivf

    def embedding_near_dups(spark, sf_dir):
        # plant scale-perturbed shadows (vec_id+10000, embedding*1.01):
        # scaling preserves every SRP sign bit, so the LSH pipeline finds
        # each planted pair in ALL hash tables deterministically — which
        # makes the approximate operator value-matchable against a DuckDB
        # twin (the testdata embeddings are isotropic random, max stray
        # cosine ~0.5 << 0.95, so planted pairs are the exact output).
        # recall on clustered corpora is asserted in tests/test_ann_recall.py
        e = _emb(spark, sf_dir).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double"))
            .alias("embedding"))
        shadow = e.select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.01))
            .alias("embedding"))
        return sim.embedding_near_dup_pairs(e.unionByName(shadow),
                                            threshold=0.95)
    q["embedding_near_dups"] = embedding_near_dups

    def chunk_layout_spans(spark, sf_dir):
        # the C6 dedup runs IN the chunk kernel (per-document seen-set,
        # keep-first-by-chunk_index — deterministic), so the plan has no
        # chunk-content shuffle at all; round 2 needed a min_by aggregation
        # here because dropDuplicates kept an arbitrary row
        spans = documents_to_spans(_docs(spark, sf_dir))
        extracted = run_extract(spans)
        chunks = chunk_documents(extracted, strategy="layout", dedup=True)
        return chunks.select(
            "doc_id", "chunk_index", "content", "is_table", "quality",
            "page", "start_offset", "end_offset", "total_chunks")
    q["chunk_layout_spans"] = chunk_layout_spans

    def chunks_indexed(spark, sf_dir):
        # the full Stage-2 composition (plans/chunk_pipeline.build_chunks):
        # extract -> layout chunker (kernel C6 dedup + positional metadata)
        # -> C11 classifier -> chunk_id stamp
        from mivaa_pdf_extractor_spark.plans.chunk_pipeline import \
            build_chunks
        spans = documents_to_spans(_docs(spark, sf_dir))
        out = build_chunks(run_extract(spans))
        return out.select(
            "doc_id", "chunk_id", "chunk_index", "content", "is_table",
            "quality", "page", "start_offset", "end_offset",
            "total_chunks", "chunk_type")
    q["chunks_indexed"] = chunks_indexed

    def media_image_features(spark, sf_dir):
        # contract projection drops the raw array<float> feature column (it
        # crashed the driver canonicalizer in round 1, and its randn stub has
        # no SQL twin); the scalar stats are integer-closed-form md5 stats
        # with an exact DuckDB twin
        spans = documents_to_spans(_docs(spark, sf_dir))
        media = synth_media_for_extracted(run_extract(spans))
        return extract_image_features(media).select(
            "media_ref", "doc_id", "phash64", "ahash64",
            "sharpness", "brightness")
    q["media_image_features"] = media_image_features

    def media_dedup_hamming(spark, sf_dir):
        # I5 Hamming tier (reference threshold <= 5, pdf_processor.py:47,
        # :1156-1255): plant near-dup shadows (media_ref + '~dup', phash
        # XOR 37 = 3 flipped bits) so the block-rotation join must find
        # exactly the planted pairs; stray same-doc phashes are md5-random
        # (E[hamming] = 32), so hamming <= 5 strays are ~impossible
        from mivaa_pdf_extractor_spark.core.cache import track
        spans = documents_to_spans(_docs(spark, sf_dir))
        media = synth_media_for_extracted(run_extract(spans))
        # round 6: persist feats — the shadow branch derives from it,
        # so the unpersisted union ran the whole extraction + feature
        # chain twice (once per branch) when the operator materialized
        # its slim table
        feats = track((extract_image_features(media)
                       .select("doc_id", "media_ref", "phash64")
                       .withColumn("layer", F.regexp_extract(
                           "media_ref", r"/(img|region|full_render)", 1))
                       ).persist())
        shadow = feats.select(
            "doc_id",
            F.concat("media_ref", F.lit("~dup")).alias("media_ref"),
            F.col("phash64").bitwiseXOR(F.lit(37)).alias("phash64"),
            "layer")
        return dd.phash_hamming_pairs(feats.unionByName(shadow),
                                      max_hamming=5)
    q["media_dedup_hamming"] = media_dedup_hamming

    def media_frame_sample(spark, sf_dir):
        spans = documents_to_spans(_docs(spark, sf_dir))
        media = synth_media_for_extracted(run_extract(spans)) \
            .withColumn("mime", F.lit("video/synthetic")) \
            .withColumn("duration_ms", F.lit(5000))
        return sample_frames(media, every_ms=1000)
    q["media_frame_sample"] = media_frame_sample

    def media_audio_windows(spark, sf_dir):
        # overlapping STFT-style windows (2000 ms window, 1000 ms hop) over
        # synthetic audio media; duration varies per doc so the window
        # count math is exercised
        spans = documents_to_spans(_docs(spark, sf_dir))
        media = synth_media_for_extracted(run_extract(spans)) \
            .withColumn("mime", F.lit("audio/synthetic")) \
            .withColumn("duration_ms",
                        (F.conv(F.substring(F.md5("media_ref"), 1, 4),
                                16, 10).cast("int") % 9000 + 500)
                        .cast("int"))
        return sample_audio_windows(media, window_ms=2000, hop_ms=1000)
    q["media_audio_windows"] = media_audio_windows

    def text_similarity(spark, sf_dir):
        # T5 word-overlap over (original, shadow-dup) pairs; the shadow's
        # text gets a one-word suffix so similarities are nontrivial
        d = _docs(spark, sf_dir)
        a = d.filter(F.col("doc_id") % 50 == 0).select(
            F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
        b = d.filter(F.col("doc_id") % 100 == 0).select(
            (F.col("doc_id") + 100000).alias("id_b"),
            F.concat(F.col("text"), F.lit(" zzzextra")).alias("text_b"))
        pairs = a.join(b, a.id_a + 100000 == b.id_b)
        return pairs.select(
            "id_a", "id_b",
            F.round(ta.word_overlap_similarity(
                F.col("text_a"), F.col("text_b")), 6).alias("overlap"))
    q["text_similarity"] = text_similarity

    def text_similarity_seqratio(spark, sf_dir):
        d = _docs(spark, sf_dir)
        a = d.filter(F.col("doc_id") % 50 == 0).select(
            F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
        b = d.filter(F.col("doc_id") % 100 == 0).select(
            (F.col("doc_id") + 100000).alias("id_b"),
            F.concat(F.col("text"), F.lit(" zzzextra")).alias("text_b"))
        pairs = a.join(b, a.id_a + 100000 == b.id_b)
        return ta.sequence_ratio_pairs(pairs).select(
            "id_a", "id_b", F.round("seq_ratio", 6).alias("seq_ratio"))
    q["text_similarity_seqratio"] = text_similarity_seqratio

    def _sheets(spark, sf_dir):
        # L1 fixture: each doc gets 1 + doc_id%4 sheets; every third sheet
        # is landscape (aspect 1.6 -> spread)
        d = _docs(spark, sf_dir).select("doc_id")
        return d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int"))
                      ).alias("sheet_idx"),
        ).select(
            "doc_id", "sheet_idx",
            F.when((F.col("sheet_idx") + F.col("doc_id")) % 3 == 0,
                   F.lit(1346.0)).otherwise(F.lit(595.0)).alias("width"),
            F.lit(842.0).alias("height"),
        )

    def sheet_layout(spark, sf_dir):
        # L1 + L2: spread typing, physical-page counter, and the
        # full-spread-image no-split flag over synthesized image dims
        sheets = _sheets(spark, sf_dir)
        img_w = F.when(F.col("doc_id") % 5 == 0,
                       F.col("width") * 0.8).otherwise(F.col("width") * 0.3)
        img_h = F.when(F.col("doc_id") % 2 == 0,
                       F.col("height") * 0.6).otherwise(F.col("height") * 0.2)
        chars = (F.col("doc_id") * 13 % 400).cast("double")
        vect = F.col("doc_id") % 11 == 0
        return analyze_sheet_layout(sheets).select(
            "doc_id", "sheet_idx", "layout_type", "n_physical",
            "first_physical_page",
            is_full_spread_image(img_w, img_h, F.col("width"),
                                 F.col("height"), chars, vect)
            .alias("no_split"))
    q["sheet_layout"] = sheet_layout

    def sheet_clip_spans(spark, sf_dir):
        # L3 + L5: half-page clip + span-in-clip over synthesized spans —
        # gutter straddlers land on both halves, px coords are clip-local
        sheets_src = _sheets(spark, sf_dir)
        sheets = analyze_sheet_layout(sheets_src)
        spans = (sheets_src
                 .select("doc_id", "sheet_idx",
                         F.explode(F.sequence(F.lit(0), F.lit(5)))
                         .alias("i"))
                 .select(
                     "doc_id", "sheet_idx",
                     (((F.col("doc_id") % 7) * 97.0 + F.col("i") * 173.0)
                      % 1200.0).alias("x0"),
                     F.when(F.col("i") == 5, F.lit(900.0))
                     .otherwise(100.0 + F.col("i") * 150.0).alias("y0"),
                     F.when(F.col("i") == 3, F.lit("  "))
                     .otherwise(F.concat(F.lit("t"),
                                         F.col("i").cast("string")))
                     .alias("text")))
        spans = spans.withColumn("x1", F.col("x0") + 120.0) \
                     .withColumn("y1", F.col("y0") + 40.0)
        return spans_in_clip(spans, sheets)
    q["sheet_clip_spans"] = sheet_clip_spans

    def _product_pages(spark, sf_dir):
        # one product per doc%4==1, pinned to physical page doc%3+1
        return (_docs(spark, sf_dir).select("doc_id")
                .filter(F.col("doc_id") % 4 == 1)
                .select("doc_id",
                        ((F.col("doc_id") % 3) + 1).cast("int")
                        .alias("physical_page"),
                        F.concat(F.lit("prod_"),
                                 F.col("doc_id").cast("string"))
                        .alias("product_name")))

    def page_number_overlay_q(spark, sf_dir):
        # spread-aware page-number stamping plan: two numbers per spread
        # sheet, one per single, green [product] labels where mapped
        from mivaa_pdf_extractor_spark.operators import (
            page_numbering as pn)
        sheets = analyze_sheet_layout(_sheets(spark, sf_dir))
        return pn.page_number_overlays(
            sheets, product_pages=_product_pages(spark, sf_dir))
    q["page_number_overlay"] = page_number_overlay_q

    def page_numbering_stats_q(spark, sf_dir):
        # per-doc numbering stats rollup (sheets vs physical pages,
        # spread flag)
        from mivaa_pdf_extractor_spark.operators import (
            page_numbering as pn)
        return pn.page_numbering_stats(
            analyze_sheet_layout(_sheets(spark, sf_dir)))
    q["page_numbering_stats"] = page_numbering_stats_q

    def prototype_validate_q(spark, sf_dir):
        # metadata prototype validation ladder: skip tiers, category
        # thresholds, exact/variation tier (conf 1.0, first-in-order),
        # strict-> semantic argmax, eps+clamp cosine
        from mivaa_pdf_extractor_spark.operators import (
            prototype_validate as pv)
        emb = _emb(spark, sf_dir).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double"))
            .alias("e"))
        idx = spark.range(4).select(F.col("id").cast("int").alias("i"))
        protos = (idx.join(emb, idx.i + 400 == emb.vec_id)
                  .select(F.concat(F.lit("fk"), F.col("i").cast("string"))
                          .alias("field_key"),
                          F.col("e").alias("prop_embedding")))
        jdx = (idx.crossJoin(spark.range(3).select(
                   F.col("id").cast("int").alias("j"))))
        pvals = (jdx.join(emb, jdx.i * 3 + jdx.j + 410 == emb.vec_id)
                 .select(
                     F.concat(F.lit("fk"), F.col("i").cast("string"))
                     .alias("field_key"),
                     F.col("j").alias("proto_pos"),
                     F.concat(F.lit("pv_"), F.col("i").cast("string"),
                              F.lit("_"), F.col("j").cast("string"))
                     .alias("proto_value"),
                     F.array(
                         F.concat(F.lit("var_"), F.col("i").cast("string"),
                                  F.lit("_"), F.col("j").cast("string")),
                         F.concat(F.lit("alt_"), F.col("i").cast("string"),
                                  F.lit("_"), F.col("j").cast("string")))
                     .alias("variations"),
                     F.when(F.col("j") == 2,
                            F.lit(None).cast("array<double>"))
                     .otherwise(F.col("e")).alias("proto_embedding")))
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        k, m6 = (F.col("doc") % 4).cast("int"), F.col("doc") % 6
        val = (F.when(m6 == 0, F.concat(F.lit("pv_"), k.cast("string"),
                                        F.lit("_1")))
               .when(m6 == 1, F.concat(F.lit("VAR_"), k.cast("string"),
                                       F.lit("_0")))
               .when(m6 == 5, F.lit(None).cast("string"))
               .otherwise(F.concat(F.lit("freetext_"),
                                   F.col("doc").cast("string"))))
        base = d.join(emb, d.doc % 500 == emb.vec_id)
        main = base.select(
            F.col("doc").alias("doc_id"),
            F.concat(F.lit("fk"), k.cast("string")).alias("field_key"),
            val.alias("field_value"),
            F.when(m6 == 4, F.lit(None).cast("array<double>"))
            .otherwise(F.col("e")).alias("value_embedding"),
            F.concat(F.lit("cat"), (F.col("doc") % 3).cast("string"))
            .alias("category_key"))
        extras = base.select(
            F.col("doc").alias("doc_id"),
            F.explode(F.array(F.lit("_private"),
                              F.concat(F.lit("nk"),
                                       (F.col("doc") % 2).cast("string"))))
            .alias("field_key"),
            F.lit("plain").alias("field_value"),
            F.col("e").alias("value_embedding"),
            F.concat(F.lit("cat"), (F.col("doc") % 3).cast("string"))
            .alias("category_key"))
        fields = main.unionByName(extras)
        thr = spark.createDataFrame(
            [("CAT0 ", 0.9), ("cat1", 0.0)],
            "category_key string, threshold double")
        out = pv.validate_fields(
            pv.resolve_thresholds(fields, thr).drop("category_key"),
            protos, pvals)
        return out.select("doc_id", "field_key", "original_value",
                          "validated_value", "prototype_matched",
                          F.round("confidence", 6).alias("confidence"),
                          "reason")
    q["prototype_validate"] = prototype_validate_q

    def _diag_frames(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import (  # noqa: F401
            job_diagnosis as jd)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        stage = (F.when(F.col("doc") % 7 == 0, "extracting_images")
                 .when(F.col("doc") % 7 == 1, "generating_embeddings")
                 .when(F.col("doc") % 7 == 2, "product_discovery")
                 .when(F.col("doc") % 7 == 3, "parsing")
                 .when(F.col("doc") % 7 == 4, F.lit(None).cast("string"))
                 .when(F.col("doc") % 7 == 5, "extracting_images")
                 .otherwise("product_discovery"))
        dur = (F.when(F.col("doc") % 8 == 0, 35.5)
               .when(F.col("doc") % 8 == 1, 12.25)
               .when(F.col("doc") % 8 == 2, 16.0)
               .when(F.col("doc") % 8 == 3, 6.5)
               .when(F.col("doc") % 8 == 4, 2.0)
               .when(F.col("doc") % 8 == 5, 31.0)
               .when(F.col("doc") % 8 == 6, 11.0)
               .otherwise(4.0))
        jobs = d.select(
            F.concat(F.lit("job_"), F.col("doc").cast("string"))
            .alias("job_id"),
            F.concat(F.lit("f"), F.col("doc").cast("string"))
            .alias("filename"),
            F.when(F.col("doc") % 9 == 0, "completed")
            .otherwise("processing").alias("status"),
            stage.alias("stage"),
            (F.col("doc") % 100).cast("long")
            .alias("progress_percentage"),
            (F.lit(1000.0) - dur).alias("updated_at_min"))
        ck = (d.filter(F.col("doc") % 5 > 0)
              .select("doc", F.explode(F.sequence(
                  F.lit(0), (F.col("doc") % 5 - 1).cast("int")))
                  .alias("ckpt_pos")))
        ck_stage = (F.when(F.col("ckpt_pos") == 0, "parsing")
                    .when(F.col("ckpt_pos") == 1, "extracting_images")
                    .when(F.col("ckpt_pos") == 2, "parsing")
                    .otherwise("generating_embeddings"))
        checkpoints = ck.select(
            F.concat(F.lit("job_"), F.col("doc").cast("string"))
            .alias("job_id"),
            F.col("ckpt_pos").cast("int").alias("ckpt_pos"),
            ck_stage.alias("stage"),
            (F.col("doc") * 10
             + F.col("ckpt_pos") * F.col("ckpt_pos") * 3)
            .cast("double").alias("created_at_sec"))
        return jd, jobs, checkpoints

    def stuck_job_diagnosis_q(spark, sf_dir):
        # analyzer ladder: stage progression w/ dict-overwrite, first-
        # insertion bottleneck ties, root-cause ladder, substring-
        # triggered recommendation blocks, recovery options.  The
        # operator keeps its array columns; the contract boundary
        # serializes them (" | "-joined) so the driver's canonicalizer
        # (sort_values over all columns) can hash the frame.
        jd, jobs, checkpoints = _diag_frames(spark, sf_dir)
        out = jd.analyze_stuck_jobs(jobs, checkpoints, now_min=1000.0)
        return out.withColumn(
            "recommendations", F.array_join("recommendations", " | ")
        ).withColumn(
            "recovery_options", F.array_join("recovery_options", " | "))
    q["stuck_job_diagnosis"] = stuck_job_diagnosis_q

    def stuck_job_stats_q(spark, sf_dir):
        # one-row rollup: stuck = processing & >30min stale; breakdown
        # + canonical most-common stage.  stage_breakdown is an
        # array<struct<stage,n>> in the operator; serialized here as
        # "stage:n | stage:n" for the driver's canonicalizer.
        jd, jobs, _ = _diag_frames(spark, sf_dir)
        out = jd.stuck_job_statistics(jobs, now_min=1000.0)
        return out.withColumn(
            "stage_breakdown",
            F.array_join(
                F.transform(
                    "stage_breakdown",
                    lambda s: F.concat(s["stage"], F.lit(":"),
                                       s["n"].cast("string"))),
                " | "))
    q["stuck_job_stats"] = stuck_job_stats_q

    def _monitor_frames(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import (  # noqa: F401
            job_monitor as jm)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        jobs = d.select(
            F.concat(F.lit("job_"), F.col("doc").cast("string"))
            .alias("job_id"),
            F.when(F.col("doc") % 11 == 0, "completed")
            .otherwise("processing").alias("status"),
            F.when(F.col("doc") % 4 == 0, F.lit(0))
            .otherwise((F.col("doc") % 100).cast("int")).cast("long")
            .alias("progress"),
            (F.lit(10000.0) - (F.col("doc") % 6) * 60.0)
            .alias("created_at_sec"),
            F.when(F.col("doc") % 13 == 0,
                   F.lit(None).cast("double"))
            .otherwise(F.lit(10000.0) - (F.col("doc") % 10) * 120.0)
            .alias("last_heartbeat_sec"),
            (F.lit(10000.0) - (F.col("doc") % 7) * 70.0)
            .alias("updated_at_sec"),
            F.when(F.col("doc") % 3 == 1, F.lit("parsing"))
            .otherwise(F.lit(None).cast("string")).alias("meta_stage"),
            F.lit(None).cast("string").alias("meta_current_stage"),
            (F.col("doc") % 3).cast("int").alias("n_history"))
        resume = d.select(
            F.concat(F.lit("job_"), F.col("doc").cast("string"))
            .alias("job_id"),
            (F.col("doc") % 2 == 0).alias("can_resume"),
            (F.col("doc") % 5 != 0).alias("checkpoint_valid"),
            F.concat(F.lit("stage_"), (F.col("doc") % 4).cast("string"))
            .alias("last_stage"))
        return jm, jobs, resume

    def job_monitor_detect_q(spark, sf_dir):
        # three detection tiers (first-wins) + the checkpoint recovery
        # decision ladder
        jm, jobs, resume = _monitor_frames(spark, sf_dir)
        return jm.plan_recovery(
            jm.detect_stuck_jobs_tiers(jobs, now_sec=10000.0), resume)
    q["job_monitor_detect"] = job_monitor_detect_q

    def job_monitor_stats_q(spark, sf_dir):
        # monitor stats counters over the recovery plan
        jm, jobs, resume = _monitor_frames(spark, sf_dir)
        return jm.recovery_stats(jm.plan_recovery(
            jm.detect_stuck_jobs_tiers(jobs, now_sec=10000.0), resume))
    q["job_monitor_stats"] = job_monitor_stats_q

    def import_job_recovery_q(spark, sf_dir):
        # stale import jobs failed with the pinned %.1f reason string
        from mivaa_pdf_extractor_spark.operators import (
            job_monitor as jm)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        imp = d.select(
            F.concat(F.lit("imp_"), F.col("doc").cast("string"))
            .alias("job_id"),
            F.concat(F.lit("src"), (F.col("doc") % 5).cast("string"))
            .alias("source_name"),
            F.when(F.col("doc") % 8 == 0, "failed")
            .otherwise("processing").alias("status"),
            (F.lit(5000.0) - (F.col("doc") % 30) * 1.5)
            .alias("updated_at_min"),
            F.when(F.col("doc") % 3 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("job_"),
                                F.col("doc").cast("string")))
            .alias("background_job_id"))
        return jm.recover_import_jobs(imp, now_min=5000.0)
    q["import_job_recovery"] = import_job_recovery_q

    def xml_import_progress_q(spark, sf_dir):
        # fixed stage ladder -> int(idx/7*100); failed/unknown -> 0
        from mivaa_pdf_extractor_spark.operators import (
            import_stages as xs)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        stages = list(xs.XML_IMPORT_STAGE_ORDER) + ["failed", "bogus"]
        st = F.lit("bogus")
        for i, s in enumerate(stages):
            st = F.when(F.col("doc") % 10 == i, F.lit(s)).otherwise(st)
        rows = d.select(F.col("doc").alias("doc_id"),
                        st.alias("stage"))
        return rows.select(
            "doc_id", "stage",
            xs.xml_import_progress(F.col("stage")).alias("progress"),
            xs.xml_import_description(F.col("stage"))
            .alias("description"))
    q["xml_import_progress"] = xml_import_progress_q

    def material_quota_clamp_q(spark, sf_dir):
        # plan-quota pre-flight: remaining = limit - non-service count,
        # -1 unlimited, fail-open for unknown/null workspaces; first-N
        # non-service rows admitted per workspace
        from mivaa_pdf_extractor_spark.operators import quota as qt
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        rows = d.select(
            F.col("doc").alias("row_id"),
            F.when(F.col("doc") % 17 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("w"),
                                (F.col("doc") % 10).cast("string")))
            .alias("workspace_id"),
            F.col("doc").alias("batch_pos"),
            (F.col("doc") % 13 == 0).alias("is_service"))
        i8 = spark.range(8).select(F.col("id").cast("long").alias("i"))
        limits = i8.select(
            F.concat(F.lit("w"), F.col("i").cast("string"))
            .alias("workspace_id"),
            F.when(F.col("i") == 6, F.lit(-1))
            .when(F.col("i") == 7, F.lit(0))
            .otherwise((F.col("i") + 1) * 5).cast("long")
            .alias("plan_limit"))
        counts = i8.select(
            F.concat(F.lit("w"), F.col("i").cast("string"))
            .alias("workspace_id"),
            ((F.col("i") * 3) % 13).cast("long").alias("n_products"))
        return qt.clamp_batch(rows, limits, counts)
    q["material_quota_clamp"] = material_quota_clamp_q

    def keyword_expansion_curate_q(spark, sf_dir):
        # bucket-ordered normalize/dedupe, excluded-substring drop,
        # caps 18/5, case-preserving phrasings
        from mivaa_pdf_extractor_spark.operators import (
            keyword_expansion as ke)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        arr = F.array
        big = F.transform(F.sequence(F.lit(0), F.lit(24)),
                          lambda i: F.concat(F.lit("kw"),
                                             i.cast("string")))
        raw = d.select(
            F.col("doc").alias("req_id"),
            F.when(F.col("doc") % 7 == 0, big).otherwise(arr(
                F.lit("Alpha Dev"), F.lit(" beta dev "), F.lit(""),
                F.lit("ALPHA DEV"))).alias("title_variants"),
            arr(F.lit("senior alpha dev"),
                F.concat(F.lit("gamma_"),
                         (F.col("doc") % 3).cast("string")))
            .alias("seniority_variants"),
            F.when(F.col("doc") % 5 == 0,
                   F.lit(None).cast("array<string>"))
            .otherwise(arr(F.lit("AD"), F.lit("bd")))
            .alias("abbreviations"),
            arr(F.lit(" react native "), F.lit(""))
            .alias("rejected_terms"),
            arr(F.lit("Alpha Dev hiring 2026"),
                F.lit("alpha dev HIRING 2026"), F.lit(" Beta roles "),
                F.lit("")).alias("query_phrasings"),
            F.when(F.col("doc") % 4 == 0, arr(F.lit("beta")))
            .otherwise(F.array().cast("array<string>"))
            .alias("excluded_keywords"))
        return ke.curate_expansions(raw)
    q["keyword_expansion_curate"] = keyword_expansion_curate_q

    def query_cache_fold_q(spark, sf_dir):
        # sha256(lower(trim)) keys; store upsert resets hit_count;
        # lookups-before-store are misses
        from mivaa_pdf_extractor_spark.operators import (
            query_cache as qc)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        e = d.select("doc", F.explode(F.sequence(F.lit(0), F.lit(4)))
                     .alias("k"))
        base = (F.col("doc") % 50).cast("string")
        kind = (F.when(F.col("k") == 0, "store")
                .when((F.col("k") == 3) & (F.col("doc") % 2 == 0),
                      "store")
                .otherwise("lookup"))
        query = (F.when(F.col("k") == 0,
                        F.concat(F.lit("  Query "), base, F.lit(" ")))
                 .when(F.col("k") == 3,
                       F.concat(F.lit("QUERY "), base))
                 .otherwise(F.concat(F.lit("query "), base)))
        events = e.select((F.col("doc") * 10 + F.col("k"))
                          .alias("event_ord"),
                          kind.alias("kind"), query.alias("query"))
        return qc.fold_cache_events(events)
    q["query_cache_fold"] = query_cache_fold_q

    def text_backfill_products_q(spark, sf_dir):
        # candidate selection (missing embedding, workspace, cap) +
        # outcome ladder incl. dim gate and failure-marker resolution
        from mivaa_pdf_extractor_spark.operators import (
            text_backfill as tb)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        pid = F.concat(F.lit("p"), F.lpad(F.col("doc").cast("string"),
                                          6, "0"))
        products = d.select(
            pid.alias("id"),
            F.concat(F.lit("w"), (F.col("doc") % 3).cast("string"))
            .alias("workspace_id"),
            (F.col("doc") % 6 == 0).alias("has_embedding"),
            F.when(F.col("doc") % 11 == 0, F.lit(""))
            .otherwise(F.concat(F.lit("text "),
                                F.col("doc").cast("string")))
            .alias("embedding_text"),
            F.when(F.col("doc") % 4 == 0, F.lit("marker"))
            .alias("failure_marker"))
        emb = d.select(
            pid.alias("id"), (F.col("doc") % 5 != 0).alias("success"),
            F.when(F.col("doc") % 7 == 0, 512).otherwise(1024)
            .cast("int").alias("dim"),
            F.lit("voyage-4").alias("model"))
        cands = tb.select_product_candidates(
            products, max_products=100, workspace_id="w1")
        return tb.product_backfill_outcomes(cands, emb)
    q["text_backfill_products"] = text_backfill_products_q

    def text_backfill_chunks_q(spark, sf_dir):
        # cap-then-blank-drop selection, 50-batches, batch-error /
        # short-list / null-vector ladder
        from mivaa_pdf_extractor_spark.operators import (
            text_backfill as tb)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        cid = F.concat(F.lit("c"), F.lpad(F.col("doc").cast("string"),
                                          6, "0"))
        chunks = d.select(
            cid.alias("id"), F.lit("w0").alias("workspace_id"),
            F.when(F.col("doc") % 5 == 0, F.lit(True))
            .when(F.col("doc") % 5 == 1, F.lit(False))
            .alias("has_text_embedding"),
            F.when(F.col("doc") % 9 == 0, F.lit(""))
            .when(F.col("doc") % 9 == 1, F.lit("  "))
            .otherwise(F.concat(F.lit("content "),
                                F.col("doc").cast("string")))
            .alias("content"))
        vectors = (d.filter(F.col("doc") % 8 != 7)
                   .select(cid.alias("id"),
                           (F.col("doc") % 10 != 3).alias("vector_ok")))
        berr = spark.createDataFrame([(1,)], "batch_index int")
        cands = tb.select_chunk_candidates(chunks, max_chunks=120)
        return tb.chunk_backfill_outcomes(cands, 50, berr, vectors)
    q["text_backfill_chunks"] = text_backfill_chunks_q

    def product_rule_edges_q(spark, sf_dir):
        # five rule-derived edge types over silver facets
        from mivaa_pdf_extractor_spark.operators import (
            product_edges as pe)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        doc = F.col("doc")
        products = d.select(
            F.concat(F.lit("w"), (doc % 25).cast("string"))
            .alias("workspace_id"),
            F.concat(F.lit("p"), doc.cast("string"))
            .alias("product_id"),
            F.concat(F.lit("m"), (doc % 4).cast("string"))
            .alias("material_type"),
            F.when(doc % 3 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("f"), (doc % 2).cast("string")))
            .alias("finish"),
            F.array(F.concat(F.lit("c"), (doc % 5).cast("string")),
                    F.concat(F.lit("c"), ((doc + 1) % 5)
                             .cast("string"))).alias("colors"),
            F.when(doc % 7 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("col"), (doc % 6).cast("string")))
            .alias("collection"),
            F.concat(F.lit("s"), (doc % 3).cast("string"))
            .alias("slip_rating"),
            F.concat(F.lit("fr"), (doc % 2).cast("string"))
            .alias("fire_rating"),
            F.concat(F.lit("d"), (doc % 5).cast("string"))
            .alias("dimensions"),
            F.element_at(F.array(F.lit("tile"), F.lit("grout"),
                                 F.lit("skirting"), F.lit("adhesive")),
                         (doc % 4 + 1).cast("int")).alias("category"))
        pairs = spark.createDataFrame(
            [("tile", "grout"), ("grout", "tile"),
             ("tile", "skirting"), ("skirting", "tile")],
            "category_a string, category_b string")
        return pe.rebuild_rule_edges(products, pairs)
    q["product_rule_edges"] = product_rule_edges_q

    def llm_edge_postprocess_q(spark, sf_dir):
        # gate (conf>=0.6, known rel, non-blank), 3-tier exactly-one
        # resolution w/ ambiguity abort, first-ref-per-dst dedup,
        # pinned weights + truncations
        from mivaa_pdf_extractor_spark.operators import (
            product_edges as pe)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        doc = F.col("doc")
        ws = F.concat(F.lit("w"), (doc % 10).cast("string"))
        identity = d.select(
            ws.alias("workspace_id"),
            F.concat(F.lit("p"), doc.cast("string"))
            .alias("product_id"),
            F.when(doc % 3 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("sku"), doc.cast("string")))
            .alias("external_sku"),
            F.concat(F.lit("ms"), (doc % 50).cast("string"))
            .alias("meta_sku"),
            F.concat(F.lit("Name "), doc.cast("string")).alias("name"))
        e = d.select("doc", F.explode(F.sequence(F.lit(0), F.lit(2)))
                     .alias("pos"))
        pos, edoc = F.col("pos"), F.col("doc")
        ident0 = (F.when(edoc % 6 == 0,
                         F.concat(F.lit("SKU"),
                                  (edoc + 10).cast("string")))
                  .when(edoc % 6 == 1,
                        F.concat(F.lit("ms"),
                                 ((edoc + 10) % 50).cast("string")))
                  .when(edoc % 6 == 2,
                        F.concat(F.lit("name "),
                                 (edoc + 20).cast("string")))
                  .when(edoc % 6 == 3, F.lit("x"))
                  .when(edoc % 6 == 4, F.lit("zzz-unknown"))
                  .otherwise(F.concat(F.lit("Name "),
                                      edoc.cast("string"))))
        ident = (F.when(pos.isin(0, 1), ident0)
                 .otherwise(F.concat(F.lit("Name "),
                                     (edoc + 30).cast("string"))))
        rel = (F.when(pos == 0, "pairs_with")
               .when(pos == 1, "replaces")
               .otherwise(F.when(edoc % 2 == 0, "completes")
                          .otherwise("equivalent_alternative")))
        conf = (F.when((pos == 2) & (edoc % 5 == 0), 0.6)
                .when(pos == 1, 0.95).otherwise(0.9))
        evid = F.when((edoc % 9 == 0) & (pos == 0), F.lit("")) \
            .otherwise(F.concat(F.lit("because the text says so "),
                                edoc.cast("string"), F.lit(" #"),
                                pos.cast("string")))
        refs = e.select(
            F.concat(F.lit("w"), (edoc % 10).cast("string"))
            .alias("workspace_id"),
            F.concat(F.lit("p"), edoc.cast("string"))
            .alias("src_product_id"),
            pos.cast("int").alias("ref_pos"),
            ident.alias("referenced_identifier"), rel.alias(
                "relationship"),
            evid.alias("evidence"), conf.cast("double")
            .alias("confidence"))
        return pe.llm_edges_postprocess(refs, identity)
    q["llm_edge_postprocess"] = llm_edge_postprocess_q

    def edge_text_gate_q(spark, sf_dir):
        # description + <=20 non-blank chunks, 40-char gate, 6000 cap
        from mivaa_pdf_extractor_spark.operators import (
            product_edges as pe)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        doc = F.col("doc")
        products = d.select(
            F.lit("w0").alias("workspace_id"),
            F.concat(F.lit("p"), doc.cast("string"))
            .alias("product_id"),
            F.when(doc % 4 == 0, F.lit(""))
            .otherwise(F.concat(F.lit("Product description for item "),
                                doc.cast("string")))
            .alias("description"))
        nch = F.when(doc % 31 == 0, F.lit(25)) \
            .otherwise((doc % 6).cast("int"))
        ch = (d.select("doc", nch.alias("nch"))
              .filter(F.col("nch") >= 1)
              .select("doc", F.explode(
                  F.sequence(F.lit(1), F.col("nch"))).alias("j")))
        chunks = ch.select(
            F.lit("w0").alias("workspace_id"),
            F.concat(F.lit("p"), F.col("doc").cast("string"))
            .alias("product_id"),
            F.col("j").cast("int").alias("chunk_index"),
            F.when(F.col("j") % 3 == 1, F.lit("  "))
            .otherwise(F.concat(F.lit("chunk text "),
                                F.col("doc").cast("string"),
                                F.lit(" #"), F.col("j").cast("string")))
            .alias("content"))
        out = pe.assemble_edge_text(products, chunks)
        return out.select("workspace_id", "product_id", "description",
                          F.length("text").alias("text_len"), "text")
    q["edge_text_gate"] = edge_text_gate_q

    def _persist_events(spark, sf_dir):
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        e = d.select("doc", F.explode(F.array(
            F.lit(0), F.lit(1), F.lit(3), F.lit(5))).alias("k"))
        doc, kk = F.col("doc"), F.col("k")
        e = e.filter(~((kk == 3) & (doc % 5 == 1))
                     & ~((kk == 5) & (doc % 7 != 0)))
        status = (F.when(kk == 0, "pending")
                  .when(kk == 1, F.when(doc % 4 == 2, "completed")
                                  .when(doc % 4 == 3, "pending")
                                  .otherwise("processing"))
                  .when(kk == 3, F.when(doc % 2 == 0, "processing")
                                  .otherwise("completed"))
                  .otherwise(F.lit("completed")))
        meta_t = "array<struct<key:string,value:string>>"
        metadata = (F.when(kk == 0, F.array(F.struct(
            F.lit("a").alias("key"), F.lit("1").alias("value"))))
            .when((kk == 1) & (doc % 3 == 0), F.array(
                F.struct(F.lit("b").alias("key"),
                         F.lit("2").alias("value")),
                F.struct(F.lit("a").alias("key"),
                         F.lit("3").alias("value"))))
            .otherwise(F.lit(None).cast(meta_t)))
        persists = e.select(
            (kk * 10000 + doc).alias("event_ord"),
            F.lit("persist").alias("kind"),
            F.concat(F.lit("j"), doc.cast("string")).alias("job_id"),
            F.concat(F.lit("d"), doc.cast("string"))
            .alias("document_id"),
            F.concat(F.lit("f"), doc.cast("string")).alias("filename"),
            status.alias("status"),
            (F.when(kk == 0, 0).when(kk == 1, 50).when(kk == 3, 80)
             .otherwise(100)).cast("long").alias("progress"),
            F.when((kk == 3) & (doc % 6 == 0), F.lit("oops"))
            .alias("error"),
            metadata.alias("metadata"),
            F.lit(None).cast("string").alias("reason"),
            ((kk > 0) | (doc % 10 != 0)).alias("doc_exists"))
        sweeps = spark.createDataFrame(
            [(25000, "interrupt", "Service restart"),
             (45000, "interrupt", "Second restart")],
            "event_ord long, kind string, reason string"
        ).select("event_ord", "kind",
                 F.lit(None).cast("string").alias("job_id"),
                 F.lit(None).cast("string").alias("document_id"),
                 F.lit(None).cast("string").alias("filename"),
                 F.lit(None).cast("string").alias("status"),
                 F.lit(None).cast("long").alias("progress"),
                 F.lit(None).cast("string").alias("error"),
                 F.lit(None).cast(meta_t).alias("metadata"),
                 "reason", F.lit(None).cast("boolean")
                 .alias("doc_exists"))
        return persists.unionByName(sweeps)

    def job_persistence_fold_q(spark, sf_dir):
        # upsert fold: scalar-only updates, dead-parent insert abort,
        # per-key metadata merge, interrupt sweeps gated on current
        # status with sticky interrupted_at
        from mivaa_pdf_extractor_spark.operators import (
            job_persistence as jp)
        return jp.fold_job_events(_persist_events(spark, sf_dir))
    q["job_persistence_fold"] = job_persistence_fold_q

    def job_recovery_stats_q(spark, sf_dir):
        # cleanup (completed/failed older than the window) + status
        # counts over the survivors
        from mivaa_pdf_extractor_spark.operators import (
            job_persistence as jp)
        rows = jp.fold_job_events(_persist_events(spark, sf_dir))
        swept = jp.cleanup_old_jobs(rows, now_ord=60000,
                                    keep_window=20000)
        return jp.job_statistics(swept.filter(~F.col("deleted")))
    q["job_recovery_stats"] = job_recovery_stats_q

    def _images_synth(spark, sf_dir):
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        doc = F.col("doc")
        cols = [
            F.concat(F.lit("img"),
                     F.lpad(doc.cast("string"), 6, "0")).alias("id"),
            F.concat(F.lit("w"), (doc % 3).cast("string"))
            .alias("workspace_id"),
            F.when(doc % 6 == 0, F.lit(True))
            .when(doc % 6 == 1, F.lit(False)).cast("boolean")
            .alias("classification_pending"),
            (doc % 4 != 0).alias("has_understanding_embedding"),
            F.when(doc % 5 == 0, F.lit(None).cast("int"))
            .otherwise(F.when(doc % 5 == 1, 1).otherwise(2)
                       .cast("int"))
            .alias("understanding_schema_version"),
            F.when(doc % 7 == 0, F.lit("openai-clip"))
            .when(doc % 7 == 1, F.lit(None).cast("string"))
            .otherwise(F.lit("voyage-4"))
            .alias("understanding_embedding_model"),
        ]
        from mivaa_pdf_extractor_spark.operators.image_backfill import (
            ASPECT_NAMES)
        for i, a in enumerate(ASPECT_NAMES):
            cols += [
                (doc % (3 + i) != 0).alias(f"has_{a}_slig"),
                F.when(doc % (5 + i) == 0, F.lit(None).cast("int"))
                .otherwise(F.lit(2).cast("int"))
                .alias(f"{a}_aspect_schema_version"),
                F.when(doc % (7 + i) == 0, F.lit("slig-legacy"))
                .otherwise(F.lit("voyage-4"))
                .alias(f"{a}_aspect_embedding_model"),
            ]
        return d.select(*cols)

    def image_backfill_select_q(spark, sf_dir):
        # limit-first understanding staleness + per-aspect stale flags
        from mivaa_pdf_extractor_spark.operators import (
            image_backfill as ib)
        images = _images_synth(spark, sf_dir)
        stale_u = ib.select_stale_understanding(
            images, limit=200, current_version=2).select(
            "id", F.lit("understanding").alias("tier"))
        aspects = ib.aspect_staleness(images, current_version=2)
        return aspects.select(
            "id", "color_stale", "texture_stale", "style_stale",
            "material_stale", "any_stale").join(
            stale_u.select("id", F.lit(True).alias("understanding_stale")),
            "id", "left").withColumn(
            "understanding_stale",
            F.coalesce("understanding_stale", F.lit(False)))
    q["image_backfill_select"] = image_backfill_select_q

    def image_classification_outcomes_q(spark, sf_dir):
        # quarantine selection + outcome ladder + verdict stamp shape
        from mivaa_pdf_extractor_spark.operators import (
            image_backfill as ib)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        doc = F.col("doc")
        images = _images_synth(spark, sf_dir)
        results = d.select(
            F.concat(F.lit("img"),
                     F.lpad(doc.cast("string"), 6, "0")).alias("id"),
            (doc % 11 != 0).alias("bytes_ok"),
            (doc % 13 == 0).alias("has_error"),
            F.when(doc % 17 == 0, F.lit("opus_failed"))
            .when(doc % 19 == 0, F.lit("opus_empty_response"))
            .otherwise(F.lit("claude-opus")).alias("cls_model"),
            F.when(doc % 23 == 0, F.lit("API key missing upstream"))
            .otherwise(F.lit("looks like tile")).alias("reason"),
            (doc % 2 == 0).alias("is_material"),
            F.when(doc % 29 == 0, F.lit(None).cast("double"))
            .otherwise((doc % 10).cast("double") / 10)
            .alias("confidence"),
            (doc % 31 != 0).alias("stamp_ok"),
            (doc % 3 != 0).alias("embed_ok"))
        cands = ib.select_quarantined(images, max_images=100)
        out = ib.classification_outcomes(cands, results)
        return out
    q["image_classification_outcomes"] = image_classification_outcomes_q

    def image_classification_summary_q(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import (
            image_backfill as ib)
        # reuse the outcomes query end-to-end for the rollup
        out = image_classification_outcomes_q(spark, sf_dir)
        return ib.classification_summary(out)
    q["image_classification_summary"] = image_classification_summary_q

    def category_prompt_build_q(spark, sf_dir):
        # registry-driven prompt sections: exact header/section/field
        # formatting, fallback to general_materials for unknown keys
        from mivaa_pdf_extractor_spark.operators import (
            field_registry as fr)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        cats = fr.build_prompt_sections(fr.registry_df(spark))
        req = d.select(
            F.col("doc").alias("doc_id"),
            F.element_at(F.array(F.lit("tiles"),
                                 F.lit("general_materials"),
                                 F.lit("mystery_cat")),
                         (F.col("doc") % 3 + 1).cast("int"))
            .alias("category_key"))
        req = req.withColumn(
            "resolved", fr.resolve_category(F.col("category_key")))
        return (req.join(F.broadcast(cats),
                         req["resolved"] == cats["category"])
                .select("doc_id", "category_key", "resolved",
                        "prompt_text", "hints_text", "skip_fields",
                        "controlled_vocab"))
    q["category_prompt_build"] = category_prompt_build_q

    def _monitor_events(spark, sf_dir):
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        doc = F.col("doc")
        job = F.concat(F.lit("j"), doc.cast("string"))
        t1 = F.lit(200.0) + (doc % 3).cast("double") * 200.0
        t2 = t1 + 100.0 + (doc % 4).cast("double") * 20.0
        ns = F.lit(None).cast("string")
        nd = F.lit(None).cast("double")
        base_cols = ["job_id", "event_ord", "kind", "to_stage",
                     "db_stage", "slow_op_operation",
                     "slow_op_started", "slow_op_budget"]
        start = d.select(job.alias("job_id"),
                         F.lit(0.0).alias("event_ord"),
                         F.lit("start").alias("kind"),
                         ns.alias("to_stage"), ns.alias("db_stage"),
                         ns.alias("slow_op_operation"),
                         nd.alias("slow_op_started"),
                         nd.alias("slow_op_budget"))
        tr1 = d.select(job.alias("job_id"), t1.alias("event_ord"),
                       F.lit("transition").alias("kind"),
                       F.lit("downloading").alias("to_stage"),
                       ns.alias("db_stage"),
                       ns.alias("slow_op_operation"),
                       nd.alias("slow_op_started"),
                       nd.alias("slow_op_budget"))
        tr2 = d.select(job.alias("job_id"), t2.alias("event_ord"),
                       F.lit("transition").alias("kind"),
                       F.lit("extracting_text").alias("to_stage"),
                       ns.alias("db_stage"),
                       ns.alias("slow_op_operation"),
                       nd.alias("slow_op_started"),
                       nd.alias("slow_op_budget"))
        tk = d.select("doc", F.explode(F.sequence(
            F.lit(0), F.lit(40))).alias("k"))
        ktime = (F.col("k").cast("double") * 60.0 + 7.0)
        op = (F.when((doc % 7 == 0) & (F.col("k") % 2 == 0),
                     F.lit("stage15"))
              .when((doc % 7 == 1) & (F.col("k") % 2 == 0),
                    F.lit("op2")).otherwise(ns))
        ticks = tk.select(
            F.concat(F.lit("j"), doc.cast("string")).alias("job_id"),
            ktime.alias("event_ord"), F.lit("tick").alias("kind"),
            ns.alias("to_stage"),
            (F.when((doc % 5 == 0) & (F.col("k") % 3 == 0),
                    F.lit("downloading"))
             .when((doc % 5 == 1) & (F.col("k") % 4 == 0),
                   F.lit("weird_stage")).otherwise(ns))
            .alias("db_stage"),
            op.alias("slow_op_operation"),
            F.when(op == "stage15", ktime - 500.0).otherwise(nd)
            .alias("slow_op_started"),
            F.when(op == "stage15",
                   F.when(doc % 14 == 0, 400.0).otherwise(100.0))
            .otherwise(nd).alias("slow_op_budget"))
        return (start.unionByName(tr1).unionByName(tr2)
                .unionByName(ticks.select(*base_cols)))

    def monitor_alert_fold_q(spark, sf_dir):
        # slow-stage transition alerts + stuck-tick alerts with the
        # 600s refire limiter, effective-stage timeouts, and slow-op
        # suppression ladder
        from mivaa_pdf_extractor_spark.operators import (
            monitor_alerts as ma)
        return ma.fold_monitor_alerts(_monitor_events(spark, sf_dir))
    q["monitor_alert_fold"] = monitor_alert_fold_q

    def pbr_maps_q(spark, sf_dir):
        # deterministic PBR derivation over synthetic luminance grids
        # (gaussian+sobel normal, local-stddev roughness, zero
        # metalness); rows-only: convolution stacks are not
        # SQL-expressible — pinned by tests/test_pbr.py instead
        from mivaa_pdf_extractor_spark.operators import pbr
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc")) \
            .filter(F.col("doc") % 5 == 0)
        w, h = 16, 12
        xy = spark.range(w * h).select(
            F.col("id").cast("int").alias("i"))
        grid = d.crossJoin(xy).select(
            "doc",
            ((((F.col("i") % w) * 7
               + (F.col("i") / w).cast("int") * 13
               + F.col("doc")) % 97).cast("double") / 96.0)
            .alias("lv"), "i")
        lum = grid.groupBy("doc").agg(
            F.transform(F.sort_array(F.collect_list(
                F.struct("i", F.col("lv").alias("v")))),
                lambda s: s["v"]).alias("lum"))
        images = lum.select(
            F.concat(F.lit("img"), F.col("doc").cast("string"))
            .alias("image_id"),
            F.lit(w).cast("int").alias("width"),
            F.lit(h).cast("int").alias("height"), "lum")
        return pbr.derive_pbr_maps(images).drop("normal", "roughness")
    q["pbr_maps"] = pbr_maps_q

    def storage_cleanup_scope_q(spark, sf_dir):
        # document storage sweep scope: leaves under the tiles/legacy
        # prefixes + the original-pdf resolution ladder (columns else
        # file_url marker parse), with per-doc counts in a 2nd query
        from mivaa_pdf_extractor_spark.operators import (
            storage_cleanup as sc)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        doc = F.col("doc")
        did = F.concat(F.lit("d"), doc.cast("string"))
        marker = "/storage/v1/object/public/"
        docs = d.select(
            did.alias("document_id"),
            F.when(doc % 3 == 0, F.lit("pdf-documents"))
            .alias("storage_bucket"),
            F.when((doc % 3 == 0) & (doc % 5 != 0),
                   F.concat(F.lit("u"), doc.cast("string"),
                            F.lit("/orig.pdf")))
            .alias("storage_object_path"),
            F.when(doc % 4 == 0,
                   F.concat(F.lit("https://h" + marker
                                  + "pdf-documents/u"),
                            doc.cast("string"),
                            F.lit("/f.pdf?token=abc")))
            .when(doc % 4 == 1, F.lit("https://x/no-marker"))
            .when(doc % 4 == 2, F.lit("https://h" + marker
                                      + "nosplit"))
            .alias("file_url"))
        files = d.select("doc", F.explode(F.array(
            F.struct(F.lit("pdf-tiles").alias("bucket"),
                     F.concat(F.lit("extracted/d"), doc.cast("string"),
                              F.lit("/p1.png")).alias("path"),
                     F.lit(False).alias("is_folder")),
            F.struct(F.lit("pdf-tiles").alias("bucket"),
                     F.concat(F.lit("extracted/d"), doc.cast("string"),
                              F.lit("/sub/p2.png")).alias("path"),
                     F.lit(False).alias("is_folder")),
            F.struct(F.lit("pdf-tiles").alias("bucket"),
                     F.concat(F.lit("extracted/d"),
                              doc.cast("string")).alias("path"),
                     F.lit(True).alias("is_folder")),
            F.struct(F.lit("pdf-tiles").alias("bucket"),
                     F.concat(F.lit("extracted/d"),
                              doc.cast("string")).alias("path"),
                     F.lit(False).alias("is_folder")),
            F.struct(F.lit("documents").alias("bucket"),
                     F.concat(F.lit("d"), doc.cast("string"),
                              F.lit("/orig.bin")).alias("path"),
                     F.lit(False).alias("is_folder")),
            F.struct(F.lit("documents").alias("bucket"),
                     F.lit("other/x.bin").alias("path"),
                     F.lit(False).alias("is_folder")),
        )).alias("f")).select("f.bucket", "f.path", "f.is_folder")
        return sc.storage_delete_scope(files, docs)
    q["storage_cleanup_scope"] = storage_cleanup_scope_q

    def storage_cleanup_counts_q(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import (
            storage_cleanup as sc)
        return sc.storage_cleanup_counts(
            storage_cleanup_scope_q(spark, sf_dir))
    q["storage_cleanup_counts"] = storage_cleanup_counts_q

    def aimd_fold_q(spark, sf_dir):
        # AIMD backpressure replay: +1 after 10 consecutive successes
        # (counter keeps growing at the cap), //2 floored at min after
        # 2 consecutive failures, cross-resetting streaks,
        # force_minimum leaves streaks alone
        from mivaa_pdf_extractor_spark.operators import aimd
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        e = d.select("doc", F.explode(F.sequence(F.lit(0), F.lit(39)))
                     .alias("k"))
        doc, k = F.col("doc"), F.col("k")
        kind = (F.when((doc % 5 == 0) & (k == 25), "force_minimum")
                .when((k + doc) % 7 < 2, "failure")
                .otherwise("success"))
        events = e.select(
            F.concat(F.lit("ep"), (doc % 40).cast("string"))
            .alias("endpoint"),
            (doc * 100 + k).alias("event_ord"), kind.alias("kind"))
        return aimd.fold_aimd(events)
    q["aimd_fold"] = aimd_fold_q

    def overload_classify_q(spark, sf_dir):
        # overload-class exception routing: name markers OR'd with the
        # carried 5xx/429 status; plus the max(in_mem, db-in_mem)
        # active-job formula with its fail-open fallback
        from mivaa_pdf_extractor_spark.operators import aimd
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        doc = F.col("doc")
        names = F.array(
            F.lit("APITimeoutError"), F.lit("ValueError"),
            F.lit("ConnectionResetError"), F.lit("JSONDecodeError"),
            F.lit("RateLimitError"), F.lit("HTTPStatusError"),
            F.lit("ReadError"), F.lit("RemoteProtocolError"))
        rows = d.select(
            doc.alias("row_id"),
            F.element_at(names, (doc % 8 + 1).cast("int"))
            .alias("exc_type"),
            F.when(doc % 6 == 0, F.lit(503))
            .when(doc % 6 == 1, F.lit(400))
            .when(doc % 6 == 2, F.lit(429))
            .when(doc % 6 == 3, F.lit(None).cast("int"))
            .when(doc % 6 == 4, F.lit(502)).otherwise(F.lit(200))
            .cast("int").alias("status"),
            (doc % 9).cast("long").alias("in_mem"),
            (doc % 13).cast("long").alias("db_count"),
            (doc % 4 != 0).alias("db_ok"))
        return rows.select(
            "row_id", "exc_type", "status",
            aimd.classify_overload(F.col("exc_type"),
                                   F.col("status"))
            .alias("is_overload"),
            aimd.active_job_count(F.col("in_mem"), F.col("db_count"),
                                  F.col("db_ok")).cast("long")
            .alias("active_jobs"))
    q["overload_classify"] = overload_classify_q

    def db_health_fold_q(spark, sf_dir):
        # health-check fold: one success recovers, unhealthy at 3
        # consecutive failures, slow-query counter, rolling last-5
        # query-time window, latest-success test timings
        from mivaa_pdf_extractor_spark.operators import db_health
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        e = d.select("doc", F.explode(F.sequence(F.lit(0), F.lit(30)))
                     .alias("k"))
        doc, k = F.col("doc"), F.col("k")
        ok = ((doc + k) % 6 != 0) & ~((k >= 28) & (doc % 9 == 0))
        checks = e.select(
            F.concat(F.lit("svc"), (doc % 20).cast("string"))
            .alias("service"),
            (doc * 100 + k).alias("check_ord"), ok.alias("ok"),
            F.when(ok, (k % 7).cast("double") * 3.5 + 1.0)
            .alias("conn_ms"),
            F.when(ok, (k % 11).cast("double") * 150.0
                   + (doc % 5).cast("double") * 100.0)
            .alias("query_ms"),
            F.when(~ok, F.concat(F.lit("err"), k.cast("string")))
            .alias("error"))
        return db_health.fold_health_checks(checks, history=5)
    q["db_health_fold"] = db_health_fold_q

    def escalation_fold_q(spark, sf_dir):
        # confidence-threshold escalation replay: per-task tables,
        # haiku->sonnet->opus chain, cost-sensitive tasks never
        # escalate, low-confidence 'poor' acceptance at the gate,
        # error path fails when no next model
        from mivaa_pdf_extractor_spark.operators import escalation
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        e = d.select("doc", F.explode(F.sequence(F.lit(0), F.lit(2)))
                     .alias("attempt"))
        doc, at = F.col("doc"), F.col("attempt")
        task = F.element_at(F.array(
            F.lit("material_classification"),
            F.lit("product_extraction"), F.lit("image_analysis"),
            F.lit("rag_search"), F.lit("custom_task")),
            (doc % 5 + 1).cast("int"))
        m7 = doc % 7
        conf = (
            F.when((m7 == 0) & (at == 0), 0.95)
            .when((m7 == 1) & (at == 0), 0.5)
            .when((m7 == 1) & (at == 1), 0.86)
            .when((m7 == 1) & (at == 2), 0.99)
            .when(m7 == 2, F.when(at == 0, 0.5).when(at == 1, 0.6)
                  .otherwise(0.65))
            .when((m7 == 3) & (at == 0),
                  F.lit(None).cast("double"))
            .when((m7 == 3), 0.9)
            .when(m7 == 4, F.when(at == 0, 0.72).otherwise(0.74))
            .when(m7 == 5, F.lit(None).cast("double"))
            .otherwise(F.when(at == 0, 0.69)
                       .when(at == 1, F.lit(None).cast("double"))
                       .otherwise(0.97)))
        attempts = e.select(
            F.concat(F.lit("r"), doc.cast("string")).alias("run_id"),
            task.alias("task_type"), at.cast("int").alias("attempt"),
            conf.alias("confidence"),
            F.when(conf.isNull(),
                   F.concat(F.lit("boom"), at.cast("string")))
            .alias("error"),
            (F.lit(100) + at * 10 + doc % 3).cast("long")
            .alias("latency_ms"))
        return escalation.fold_escalation(attempts)
    q["escalation_fold"] = escalation_fold_q

    def region_normalize(spark, sf_dir):
        # L7: clamp + order-correction over synthesized pixel regions
        # (one inverted box, one out-of-range, one NULL bbox, one doc class
        # with width=0 exercising the 'or 1.0' fallback)
        d = _docs(spark, sf_dir).select("doc_id")
        r = d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        ).select(
            "doc_id", F.lit(1).alias("page"), F.col("i").alias("pos"),
            F.when(F.col("doc_id") % 10 == 0, F.lit(0.0))
            .otherwise(F.lit(1000.0)).alias("width"),
            F.lit(800.0).alias("height"),
            F.when(F.col("i") == 0,
                   F.array(F.lit(50.0), F.lit(40.0), F.lit(200.0),
                           F.lit(100.0)))
            .when(F.col("i") == 1,
                  F.array(F.lit(300.0), F.lit(500.0), F.lit(100.0),
                          F.lit(200.0)))
            .when(F.col("i") == 2,
                  F.array(F.lit(-50.0), F.lit(-20.0), F.lit(1200.0),
                          F.lit(900.0)))
            .otherwise(F.lit(None).cast("array<double>")).alias("bbox"),
            F.when(F.col("i") == 2, F.lit("")).otherwise(
                F.concat(F.lit("lbl"), F.col("i").cast("string")))
            .alias("label"),
            F.concat(F.lit("c"), F.col("i").cast("string")).alias("content"),
            F.when(F.col("i") == 1, F.lit(0)).otherwise(F.col("i"))
            .cast("int").alias("order"),
        )
        return normalize_regions(r)
    q["region_normalize"] = region_normalize

    def size_gate(spark, sf_dir):
        # S1: the 50 MB input cap as a native routing expression (the
        # pipeline variant filters + stamps the terminal 'oversize' status;
        # tested with a small cap in tests/test_resume.py)
        cap = 2000
        return _docs(spark, sf_dir).select(
            "doc_id", F.octet_length("text").alias("n_bytes"),
            F.when(F.octet_length("text") > cap, F.lit("oversize"))
            .otherwise(F.lit("ok")).alias("route"))
    q["size_gate"] = size_gate

    def chunk_cross_refs(spark, sf_dir):
        # C8 over synthesized chunks: every doc yields 3 chunks on pages
        # 1..3, exercising all six typed reference patterns — resolved
        # page ref, unresolvable page refs (plain + parenthesized), table/
        # figure/section/appendix refs (no resolution by design)
        d = _docs(spark, sf_dir).select("doc_id", "text")
        chunks = d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("chunk_index"),
        ).select(
            "doc_id", "chunk_index",
            (F.col("chunk_index") + 1).alias("page"),
            F.when(F.col("chunk_index") == 0,
                   F.lit("intro, see page 3 for details"))
            .when(F.col("chunk_index") == 2,
                  F.lit("refer to page 12 (see 5), refer to the Appendix A,"
                        " described in section 1.2"))
            .otherwise(F.lit("body, see Table 2.1 and as in Fig. 4-2"))
            .alias("content"),
        )
        out = detect_cross_refs(chunks)
        # deterministic presentation order lives HERE, not in the operator
        # (round-3 verdict item 3): the contract output is bounded, the
        # operator's isn't
        return out.select(
            "doc_id", "src_chunk", "ref_type", "ref_value",
            F.array_join("target_chunks", ",").alias("targets")
        ).orderBy("doc_id", "src_chunk", "ref_type", "ref_value")
    q["chunk_cross_refs"] = chunk_cross_refs

    def chunk_type_classify(spark, sf_dir):
        # C11 pattern tier over the golden per-type texts (the LLM
        # escalation for ambiguous chunks is out of scope per SURVEY)
        d = _docs(spark, sf_dir).select("doc_id")
        content = F.element_at(
            F.array(*[F.lit(t) for t in _CHUNK_TYPE_TEXTS]),
            (F.col("doc_id") % 10 + 1).cast("int"))
        chunks = d.select("doc_id", content.alias("content"))
        return classify_chunk_types(chunks).select(
            "doc_id", "chunk_type",
            F.round("type_confidence", 2).alias("type_confidence"))
    q["chunk_type_classify"] = chunk_type_classify

    def table_parse_classify(spark, sf_dir):
        # G1-G6 over synthesized table texts: half markdown, half HTML,
        # headers chosen by doc_id so every class appears
        d = _docs(spark, sf_dir).select("doc_id").filter(
            F.col("doc_id") % 10 == 0)
        hdr = (F.when(F.col("doc_id") % 50 == 0, F.lit("Price,EUR"))
               .when(F.col("doc_id") % 30 == 0, F.lit("Size,Pack"))
               .otherwise(F.lit("Property,Standard")))
        md = F.concat(F.lit("| "),
                      F.regexp_replace(hdr, ",", " | "),
                      F.lit(" |\n| --- | --- |\n| a"),
                      F.col("doc_id").cast("string"),
                      F.lit(" | b |"))
        html = F.concat(F.lit("<table><tr><th>"),
                        F.regexp_replace(hdr, ",", "</th><th>"),
                        F.lit("</th></tr><tr><td>a"),
                        F.col("doc_id").cast("string"),
                        F.lit("</td><td>b</td></tr></table>"))
        texts = d.select(
            "doc_id",
            F.when(F.col("doc_id") % 20 == 0, html).otherwise(md)
            .alias("text"))
        return parse_and_classify_tables(texts).select(
            "id", "table_type", "headers", "num_rows", "num_cols")
    q["table_parse_classify"] = table_parse_classify

    def corpus_curate(spark, sf_dir):
        # end-to-end curation composition: language gate -> quality gate
        # (micro-unit scores, no float compares) -> exact-dedup keep-min
        # — the standard pre-training corpus filter chain as ONE plan
        d = _docs(spark, sf_dir).select("doc_id", "text")
        scored = d.select(
            "doc_id", "text",
            ta.lang_id(F.col("text")).alias("lang"),
            _spark_quality_u(F.col("text")).alias("quality_u"))
        gated = scored.filter((F.col("lang") == "en")
                              & (F.col("quality_u") >= 500000))
        kept = dd.exact_dedup(gated, text_col="text", id_col="doc_id")
        return (gated.join(kept.select("doc_id"), "doc_id", "left_semi")
                .select("doc_id", "lang", "quality_u"))
    q["corpus_curate"] = corpus_curate

    def dedup_components(spark, sf_dir):
        # connected components over a synthesized pair graph: chains of
        # 6 nodes (edges (d, d+1) for d%8 in 0..4), diameter 5 — the min
        # label needs 5 propagation rounds, exercising the fixpoint loop
        d = _docs(spark, sf_dir).select("doc_id")
        pairs = d.filter(F.col("doc_id") % 8 < 5).select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"))
        return dd.connected_components(pairs)
    q["dedup_components"] = dedup_components

    def dedup_canonical_docs(spark, sf_dir):
        # keep one doc per near-dup component (plus all unpaired docs)
        d = _docs(spark, sf_dir).select("doc_id")
        pairs = d.filter(F.col("doc_id") % 8 < 5).select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"))
        return dd.dedup_canonical(d, pairs).select("doc_id")
    q["dedup_canonical_docs"] = dedup_canonical_docs

    def chunk_text_offsets(spark, sf_dir):
        # positional metadata on the TEXT strategies (round-3 verdict item
        # 5): fixed-strategy chunk_documents over sentence-free,
        # space-free synthetic text, where the chunker's offsets reduce to
        # exact window arithmetic (start = 50*i with max_size=150 and the
        # default overlap 100; no boundary backoff can fire)
        d = _docs(spark, sf_dir).select("doc_id").filter(
            F.col("doc_id") % 5 == 0)
        L = (F.lit(150) + (F.col("doc_id") % 10) * 73).cast("int")
        text = F.substring(F.repeat(F.lit("abcdef"), 135), F.lit(1), L)
        docs = d.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.array(F.struct(
                F.lit("text").alias("kind"), text.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"))).alias("spans"))
        chunks = chunk_documents(docs, strategy="fixed", max_size=150,
                                 dedup=False)
        return chunks.select("doc_id", "chunk_index", "content",
                             "start_offset", "end_offset", "total_chunks")
    q["chunk_text_offsets"] = chunk_text_offsets

    def chunk_embedding_text(spark, sf_dir):
        # C10 over synthesized chunks: headings update the running context
        # at chunk 1 (# Setup) and chunk 3 (## Usage), chunk 2 inherits;
        # even docs carry a title ("Doc N"), odd docs don't — exercising
        # title-only, heading-only, and combined locations
        d = _docs(spark, sf_dir).select("doc_id")
        chunks = d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk_index"),
        ).select(
            "doc_id", "chunk_index",
            F.when(F.col("chunk_index") == 1, F.lit("# Setup\n\ninstall"))
            .when(F.col("chunk_index") == 3,
                  F.concat(F.lit("## Usage "), F.col("doc_id"),
                           F.lit("\n\nrun it")))
            .when(F.col("chunk_index") == 0, F.lit("intro paragraph"))
            .otherwise(F.lit("more details")).alias("content"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit("Doc "), F.col("doc_id")))
            .alias("title"),
        )
        return with_embedding_text(chunks, title_col="title").select(
            "doc_id", "chunk_index", "heading_context", "embedding_text")
    q["chunk_embedding_text"] = chunk_embedding_text

    def table_metadata_mine(spark, sf_dir):
        # G7 over doc_id-parameterized golden-shaped tables: the Italian
        # combined catalog grid (dimensions AND packaging in one table),
        # the split-axis English grid (token-matched axis columns), and
        # the 3-col Property|Standard|Value spec table. Decimal values are
        # quarters/halves so the mined doubles are exactly representable
        # on both engines.
        d = _docs(spark, sf_dir).select("doc_id").filter(
            F.col("doc_id") % 10 == 0)
        s = lambda c: c.cast("int").cast("string")  # noqa: E731
        w = s(F.lit(30) + (F.col("doc_id") % 7) * 10)
        h = s(F.lit(60) + (F.col("doc_id") % 5) * 20)
        t = s(F.lit(8) + F.col("doc_id") % 3)
        p = s(F.lit(2) + F.col("doc_id") % 4)
        cov = s(F.lit(25) * (F.lit(1) + F.col("doc_id") % 3))
        kg = s(F.lit(20) + F.col("doc_id") % 15)
        bp = s(F.lit(30) + F.col("doc_id") % 20)
        wa = s(F.col("doc_id") % 9)
        slip = s(F.lit(10) + F.col("doc_id") % 4)
        br = s(F.lit(35) + F.col("doc_id") % 10)
        catalog = F.concat(
            F.lit("| Formato | Spessore | Pz/Scatola | Mq/Scatola |"
                  " Kg/Scatola | Scatole/Pallet |\n"
                  "| --- | --- | --- | --- | --- | --- |\n| "),
            w, F.lit("x"), h, F.lit(" cm | "), t, F.lit(" mm | "),
            p, F.lit(" | 1,"), cov, F.lit(" | "), kg, F.lit(",5 | "),
            bp, F.lit(" |"))
        split = F.concat(
            F.lit("| Width | Height | Thickness | Pcs/Box |\n"
                  "| --- | --- | --- | --- |\n| "),
            w, F.lit(" | "), h, F.lit(" | "), t, F.lit(" | "),
            p, F.lit(" |"))
        spec = F.concat(
            F.lit("<table><tr><th>Caratteristica</th><th>Norma</th>"
                  "<th>Valore</th></tr>"
                  "<tr><td>Assorbimento <b>acqua</b></td>"
                  "<td>ISO 10545-3</td><td>&lt; 0,"),
            wa, F.lit("%</td></tr>"
                      "<tr><td>Resistenza allo scivolamento</td>"
                      "<td>DIN 51130</td><td>R"),
            slip, F.lit("</td></tr>"
                        "<tr><td>Resistenza alla flessione</td>"
                        "<td>ISO 10545-4</td><td>"),
            br, F.lit(" N/mm²</td></tr>"
                      "<tr><td>Resistenza al gelo</td>"
                      "<td>ISO 10545-12</td><td>Conforme</td></tr>"
                      "</table>"))
        texts = d.select(
            "doc_id",
            F.when(F.col("doc_id") % 20 == 0, spec)
            .when(F.col("doc_id") % 30 == 0, split)
            .otherwise(catalog).alias("text"))
        return mine_table_metadata(texts)
    q["table_metadata_mine"] = table_metadata_mine

    def product_metadata_agg(spark, sf_dir):
        # G7 per-product merge: the mined tables grouped 5-per-product
        # (floor(doc_id/50)), ordered by doc id — packaging first-non-null,
        # specs last-non-null, sizes sorted-distinct union, modal thickness
        mined = table_metadata_mine(spark, sf_dir)
        keyed = mined.select(
            F.floor(F.col("id").cast("bigint") / 50).alias("product_id"),
            F.col("id").cast("bigint").alias("page"), "*")
        return aggregate_product_metadata(keyed, "product_id", "page")
    q["product_metadata_agg"] = product_metadata_agg

    def stuck_jobs(spark, sf_dir):
        # X5 stuck-job detection shape (plans/tracking.py; reference
        # checkpoint_recovery_service.py:338-368): job := user_id, its
        # status := latest event type, its heartbeat := latest event ts;
        # stuck == not terminal ('purchase') AND heartbeat older than the
        # corpus max ts minus 12 h. The scalar "now" rides a broadcast
        # one-row cross join — no driver round-trip inside the plan.
        ev = _events(spark, sf_dir)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        last = (ev.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id",
                        F.col("event_type").alias("last_status"),
                        F.col("ts").alias("last_heartbeat")))
        now = ev.agg(F.max("ts").alias("now_ts"))
        return (last.crossJoin(F.broadcast(now))
                .filter((F.col("last_status") != "purchase")
                        & (F.col("last_heartbeat")
                           < F.col("now_ts") - F.expr("INTERVAL 12 HOURS")))
                .select("user_id", "last_status", "last_heartbeat"))
    q["stuck_jobs"] = stuck_jobs

    def doc_repetition(spark, sf_dir):
        # Gopher/MassiveText within-doc repetition battery — map-only
        # native array expressions (operators/text_analysis.py)
        return ta.repetition_metrics(_docs(spark, sf_dir))
    q["doc_repetition"] = doc_repetition

    def paragraph_dedup(spark, sf_dir):
        # CCNet-style cross-corpus block dedup + per-doc reassembly
        # (operators/dedup.py block_dedup)
        return dd.block_dedup(_docs(spark, sf_dir).select("doc_id", "text"))
    q["paragraph_dedup"] = paragraph_dedup

    def media_object_store(spark, sf_dir):
        # S7 object-storage sink derivation over the real extraction:
        # page-indexed filenames, doc-organized keys, the upload path's
        # page-number re-parse, and the md5 payload stand-in as hex
        spans = documents_to_spans(_docs(spark, sf_dir))
        return media_object_rows(run_extract(spans)).select(
            "object_key", "doc_id", "media_ref", "filename", "page_number",
            F.lower(F.hex("content")).alias("content_md5"))
    q["media_object_store"] = media_object_store

    def url_ingest(spark, sf_dir):
        # S2 PDF-from-URL source over the injectable-transport fake
        # (sources/url_source.py): status taxonomy, warn-only
        # content-type gate, deterministic error strings
        from mivaa_pdf_extractor_spark.sources.url_source import (
            deterministic_urls, fake_transport, fetch_documents_from_urls)
        urls = deterministic_urls(_docs(spark, sf_dir))
        # content_type_ok as nullable INT: a NULL BOOLEAN canonicalizes
        # asymmetrically across the two engines' pandas bridges
        return fetch_documents_from_urls(urls, fake_transport).select(
            "doc_id", "url", "status",
            F.col("content_type_ok").cast("int").alias("content_type_ok"),
            "n_bytes", "error")
    q["url_ingest"] = url_ingest

    def decontaminate(spark, sf_dir):
        # benchmark decontamination (operators/dedup.py
        # ngram_decontaminate): eval set := the 21-word excerpt (words
        # 5..25) of every 17th doc; flag corpus docs sharing any word
        # 8-gram with it. Bench shingle set is broadcast — the corpus
        # side never shuffles.
        d = _docs(spark, sf_dir).select("doc_id", "text")
        ws = F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "")
        bench = (d.filter(F.col("doc_id") % 17 == 0)
                 .select("doc_id",
                         F.array_join(F.slice(ws, 5, 21), " ").alias("text")))
        return dd.ngram_decontaminate(d, bench, n=8).select("id", "n_hits")
    q["decontaminate"] = decontaminate

    def pii_redact(spark, sf_dir):
        # PII redaction tier (operators/text_analysis.py pii_redact) over
        # deterministically PII-enriched text: the synthetic corpus
        # carries no addresses of its own, so each doc gets an email, an
        # IPv4, an SSN-shaped id, and a phone number derived from doc_id
        # — identically synthesized in the oracle.
        d = _docs(spark, sf_dir).select("doc_id", "text")
        did = F.col("doc_id")
        four = F.lpad((did % 10000).cast("string"), 4, "0")
        enriched = d.withColumn("text", F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com at 10.0."),
            (did % 256).cast("string"), F.lit("."),
            (F.floor(did / 256) % 256).cast("string"),
            F.lit(" ssn 123-45-"), four,
            F.lit(" call +1 (555) 010-"), four))
        return ta.pii_redact(enriched)
    q["pii_redact"] = pii_redact

    def pack_training_sequences(spark, sf_dir):
        # next-fit token packing into 128-token training sequences over 8
        # independent pack partitions (operators/packing.py) — the
        # pad-free batching pass; sequences never span partitions
        d = _docs(spark, sf_dir).select(
            "doc_id", (F.col("doc_id") % 8).cast("int").alias("part"),
            ta.token_count_ws(F.col("text")).alias("tokens"))
        return pk.pack_sequences(d, budget=_PACK_BUDGET)
    q["pack_training_sequences"] = pack_training_sequences

    def mixture_sample(spark, sf_dir):
        # fixed-mixture down-sampling (operators/sampling.py): weights
        # 2^(srcnum % 3) in {1,2,4} — powers of two keep every ratio and
        # quota binary-exact across engines; exact (hash-rank) mode
        from mivaa_pdf_extractor_spark.operators.sampling import (
            mixture_sample as mix)
        d = _docs(spark, sf_dir).select("doc_id", "source")
        weights = (d.select("source").distinct()
                   .select("source", F.expr(
                       "cast(shiftleft(1, cast(substring(source, 4) as int)"
                       " % 3) as double)").alias("weight")))
        return mix(d, weights)
    q["mixture_sample"] = mixture_sample

    def corpus_mixture_stats(spark, sf_dir):
        # mixing-report rollup: per (source, lang) cell plus source and
        # grand totals in ONE pass (partial aggregation handles the
        # rollup tiers map-side — no second scan per tier)
        d = _docs(spark, sf_dir)
        return (d.rollup("source", "lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"),
                     F.sum(ta.token_count_ws(F.col("text")).cast("bigint"))
                      .alias("sum_tokens"))
                .select(F.coalesce("source", F.lit("ALL")).alias("source"),
                        F.coalesce("lang", F.lit("ALL")).alias("lang"),
                        "n_docs", "sum_chars", "sum_tokens"))
    q["corpus_mixture_stats"] = corpus_mixture_stats

    def corpus_split(spark, sf_dir):
        # deterministic train/val/test assignment (operators/sampling.py
        # hash_split): binary-exact fractions so the accumulated
        # thresholds (0.75, 0.875) are the same doubles both engines see
        from mivaa_pdf_extractor_spark.operators.sampling import hash_split
        return hash_split(_docs(spark, sf_dir).select("doc_id"),
                          fractions={"train": 0.75, "val": 0.125,
                                     "test": 0.125})
    q["corpus_split"] = corpus_split

    def packing_report(spark, sf_dir):
        # padding-efficiency rollup over the packed sequences: per part,
        # how many sequences, docs, tokens, and wasted (padded) token
        # slots the 128-token batching would cost. All-integer outputs —
        # no float drift. An oversize singleton wastes 0 (greatest).
        packed = q["pack_training_sequences"](spark, sf_dir)
        per_seq = (packed.groupBy("part", "seq_id")
                   .agg(F.count("*").alias("n_docs"),
                        F.sum("tokens").alias("seq_tokens")))
        return (per_seq.groupBy("part")
                .agg(F.count("*").alias("n_seqs"),
                     F.sum("n_docs").alias("n_docs"),
                     F.sum("seq_tokens").alias("total_tokens"),
                     F.sum(F.greatest(F.lit(_PACK_BUDGET)
                                      - F.col("seq_tokens"),
                                      F.lit(0))).alias("total_waste")))
    q["packing_report"] = packing_report

    def quality_resample(spark, sf_dir):
        # importance resampling (operators/sampling.py): keep-probability
        # = quality_u micro-units / 1e6, decided by a salted md5 fraction
        # so it is independent of corpus_split's assignment hash
        from mivaa_pdf_extractor_spark.operators.sampling import (
            importance_resample)
        d = _docs(spark, sf_dir).select(
            "doc_id", _spark_quality_u(F.col("text")).alias("quality_u"))
        return importance_resample(d, "quality_u")
    q["quality_resample"] = quality_resample

    # --- search fusion / re-ranking (operators/search.py; reference
    # weight_profiles.py, unified_search_service.py, rag_service.py,
    # mmr_reranker.py) ---

    def search_weight_profiles(spark, sf_dir):
        # intent flags synthesized from doc_id arithmetic; the priority
        # chain, the page carve-out weights, and the text->source fan-out
        # all compile to literal CASE chains (map-only)
        from mivaa_pdf_extractor_spark.operators import search as se
        d = _docs(spark, sf_dir).select("doc_id")
        parsed = d.select(
            "doc_id",
            (F.col("doc_id") % 11 == 0).alias("is_product_name"),
            (F.col("doc_id") % 7 == 0).alias("has_dimensions"),
            (F.col("doc_id") % 5 == 0).alias("has_colors"),
            (F.col("doc_id") % 13 == 0).alias("has_finish"),
            (F.col("doc_id") % 3 == 0).alias("has_pattern"),
            (F.col("doc_id") % 17 == 0).alias("has_material"),
            (F.col("doc_id") % 2 == 0).alias("has_style"),
            (F.col("doc_id") % 19 == 0).alias("has_application"))
        out = se.with_source_weights(
            se.with_aspect_weights(se.select_weight_profile(parsed)))
        return out.select(
            "doc_id", "profile",
            *[f"w_{a}" for a in se.EMBEDDING_ASPECTS],
            "w_src_chunk", "w_src_product", "w_src_keyword")
    q["search_weight_profiles"] = search_weight_profiles

    def search_strategy_fusion(spark, sf_dir):
        # three synthetic retrieval strategies (semantic on every doc,
        # keyword on doc_id%3, visual on doc_id%5) with dyadic k/64
        # scores, merged by the reference's dedup-and-mean semantics
        from mivaa_pdf_extractor_spark.operators.search import (
            fuse_strategy_results)
        d = _docs(spark, sf_dir).select("doc_id")
        rid = F.col("doc_id").cast("string").alias("result_id")

        def leg(name, rank, mult, gate):
            base = d.filter(gate) if gate is not None else d
            return base.select(
                rid, F.lit(name).alias("strategy"),
                F.lit(rank).alias("strategy_rank"),
                ((F.col("doc_id") * mult % 64).cast("double") / F.lit(64.0)
                 ).alias("score"),
                F.concat(F.lit(name[:3] + ":"),
                         F.col("doc_id").cast("string")).alias("content"))

        legs = (leg("semantic", 1, 7, None)
                .unionByName(leg("keyword", 2, 11, F.col("doc_id") % 3 == 0))
                .unionByName(leg("visual", 3, 13, F.col("doc_id") % 5 == 0)))
        return fuse_strategy_results(legs)
    q["search_strategy_fusion"] = search_strategy_fusion

    def search_keyword_score(spark, sf_dir):
        # weighted field-Jaccard + substring bonus against a constant
        # query, over product fields synthesized from doc_id arithmetic
        # (manufacturer exercises the ''-skip path via NULLIF)
        from mivaa_pdf_extractor_spark.operators.search import (
            keyword_text_score)
        d = _docs(spark, sf_dir).select("doc_id")

        def pick(options, mod):
            return F.element_at(
                F.array(*[F.lit(o) for o in options]),
                (F.col("doc_id") % mod).cast("int") + 1)

        products = d.select(
            "doc_id",
            F.concat(pick(["ceramic tile", "oak plank", "marble slab",
                           "vinyl panel"], 4),
                     F.lit(" "),
                     F.col("doc_id").cast("string")).alias("name"),
            F.nullif(pick(["Acme Ceramics", "TileWorks", "Not specified",
                           ""], 4), F.lit("Not specified")
                     ).alias("manufacturer"),
            pick(["red blue", "grey white", ""], 3).alias("colors"),
            F.concat(F.lit("durable "),
                     pick(["ceramic", "wood", "stone"], 3),
                     F.lit(" surface for modern spaces")
                     ).alias("description"))
        scored = keyword_text_score(
            products, "modern ceramic tile red",
            fields=[("name", 3.0), ("manufacturer", 3.0), ("colors", 1.5),
                    ("description", 2.0)])
        return scored.select("doc_id", "keyword_score")
    q["search_keyword_score"] = search_keyword_score

    def search_hybrid_fusion(spark, sf_dir):
        # hybrid multi-source fusion with active-weight normalization and
        # the adaptive threshold; dyadic scores (k/32) and weights (m/16)
        # keep every sum binary-exact in both engines
        from mivaa_pdf_extractor_spark.operators.search import hybrid_fuse
        d = _docs(spark, sf_dir).select("doc_id")
        pid = F.col("doc_id").cast("string").alias("product_id")

        def leg(name, mult, gate):
            base = d.filter(gate) if gate is not None else d
            return base.select(
                pid, F.lit(name).alias("source"),
                ((F.col("doc_id") * mult % 32).cast("double") / F.lit(32.0)
                 ).alias("score"))

        legs = (leg("visual", 3, F.col("doc_id") % 2 == 0)
                .unionByName(leg("chunk", 5, F.col("doc_id") % 3 == 0))
                .unionByName(leg("understanding", 7,
                                 F.col("doc_id") % 4 == 0))
                .unionByName(leg("product", 11, F.col("doc_id") % 5 == 0))
                .unionByName(leg("keyword", 13, None)))
        weights = {"visual": 0.25, "chunk": 0.25, "understanding": 0.1875,
                   "product": 0.1875, "keyword": 0.125}
        return hybrid_fuse(legs, weights, similarity_threshold=0.25)
    q["search_hybrid_fusion"] = search_hybrid_fusion

    def search_mmr_rerank(spark, sf_dir):
        # greedy MMR over 8 synthesized candidates per query doc
        # (doc_id%50==0), k=4, lambda=0.75; integer-valued embedding
        # components make every dot product exact, so cosine/mmr doubles
        # are bit-identical to the oracle's chained-CTE greedy twin
        from mivaa_pdf_extractor_spark.operators.search import mmr_rerank
        d = _docs(spark, sf_dir).filter(F.col("doc_id") % 50 == 0)
        c = d.select("doc_id",
                     F.explode(F.sequence(F.lit(0), F.lit(7))).alias("ord"))
        doc, ordc = F.col("doc_id"), F.col("ord")
        cands = c.select(
            doc.alias("query_id"), "ord",
            (doc * 100 + ordc).alias("cand_id"),
            (((doc + 7 * ordc) % 16).cast("double") / F.lit(16.0)
             ).alias("rel"),
            F.array(
                (((doc + ordc) % 7) + 1).cast("double"),
                ((doc * 2 + ordc * 3) % 11 - 5).cast("double"),
                ((doc * 3 + ordc * 5) % 11 - 5).cast("double"),
                ((doc + ordc * 7) % 11 - 5).cast("double")).alias("emb"))
        out = mmr_rerank(cands, lambda_param=0.75, top_k=4)
        return out.select("query_id", "rank", "cand_id", "relevance",
                          "mmr_score", "diversity_gain")
    q["search_mmr_rerank"] = search_mmr_rerank

    # --- entity-linking relevance joins (operators/linking.py;
    # reference entity_linking_service.py) ---

    def _link_products(spark, sf_dir):
        d = _docs(spark, sf_dir).select("doc_id")
        pr = d.select("doc_id",
                      F.explode(F.sequence(F.lit(0), F.lit(1))).alias("p"))
        doc, p = F.col("doc_id"), F.col("p")
        return pr.select(
            "doc_id", (doc * 10 + p).alias("product_id"),
            F.when(p == 0, F.lit("alpha series by onset"))
             .otherwise(F.lit("beta quartz")).alias("name"),
            F.sequence(1 + (doc + p) % 4,
                       1 + (doc + p) % 4 + p).alias("page_range"))

    def entity_link_chunks(spark, sf_dir):
        # sequential->original page mapping (short arrays exercise the
        # fallback), page-proximity tiers + " by "-stripped mention,
        # threshold 0.3 — per-doc equi-join, scores native
        from mivaa_pdf_extractor_spark.operators.linking import (
            link_chunks_to_products, with_original_page)
        d = _docs(spark, sf_dir).select("doc_id")
        ch = d.select("doc_id",
                      F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"))
        doc, c = F.col("doc_id"), F.col("c")
        chunks = ch.select(
            "doc_id", (doc * 10 + c).alias("chunk_id"),
            (c + 1).alias("page_number"),
            F.sequence(doc % 5 + 1,
                       doc % 5 + 1 + doc % 4).alias("product_pages"),
            F.concat(F.lit("chunk "), (doc % 7).cast("string"),
                     F.when((doc + c) % 3 == 0,
                            F.lit(" featuring alpha series tiles"))
                      .otherwise(F.lit(" plain survey text"))
                     ).alias("content"))
        chunks = with_original_page(chunks).select(
            "doc_id", "chunk_id", "original_page", "content")
        return link_chunks_to_products(chunks, _link_products(spark, sf_dir))
    q["entity_link_chunks"] = entity_link_chunks

    def entity_link_images(spark, sf_dir):
        # fallback page/confidence formula + the vision-guided
        # min(0.95, vc)-or-0.95 path; no threshold (all pairs ranked)
        from mivaa_pdf_extractor_spark.operators.linking import (
            link_images_to_products)
        d = _docs(spark, sf_dir).select("doc_id")
        im = d.select("doc_id",
                      F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"))
        doc, i = F.col("doc_id"), F.col("i")
        images = im.select(
            "doc_id", (doc * 10 + i).alias("image_id"),
            (1 + (doc + i) % 6).alias("page_number"),
            F.when((doc + i) % 4 == 0, F.lit("vision_guided"))
             .otherwise(F.element_at(
                 F.array(F.lit("embedded"), F.lit("region_crop"),
                         F.lit("full_render")),
                 (i % 3).cast("int") + 1)).alias("extraction_layer"),
            (((doc * 3 + i) % 8).cast("double") / F.lit(8.0)
             ).alias("detection_confidence"),
            F.when((doc + i) % 8 == 0, F.lit(0.0))
             .when((doc + i) % 5 == 0, F.lit(0.99))
             .otherwise(((doc + i * 5) % 16).cast("double") / F.lit(16.0))
             .alias("vision_confidence"))
        return link_images_to_products(images, _link_products(spark, sf_dir))
    q["entity_link_images"] = entity_link_images

    def url_quality_gate(spark, sf_dir):
        # URL admission gate (operators/urls.py): scheme/host/literal-IP
        # /extension/path tiers in reference precedence, plus the naive
        # registered-domain grouping key. Map-only native classification.
        from mivaa_pdf_extractor_spark.operators.urls import (
            classify_urls, registered_domain)
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        ds = doc.cast("string")
        m = doc % 12
        url = (
            F.when(m == 0, F.concat(F.lit("https://example.com/media/p/"),
                                    ds))
            .when(m == 1, F.concat(F.lit("http://cdn.example.org/img/"),
                                   ds, F.lit(".png")))
            .when(m == 2, F.lit("ftp://example.com/file"))
            .when(m == 3, F.lit("https://localhost/admin"))
            .when(m == 4, F.lit("https://169.254.169.254/latest/meta-data"))
            .when(m == 5, F.concat(F.lit("https://192.168."),
                                   (doc % 256).cast("string"),
                                   F.lit(".7/x")))
            .when(m == 6, F.concat(F.lit("https://example.com/doc"), ds,
                                   F.lit(".pdf?x=1")))
            .when(m == 7, F.lit("https://example.com/"))
            .when(m == 8, F.lit("https://example.com/app.js"))
            .when(m == 9, F.concat(F.lit("https://10.0.0."),
                                   (doc % 256).cast("string"),
                                   F.lit("/internal")))
            .when(m == 10,
                  F.lit("https://metadata.google.internal/computeMetadata"))
            .otherwise(F.concat(
                F.lit("https://shop.example.co.uk/products/"), ds)))
        out = classify_urls(d.withColumn("url", url))
        return out.select(
            "doc_id", "url", "url_status",
            registered_domain(F.col("host")).alias("domain"))
    q["url_quality_gate"] = url_quality_gate

    def domain_cap_sample(spark, sf_dir):
        # per-domain cap over the admitted URLs (exact hash-rank mode
        # for the contract; threshold mode is the no-shuffle scale path)
        from mivaa_pdf_extractor_spark.operators.urls import cap_per_domain
        admitted = (q["url_quality_gate"](spark, sf_dir)
                    .filter(F.col("url_status") == "ok")
                    .select("doc_id", "domain"))
        return cap_per_domain(admitted, cap=10, exact=True)
    q["domain_cap_sample"] = domain_cap_sample

    def similarity_floor_stats(spark, sf_dir):
        # per-query floor observability rollup (search.py
        # similarity_floor_report); k/16 scores make round(_, 4) the
        # identity so every rounding convention agrees
        from mivaa_pdf_extractor_spark.operators.search import (
            similarity_floor_report)
        d = _docs(spark, sf_dir).select("doc_id")
        c = d.select("doc_id",
                     F.explode(F.sequence(F.lit(0), F.lit(5))).alias("c"))
        scores = c.select(
            F.col("doc_id").alias("query_id"),
            (((F.col("doc_id") * 5 + F.col("c") * 3) % 16).cast("double")
             / F.lit(16.0)).alias("score"))
        return similarity_floor_report(scores, floor=0.5)
    q["similarity_floor_stats"] = similarity_floor_stats

    # --- page-embedding ledger (operators/pages.py; reference
    # page_embedding_service.py, pinned by test_page_embeddings.py) ---

    def _page_docs(spark, sf_dir):
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        return d.select(
            "doc_id",
            F.when(doc % 13 == 0, F.lit(None).cast("string"))
             .when(doc % 11 == 0, F.lit("ws_other"))
             .otherwise(F.lit("ws_main")).alias("workspace_id"),
            (1 + doc % 7).cast("int").alias("total_pages"))

    def _page_ledger(spark, sf_dir):
        d = (_docs(spark, sf_dir).select("doc_id")
             .filter(F.col("doc_id") % 3 == 0))
        led = d.select("doc_id",
                       F.explode(F.sequence(F.lit(1), F.lit(2)))
                        .alias("page_number"))
        doc, p = F.col("doc_id"), F.col("page_number")
        return led.select(
            "doc_id", p.cast("int").alias("page_number"),
            F.when((doc + p) % 2 == 0, F.lit("embedded"))
             .otherwise(F.lit("skipped")).alias("cache_status"),
            F.when(doc % 6 == 0, F.lit(1)).otherwise(F.lit(2))
             .cast("int").alias("schema_version"))

    def page_embed_plan(spark, sf_dir):
        # tenant fail-closed gate + reported cap + stale-schema re-embed
        from mivaa_pdf_extractor_spark.operators.pages import (
            plan_page_targets)
        return plan_page_targets(_page_docs(spark, sf_dir),
                                 _page_ledger(spark, sf_dir),
                                 caller_workspace="ws_main",
                                 max_pages=4, schema_version=2)
    q["page_embed_plan"] = page_embed_plan

    def _page_side_effects(spark, sf_dir):
        pending = (page_embed_plan(spark, sf_dir)
                   .filter(F.col("decision") == "pending")
                   .select("doc_id", "page_number"))
        doc, pg = F.col("doc_id"), F.col("page_number")
        return pending.select(
            "doc_id", "page_number",
            ((doc + pg) % 17 != 0).alias("render_ok"),
            F.when((doc * 5 + pg) % 19 == 0, F.lit(None).cast("int"))
             .when((doc + pg) % 5 == 0,
                   (700 + ((doc + pg) % 4) * 500).cast("int"))
             .otherwise((3000 + ((doc * 3 + pg) % 40) * 100).cast("int"))
             .alias("render_bytes"),
            F.when((doc + pg) % 4 == 0, F.lit(" "))
             .otherwise(F.concat(F.lit("text of page "),
                                 pg.cast("string"))).alias("page_text"),
            ((doc * 3 + pg) % 23 == 0).alias("provider_empty"),
            ((doc + pg * 7) % 29 == 0).alias("upsert_refused"))

    def page_embed_outcomes_q(spark, sf_dir):
        # _embed_one_page outcome ladder: blank-and-textless -> skipped,
        # refused upsert is NEVER recorded embedded
        from mivaa_pdf_extractor_spark.operators.pages import (
            page_embed_outcomes)
        return page_embed_outcomes(_page_side_effects(spark, sf_dir))
    q["page_embed_outcomes"] = page_embed_outcomes_q

    def page_embed_summary_q(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators.pages import (
            page_embed_outcomes, page_embed_summary)
        plan = page_embed_plan(spark, sf_dir)
        out = page_embed_outcomes(_page_side_effects(spark, sf_dir))
        return page_embed_summary(plan, out)
    q["page_embed_summary"] = page_embed_summary_q

    # --- Gopher document-rule battery (operators/text_analysis.py) ---

    def gopher_quality(spark, sf_dir):
        # full Rae et al. 2021 Table A1 battery, map-only native
        return ta.gopher_rules(_docs(spark, sf_dir))
    q["gopher_quality"] = gopher_quality

    # --- stupid-backoff n-gram LM (operators/lm.py; CCNet-style) ---

    def ngram_lm_counts(spark, sf_dir):
        # corpus n-gram model counts (n=1..3); contract emits the
        # cnt >= 5 slice (the full table is the perplexity query's
        # input). Repartition before the explode: the tiny parquet scan
        # is ~1 split, and the map-side gram fan-out is the heavy part
        from mivaa_pdf_extractor_spark.operators import lm
        return lm.ngram_counts(_docs(spark, sf_dir)).filter(
            F.col("cnt") >= 5)
    q["ngram_lm_counts"] = ngram_lm_counts

    def ngram_lm_perplexity(spark, sf_dir):
        # per-doc stupid-backoff scores; integer micro-unit log-prob sum
        # keeps the cross-engine aggregate float-associativity-free
        from mivaa_pdf_extractor_spark.operators import lm
        d = _docs(spark, sf_dir)
        return lm.lm_doc_scores(d, lm.ngram_counts(d))
    q["ngram_lm_perplexity"] = ngram_lm_perplexity

    # --- cascading job deletion + orphan sweep (operators/cascade.py;
    # reference cleanup_service.py delete_job_completely) ---

    def _cuuid(col):
        h = F.md5(col)
        return F.concat_ws(
            "-", F.substring(h, 1, 8), F.substring(h, 9, 4),
            F.substring(h, 13, 4), F.substring(h, 17, 4),
            F.substring(h, 21, 12))

    def _cascade_tables(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators.cascade import (
            IMAGE_CHILD_KINDS, PRODUCT_CHILD_KINDS)
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        ds = doc.cast("string")
        jobs = (d.filter(doc % 4 < 2).select(
            F.concat(F.lit("job_"), ds).alias("job_id"),
            F.when(doc % 8 == 1, F.lit(None).cast("string"))
             .otherwise(ds).alias("document_id")))
        pr = d.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(1)))
                      .alias("p"))
        p = F.col("p")
        products = pr.select(
            F.when((doc + p) % 5 == 0,
                   F.concat(F.lit("product_"), ds, F.lit("_"),
                            p.cast("string")))
             .otherwise(_cuuid(F.concat(F.lit("p"),
                                        (doc * 2 + p).cast("string"))))
             .alias("product_id"),
            F.when(p == 0, F.concat(F.lit("job_"), ds))
             .alias("source_job_id"),
            F.when(p == 1, ds).alias("source_document_id"))
        im = (d.filter(doc % 2 == 0)
              .select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(1)))
                      .alias("i")))
        i = F.col("i")
        images = im.select(
            _cuuid(F.concat(F.lit("i"), (doc * 2 + i).cast("string")))
             .alias("image_id"),
            F.when(i == 0,
                   _cuuid(F.concat(F.lit("p"), (doc * 2).cast("string"))))
             .alias("product_id"),
            F.when(i == 1, ds).alias("document_id"))
        ck = d.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(2)))
                      .alias("c"))
        c = F.col("c")
        chunks = ck.select(
            F.concat(F.lit("ch_"), ds, F.lit("_"), c.cast("string"))
             .alias("chunk_id"),
            F.when(c == 0, ds).alias("document_id"),
            F.when(c == 1,
                   _cuuid(F.concat(F.lit("p"), (doc * 2).cast("string"))))
             .when(c == 2, F.concat(F.lit("product_"), ds, F.lit("_0")))
             .alias("product_id"))
        em = d.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(1)))
                      .alias("e"))
        e = F.col("e")
        embeddings = em.select(
            F.when(e == 0,
                   _cuuid(F.concat(F.lit("i"), (doc * 2).cast("string"))))
             .otherwise(_cuuid(F.concat(F.lit("e"), ds)))
             .alias("embedding_id"),
            F.when(e == 1, ds).alias("meta_document_id"))
        ick = (d.filter(doc % 2 == 0)
               .select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(3)))
                       .alias("k")))
        k = F.col("k")
        image_children = ick.select(
            F.concat(F.lit("ic_"), ds, F.lit("_"), k.cast("string"))
             .alias("row_id"),
            F.when(k < 3,
                   _cuuid(F.concat(F.lit("i"),
                                   (doc * 2 + k % 2).cast("string"))))
             .otherwise(_cuuid(F.concat(F.lit("x"), ds)))
             .alias("image_id"),
            F.element_at(F.array(*[F.lit(s) for s in IMAGE_CHILD_KINDS]),
                         (k % 4).cast("int") + 1).alias("kind"))
        pck = d.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(2)))
                       .alias("k"))
        product_children = pck.select(
            F.concat(F.lit("pc_"), ds, F.lit("_"), k.cast("string"))
             .alias("row_id"),
            F.when(k < 2,
                   _cuuid(F.concat(F.lit("p"),
                                   (doc * 2 + k).cast("string"))))
             .otherwise(_cuuid(F.concat(F.lit("y"), ds)))
             .alias("product_id"),
            F.element_at(F.array(*[F.lit(s) for s in PRODUCT_CHILD_KINDS]),
                         (k % 3).cast("int") + 1).alias("kind"))
        pps = (d.filter(doc % 4 < 3).select(
            F.concat(F.lit("job_"), ds).alias("job_id"),
            F.concat(F.lit("product_"), ds, F.lit("_PPS"))
             .alias("product_key")))
        documents = d.select(ds.alias("document_id"))
        return dict(jobs=jobs, products=products, images=images,
                    chunks=chunks, embeddings=embeddings,
                    image_children=image_children,
                    product_children=product_children, pps=pps,
                    documents=documents)

    def cascade_scope(spark, sf_dir):
        # product set via source_job_id OR source_document_id,
        # UUID-validated (business keys excluded); image set via those
        # products or the job's document
        from mivaa_pdf_extractor_spark.operators.cascade import (
            resolve_job_scope)
        t = _cascade_tables(spark, sf_dir)
        return resolve_job_scope(t["jobs"], t["products"], t["images"])
    q["cascade_scope"] = cascade_scope

    def cascade_wipe_stats(spark, sf_dir):
        # FULL_WIPE delete-key plan rolled up per (job, table):
        # children before parents, embeddings by image PK with the
        # metadata fallback only for image-less jobs
        from mivaa_pdf_extractor_spark.operators.cascade import (
            cascade_delete_plan, cascade_delete_stats, resolve_job_scope)
        t = _cascade_tables(spark, sf_dir)
        scope = resolve_job_scope(t["jobs"], t["products"], t["images"])
        plan = cascade_delete_plan(
            scope, t["jobs"], t["chunks"], t["embeddings"],
            t["image_children"], t["product_children"], t["pps"])
        return cascade_delete_stats(plan)
    q["cascade_wipe_stats"] = cascade_wipe_stats

    def orphan_scan_q(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators.cascade import orphan_scan
        t = _cascade_tables(spark, sf_dir)
        return orphan_scan(t["documents"], t["products"], t["images"],
                           t["chunks"], t["embeddings"],
                           t["image_children"], t["product_children"])
    q["orphan_scan"] = orphan_scan_q

    # --- LLM-metadata post-processing (operators/metadata_post.py;
    # reference dynamic_metadata_extractor.py deterministic tail) ---

    def _ai_responses(spark, sf_dir):
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        ds = doc.cast("string")
        good = F.concat(
            F.lit('```json\n{"critical": {"material_category": '
                  '{"value": "porcelain_tile", "confidence": 0.9, '
                  '"source": "auto_detected"}, "factory_name": '
                  '{"value": "Acme Ceramics '),
            ds,
            F.lit('", "confidence": 0.8, "source": "ai"}}}\n```'))
        short_name = F.lit(
            '``` {"critical": {"material_category": {"value": '
            '"wall_tile", "confidence": 0.7, "source": "ai"}, '
            '"factory_name": {"value": "AB", "confidence": 0.5, '
            '"source": "ai"}}} ```')
        missing = F.lit(
            '{"critical": {"material_category": {"value": '
            '"hardwood", "confidence": 0.6, "source": "ai"}}}')
        garbage = F.concat(F.lit("not json at all "), ds)
        empty_fence = F.lit("```json\nnothing here\n```")
        resp = (F.when(doc % 5 == 0, good)
                .when(doc % 5 == 1, short_name)
                .when(doc % 5 == 2, missing)
                .when(doc % 5 == 3, garbage)
                .otherwise(empty_fence))
        return d.select("doc_id", resp.alias("response"))

    def metadata_postprocess(spark, sf_dir):
        # fence-extract -> parse -> admin overrides -> validate; errors
        # joined to a string (schema order) for hash stability
        from mivaa_pdf_extractor_spark.operators.metadata_post import (
            apply_overrides, parse_ai_metadata, validate_critical)
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        overrides = (d.filter((doc % 9 == 0) | (doc % 7 == 0))
                     .select("doc_id",
                             F.when(doc % 9 == 0, F.lit("factory_name"))
                              .otherwise(F.lit("bogus_field"))
                              .alias("field"),
                             F.lit("OVERRIDE GmbH").alias("value")))
        parsed = parse_ai_metadata(_ai_responses(spark, sf_dir))
        out = validate_critical(apply_overrides(parsed, overrides))
        return out.select(
            "doc_id", "parse_error",
            "material_category_value", "material_category_confidence",
            "material_category_source",
            "factory_name_value", "factory_name_confidence",
            "factory_name_source",
            "factory_group_name_value",
            F.concat_ws("; ", F.col("errors")).alias("errors"),
            "valid")
    q["metadata_postprocess"] = metadata_postprocess

    def metadata_fallback_extract(spark, sf_dir):
        # pattern fallback: first-match-wins, conf 0.7, pattern_match;
        # material_category defines keywords (not patterns) -> skipped
        from mivaa_pdf_extractor_spark.operators.metadata_post import (
            fallback_extract)
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        ds = doc.cast("string")
        text = (F.when(doc % 4 == 0,
                       F.concat(F.lit("Intro.\nManufacturer: Tile Co "),
                                ds, F.lit("\nCompany: Shadowed Inc\n"
                                          "Group: Tile Group")))
                .when(doc % 4 == 1,
                      F.concat(F.lit("made by: lower co "), ds))
                .when(doc % 4 == 2,
                      F.lit("Holdings: Big Holdings\nno factory line"))
                .otherwise(F.lit("plain text, nothing to mine")))
        out = fallback_extract(d.select("doc_id", text.alias("text")))
        return out.select(
            "doc_id", "factory_name_value", "factory_name_confidence",
            "factory_name_source", "factory_group_name_value",
            "material_category_value")
    q["metadata_fallback_extract"] = metadata_fallback_extract

    def property_categories(spark, sf_dir):
        # key -> category via hint membership in declaration order,
        # then the _custom_ prefix, then other
        from mivaa_pdf_extractor_spark.operators.metadata_post import (
            property_category)
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        keys = F.array(
            F.lit("thickness"), F.lit("color"), F.lit("fire_rating"),
            F.lit("sku"), F.lit("designer"), F.lit("grade"),
            F.lit("composition"), F.lit("recommended_use"),
            F.lit("certifications"), F.lit("_custom_foo"),
            F.lit("unknown_key"), F.lit("rating"))
        key = F.element_at(keys, (doc % 12).cast("int") + 1)
        return d.select("doc_id", key.alias("property_key"),
                        property_category(key).alias("category"))
    q["property_categories"] = property_categories

    # --- smart section extraction (operators/sections.py; reference
    # dynamic_metadata_extractor.py:379-453 LLM context budgeting) ---

    def _long_docs(spark, sf_dir):
        # pad to put a dimension pattern inside the index area for
        # doc%5==0; push ~1/31 of docs past the 100k budget (enough to
        # exercise every branch without synthesizing hundreds of MB of
        # regex input at bench scale)
        # _docs repartitions the single-row-group scan, so the 100x
        # synthetic expansion below runs distributed
        d = _docs(spark, sf_dir).select("doc_id", "text")
        doc = F.col("doc_id")
        reps = (F.when(doc % 31 == 1, F.lit(24000))
                .otherwise((doc % 3).cast("int") * 3000))
        long_text = F.concat(
            F.repeat(F.lit("pad "), 3500),
            F.when(doc % 5 == 0, F.lit(" 120 x 60 cm "))
             .otherwise(F.lit(" no dims here ")),
            F.lit(" Packaging details. installation notes. "),
            F.repeat(F.lit("filler "), reps),
            F.col("text"))
        return d.select("doc_id", long_text.alias("text"))

    def section_header_hits_q(spark, sf_dir):
        # native regexp_count tier (ASCII word boundaries: Java and RE2
        # agree; the Greek terms only match in the Python-re UDF tier)
        from mivaa_pdf_extractor_spark.operators.sections import (
            section_header_hits)
        return section_header_hits(_long_docs(spark, sf_dir))
    q["section_header_hits"] = section_header_hits_q

    def smart_sections(spark, sf_dir):
        # full multi-match window extraction (mapInPandas; match
        # POSITIONS are not SQL-expressible -> rows-only, pytest-pinned);
        # content pinned through its md5
        from mivaa_pdf_extractor_spark.operators.sections import (
            smart_extract_sections)
        out = smart_extract_sections(_long_docs(spark, sf_dir))
        return out.select("doc_id", "n_chars_in", "n_chars_out",
                          F.md5("extracted_text").alias("content_md5"))
    q["smart_sections"] = smart_sections

    # --- facet canonicalization (operators/facets.py; reference
    # facet_canonicalizer.py / facet_whitelist.py chokepoint) ---

    def facet_collect_raw(spark, sf_dir):
        # lossless attributes_raw: whitelist gate, trim, drop empties,
        # dedup per (product, key)
        from mivaa_pdf_extractor_spark.operators.facets import (
            collect_raw_attributes)
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        m = doc % 5
        key = (F.when(m == 0, F.lit("color"))
               .when(m == 1, F.lit("sku"))
               .when(m == 2, F.lit("_private"))
               .when(m == 3, F.lit("finish"))
               .otherwise(F.lit("material")))
        val = (F.when(m == 0, F.lit("  Blue  "))
               .when(m == 1, F.lit("X-99"))
               .when(m == 2, F.lit("secret"))
               .when(m == 3, F.lit("   "))
               .otherwise(F.lit(None).cast("string")))
        rows = d.select(doc.alias("product_id"), key.alias("facet_key"),
                        val.alias("raw_value"))
        dupes = rows.filter(doc % 10 == 0)
        return collect_raw_attributes(rows.unionByName(dupes))
    q["facet_collect_raw"] = facet_collect_raw

    def _facet_canon(spark):
        return spark.createDataFrame(
            [("color", "deep blue", ["navy", "blu"], [1.0, 0.0, 0.0, 0.0]),
             ("color", "light grey", ["gray"], [0.0, 1.0, 0.0, 0.0]),
             ("finish", "matte", [], [0.0, 0.0, 1.0, 0.0]),
             ("finish", "polished", ["gloss"], [0.0, 0.0, 0.0, 1.0])],
            "facet_key string, canonical_value string, "
            "aliases array<string>, embedding array<double>")

    def facet_resolve(spark, sf_dir):
        # whitelist chokepoint decision tree: ascii gate -> tier-1
        # exact/alias -> tier-2 cosine merge at 0.92 -> new; canonical
        # table broadcast (dimension)
        from mivaa_pdf_extractor_spark.operators.facets import (
            resolve_facets)
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        m = doc % 6
        key = F.when(m.isin(3, 4), F.lit("finish")).otherwise(
            F.lit("color"))
        raw = (F.when(m == 0, F.lit("Navy"))
               .when(m == 1, F.lit("Deep-Blue"))
               .when(m == 2, F.lit("café"))
               .when(m == 3, F.lit("matt"))
               .when(m == 4, F.lit("hammered"))
               .otherwise(F.lit("crimson")))
        # dyadic components: squares and sums are exact in float, so the
        # fold order (Spark aggregate vs DuckDB list_sum) cannot matter
        emb = (F.when(m == 3, F.array(F.lit(0.0), F.lit(0.0),
                                      F.lit(0.9375), F.lit(0.25)))
               .when(m == 4, F.array(F.lit(0.0), F.lit(0.0),
                                     F.lit(0.5), F.lit(0.75))))
        values = d.select(doc.alias("product_id"), key.alias("facet_key"),
                          raw.alias("raw_value"), emb.alias("embedding"))
        return resolve_facets(values, _facet_canon(spark))
    q["facet_resolve"] = facet_resolve

    # --- checkpoint recovery audit (operators/checkpoints.py;
    # reference checkpoint_recovery_service.py) ---

    _CKPT_NOW = 1_700_000_000.0

    def _ckpt_history(spark, sf_dir):
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        ds = doc.cast("string")
        m = doc % 8
        stage = (F.when(m == 0, F.lit("chunks_created"))
                 .when(m == 1, F.lit("chunks_created"))
                 .when(m == 2, F.lit("chunks_created"))
                 .when(m == 3, F.lit("text_embeddings_generated"))
                 .when(m == 4, F.lit("images_extracted"))
                 .when(m == 5, F.lit("warmup_started"))
                 .when(m == 6, F.lit("warmup_complete"))
                 .otherwise(F.lit("bogus_stage")))
        ck_ids = F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: F.concat(F.lit("ck_"), ds, F.lit("_"),
                               i.cast("string")))
        empty = F.array().cast("array<string>")
        chunk_ids = (F.when(m.isin(0, 3), ck_ids)
                     .when(m.isin(1, 2), empty))
        image_ids = F.when(
            m == 4,
            F.array(F.concat(F.lit("im_"), ds, F.lit("_0")),
                    F.concat(F.lit("im_"), ds, F.lit("_1"))))
        created = (F.when(doc % 7 == 0, F.lit(None).cast("double"))
                   .when(doc % 5 == 0, F.lit(_CKPT_NOW - 200000.0))
                   .otherwise(F.lit(_CKPT_NOW) - 3600.0
                              - (doc % 10).cast("double") * 60.0))
        real = d.select(
            F.concat(F.lit("job_"), ds).alias("job_id"),
            F.lit(2).alias("seq"), stage.alias("stage"),
            chunk_ids.alias("chunk_ids"), image_ids.alias("image_ids"),
            F.when(m == 1, F.lit(0)).otherwise(F.lit(3))
             .alias("chunks_created"),
            F.when(m == 2,
                   F.when(doc % 10 == 2,
                          F.concat(F.lit("nodoc_"), ds)).otherwise(ds))
             .alias("document_id"),
            F.when(m == 5,
                   F.when(doc % 10 == 5, empty)
                    .otherwise(F.array(F.lit("e1"), F.lit("e2"))))
             .alias("endpoints_to_warmup"),
            F.when(m == 6, (doc % 3).cast("int")).alias("total_ready"),
            F.when(m == 6,
                   F.when(doc % 6 == 0, F.array(F.lit("x")))
                    .otherwise(empty)).alias("endpoints_failed"),
            created.alias("created_at"))
        decoy = d.select(
            F.concat(F.lit("job_"), ds).alias("job_id"),
            F.lit(1).alias("seq"), F.lit("initialized").alias("stage"),
            F.lit(None).cast("array<string>").alias("chunk_ids"),
            F.lit(None).cast("array<string>").alias("image_ids"),
            F.lit(0).alias("chunks_created"),
            F.lit(None).cast("string").alias("document_id"),
            F.lit(None).cast("array<string>")
             .alias("endpoints_to_warmup"),
            F.lit(None).cast("int").alias("total_ready"),
            F.lit(None).cast("array<string>").alias("endpoints_failed"),
            F.lit(_CKPT_NOW - 7200.0).alias("created_at"))
        return real.unionByName(decoy)

    def _ckpt_catalog(spark, sf_dir):
        d = _docs(spark, sf_dir).select("doc_id")
        doc = F.col("doc_id")
        ds = doc.cast("string")
        ck = d.select("doc_id",
                      F.explode(F.sequence(F.lit(0), F.lit(2)))
                       .alias("i"))
        i = F.col("i")
        chunks = (ck.filter((i != 2) | (doc % 6 != 0))
                  .select(F.concat(F.lit("ck_"), ds, F.lit("_"),
                                   i.cast("string")).alias("chunk_id"),
                          ds.alias("document_id"),
                          ((i != 1) | (doc % 9 != 3))
                          .alias("has_embedding")))
        im = d.select("doc_id",
                      F.explode(F.sequence(F.lit(0), F.lit(1)))
                       .alias("i"))
        images = (im.filter((F.col("i") != 1) | (doc % 5 != 4))
                  .select(F.concat(F.lit("im_"), ds, F.lit("_"),
                                   F.col("i").cast("string"))
                          .alias("image_id")))
        return chunks, images

    def checkpoint_resume(spark, sf_dir):
        # last stage_history entry per job -> 24h/known-stage gate
        from mivaa_pdf_extractor_spark.operators.checkpoints import (
            last_checkpoints, resume_eligibility)
        last = last_checkpoints(_ckpt_history(spark, sf_dir))
        return resume_eligibility(last, _CKPT_NOW)
    q["checkpoint_resume"] = checkpoint_resume

    def checkpoint_audit(spark, sf_dir):
        # verify_checkpoint_data as one batch plan: claimed-id joins,
        # by-document fallbacks, the 10% embedding tolerance
        from mivaa_pdf_extractor_spark.operators.checkpoints import (
            audit_checkpoints, last_checkpoints)
        last = last_checkpoints(_ckpt_history(spark, sf_dir))
        chunks, images = _ckpt_catalog(spark, sf_dir)
        return audit_checkpoints(last, chunks, images)
    q["checkpoint_audit"] = checkpoint_audit

    def table_profile(spark, sf_dir):
        # one-pass ANALYZE-style column statistics over documents (nulls
        # injected so null_frac exercises); exact distinct for the
        # contract, approx_count_distinct is the labeled scale path
        from mivaa_pdf_extractor_spark.operators.profile import (
            profile_table)
        d = _docs(spark, sf_dir)
        doc = F.col("doc_id")
        probe = d.select(
            "doc_id", "text",
            F.when(doc % 9 == 0, F.lit(None).cast("string"))
             .otherwise(F.col("lang")).alias("lang"),
            "source", "n_chars")
        return profile_table(probe)
    q["table_profile"] = table_profile

    # ---- price-monitoring stack (reference tracked-price services) ----
    def _price_history(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import prices
        return prices.synth_price_history(_events(spark, sf_dir))

    def price_market_stats(spark, sf_dir):
        # trimmed-median market summary per tracked product
        # (_compute_market_stats, price_monitoring_routes.py:664-706)
        from mivaa_pdf_extractor_spark.operators import prices
        return prices.market_stats(_price_history(spark, sf_dir))
    q["price_market_stats"] = price_market_stats

    def price_sanity_flags(spark, sf_dir):
        # rolling-median anomaly band over the latest refresh run
        # (check_sanity, price_monitoring_notifications/service.py:153-218)
        from mivaa_pdf_extractor_spark.operators import prices
        return prices.sanity_flags(_price_history(spark, sf_dir))
    q["price_sanity_flags"] = price_sanity_flags

    def price_volatility(spark, sf_dir):
        # max %-move latest-vs-prior per query + cadence tier
        # (_max_pct_price_change, tracked_queries_service.py:79-122)
        from mivaa_pdf_extractor_spark.operators import prices
        return prices.max_pct_change(_price_history(spark, sf_dir))
    q["price_volatility"] = price_volatility

    def price_current_snapshot(spark, sf_dir):
        # cheapest verified-first hit of the latest run per query
        # (_select_cheapest, tracked_queries_service.py:22-37)
        from mivaa_pdf_extractor_spark.operators import prices
        return prices.current_snapshot(_price_history(spark, sf_dir))
    q["price_current_snapshot"] = price_current_snapshot

    def price_drop_alerts(spark, sf_dir):
        # W/W median drop >= 10% per (query, retailer domain)
        # (_detect_price_drops, service.py:330-)
        from mivaa_pdf_extractor_spark.operators import prices
        return prices.price_drops(_price_history(spark, sf_dir))
    q["price_drop_alerts"] = price_drop_alerts

    def price_brand_index(spark, sf_dir):
        # (brand, retailer, country) hit counts
        # (_upsert_brand_retailer_index, tracked_queries_service.py:50-76)
        from mivaa_pdf_extractor_spark.operators import prices
        return prices.brand_retailer_index(_price_history(spark, sf_dir))
    q["price_brand_index"] = price_brand_index

    # ---- per-domain template removal (corpus-level boilerplate) ----
    def _lined_docs(spark, sf_dir):
        # the corpus text has no newline structure, so synthesize a
        # lined web page per doc: always-on header/footer (template),
        # a ~2/3-frequency promo line (template at the 50% threshold),
        # a rare per-variant notice and the unique body (both kept)
        d = _docs(spark, sf_dir).select("doc_id", "text", "source")
        doc = F.col("doc_id")
        return d.select(
            "doc_id", "source",
            F.concat_ws(
                "\n",
                F.concat(F.lit("Home | Products | About - "),
                         F.col("source")),
                F.when(doc % 3 != 0, F.concat(
                    F.lit("Subscribe to the "), F.col("source"),
                    F.lit(" newsletter"))),
                F.when(doc % 5 == 0, F.concat(
                    F.lit("Special notice "), (doc % 7).cast("string"))),
                F.substring("text", 1, 120),
                F.concat(F.lit("(c) 2024 "), F.col("source"),
                         F.lit(" - all rights reserved"))).alias("text"))

    def template_strip(spark, sf_dir):
        # per-domain document-frequency boilerplate removal, cleaned
        # text reassembled in original line order (operators/dedup.py)
        return dd.strip_template_lines(_lined_docs(spark, sf_dir))
    q["template_strip"] = template_strip

    def template_stats(spark, sf_dir):
        # per-domain template share: the monitoring rollup
        return dd.template_line_stats(_lined_docs(spark, sf_dir))
    q["template_stats"] = template_stats

    # ---- classifier inference / characteristic terms ----
    def quality_classifier(spark, sf_dir):
        # linear quality-classifier scoring pass: integer IDF-like
        # weights trained on the corpus df, broadcast-model inference
        # (operators/classify.py; the CCNet/GPT-3 curation pattern)
        from mivaa_pdf_extractor_spark.operators import classify
        d = _docs(spark, sf_dir).select("doc_id", "text")
        w = classify.train_df_weights(d)
        return classify.classify_quality(d, w, keep_threshold_micro=200)
    q["quality_classifier"] = quality_classifier

    def tfidf_terms(spark, sf_dir):
        # top-5 characteristic terms per doc by integer TF-IDF
        from mivaa_pdf_extractor_spark.operators import classify
        d = _docs(spark, sf_dir).select("doc_id", "text")
        w = classify.train_df_weights(d)
        return classify.tfidf_top_terms(d, w, k=5)
    q["tfidf_terms"] = tfidf_terms

    # ---- mention-opportunity generation (press-coverage analysis) ----
    def _mentions(spark, sf_dir):
        # deterministic mention_history derivation from events: titles
        # built from small word lists so bigrams genuinely repeat, every
        # guard branch seeded (empty/NULL domains + authors, generic
        # bylines, subject-name bigrams for the blocklist)
        ev = _events(spark, sf_dir)
        e = F.col("event_id")
        oid = (e % 9).cast("string")
        wa = (F.when(e % 4 == 0, "solar").when(e % 4 == 1, "wind")
              .when(e % 4 == 2, "hydro").otherwise("storage"))
        wb = (F.when(e % 3 == 0, "panels").when(e % 3 == 1, "tariffs")
              .otherwise("subsidies"))
        return ev.select(
            e.alias("mention_id"),
            (F.col("user_id") % 20).alias("subject_id"),
            F.concat(
                F.when(e % 10 == 0, F.lit("Acme Solar launch: "))
                .otherwise(F.lit("")),
                F.lit("the "), wa, F.lit(" "), wb,
                F.lit(" for best results")).alias("title"),
            F.when(e % 8 == 0, F.lit(None)).otherwise(
                F.when(e % 7 < 3, F.lit("green energy shift"))
                .otherwise(F.lit("the grid upgrade debate")))
            .alias("excerpt"),
            F.when(e % 19 == 0, F.lit("")).when(e % 23 == 0, F.lit(None))
            .otherwise(F.concat(F.lit("Outlet"), oid,
                                F.lit(".example.com")))
            .alias("outlet_domain"),
            F.concat(F.lit("Outlet "), oid).alias("outlet_name"),
            (F.when(e % 9 % 3 == 0, F.lit("news"))
             .when(e % 9 % 3 == 1, F.lit("blog")).otherwise(F.lit("trade")))
            .alias("outlet_type"),
            (F.when(e % 11 == 0, F.lit("Staff"))
             .when(e % 11 == 1, F.lit(""))
             .when(e % 11 == 2, F.lit(None))
             .when(e % 11 == 3, F.lit("admin"))
             .otherwise(F.concat(F.lit("Author "),
                                 (e % 5).cast("string")))).alias("author"),
            (F.when(e % 5 == 0, F.lit("negative"))
             .when(e % 5 == 1, F.lit("positive"))
             .when(e % 5 == 2, F.lit("neutral"))
             .when(e % 5 == 3, F.lit(None)).otherwise(F.lit("negative")))
            .alias("sentiment"),
            (F.when(e % 4 == 0, F.lit("exact"))
             .when(e % 4 == 1, F.lit("tangential"))
             .when(e % 4 == 2, F.lit(None)).otherwise(F.lit("mismatch")))
            .alias("relevance"),
            F.concat(F.lit("https://outlet"), oid,
                     F.lit(".example.com/a/"), e.cast("string"))
            .alias("url"),
            F.col("ts").alias("published_at"))

    def _mention_subjects(spark, sf_dir):
        return (_mentions(spark, sf_dir).select("subject_id").distinct()
                .withColumn(
                    "subject_label",
                    F.concat(
                        F.when(F.col("subject_id") % 2 == 0,
                               F.lit("Acme Solar "))
                        .otherwise(F.lit("Bolt Energy ")),
                        F.col("subject_id").cast("string"))))

    def mention_trending(spark, sf_dir):
        # bigram trend detection with the subject-token blocklist
        # (_trending_topics, mention_opportunity_service.py:359-413)
        from mivaa_pdf_extractor_spark.operators import mentions as mo
        return mo.trending_bigrams(_mentions(spark, sf_dir),
                                   _mention_subjects(spark, sf_dir))
    q["mention_trending"] = mention_trending

    def mention_outlets(spark, sf_dir):
        # warm/cold outlet pitch ranking (:415-464)
        from mivaa_pdf_extractor_spark.operators import mentions as mo
        return mo.outlet_pitches(_mentions(spark, sf_dir))
    q["mention_outlets"] = mention_outlets

    def mention_authors(spark, sf_dir):
        # recurring-byline relationships (:466-508)
        from mivaa_pdf_extractor_spark.operators import mentions as mo
        return mo.author_relationships(_mentions(spark, sf_dir))
    q["mention_authors"] = mention_authors

    def mention_sentiment(spark, sf_dir):
        # negative-mention response queue (:510-541)
        from mivaa_pdf_extractor_spark.operators import mentions as mo
        return mo.sentiment_responses(_mentions(spark, sf_dir))
    q["mention_sentiment"] = mention_sentiment

    def mention_feed(spark, sf_dir):
        # assembled per-subject feed ranked by priority (:290)
        from mivaa_pdf_extractor_spark.operators import mentions as mo
        return mo.opportunity_feed(_mentions(spark, sf_dir),
                                   _mention_subjects(spark, sf_dir))
    q["mention_feed"] = mention_feed

    # ---- product-identity gates (rule-based match tier) ----
    def _identity_base(spark, sf_dir):
        # same single-row-group trap as _docs/_events: part.parquet
        # scans as ONE task, so every identity/search-merge consumer
        # (incl. the Python difflib tier and the candidate-pair cosine
        # fan) ran single-threaded until its first shuffle — measured
        # as whole stages at (0 + 1) / 1 in the round-6 probe. One
        # hash repartition fixes every consumer.
        p = (spark.read.parquet(f"{sf_dir}/part.parquet")
             .repartition(spark.sparkContext.defaultParallelism,
                          "p_partkey"))
        k = F.col("p_partkey")
        w = F.split(F.col("p_name"), " ")
        return p.select(
            k.alias("id"),
            F.element_at(w, 1).alias("w0"),
            F.element_at(w, 2).alias("w1"),
            F.regexp_replace(F.col("p_brand"), "#", "").alias("brand_tok"),
            F.col("p_name"))

    def identity_url_prefilter(spark, sf_dir):
        # keep/drop URL verdict ladder with trusted-source bypass
        # (product_identity_service.py:126-200)
        from mivaa_pdf_extractor_spark.operators import identity as idp
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        url = (F.when(k % 13 == 0, F.lit(""))
               .when(k % 13 == 1, F.lit("not a url"))
               .when(k % 13 == 2, F.lit("https://shop.example.com/"))
               .when(k % 13 == 3,
                     F.lit("https://shop.example.com/search?q=x"))
               .when(k % 13 == 4,
                     F.lit("https://shop.example.com/p/item?ibp=oshop"))
               .when(k % 13 == 5, F.lit("https://bestprice.gr/to/12345"))
               .when(k % 13 == 6, F.lit("https://shop.example.com/p/ab"))
               .when(k % 13 == 7, F.lit(None))
               .otherwise(F.concat(
                   F.lit("https://www.shop"), (k % 7).cast("string"),
                   F.lit(".example.com/p/long-product-name-"),
                   k.cast("string"))))
        src = (F.when(k % 10 == 0, F.lit("dataforseo"))
               .when(k % 10 == 1, F.lit("skroutz"))
               .otherwise(F.lit("perplexity")))
        ret = (F.when(k % 9 == 0, F.lit("BestPrice"))
               .when(k % 9 == 1, F.lit("Some Shop"))
               .when(k % 9 == 2, F.lit(None))
               .otherwise(F.concat(F.lit("Shop "), (k % 7).cast("string"))))
        cand = b.select("id", url.alias("product_url"),
                        ret.alias("retailer_name"), src.alias("source"))
        return idp.url_prefilter(cand).select(
            "id", "product_url", "source", "keep", "drop_reason")
    q["identity_url_prefilter"] = identity_url_prefilter

    def identity_slug_tokens(spark, sf_dir):
        # identity-bearing tokens of the last URL path segment
        # (product_identity_service.py:202-223), joined for comparison
        from mivaa_pdf_extractor_spark.operators import identity as idp
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        url = F.concat(
            F.lit("https://www.shop"), (k % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("w0"), F.lit("-"),
            F.col("w1"),
            F.when(k % 6 == 0, F.concat(F.lit("-p"), k.cast("string")))
            .otherwise(F.lit("")),
            F.when(k % 4 == 0, F.lit(".html")).otherwise(F.lit("")))
        return b.select(
            "id", url.alias("product_url"),
            F.array_join(idp.url_slug_tokens_col(url), " ")
            .alias("slug_tokens"))
    q["identity_slug_tokens"] = identity_slug_tokens

    def identity_rule_verdict(spark, sf_dir):
        # no-LLM token-containment classification ladder
        # (product_identity_service.py:888-965)
        from mivaa_pdf_extractor_spark.operators import identity as idp
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        required = (F.when(k % 11 == 0,
                           F.array().cast("array<string>"))
                    .otherwise(F.array("w0", "w1", "brand_tok")))
        skus = (F.when(k % 3 == 0,
                       F.array(F.concat(F.lit("P"), k.cast("string"))))
                .otherwise(F.array().cast("array<string>")))
        name = (F.when(k % 5 == 0, F.lit(None))
                .when(k % 5 == 1, F.col("w0"))
                .when(k % 5 == 2, F.lit("totally unrelated"))
                .when(k % 5 == 3, F.concat_ws(
                    " ", "w0", "w1", "brand_tok"))
                .otherwise(F.concat_ws(" ", "w0", "w1")))
        url = F.concat(
            F.lit("https://www.shop"), (k % 7).cast("string"),
            F.lit(".example.com"),
            F.when((k % 5 == 0) & (k % 2 == 1), F.lit("/"))
            .otherwise(F.concat(
                F.lit("/p/"),
                F.when(k % 6 == 0,
                       F.concat(F.lit("p"), k.cast("string")))
                .otherwise(F.lit("item")),
                F.when(k % 4 == 0, F.lit(".html"))
                .otherwise(F.lit("")))))
        cand = b.select("id", required.alias("required_tokens"),
                        skus.alias("sku_tokens"),
                        name.alias("product_name"),
                        url.alias("product_url"))
        return idp.rule_based_verdict(cand).select(
            "id", "match_kind", "match_score", "match_basis")
    q["identity_rule_verdict"] = identity_rule_verdict

    def match_plausibility(spark, sf_dir):
        # query-vs-candidate token-overlap false-positive gate
        # (greek_marketplaces/match_filter.py:57-91)
        from mivaa_pdf_extractor_spark.operators import identity as idp
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        query = (F.when(k % 17 == 0, F.lit("x cm set"))
                 .otherwise(F.col("p_name")))
        name = (F.when(k % 4 == 0, F.col("p_name"))
                .when(k % 4 == 1,
                      F.concat(F.col("w0"), F.lit(" thing")))
                .when(k % 4 == 2, F.lit("different object"))
                .otherwise(F.lit(None)))
        url = (F.when(k % 4 == 3, F.concat(
            F.lit("https://m.example.com/p/"), F.col("w1"),
            F.lit("-deal")))
            .otherwise(F.lit("https://m.example.com/p/nothing-here")))
        cand = b.select("id", query.alias("query_text"),
                        name.alias("product_name"),
                        url.alias("product_url"))
        return idp.plausible_match(cand).select(
            "id", "query_token_count", "overlap_count", "plausible")
    q["match_plausibility"] = match_plausibility

    # ---- markdown product detection (chunk -> product mining tier) ----
    def _product_chunks(spark, sf_dir):
        # deterministic chunk contents exercising every reject tier,
        # classifier branch, and extraction pattern
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        pad = F.lit(" lorem filler words continue here" * 4)
        content = (
            F.when(k % 10 == 0, F.concat(F.lit(
                "Table of Contents ......... page 1 page 2 page 3"),
                pad))
            .when(k % 10 == 1, F.concat(F.lit(
                "Our sustainability and recycled materials policy."),
                pad))
            .when(k % 10 == 2, F.concat(F.lit(
                "Technical characteristics | thickness 10mm and water "
                "absorption table."), pad))
            .when(k % 10 == 3, F.concat(F.lit(
                "Moodboard inspiration for the season."), pad))
            .when(k % 10 == 4, F.concat(
                F.lit("## "), F.upper(F.col("w0")),
                F.lit("\n120 × 60 cm\nby Estudi{H}ac designer "
                      "collection ceramic white matt"), pad))
            .when(k % 10 == 5, F.concat(
                F.upper(F.col("w1")),
                F.lit(" premium surface 45 x 45 cm porcelain collection"
                      " in grey and beige tones"), pad))
            .when(k % 10 == 6, F.lit("tiny"))
            .when(k % 10 == 7, F.concat(F.lit(
                "The designer biography: born in 1980, graduated from "
                "art school."), pad))
            .when(k % 10 == 8, F.concat(F.lit(
                "Cleaning and maintenance guide for floor cleaner "
                "usage. not applicable"), pad))
            .otherwise(F.concat(F.lit(
                "Just plain prose with nothing special to say at all."),
                pad)))
        return b.select("id", content.alias("content"))

    def product_chunk_gate(spark, sf_dir):
        # the 11-tier validity ladder; valid_ref pins the reference's
        # lowered-uppercase bug (product_creation_service.py:368,474)
        from mivaa_pdf_extractor_spark.operators import product_detect
        return product_detect.product_chunk_gate(
            _product_chunks(spark, sf_dir)).select(
            "id", "reject_reason", "valid_fixed", "valid_ref")
    q["product_chunk_gate"] = product_chunk_gate

    def product_markdown_classify(spark, sf_dir):
        # index/sustainability/technical/moodboard/product/unknown
        # (product_creation_service.py:1009-1066)
        from mivaa_pdf_extractor_spark.operators import product_detect
        return product_detect.classify_markdown(
            _product_chunks(spark, sf_dir)).select("id", "content_class")
    q["product_markdown_classify"] = product_markdown_classify

    def product_markdown_mine(spark, sf_dir):
        # pattern flags + name/dims/designer/colors/materials + the
        # weighted quality score (product_creation_service.py:1068-1153)
        from mivaa_pdf_extractor_spark.operators import product_detect
        return product_detect.mine_markdown(
            _product_chunks(spark, sf_dir)).select(
            "id", "has_product_name", "has_dimensions",
            "has_designer_attribution", "has_product_description",
            "product_name", "dimensions", "designer", "colors",
            "materials", "quality_score")
    q["product_markdown_mine"] = product_markdown_mine

    # ---- dimension parsing (dimension_parser.py) ----
    def _dims_text(spark, sf_dir):
        # deterministic dimension strings covering 3D/2D/1D patterns,
        # missing units, uppercase units, the 'inch'→'in' alternation
        # quirk, duplicates, and decimals
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        a = (k % 90 + 10).cast("string")
        bb = (k % 45 + 5).cast("string")
        cc = (k % 9 + 1).cast("string")
        content = (
            F.when(k % 8 == 0, F.concat(
                F.lit("tile "), a, F.lit("×"), bb,
                F.lit("×2.5 cm in stock")))
            .when(k % 8 == 1, F.concat(
                F.lit("panel "), a, F.lit("x"), bb,
                F.lit("x3 with no unit")))
            .when(k % 8 == 2, F.concat(
                F.lit("slab "), a, F.lit("×"), bb, F.lit(" MM listed")))
            .when(k % 8 == 3, F.concat(
                F.lit("board "), a, F.lit("x"), bb, F.lit(" bare")))
            .when(k % 8 == 4, F.concat(F.lit("rod "), a,
                                       F.lit(" inch long")))
            .when(k % 8 == 5, F.lit("no numeric sizes in this row"))
            .when(k % 8 == 6, F.concat(
                F.lit("mix "), a, F.lit("×"), bb, F.lit(" cm and "),
                a, F.lit("×"), bb, F.lit(" cm again plus 7 m")))
            .otherwise(F.concat(
                F.lit("deci 11.8×11.8 and "), a, F.lit("x"), bb,
                F.lit("x"), cc, F.lit("in"))))
        return b.select("id", content.alias("content"))

    def dims_parse_first(spark, sf_dir):
        # parse_dimension: first match by 3D→2D→1D priority, unit
        # defaulting to cm (dimension_parser.py:59-108)
        from mivaa_pdf_extractor_spark.operators import dimensions as dop
        d = dop.parse_dimension_col(F.col("content"))
        return _dims_text(spark, sf_dir).select(
            "id", d["width"].alias("width"), d["height"].alias("height"),
            d["depth"].alias("depth"), d["unit"].alias("unit"),
            d["raw_text"].alias("raw_text"))
    q["dims_parse_first"] = dims_parse_first

    def dims_extract_all(spark, sf_dir):
        # extract_all_dimensions + dedup: every 3D match then every 2D
        # match, first-seen per (w,h,d,unit) key — incl. the quirk that
        # a 3D string also re-matches its 2D prefix (:110-169)
        from mivaa_pdf_extractor_spark.operators import dimensions as dop
        df = dop.extract_dimensions(_dims_text(spark, sf_dir))
        e = df.select("id", F.posexplode("dims").alias("pos", "d"))
        return e.select(
            "id", (F.col("pos") + 1).cast("long").alias("seq"),
            F.col("d.width").alias("width"),
            F.col("d.height").alias("height"),
            F.col("d.depth").alias("depth"),
            F.col("d.unit").alias("unit"),
            F.col("d.raw_text").alias("raw_text"))
    q["dims_extract_all"] = dims_extract_all

    # ---- factory-gated duplicate detection ----
    def _dup_products(spark, sf_dir):
        # products whose name/description/metadata values come from
        # prefix+distinct-tail string families, so SequenceMatcher's
        # ratio has a closed form the DuckDB twin can compute:
        # the longest matching block is exactly the common prefix
        # (tail characters never occur in the base), so
        # ratio = 2*prefix_len / (len1 + len2)
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        g = (k % 400).cast("string")
        fac = F.concat(F.lit("fact"), g)
        name = F.concat(
            F.lit("collection item "), g,
            F.when(k % 3 == 1, " a").when(k % 3 == 2, " b")
            .otherwise(""))
        desc = F.when(k % 11 == 0, F.lit("")).otherwise(F.concat(
            F.lit("a long description of surface pattern number "), g,
            F.when((k % 5) % 3 == 1, " q").when((k % 5) % 3 == 2, " z")
            .otherwise("")))
        color = F.concat(F.lit("colorbase-"), F.element_at(
            F.array(*[F.lit(x) for x in "abcd"]),
            (k % 4).cast("int") + 1))
        finish = F.concat(F.lit("fx-"), F.element_at(
            F.array(*[F.lit(x) for x in "abcdefgh"]),
            (k % 8).cast("int") + 1))
        # the factory value rotates across priority keys; the %3==1
        # branch also carries an EMPTY 'factory' entry to pin the
        # truthy-skip in _extract_factory_info (:264 `if value:`)
        m_full = F.create_map(
            F.lit("factory"),
            F.when(k % 3 == 0, fac).when(k % 3 == 1, F.lit("")),
            F.lit("manufacturer"), F.when(k % 3 == 1, fac),
            F.lit("brand"), F.when(k % 3 == 2, fac),
            F.lit("color"), color,
            F.lit("finish"), F.when(k % 2 == 0, finish))
        metadata = F.map_filter(m_full, lambda _, v: v.isNotNull())
        return b.select("id", name.alias("name"),
                        desc.alias("description"),
                        metadata.alias("metadata"))

    def dup_detect_scores(spark, sf_dir):
        # same-factory pairs with seqratio name/description sims, the
        # metadata key/value similarity, weighted overall + confidence
        # (duplicate_detection_service.py:249-434)
        from mivaa_pdf_extractor_spark.operators import duplicates as dup
        return dup.detect_duplicates(_dup_products(spark, sf_dir)).select(
            "id_a", "id_b", "factory", "name_similarity",
            "description_similarity", "metadata_similarity",
            "overall_score", "confidence")
    q["dup_detect_scores"] = dup_detect_scores

    # ---- metadata normalization (metadata_normalizer.py) ----
    _MCAT_RAWS = ["ceramic tile", "porcelain", "tile", "marble",
                  "Stoneware Tile", " vinyl flooring ", "floor_tile",
                  "custom_thing", "fancy stone-3d surface", "", "glass",
                  "shower tile", "stoneware", "Ceramic Tile Deluxe",
                  "QUARTZ", "heat pump"]

    def material_category_norm(spark, sf_dir):
        # controlled-vocab mapping + slug passthrough + Python-title
        # fallback + tile-composition extraction
        # (metadata_normalizer.py:393-445)
        from mivaa_pdf_extractor_spark.operators import metadata_norm \
            as mnorm
        b = _identity_base(spark, sf_dir)
        raw = F.element_at(F.array(*[F.lit(x) for x in _MCAT_RAWS]),
                           (F.col("id") % 16).cast("int") + 1)
        out = mnorm.normalize_material_category_col(raw)
        return b.select("id", raw.alias("raw"),
                        out["category"].alias("category"),
                        out["composition"].alias("composition"))
    q["material_category_norm"] = material_category_norm

    def _csv_of_map(mcol):
        return F.array_join(F.array_sort(F.transform(
            F.map_entries(mcol),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]))), ";")

    def factory_keys_norm(spark, sf_dir):
        # alias folding into factory_name / factory_group_name with
        # not-found skipping and alias dropping (:222-275); flattened
        # (sorted k=v CSV) for cross-engine hashing
        from mivaa_pdf_extractor_spark.operators import metadata_norm \
            as mnorm
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        kv = lambda key, val: F.struct(F.lit(key).alias("key"),
                                       val.alias("value"))
        sid = k.cast("string")
        # entry values rotate between real values and placeholders
        ents = F.filter(F.array(
            kv("factory_name",
               F.when(k % 4 == 0, F.concat(F.lit("maker"), sid))
               .when(k % 4 == 1, F.lit("n/a"))
               .when(k % 4 == 2, F.lit("Not Found"))),
            kv("manufacturer",
               F.when(k % 3 == 0, F.concat(F.lit("mfg"), sid))
               .when(k % 3 == 1, F.lit("unknown"))),
            kv("brand", F.when(k % 5 == 0,
                               F.concat(F.lit("brand"), sid))),
            kv("supplier", F.when(k % 7 == 0,
                                  F.concat(F.lit("sup"), sid))),
            kv("factory", F.when(k % 2 == 0,
                                 F.concat(F.lit("flat"), sid))),
            kv("factory_group_name",
               F.when(k % 6 == 0, F.concat(F.lit("grp"), sid))
               .when(k % 6 == 1, F.lit("-"))),
            kv("factory_group", F.when(k % 2 == 1,
                                       F.concat(F.lit("fg"), sid))),
            kv("other", F.when(k % 3 == 2, F.lit("keep")))),
            lambda e: e["value"].isNotNull())
        df = b.select("id", F.map_from_entries(ents).alias("metadata"))
        out = mnorm.normalize_factory_keys(df)
        m = F.col("metadata")
        return out.select(
            "id",
            F.element_at(m, F.lit("factory_name")).alias("factory_name"),
            F.element_at(m, F.lit("factory_group_name"))
            .alias("factory_group_name"),
            _csv_of_map(F.map_filter(
                m, lambda key, _: ~key.isin(
                    "factory_name", "factory_group_name")))
            .alias("kept_csv"))
    q["factory_keys_norm"] = factory_keys_norm

    def commercial_consolidate(spark, sf_dir):
        # sku/grout/product-code consolidation + product-name SKU
        # filtering (:580-654, :150-192); sorted-CSV flattening
        from mivaa_pdf_extractor_spark.operators import metadata_norm \
            as mnorm
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        sid = k.cast("string")
        kv = lambda key, val: F.struct(key.alias("key"),
                                       val.alias("value"))
        # entry order matters (last-wins); keys exercise the strip
        # chains, the product prefix filter, and the overwrite quirk
        ents = F.filter(F.array(
            kv(F.lit("sku_white"), F.concat(F.lit("W"), sid)),
            kv(F.lit("sku_fold_white"),
               F.when(k % 2 == 0, F.concat(F.lit("FW"), sid))),
            kv(F.lit("sku_tri_fold_blue"),
               F.when(k % 3 == 0, F.concat(F.lit("B"), sid))),
            kv(F.lit("sku_codes"),
               F.when(k % 5 == 0, F.lit("passthru"))),
            kv(F.concat(F.lit("sku_PROD"), sid, F.lit(" MINT/12X45")),
               F.when(k % 2 == 1, F.concat(F.lit("PM"), sid))),
            kv(F.lit("sku_alien_blue_30x60"),
               F.when(k % 4 == 0, F.concat(F.lit("AL"), sid))),
            kv(F.lit("grout_color_code_white_mapei"),
               F.when(k % 3 == 1, F.concat(F.lit("GW"), sid))),
            kv(F.lit("grout_color_light_code"),
               F.when(k % 3 == 2, F.concat(F.lit("GL"), sid))),
            kv(F.lit("product_code"), F.concat(F.lit("P"), sid)),
            kv(F.lit("format_code"),
               F.when(k % 2 == 0, F.concat(F.lit("P"), sid))
               .otherwise(F.concat(F.lit("Q"), sid))),
            kv(F.lit("other"), F.lit("o"))),
            lambda e: e["value"].isNotNull())
        pname = F.when(k % 7 != 0, F.concat(F.lit("Pród"), sid))
        df = b.select("id", F.map_from_entries(ents).alias("metadata"),
                      pname.alias("product_name"))
        out = mnorm.consolidate_commercial(df)
        return out.select(
            "id", _csv_of_map(F.col("kept")).alias("kept_csv"),
            _csv_of_map(F.col("sku_codes")).alias("sku_csv"),
            _csv_of_map(F.col("grout_color_codes")).alias("grout_csv"),
            F.array_join(F.col("product_codes"), ";")
            .alias("pcodes_csv"))
    q["commercial_consolidate"] = commercial_consolidate

    def field_standardize(spark, sf_dir):
        # find_standard_field exact tiers (standard name / known
        # variation) + provably-sub-threshold unknowns (:82-121); the
        # fuzzy tier is pinned by tests/test_metadata_norm.py
        from mivaa_pdf_extractor_spark.operators import metadata_norm \
            as mnorm
        vocab = []
        for cat, fields in mnorm.STANDARD_SCHEMA.items():
            for std, variations in fields.items():
                vocab.append((std, cat))
                vocab += [(v, cat) for v in variations]
        vocab.append(("zzqq9", "design"))      # sub-threshold unknown
        vocab.append(("pieces_per_box", "nope"))  # unknown category
        b = _identity_base(spark, sf_dir)
        n = len(vocab)
        fname = F.element_at(
            F.array(*[F.lit(v[0]) for v in vocab]),
            (F.col("id") % n).cast("int") + 1)
        fcat = F.element_at(
            F.array(*[F.lit(v[1]) for v in vocab]),
            (F.col("id") % n).cast("int") + 1)
        return b.select(
            "id", fname.alias("field_name"), fcat.alias("category"),
            mnorm.find_standard_field_expr(fname, fcat)
            .alias("standard_field"))
    q["field_standardize"] = field_standardize

    # ---- saved-search deduplication (search_merge) ----
    _SM_MATS = ["cement tile", "oak floor", "marble slab", "grey tile",
                "wall paint"]
    _SM_COLORS = ["grey", "white", "beige", "black"]
    # 4-dim vectors whose cosines against p0 land safely inside /
    # outside the 0.85 and 0.95 bands: 1.0, 0.9428, 0.9901, 0.408,
    # 0.0, 0.8165, 0.9487
    _SM_VECS = [[1, 0, 0, 1], [2, 1, 0, 2], [5, 1, 0, 5], [1, 1, 1, 0],
                [0, 1, 1, 0], [1, 0, 1, 1], [3, 1, 1, 3]]

    def _sm_saved(spark, sf_dir):
        b = _identity_base(spark, sf_dir)
        k = F.col("id")
        emb = F.element_at(
            F.array(*[F.array(*[F.lit(float(x)) for x in v])
                      for v in _SM_VECS]),
            ((k / 200).cast("long") % 7).cast("int") + 1)
        attrs = F.map_from_entries(F.filter(F.array(
            F.struct(F.lit("color").alias("key"),
                     F.element_at(F.array(*[F.lit(c) for c in
                                            _SM_COLORS]),
                                  (k % 4).cast("int") + 1)
                     .alias("value")),
            F.struct(F.lit("finish").alias("key"),
                     F.when(k % 2 == 0, "matte").alias("value")),
            F.struct(F.lit("outdoor").alias("key"),
                     F.when(k % 5 == 0, "true").alias("value"))),
            lambda e: e["value"].isNotNull()))
        return b.select(
            "id", (k % 40).alias("user_id"),
            F.element_at(F.array(*[F.lit(m) for m in _SM_MATS]),
                         (k % 5).cast("int") + 1).alias("core_material"),
            F.when(k % 3 == 1, "floor").when(k % 3 == 2, "wall")
            .alias("application_context"),
            attrs.alias("attributes"),
            F.when(k % 3 == 0, F.array(F.lit("grey"), F.lit("white")))
            .when(k % 3 == 1, F.array(F.lit("black")))
            .otherwise(F.expr("array()").cast("array<string>"))
            .alias("filter_colors"),
            F.when(k % 4 == 1, F.array(F.lit(100.0), F.lit(200.0)))
            .when(k % 4 == 2, F.expr("array()").cast("array<double>"))
            .when(k % 4 == 3, F.array(F.lit(5000.0), F.lit(9000.0)))
            .alias("price_range"),
            F.when(k % 31 == 0, F.lit(None).cast("array<double>"))
            .otherwise(emb).alias("embedding"),
            F.when(k % 2 == 0, F.lit("old saved query")).otherwise(
                F.lit("old saved query with many extra words"))
            .alias("query"))

    def _sm_new(spark, sf_dir):
        b = _identity_base(spark, sf_dir).filter(F.col("id") % 4 == 0)
        k = F.col("id")
        k4 = (k / 4).cast("long") % 4
        attrs = F.map_from_entries(F.filter(F.array(
            F.struct(F.lit("color").alias("key"),
                     F.element_at(F.array(*[F.lit(c) for c in
                                            _SM_COLORS]),
                                  (k % 4).cast("int") + 1)
                     .alias("value")),
            F.struct(F.lit("finish").alias("key"),
                     F.when(k % 3 == 0, "glossy").alias("value")),
            F.struct(F.lit("indoor").alias("key"),
                     F.when(k % 7 == 0, "true").alias("value"))),
            lambda e: e["value"].isNotNull()))
        return b.select(
            "id", (k % 40).alias("user_id"),
            F.element_at(F.array(*[F.lit(m) for m in _SM_MATS]),
                         (k % 5).cast("int") + 1).alias("core_material"),
            F.when(k % 3 == 1, "floor").when(k % 3 == 2, "wall")
            .alias("application_context"),
            attrs.alias("attributes"),
            F.when(k % 3 == 0, F.array(F.lit("grey")))
            .when(k % 3 == 1, F.array(F.lit("beige")))
            .otherwise(F.expr("array()").cast("array<string>"))
            .alias("filter_colors"),
            F.when(k4 == 0, F.array(F.lit(150.0), F.lit(300.0)))
            .when(k4 == 2, F.array(F.lit(20.0), F.lit(30.0)))
            .when(k4 == 3, F.expr("array()").cast("array<double>"))
            .alias("price_range"),
            F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0), F.lit(1.0))
            .alias("embedding"),
            F.when((k / 4).cast("long") % 2 == 0, F.lit("new one"))
            .otherwise(F.lit("brand new longer query text"))
            .alias("query"))

    def search_merge_gate(spark, sf_dir):
        # gated candidate pairs + the full should_merge reason ladder
        # (search_deduplication_service.py:243-425)
        from mivaa_pdf_extractor_spark.operators import search_merge \
            as sm
        pairs = sm.candidate_pairs(_sm_new(spark, sf_dir),
                                   _sm_saved(spark, sf_dir))
        v = sm.should_merge(
            F.col("ctx_e"), F.col("ctx_n"), F.col("attrs_e"),
            F.col("attrs_n"), F.col("colors_e"), F.col("colors_n"),
            F.col("price_e"), F.col("price_n"))
        return pairs.select(
            "new_id", "saved_id", "rank",
            F.round(F.col("similarity"), 6).alias("sim6"),
            v["can_merge"].alias("can_merge"),
            v["reason"].alias("reason"))
    q["search_merge_gate"] = search_merge_gate

    def search_find_or_merge(spark, sf_dir):
        # end-to-end find-or-merge: first eligible candidate decides
        # auto_merge / suggest / create_new, with the merged
        # query/filters an auto-merge would write (:180-241, :427-528)
        from mivaa_pdf_extractor_spark.operators import search_merge \
            as sm
        out = sm.find_or_merge(_sm_new(spark, sf_dir),
                               _sm_saved(spark, sf_dir))
        return out.select(
            "new_id", "action", "existing_id",
            F.round(F.col("similarity"), 6).alias("sim6"), "reason",
            "updated_query",
            F.coalesce(F.array_join(F.col("merged_colors"), ";"),
                       F.lit("")).alias("merged_colors_csv"),
            F.element_at(F.col("merged_price"), 1).alias("merged_lo"),
            F.element_at(F.col("merged_price"), 2).alias("merged_hi"))
    q["search_find_or_merge"] = search_find_or_merge

    # ---- AI cost-accounting tier (ai_pricing + ai_call_logger) ----
    def _ai_costed(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import billing
        calls = billing.synth_ai_calls(_events(spark, sf_dir))
        resolved = billing.resolve_pricing(
            calls, billing.pricing_dim(spark), billing.overlay_dim(spark))
        return billing.call_costs(calls, resolved)

    def ai_cost_per_call(spark, sf_dir):
        # pricing resolution (overlay exact/fuzzy > static exact/fuzzy >
        # default) + per-call integer pico-USD cost
        # (get_model_pricing/calculate_cost, ai_pricing.py:505-595)
        return _ai_costed(spark, sf_dir)
    q["ai_cost_per_call"] = ai_cost_per_call

    def ai_cost_rollup(spark, sf_dir):
        # retry-idempotent usage rollup per (task, model)
        # (log_ai_call's duplicate guard, ai_call_logger.py:87-142)
        from mivaa_pdf_extractor_spark.operators import billing
        return billing.cost_rollup(_ai_costed(spark, sf_dir))
    q["ai_cost_rollup"] = ai_cost_rollup

    def ai_cost_multimodal(spark, sf_dir):
        # two-axis page-embedding bill: token term + per-image pixel
        # clamp [50k, 2M] (calculate_multimodal_embedding_cost,
        # ai_pricing.py:595-647)
        from mivaa_pdf_extractor_spark.operators import billing
        return billing.multimodal_costs(
            billing.synth_page_embed_calls(_events(spark, sf_dir)))
    q["ai_cost_multimodal"] = ai_cost_multimodal

    # ---- job-listing curation gates (job_search_service) ----
    def job_listing_gate(spark, sf_dir):
        # the perplexity post-filter ladder: SERP/category URLs,
        # category-shaped titles, hallucinated IDs, aggregator/
        # placeholder companies, missing-company blanking, canonical
        # URL + content key (job_search_service.py:1404-1433)
        from mivaa_pdf_extractor_spark.operators import jobs
        return jobs.gate_listings(
            jobs.synth_job_listings(_events(spark, sf_dir)))
    q["job_listing_gate"] = job_listing_gate

    def job_dedupe_hits(spark, sf_dir):
        # content-key dedup with source priority, first-arrival ties
        # (dedupe_hits, job_search_service.py:1808-1818)
        from mivaa_pdf_extractor_spark.operators import jobs
        return jobs.dedupe_hits(
            jobs.synth_dedup_hits(_events(spark, sf_dir)))
    q["job_dedupe_hits"] = job_dedupe_hits

    def job_query_variations(spark, sf_dir):
        # the 5 search-phrase templates with location/remote rules
        # (build_query_variations, job_search_service.py:960-983)
        from mivaa_pdf_extractor_spark.operators import jobs
        return jobs.query_variations(
            jobs.synth_tracked_keywords(_events(spark, sf_dir)))
    q["job_query_variations"] = job_query_variations

    def job_posted_at_norm(spark, sf_dir):
        # normalize_posted_at: ISO passthrough, now-ish substring tokens
        # (incl. the 'Renewed ... ago' pin), yesterday, N-unit-ago ladder
        # with month=30d/year=365d, undatable -> NULL
        # (job_research_service.py:87-148)
        from mivaa_pdf_extractor_spark.operators import job_refresh as jr
        h = jr.synth_refresh_hits(_events(spark, sf_dir))
        return h.select(
            "tracked_id", "hit_ord", "posted_at",
            jr.posted_at_norm_col(F.col("posted_at")).alias("posted_norm"))
    q["job_posted_at_norm"] = job_posted_at_norm

    def job_refresh_cascade(spark, sf_dir):
        # the refresh dedup cascade: url-unique -> role-identity collapse
        # -> exclusions -> history hash/url anti-joins -> strict recency
        # gate, first-failing-stage disposition
        # (job_research_service.py:940-1046)
        from mivaa_pdf_extractor_spark.operators import job_refresh as jr
        e = _events(spark, sf_dir)
        return jr.refresh_cascade(
            jr.synth_refresh_hits(e), jr.synth_exclusions(spark),
            *jr.synth_history(e), jr.synth_tracked(spark))
    q["job_refresh_cascade"] = job_refresh_cascade

    def job_refresh_outcome(spark, sf_dir):
        # per-tracked-job refresh counters: deduped counted AFTER the
        # exclusion filter, persisted skips 'mismatch' verdicts with
        # missing verdicts defaulting 'unverifiable'
        # (job_research_service.py:1076-1117, :1180-1186)
        from mivaa_pdf_extractor_spark.operators import job_refresh as jr
        e = _events(spark, sf_dir)
        casc = jr.refresh_cascade(
            jr.synth_refresh_hits(e), jr.synth_exclusions(spark),
            *jr.synth_history(e), jr.synth_tracked(spark))
        return jr.refresh_outcome(casc, jr.synth_verdicts(e))
    q["job_refresh_outcome"] = job_refresh_outcome

    def job_refresh_plan(spark, sf_dir):
        # the refresh fan-out plan: original-keywords google_jobs,
        # site-targeted SERP composition capped at 8, perplexity keyword
        # chunks of 3 (cap 6) with sonar-pro on first/forced discovery,
        # variation calls [:3], per-tracked-first CI source merges
        # (job_research_service.py:605-830)
        from mivaa_pdf_extractor_spark.operators import job_refresh as jr
        return jr.refresh_task_plan(
            jr.synth_tracked_plans(_events(spark, sf_dir)))
    q["job_refresh_plan"] = job_refresh_plan

    def job_feed_fallback(spark, sf_dir):
        # RSS->Firecrawl cross-method fallback map: empty feeds retried
        # against their derived HTML page unless a careers page already
        # covers it (ci) or an earlier feed claimed the page
        # (case-sensitive — the reference's dict-values check)
        # (job_research_service.py:150-166, :858-872)
        from mivaa_pdf_extractor_spark.operators import job_refresh as jr
        e = _events(spark, sf_dir)
        return jr.feed_fallback_plan(jr.synth_feed_rows(e),
                                     jr.synth_career_rows(e))
    q["job_feed_fallback"] = job_feed_fallback

    def job_source_report(spark, sf_dir):
        # per-source transparency: every configured board/feed/ATS/API
        # source reported individually incl. zeros; recovered-via-
        # firecrawl relabel, both-empty suffix, '(failed)' on -1,
        # careers_pages/rss_feeds aggregates skipped
        # (job_research_service.py:888-930)
        from mivaa_pdf_extractor_spark.operators import job_refresh as jr
        e = _events(spark, sf_dir)
        rss = (jr.synth_feed_rows(e)
               .withColumnRenamed("feed_ord", "ord")
               .withColumnRenamed("feed_url", "url"))
        return jr.source_report(jr.synth_career_rows(e), rss,
                                jr.synth_ats_rows(e), jr.synth_api_rows(e))
    q["job_source_report"] = job_source_report

    def job_source_curation(spark, sf_dir):
        # post-refresh self-curation verdicts: registrable-domain collapse
        # (2-part TLDs), curated yield bump, never-promote skip, index
        # fold with >=3-employer x >=2-run promotion guardrails
        # (job_source_curator.py:57-155)
        from mivaa_pdf_extractor_spark.operators import job_curation as jc
        return jc.curation_review(
            jc.synth_match_rows(_events(spark, sf_dir)),
            jc.synth_site_rows(spark), jc.synth_index_rows(spark))
    q["job_source_curation"] = job_source_curation

    def job_curation_summary(spark, sf_dir):
        # per-run audit row: domains yielded, sorted promoted list,
        # stale-auto-added disable count, summary line
        # (job_source_curator.py:159-229)
        from mivaa_pdf_extractor_spark.operators import job_curation as jc
        rev = jc.curation_review(
            jc.synth_match_rows(_events(spark, sf_dir)),
            jc.synth_site_rows(spark), jc.synth_index_rows(spark))
        return jc.curation_summary(
            rev, jc.stale_auto_disable(jc.synth_site_rows(spark)))
    q["job_curation_summary"] = job_curation_summary

    def merchant_task_plan(spark, sf_dir):
        # Google-Shopping task_post plan: dims-gated query strip, hot-set
        # location map w/ GR default, depth clamp, post verdict ladder
        # (dataforseo_merchant_service.py:136-199)
        from mivaa_pdf_extractor_spark.operators import dataforseo as dfs
        return dfs.merchant_task_plan(dfs.synth_requests(_events(spark,
                                                                 sf_dir)))
    q["merchant_task_plan"] = merchant_task_plan

    def merchant_poll_outcome(spark, sf_dir):
        # task_get poll fold: http-skip, 20000/terminal/40602 ladder,
        # falsy cost chain, credit rounding
        # (dataforseo_merchant_service.py:203-240)
        from mivaa_pdf_extractor_spark.operators import dataforseo as dfs
        return dfs.merchant_poll_outcome(dfs.synth_polls(_events(spark,
                                                                 sf_dir)))
    q["merchant_poll_outcome"] = merchant_poll_outcome

    def merchant_parse_hits(spark, sf_dir):
        # shopping SERP parse: seller chain, key-consuming dedupe,
        # cap-then-sort, old_price sanity, aclk unquote
        # (dataforseo_merchant_service.py:245-368)
        from mivaa_pdf_extractor_spark.operators import dataforseo as dfs
        return dfs.merchant_parse(dfs.synth_items(_events(spark, sf_dir)))
    q["merchant_parse_hits"] = merchant_parse_hits

    def dfs_envelope_costs(spark, sf_dir):
        # unified-client envelope: per-task cost sum, items-or-inline
        # flatten, country_to_location w/ US default
        # (dataforseo_unified_client.py:85-96,181-203)
        from mivaa_pdf_extractor_spark.operators import dataforseo as dfs
        return dfs.dfs_envelope(dfs.synth_results(_events(spark, sf_dir)))
    q["dfs_envelope_costs"] = dfs_envelope_costs

    def _cq_metrics(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import (
            chunk_quality_report as cq)
        e = _events(spark, sf_dir)
        return cq.quality_metrics(cq.synth_chunks(e), cq.synth_docs(e),
                                  cq.synth_flags(e), cq.synth_jobs(e))

    def chunk_quality_metrics(spark, sf_dir):
        # per-workspace chunk-quality rollup: truthy-filtered scores,
        # global (unscoped) 1000-row size/overlap sample, sample stdev
        # from integer power sums (chunk_quality_routes.py:169-321)
        return _cq_metrics(spark, sf_dir)
    q["chunk_quality_metrics"] = chunk_quality_metrics

    def chunk_quality_recs(spark, sf_dir):
        # the recommendation ladder incl. the all-checkmark CURRENT
        # CONFIG fallback and global-sample/workspace-count pct mixing
        # (chunk_quality_routes.py:25-130)
        from mivaa_pdf_extractor_spark.operators import (
            chunk_quality_report as cq)
        return cq.quality_recommendations(_cq_metrics(spark, sf_dir))
    q["chunk_quality_recs"] = chunk_quality_recs

    def ai_track_job_summary(spark, sf_dir):
        # per-job AI-call rollup: success rate, latency, token sums
        # (ai_model_tracker.py:149-185)
        from mivaa_pdf_extractor_spark.operators import ai_tracker as at
        return at.job_summary(at.synth_calls(_events(spark, sf_dir)))
    q["ai_track_job_summary"] = ai_track_job_summary

    def ai_track_stage_details(spark, sf_dir):
        # per-stage rollup: FIRST-SEEN model order, confidence mean incl.
        # 0.0 scores vs truthy-gated token sums (ai_model_tracker.py:105-216)
        from mivaa_pdf_extractor_spark.operators import ai_tracker as at
        return at.stage_details(at.synth_calls(_events(spark, sf_dir)))
    q["ai_track_stage_details"] = ai_track_stage_details

    def ai_track_model_stats(spark, sf_dir):
        # per-model rollup with sorted-canonicalized stage/task sets
        # (ai_model_tracker.py:218-242)
        from mivaa_pdf_extractor_spark.operators import ai_tracker as at
        return at.model_stats(at.synth_calls(_events(spark, sf_dir)))
    q["ai_track_model_stats"] = ai_track_model_stats

    def interior_gen_plan(spark, sf_dir):
        # model-selection ladder (explicit ids hit BOTH gemini entries —
        # pin), i2i/t2i routing, exclusions, enhanced-prompt build
        # (interior_design_routes.py:52-87,670-700)
        from mivaa_pdf_extractor_spark.operators import interior_gen as ig
        return ig.select_models(ig.synth_requests(_events(spark, sf_dir)),
                                ig.models_df(spark))
    q["interior_gen_plan"] = interior_gen_plan

    def interior_model_inputs(spark, sf_dir):
        # per-schema input dispatch: requires-image verdicts, 'input' vs
        # 'image' key, flux trigger-word gate, aspect_ratio fallback
        # (interior_design_routes.py:180-303)
        from mivaa_pdf_extractor_spark.operators import interior_gen as ig
        return ig.model_inputs_plan(
            ig.synth_requests(_events(spark, sf_dir)), ig.models_df(spark))
    q["interior_model_inputs"] = interior_model_inputs

    def interior_result_shape(spark, sf_dir):
        # atomic model-result payload: image_urls key present only on
        # success+url or failure+error (interior_design_routes.py:497-514)
        from mivaa_pdf_extractor_spark.operators import interior_gen as ig
        return ig.model_result_shape(
            ig.synth_results(_events(spark, sf_dir)))
    q["interior_result_shape"] = interior_result_shape

    def product_field_mine(spark, sf_dir):
        # chunk-text regex field mining: factory/designer/collection
        # modal picks, sku dict, grout zips, dims + imperial + Q-label,
        # scalar gates (_extract_fields_from_chunk_text,
        # stage_4_products.py:1701-1930)
        from mivaa_pdf_extractor_spark.operators import enrich
        return enrich.mine_fields(
            enrich.synth_catalog_docs(_docs(spark, sf_dir)))
    q["product_field_mine"] = product_field_mine

    def vision_rollup(spark, sf_dir):
        # per-product majority vote over per-image vision_analysis:
        # case-fold pretty winners, capped dedup lists, vocab-mapped
        # material category, longest description, micro-unit mean
        # confidence (_rollup_vision_analysis,
        # stage_4_products.py:1974-2154)
        from mivaa_pdf_extractor_spark.operators import vision
        return vision.rollup_vision(
            vision.synth_vision_rows(_events(spark, sf_dir)))
    q["vision_rollup"] = vision_rollup

    def propagate_fields(spark, sf_dir):
        # cross-product common-field propagation with the upload
        # override, first-non-empty document values, nested
        # material_properties fills, and the most-complete-factory
        # merge (propagate_common_fields_to_products,
        # stage_4_products.py:1241-1455)
        from mivaa_pdf_extractor_spark.operators import propagate
        return propagate.propagate_common_fields(
            propagate.synth_products(_events(spark, sf_dir)))
    q["propagate_fields"] = propagate_fields

    def enrich_merge_fields(spark, sf_dir):
        # provenance-tagged fill-if-empty merge of chunk + vision
        # candidates into product metadata, with the exact fill-ladder
        # order, dimension/available_sizes and designer-scalar drops
        # (_merge_enriched_fields_into_metadata,
        # stage_4_products.py:2154-2270)
        from mivaa_pdf_extractor_spark.operators import enrich_merge
        return enrich_merge.merge_enriched(
            enrich_merge.synth_enrich_inputs(_events(spark, sf_dir)))
    q["enrich_merge_fields"] = enrich_merge_fields

    def product_embedding_text(spark, sf_dir):
        # canonical embedding text: name/description/searchable keys,
        # tri-source color dedup, typed spec rendering, page body last
        # (build_product_embedding_text, stage_4_products.py:908-998)
        from mivaa_pdf_extractor_spark.operators import product_text \
            as pt
        p = pt.synth_embed_inputs(_events(spark, sf_dir))
        return p.select(
            "product_id",
            pt.embedding_text_col(
                F.col("name"), F.col("description"), F.col("meta"),
                F.col("colors3"), F.col("spec_strs"),
                F.col("spec_flags"), F.col("spec_lists"),
                F.col("page_body")).alias("embedding_text"))
    # "_canonical": the enrich-props join form registers the plain
    # "product_embedding_text" name below; this is the stage-4 builder
    q["product_embedding_text_canonical"] = product_embedding_text

    def product_default_unit(spark, sf_dir):
        # 5-tier unit resolution: fine vocab > admin overlay > coarse
        # exact > coarse substring > 'pcs'; whitespace-only category
        # hits the ''-in-key fuzzy quirk (_resolve_default_unit,
        # stage_4_products.py:93-124)
        from mivaa_pdf_extractor_spark.operators import product_text \
            as pt
        e = F.col("event_id")
        cat = (F.when(e % 9 == 0, F.lit("porcelain_tile"))
               .when(e % 9 == 1, F.lit("Mosaics "))
               .when(e % 9 == 2, F.lit("tiles"))
               .when(e % 9 == 3, F.lit("paint_wall"))
               .when(e % 9 == 4, F.lit("xyz_tiles_abc"))
               .when(e % 9 == 5, F.lit("gadgetry"))
               .when(e % 9 == 6, F.lit(""))
               .when(e % 9 == 7, F.lit(" "))
               .otherwise(F.lit(None)))
        return _events(spark, sf_dir).select(
            e.alias("call_id"), cat.alias("category"),
            pt.default_unit_col(cat).alias("unit"))
    q["product_default_unit"] = product_default_unit

    def product_factory_object(spark, sf_dir):
        # 3-layer factory assembly: existing nested > flat metadata >
        # catalog defaults, non-empty values only (_build_factory_object,
        # stage_4_products.py:135-170)
        from mivaa_pdf_extractor_spark.operators import product_text \
            as pt
        e = F.col("event_id")

        def layer(tag, mod):
            return F.struct(*[
                F.when(e % mod == i % mod,
                       F.lit(f"{tag}_{f}"))
                .when(e % (mod + 1) == i % (mod + 1), F.lit("N/A"))
                .otherwise(F.lit(None)).alias(f)
                for i, f in enumerate(pt.FACTORY_FIELDS14)])
        rows = _events(spark, sf_dir).select(
            e.alias("product_id"), layer("ex", 3).alias("existing"),
            layer("fl", 4).alias("meta"), layer("df", 5).alias("dflt"))
        return rows.select(
            "product_id",
            *pt.factory_object_cols(F.col("existing"), F.col("meta"),
                                    F.col("dflt")))
    q["product_factory_object"] = product_factory_object

    def discovery_validate(spark, sf_dir):
        # stage-0 discovery validation boundary + product metadata
        # fold: name/page-range gates with the reference's reason
        # strings, build-from-fields metadata, page_types int-cast,
        # truthy-only _start_page (_validate_discovery_item +
        # _parse_discovery_results, product_discovery_service.py:
        # 1222-1340)
        from mivaa_pdf_extractor_spark.operators import discovery
        return discovery.validate_and_parse(
            discovery.synth_discovery_items(_events(spark, sf_dir)))
    q["discovery_validate"] = discovery_validate

    def discovery_page_ranges(spark, sf_dir):
        # conservative start-page ranges: end = next start - 1 (stable
        # ties), last product min(start+10, total), end >= start
        # (_calculate_page_ranges_from_start_pages,
        # product_discovery_service.py:2266-2332)
        from mivaa_pdf_extractor_spark.operators import discovery
        return discovery.calculate_page_ranges(
            discovery.synth_range_products(_events(spark, sf_dir)))
    q["discovery_page_ranges"] = discovery_page_ranges

    def discovery_folio_offset(spark, sf_dir):
        # folio->physical consensus offset: most_common with
        # first-insertion ties, majority gate max(2, n//2+1), bounded
        # shift (_reconcile_folio_start_pages_to_physical,
        # product_discovery_service.py:2333-2402)
        from mivaa_pdf_extractor_spark.operators import discovery
        return discovery.reconcile_folio_offsets(
            discovery.synth_folio_products(_events(spark, sf_dir)))
    q["discovery_folio_offset"] = discovery_folio_offset

    def discovery_page_markers(spark, sf_dir):
        # one-pass page-marker parse: sentinel split, pre-marker page
        # 1, stripped contents, out-of-bounds drop, dup-page last
        # wins, lowercased for the search pass
        # (_parse_pdf_text_into_pages,
        # product_discovery_service.py:2401-2459)
        from mivaa_pdf_extractor_spark.operators import discovery_pages
        return discovery_pages.parse_page_markers(
            discovery_pages.synth_marker_docs(_events(spark, sf_dir)))
    q["discovery_page_markers"] = discovery_page_markers

    def discovery_sections(spark, sf_dir):
        # smart section detection: TOC cutoff, headline map over all
        # products, clean-mention fallback, next-headline boundary,
        # foreign-headline validation break, detected[:6] fallback
        # (_detect_product_pages_optimized,
        # product_discovery_service.py:2461-2639)
        from mivaa_pdf_extractor_spark.operators import discovery_pages
        ev = _events(spark, sf_dir)
        return discovery_pages.detect_sections(
            discovery_pages.synth_section_pages(ev),
            discovery_pages.synth_section_products(ev))
    q["discovery_sections"] = discovery_sections

    def material_props_rules(spark, sf_dir):
        # rule-based functional-property fallback: 6 regex categories
        # (slip R-values/DCOF, Mohs/PEI, water absorption/frost,
        # gloss keywords, shade V1-4 case-sensitive, greenguard/
        # recycled), per-category confidence only when fired
        # (_rule_based_extraction,
        # enhanced_material_property_extractor.py:313-400)
        from mivaa_pdf_extractor_spark.operators import material_props
        return material_props.extract_props(
            material_props.synth_prop_docs(_events(spark, sf_dir)))
    q["material_props_rules"] = material_props_rules

    def spec_row_parse(spark, sf_dir):
        # Tier-A packing-row parser: geometry anchor argmax (numeric
        # neighbors within |cy|<=6), merged-span split, EU/US number
        # parsing, positional KNOWN_COLUMN_ORDERS mapping with the
        # dim->pallet shift + dict last-wins, bullet flag strip,
        # first-page-wins merge, nested render
        # (product_spec_extractor_v2.py:64-537)
        from mivaa_pdf_extractor_spark.operators import spec_rows
        ev = _events(spark, sf_dir)
        # checkpoint the synth inputs: the parser references both
        # frames from many plan branches and re-embedding the synth
        # lineage made analysis dominate (10.2 s -> 3.0 s)
        return spec_rows.parse_spec_rows(
            spec_rows.synth_spec_spans(ev).localCheckpoint(),
            spec_rows.synth_spec_targets(ev).localCheckpoint())
    q["spec_row_parse"] = spec_row_parse

    def _ai_val_mod():
        from mivaa_pdf_extractor_spark.operators import ai_validation
        return ai_validation

    def chunk_boundaries(spark, sf_dir):
        # product boundary detection: adjacent-chunk cosine (zero-norm
        # short-circuit, 0.5 missing default), marker/page/image
        # confidence ladder with sequential caps, %.2f reason render
        # (boundary_detector.py:56-275)
        av = _ai_val_mod()
        return av.detect_boundaries(
            av.synth_boundary_chunks(_events(spark, sf_dir)))
    q["chunk_boundaries"] = chunk_boundaries

    def boundary_groups(spark, sf_dir):
        # group_chunks_by_product as a running boundary count
        # (boundary_detector.py:277-316)
        av = _ai_val_mod()
        return av.group_by_boundaries(
            av.synth_boundary_chunks(_events(spark, sf_dir)))
    q["boundary_groups"] = boundary_groups

    def consensus_validate(spark, sf_dir):
        # multi-model consensus: pairwise key Jaccard agreement,
        # majority vote (Counter first-insertion ties) vs weighted
        # vote (model-weight x confidence, first max), human-review
        # flag, <2-valid failure (consensus_validator.py:26-242)
        av = _ai_val_mod()
        return av.consensus_validate(
            av.synth_consensus_results(_events(spark, sf_dir)))
    q["consensus_validate"] = consensus_validate

    def classifier_parse(spark, sf_dir):
        # CATEGORY|CONFIDENCE response parse + keyword fallbacks +
        # has_images boost + deep-enrich metadata flags
        # (document_classifier.py:90-250)
        av = _ai_val_mod()
        return av.classify_parse(
            av.synth_classifier_rows(_events(spark, sf_dir)))
    q["classifier_parse"] = classifier_parse

    def _pmerge_mod():
        from mivaa_pdf_extractor_spark.operators import product_merge
        return product_merge

    def product_merge_fields(spark, sf_dir):
        # _merge_product_data: order-sensitive description collect
        # (dedup includes the '' initial; unchanged target when only
        # one collected), metadata first-wins union with list-union
        # on type match, source_chunks set (rendered sorted)
        # (product_merge_service.py:149-210)
        pmg = _pmerge_mod()
        ev = _events(spark, sf_dir)
        return pmg.merge_product_data(pmg.synth_merge_products(ev),
                                      pmg.synth_merge_meta(ev),
                                      pmg.synth_merge_plan(ev))
    q["product_merge_fields"] = product_merge_fields

    def merge_transfer_rels(spark, sf_dir):
        # relationship transfer with iterative existence checks ->
        # first-wins in (source, association) order + score defaults
        # (product_merge_service.py:212-258)
        pmg = _pmerge_mod()
        ev = _events(spark, sf_dir)
        return pmg.transfer_relationships(pmg.synth_merge_assocs(ev),
                                          pmg.synth_merge_plan(ev))
    q["merge_transfer_rels"] = merge_transfer_rels

    def product_validate(spark, sf_dir):
        # five-check validator: min content, substantive ratio,
        # distinguishing features, asset ladder, pairwise coherence,
        # 0.20/0.20/0.25/0.15/0.20 weighted overall vs 0.70
        # (product_validator.py:23-370)
        pmg = _pmerge_mod()
        ev = _events(spark, sf_dir)
        return pmg.validate_products(pmg.synth_validate_chunks(ev),
                                     pmg.synth_validate_products(ev))
    q["product_validate"] = product_validate

    def _sugg_mod():
        from mivaa_pdf_extractor_spark.operators import suggestions
        return suggestions

    def search_autocomplete(spark, sf_dir):
        # 5-tier autocomplete funnel with raw-count budgets (dedup
        # AFTER budgeting), keep-first case-insensitive dedup, stable
        # popularity sort, final limit
        # (search_suggestions_service.py:51-311)
        sg = _sugg_mod()
        ev = _events(spark, sf_dir)
        return sg.autocomplete(
            sg.synth_sugg_queries(ev), sg.synth_sugg_suggestions(ev),
            sg.synth_sugg_trending(ev), sg.synth_sugg_analytics(ev),
            sg.synth_sugg_popular(ev), sg.synth_sugg_products(ev))
    q["search_autocomplete"] = search_autocomplete

    def typo_corrections(spark, sf_dir):
        # known-corrections + abbreviation tiers, stable confidence
        # sort, top 3, auto-apply >= 0.9; the fuzzy seqratio tier is
        # SQL-inexpressible and covered by typo_corrections_fuzzy
        # (search_suggestions_service.py:329-464)
        sg = _sugg_mod()
        ev = _events(spark, sf_dir)
        return sg.check_typos(sg.synth_typo_queries(ev),
                              sg.synth_sugg_corrections(ev),
                              sg.synth_sugg_analytics(ev),
                              include_fuzzy=False)
    q["typo_corrections"] = typo_corrections

    def typo_corrections_fuzzy(spark, sf_dir):
        # full ladder incl. the difflib SequenceMatcher fuzzy tier
        # (arrow kernel; rows-only check — pinned by pytest vs a
        # difflib transcription)
        sg = _sugg_mod()
        ev = _events(spark, sf_dir)
        return sg.check_typos(sg.synth_typo_queries(ev),
                              sg.synth_sugg_corrections(ev),
                              sg.synth_sugg_analytics(ev),
                              include_fuzzy=True)
    q["typo_corrections_fuzzy"] = typo_corrections_fuzzy

    def query_expand(spark, sf_dir):
        # synonym map expansion (set rendered sorted, dict word order
        # pinned) + follow-up-query related concepts via
        # Counter.most_common first-insertion ties
        # (search_suggestions_service.py:466-573, use_ai=False)
        sg = _sugg_mod()
        ev = _events(spark, sf_dir)
        return sg.expand_queries(sg.synth_sugg_queries(ev),
                                 sg.synth_sugg_analytics(ev))
    q["query_expand"] = query_expand

    def relevancy_page_links(spark, sf_dir):
        # page-range product-image linking: empty range -> fallback
        # all-document links at 0.7 'document_association'; else
        # [min, max] span at 1.0 'page_proximity'
        # (relevancy_service.py:28-167)
        from mivaa_pdf_extractor_spark.operators import relevancy
        ev = _events(spark, sf_dir)
        return relevancy.relevancy_links(
            relevancy.synth_rel_products(ev),
            relevancy.synth_rel_images(ev))
    q["relevancy_page_links"] = relevancy_page_links

    def timestamp_normalize(spark, sf_dir):
        # PostgreSQL timestamp normalization: Z -> +00:00, variable
        # microsecond precision padded/truncated to 6 digits
        # (timestamp_utils.py:5-48)
        from mivaa_pdf_extractor_spark.operators import relevancy
        return relevancy.normalize_timestamps(
            relevancy.synth_ts_rows(_events(spark, sf_dir)))
    q["timestamp_normalize"] = timestamp_normalize

    def catalog_page_classify(spark, sf_dir):
        # pure page classifier: accent-stripped keyword-set hits
        # feeding the fixed ladder (spec+name, icons w/o name, cert/
        # reg/install/care/sus >= 2, index, bio, photo, positional
        # cover, other) + the packing-row numeric heuristic
        # (catalog_layout_analyzer.py:255-370)
        from mivaa_pdf_extractor_spark.operators import catalog_layout
        ev = _events(spark, sf_dir)
        return catalog_layout.classify_pages(
            catalog_layout.synth_layout_pages(ev),
            catalog_layout.synth_layout_names(ev))
    q["catalog_page_classify"] = catalog_page_classify

    def _qs_mod():
        from mivaa_pdf_extractor_spark.operators import quality_scores
        return quality_scores

    def quality_score_images(spark, sf_dir):
        # weighted image quality: analysis completeness, dimension
        # ladder, property count, embedding coverage, confidence
        # (real_quality_scoring_service.py:61-118,330-361)
        qs = _qs_mod()
        return qs.score_images(qs.synth_q_images(_events(spark, sf_dir)))
    q["quality_score_images"] = quality_score_images

    def quality_score_chunks(spark, sf_dir):
        # weighted chunk quality incl. derived coherence when the
        # stored score is zero and stripped-boundary checks
        # (real_quality_scoring_service.py:119-183,371-407)
        qs = _qs_mod()
        return qs.score_chunks(qs.synth_q_chunks(_events(spark, sf_dir)))
    q["quality_score_chunks"] = quality_score_chunks

    def quality_score_products(spark, sf_dir):
        # weighted product quality: metadata-completeness ladders,
        # valid-property ladder, related images/products ladders,
        # confidence fallback chain
        # (real_quality_scoring_service.py:184-328)
        qs = _qs_mod()
        return qs.score_products(
            qs.synth_q_products(_events(spark, sf_dir)))
    q["quality_score_products"] = quality_score_products

    def search_terms_extract(spark, sf_dir):
        # _extract_search_terms: metadata values bypass the stopword/
        # length filters, query words filtered, set-dedup (rendered
        # sorted); plus zero_results + total_ms 'or' fallback
        # (search_query_tracker.py:30-214)
        from mivaa_pdf_extractor_spark.operators import query_tracking
        return query_tracking.extract_search_terms(
            query_tracking.synth_track_queries(_events(spark, sf_dir)))
    q["search_terms_extract"] = search_terms_extract

    def unmatched_term_freq(spark, sf_dir):
        # unmatched-term frequency rollup end-state (count + sorted
        # workspace set) (search_query_tracker.py:145-187)
        from mivaa_pdf_extractor_spark.operators import query_tracking
        return query_tracking.unmatched_term_freq(
            query_tracking.synth_unmatched_events(
                _events(spark, sf_dir)))
    q["unmatched_term_freq"] = unmatched_term_freq

    def entity_product_match(spark, sf_dir):
        # entity-product scored join: 0.6 x set-overlap / max RAW
        # list length (duplicates inflate) + 0.3 factory + 0.1
        # bidirectional name containment ('' matches everything,
        # pinned), link at >= 0.5 with ordered reasons
        # (document_entity_service.py:221-374)
        from mivaa_pdf_extractor_spark.operators import entity_match
        ev = _events(spark, sf_dir)
        return entity_match.match_entities(
            entity_match.synth_match_entities(ev),
            entity_match.synth_match_products(ev))
    q["entity_product_match"] = entity_product_match

    def visual_search_analytics(spark, sf_dir):
        # per-search analytics rollup: type distribution, confidence
        # tiers (>=0.8 / >=0.6 / low), avg fusion scores round3,
        # fusion effectiveness over UNROUNDED averages, zero row for
        # empty searches
        # (material_visual_search_service.py:342-396)
        from mivaa_pdf_extractor_spark.operators import visual_analytics
        ev = _events(spark, sf_dir)
        return visual_analytics.search_analytics(
            visual_analytics.synth_va_searches(ev),
            visual_analytics.synth_va_results(ev))
    q["visual_search_analytics"] = visual_search_analytics

    def image_rerank_7vec(spark, sf_dir):
        # 7-vector enrichment rerank: per-key merge (direct over
        # metadata scores), visual falls back to similarity_score,
        # relevance = max qualifying association score, no-product
        # images keep combined = similarity (pinned), stable final
        # sort (search_enrichment_service.py:27-186)
        from mivaa_pdf_extractor_spark.operators import visual_analytics
        ev = _events(spark, sf_dir)
        return visual_analytics.rerank_images(
            visual_analytics.synth_rr_images(ev),
            visual_analytics.synth_rr_assocs(ev))
    q["image_rerank_7vec"] = image_rerank_7vec

    def product_meta_extract(spark, sf_dir):
        # chunk-content metadata mining: dimensions (3D branch is
        # dead code - the 2-capture pattern wins first), 3-tier
        # designer ladder with the first-match-only rule, sorted
        # color set, case-sensitive collection, material first-match
        # (product_creation_service.py:554-621)
        from mivaa_pdf_extractor_spark.operators import product_extract
        return product_extract.extract_product_metadata(
            product_extract.synth_meta_chunks(_events(spark, sf_dir)))
    q["product_meta_extract"] = product_meta_extract

    def product_name_extract(spark, sf_dir):
        # first-10-lines name ladder (header / standalone uppercase /
        # uppercase run with 3-line context) + whole-content
        # uppercase fallback with the 27-word exclusion list and
        # ±100-char first-occurrence context
        # (product_creation_service.py:499-553)
        from mivaa_pdf_extractor_spark.operators import product_extract
        return product_extract.extract_product_names(
            product_extract.synth_name_chunks(_events(spark, sf_dir)))
    q["product_name_extract"] = product_name_extract

    def metadata_scope_detect(spark, sf_dir):
        # fallback scope detection: product mentions (list order) win
        # with the dimensions-override flag; explicit catalog
        # keywords beat implicit regex patterns which require NO
        # product mention (dynamic_metadata_extractor.py:1033-1104)
        from mivaa_pdf_extractor_spark.operators import product_extract
        ev = _events(spark, sf_dir)
        return product_extract.detect_metadata_scope(
            product_extract.synth_scope_chunks(ev),
            product_extract.synth_scope_names(ev))
    q["metadata_scope_detect"] = metadata_scope_detect

    def smart_section_extract(spark, sf_dir):
        # smart relevant-section extraction: head + dimension-bearing
        # index area + a +/-around window per keyword match (patterns
        # in declared order, matches in position order) + tail,
        # joined and truncated; short docs pass through. Constants
        # scaled down so the synthetic docs exercise the long path
        # (dynamic_metadata_extractor.py:379-452)
        from mivaa_pdf_extractor_spark.operators import product_extract
        return product_extract.extract_relevant_sections(
            product_extract.synth_section_docs(_events(spark, sf_dir)),
            max_chars=1500, head=300, index_start=300, index_end=900,
            around=150, tail=200)
    q["smart_section_extract"] = smart_section_extract

    def price_rule_shortcut(spark, sf_dir):
        # Perplexity pre-classifier: SKU-in-haystack -> exact 95,
        # ALL required tokens missing -> mismatch 15 (Python-repr
        # note), empty -> unverifiable 40, else defer; plus the
        # facets-hash canonical payload
        # (perplexity_price_search_service.py:96-156)
        from mivaa_pdf_extractor_spark.operators import identity
        return identity.price_rule_shortcut(
            identity.synth_price_cands(_events(spark, sf_dir)))
    q["price_rule_shortcut"] = price_rule_shortcut

    def price_source_merge(spark, sf_dir):
        # Perplexity x DataForSEO merge: all Perplexity rows survive,
        # merchants dedupe first-wins on (retailer, title[:80]) BEFORE
        # the slug-overlap skip (pinned), survivors take Shopping-feed
        # constants, final stable price-asc order (NULLs last)
        # (perplexity_price_search_service.py:1259-1361)
        from mivaa_pdf_extractor_spark.operators import prices
        ev = _events(spark, sf_dir)
        return prices.merge_price_sources(prices.synth_phits(ev),
                                          prices.synth_dhits(ev))
    q["price_source_merge"] = price_source_merge

    def price_cross_discrepancies(spark, sf_dir):
        # the >20%-gap cross-source side-record; the reference's
        # set-iteration overlap pick is canonicalized to the smallest
        # matching domain + first Perplexity hit on it
        # (perplexity_price_search_service.py:1318-1338)
        from mivaa_pdf_extractor_spark.operators import prices
        ev = _events(spark, sf_dir)
        return prices.price_discrepancies(prices.synth_phits(ev),
                                          prices.synth_dhits(ev))
    q["price_cross_discrepancies"] = price_cross_discrepancies

    def price_greek_merge(spark, sf_dir):
        # Greek-marketplace override merge: URL-keyed last-wins with
        # first-insertion position (dict semantics), domain-covered
        # existing rows dropped, greek URLs first-wins appended,
        # stable price-asc order
        # (perplexity_price_search_service.py:1364-1406)
        from mivaa_pdf_extractor_spark.operators import prices
        ev = _events(spark, sf_dir)
        return prices.merge_greek_hits(prices.synth_greek_existing(ev),
                                       prices.synth_greek_hits(ev))
    q["price_greek_merge"] = price_greek_merge

    def icon_route_split(spark, sf_dir):
        # icon-vs-material routing: shape rules (< 200px, aspect in
        # [0.5, 2]), DECORATIVE override into the pool, the per-page
        # >= 3 grid gate counting BOTH pools, NULL pages never count
        # (image_processing_service.py:880-1032)
        from mivaa_pdf_extractor_spark.operators import icon_split
        return icon_split.split_icon_candidates(
            icon_split.synth_icon_images(_events(spark, sf_dir)))
    q["icon_route_split"] = icon_route_split

    def vision_json_validate(spark, sf_dir):
        # vision-analysis parse + validation: fence strip, plain
        # parse, greedy first-to-last brace fallback, non-empty-dict
        # gate, >= 4 of 12 fields populated (''/[]/{} empty)
        # (image_processing_service.py:1060-1135)
        from mivaa_pdf_extractor_spark.operators import icon_split
        return icon_split.validate_vision_json(
            icon_split.synth_vision_raws(_events(spark, sf_dir)))
    q["vision_json_validate"] = vision_json_validate

    def price_source_label(spark, sf_dir):
        # competitor_source_type enum mapping with the
        # perplexity_web_search fallback
        # (tracked_queries_service.py:125-144)
        from mivaa_pdf_extractor_spark.operators import prices
        return prices.map_source_labels(
            prices.synth_source_hits(_events(spark, sf_dir)))
    q["price_source_label"] = price_source_label

    def salary_normalize(spark, sf_dir):
        # annualized-USD salary normalization: static FX table, period
        # alias/inference ladder, sanity band, note assembly
        # (job_salary_normalizer.py:107-166)
        from mivaa_pdf_extractor_spark.operators import salaries
        return salaries.normalize_salaries(
            salaries.synth_job_listings(_events(spark, sf_dir)))
    q["salary_normalize"] = salary_normalize

    def sentiment_fallback(spark, sf_dir):
        # heuristic sentiment tier: rating ladder / substring keyword
        # counts, sentence key-phrases, the rating-0 falsy quirk
        # (sentiment_analysis_service.py:128-179)
        from mivaa_pdf_extractor_spark.operators import sentiment
        return sentiment.fallback_sentiment(
            sentiment.synth_feedback(_events(spark, sf_dir)))
    q["sentiment_fallback"] = sentiment_fallback

    def metadata_consolidate(spark, sf_dir):
        # Stage-4 three-source priority merge with confidence tracking
        # and the color / visual_color_detected special-cases
        # (metadata_consolidation_service.py:28-151)
        from mivaa_pdf_extractor_spark.operators import consolidation
        fac, vis, ai = consolidation.synth_consolidation_inputs(
            spark, _events(spark, sf_dir))
        return consolidation.consolidate_metadata(fac, vis, ai)
    q["metadata_consolidate"] = metadata_consolidate

    def recipe_url_patterns(spark, sf_dir):
        # scrape-recipe URL→pattern derivation: opaque path segments
        # (digits / 12+ hashes / > 30 chars) collapse to '*'
        # (extraction_recipes.py:49-72)
        from mivaa_pdf_extractor_spark.operators import recipes
        return recipes.url_patterns(
            recipes.synth_scrape_urls(_events(spark, sf_dir)))
    q["recipe_url_patterns"] = recipe_url_patterns

    def recipe_ledger(spark, sf_dir):
        # success/failure confidence fold with the conf<0.5 ∧ fc>=3
        # auto-disable rule (extraction_recipes.py:120-173)
        from mivaa_pdf_extractor_spark.operators import recipes
        ev = _events(spark, sf_dir)
        return recipes.recipe_ledger(recipes.synth_recipes(ev),
                                     recipes.synth_recipe_events(ev))
    q["recipe_ledger"] = recipe_ledger

    def recipe_select(spark, sf_dir):
        # find_recipe policy: top-5 by confidence per domain, exact
        # pattern match wins else best-confidence
        # (extraction_recipes.py:84-117)
        from mivaa_pdf_extractor_spark.operators import recipes
        ev = _events(spark, sf_dir)
        return recipes.select_recipes(recipes.synth_scrape_urls(ev),
                                      recipes.synth_recipes(ev))
    q["recipe_select"] = recipe_select

    def source_board_fold(spark, sf_dir):
        # job-board index fold: registrable-domain collapse, employer
        # union vs the 25-sample cap, candidate→promoted guardrails,
        # never-promote exclusion (job_source_curator.py:107-156)
        from mivaa_pdf_extractor_spark.operators import source_curation
        ev = _events(spark, sf_dir)
        return source_curation.fold_board_index(
            source_curation.synth_job_match_listings(ev),
            source_curation.synth_curated_sites(ev),
            source_curation.synth_board_index(ev))
    q["source_board_fold"] = source_board_fold

    def source_site_actions(spark, sf_dir):
        # curated-site run actions: yield bumps, stale auto-added
        # disables with ISO-string compare, bumped-never-stale ordering
        # (job_source_curator.py:90-104,159-182)
        from mivaa_pdf_extractor_spark.operators import source_curation
        ev = _events(spark, sf_dir)
        return source_curation.site_actions(
            source_curation.synth_job_match_listings(ev),
            source_curation.synth_curated_sites(ev),
            source_curation.RUN_NOW_ISO, source_curation.RUN_CUTOFF_ISO)
    q["source_site_actions"] = source_site_actions

    def facet_sweep_plan(spark, sf_dir):
        # re-canonicalization sweep selection + outcome ledger:
        # degraded-first under one shared cap, never-bump-on-degraded
        # (facet_recanonicalization.py:74-216)
        from mivaa_pdf_extractor_spark.operators import facet_sweep
        return facet_sweep.plan_sweep(
            facet_sweep.synth_sweep_products(_events(spark, sf_dir)),
            facet_sweep.TARGET_VERSION, facet_sweep.MAX_PRODUCTS)
    q["facet_sweep_plan"] = facet_sweep_plan

    def facet_sweep_summary(spark, sf_dir):
        # the sweep's summary dict: scanned/updated/degraded/skipped/
        # failed + honest remaining = eligible_before - bumped
        # (facet_recanonicalization.py:210-216)
        from mivaa_pdf_extractor_spark.operators import facet_sweep
        return facet_sweep.sweep_summary(
            facet_sweep.synth_sweep_products(_events(spark, sf_dir)),
            facet_sweep.TARGET_VERSION, facet_sweep.MAX_PRODUCTS)
    q["facet_sweep_summary"] = facet_sweep_summary

    def facet_canonicals_view(spark, sf_dir):
        # admin canonicals listing: aliases None->[], alias_count
        # int(or 0), is_locked bool(), alias_count-desc top-limit
        # (facet_routes.py:166-193)
        from mivaa_pdf_extractor_spark.operators import facet_admin
        return facet_admin.canonicals_view(
            facet_admin.synth_canonicals(_events(spark, sf_dir)),
            facet_key="color", limit=50)
    q["facet_canonicals_view"] = facet_canonicals_view

    def facet_merge_log_view(spark, sf_dir):
        # merge-log observability: triple optional equality ladder +
        # occurred_at-desc limit (facet_routes.py:214-257)
        from mivaa_pdf_extractor_spark.operators import facet_admin
        return facet_admin.merge_log_view(
            facet_admin.synth_merge_log(_events(spark, sf_dir)),
            action="embedding_merge", limit=60)
    q["facet_merge_log_view"] = facet_merge_log_view

    def facet_lock_outcomes(spark, sf_dir):
        # lock toggle: zero-match -> 404, else echo the REQUESTED
        # is_locked (no read-back) (facet_routes.py:266-280)
        from mivaa_pdf_extractor_spark.operators import facet_admin
        ev = _events(spark, sf_dir)
        return facet_admin.lock_outcomes(
            facet_admin.synth_lock_reqs(ev),
            facet_admin.synth_canonicals(ev))
    q["facet_lock_outcomes"] = facet_lock_outcomes

    def doc_entities_admin_query(spark, sf_dir):
        # workspace + truthy filter ladder; .range(offset,
        # offset+limit-1) INCLUSIVE both ends -> exactly limit rows
        # (document_entities.py:107-160)
        from mivaa_pdf_extractor_spark.operators import doc_entities
        return doc_entities.entities_admin_query(
            doc_entities.synth_entities(_events(spark, sf_dir)),
            workspace_id=1, entity_type="logo", limit=20, offset=5)
    q["doc_entities_admin_query"] = doc_entities_admin_query

    def doc_entities_for_product(spark, sf_dir):
        # embedded-filter phantom rows: a non-matching entity_type
        # NULLS the embed but keeps the relationship row -> all-None
        # entity with page_range=[] (document_entity_service.py:501-547)
        from mivaa_pdf_extractor_spark.operators import doc_entities
        ev = _events(spark, sf_dir)
        return doc_entities.entities_for_product(
            doc_entities.synth_rels(ev),
            doc_entities.synth_entities(ev),
            entity_type="certificate")
    q["doc_entities_for_product"] = doc_entities_for_product

    def doc_entities_by_factory(spark, sf_dir):
        # factory equality + optional type; .get-defaulted projection
        # (document_entity_service.py:549-596)
        from mivaa_pdf_extractor_spark.operators import doc_entities
        return doc_entities.entities_by_factory(
            doc_entities.synth_entities(_events(spark, sf_dir)),
            factory_name="Factory 2")
    q["doc_entities_by_factory"] = doc_entities_by_factory

    def chunk_page_dispatch(spark, sf_dir):
        # per-page routing ladder: document-level layout gate, 1-based
        # region lookup, empty-page index skip, over-applied fallback
        # stamp, global start_index cumsum
        # (unified_chunking_service.py:150-366)
        from mivaa_pdf_extractor_spark.operators import chunk_dispatch
        ev = _events(spark, sf_dir)
        return chunk_dispatch.page_dispatch(
            chunk_dispatch.synth_pages(ev),
            chunk_dispatch.synth_regions(ev))
    q["chunk_page_dispatch"] = chunk_page_dispatch

    def chunk_dispatch_rollup(spark, sf_dir):
        # per-doc chunk_pages summary: route/warn/stamp counts +
        # total_chunks (unified_chunking_service.py:226-246)
        from mivaa_pdf_extractor_spark.operators import chunk_dispatch
        ev = _events(spark, sf_dir)
        return chunk_dispatch.dispatch_doc_rollup(
            chunk_dispatch.page_dispatch(
                chunk_dispatch.synth_pages(ev),
                chunk_dispatch.synth_regions(ev)))
    q["chunk_dispatch_rollup"] = chunk_dispatch_rollup

    def icon_spec_rollup(spark, sf_dir):
        # icon_metadata -> flat spec fields: strip+alias normalize,
        # unknown dropped, empty values skipped after the known check,
        # strict-> confidence with first-seen tiebreak
        # (stage_4_products.py:1127-1238)
        from mivaa_pdf_extractor_spark.operators import icon_rollup
        ev = _events(spark, sf_dir)
        return icon_rollup.icon_rollup(
            icon_rollup.synth_icon_items(ev),
            icon_rollup.synth_spec_fields(ev))
    q["icon_spec_rollup"] = icon_spec_rollup

    def icon_unknown_counts(spark, sf_dir):
        # the _unknown_field_counts sentinel: top-20 dropped field
        # names per doc, count desc (stage_4_products.py:1216-1224)
        from mivaa_pdf_extractor_spark.operators import icon_rollup
        ev = _events(spark, sf_dir)
        return icon_rollup.icon_unknown_counts(
            icon_rollup.synth_icon_items(ev),
            icon_rollup.synth_spec_fields(ev))
    q["icon_unknown_counts"] = icon_unknown_counts

    def product_body_text(spark, sf_dir):
        # reading-order body text: strip-filter but raw-join with
        # \\n\\n, global strip, 4000-char cut + rstrip
        # (stage_4_products.py:999-1035)
        from mivaa_pdf_extractor_spark.operators import icon_rollup
        return icon_rollup.page_body_text(
            icon_rollup.synth_page_cache(_events(spark, sf_dir)))
    q["product_body_text"] = product_body_text

    def tracked_latest_results(spark, sf_dir):
        # newest refresh run per tracked query, cheapest-first, with
        # the URL/domain exclusion soft-hide
        # (tracked_queries_service.py:969-1000,1243-1269)
        from mivaa_pdf_extractor_spark.operators import tracked_results
        ev = _events(spark, sf_dir)
        return tracked_results.latest_results(
            tracked_results.synth_price_rows(ev),
            tracked_results.synth_exclusions(ev))
    q["tracked_latest_results"] = tracked_latest_results

    def tracked_results_split(spark, sf_dir):
        # family vs primary split: (match_kind or '').lower() ==
        # 'family'; NULL folds to primary
        # (tracked_queries_service.py:1271-1289)
        from mivaa_pdf_extractor_spark.operators import tracked_results
        ev = _events(spark, sf_dir)
        return tracked_results.results_split(
            tracked_results.latest_results(
                tracked_results.synth_price_rows(ev),
                tracked_results.synth_exclusions(ev)))
    q["tracked_results_split"] = tracked_results_split

    def tracked_exclusion_norm(spark, sf_dir):
        # the wrong-order removeprefix ladder: www. stripped BEFORE
        # schemes, so scheme'd domains keep their www (pin)
        # (tracked_queries_service.py:1027-1031)
        from mivaa_pdf_extractor_spark.operators import tracked_results
        return tracked_results.exclusion_norm(
            tracked_results.synth_exclusion_reqs(_events(spark, sf_dir)))
    q["tracked_exclusion_norm"] = tracked_exclusion_norm

    def tracked_due_refresh(spark, sf_dir):
        # cron-due selection: active + api_key_id IS NULL (money-leak
        # guard) + next_check_at null-or-past, nulls-last order,
        # clamped limit (tracked_queries_service.py:1313-1338)
        from mivaa_pdf_extractor_spark.operators import tracked_results
        return tracked_results.due_for_refresh(
            tracked_results.synth_tracked_queries(_events(spark, sf_dir)),
            now=tracked_results.NOW, limit=300)
    q["tracked_due_refresh"] = tracked_due_refresh

    def job_terminal_updates(spark, sf_dir):
        # complete/fail terminal fold: completed-only idempotent noop,
        # cost sum + vision coverage on the success path only,
        # floor-truncated progress on failure
        # (progress_tracker.py:619-995)
        from mivaa_pdf_extractor_spark.operators import job_terminal
        ev = _events(spark, sf_dir)
        return job_terminal.terminal_job_updates(
            job_terminal.synth_terminal_jobs(ev),
            job_terminal.synth_ai_logs(ev),
            job_terminal.synth_vision_images(ev))
    q["job_terminal_updates"] = job_terminal_updates

    def job_orphan_sweep(spark, sf_dir):
        # pending/processing product rows at terminal time -> failed
        # with outcome-specific message; noop jobs never sweep
        # (progress_tracker.py:731-756,906-921)
        from mivaa_pdf_extractor_spark.operators import job_terminal
        ev = _events(spark, sf_dir)
        return job_terminal.orphan_sweep(
            job_terminal.synth_product_rows(ev),
            job_terminal.synth_terminal_jobs(ev))
    q["job_orphan_sweep"] = job_orphan_sweep

    def job_docs_mirror(spark, sf_dir):
        # processed_documents status mirror, failed errors truncated
        # to 2000 chars (progress_tracker.py:757-778,923-937)
        from mivaa_pdf_extractor_spark.operators import job_terminal
        return job_terminal.processed_docs_mirror(
            job_terminal.synth_terminal_jobs(_events(spark, sf_dir)))
    q["job_docs_mirror"] = job_docs_mirror

    def startup_resume_outcomes(spark, sf_dir):
        # startup auto-resume: 4h window (docstring says 30min — code
        # wins), outcome ladder no_doc -> no_file -> claim_noop ->
        # promote_noop -> resumed + rehydrated params with falsy-or
        # defaults (rag_routes.py:249-403)
        from mivaa_pdf_extractor_spark.operators import startup_resume
        ev = _events(spark, sf_dir)
        return startup_resume.resume_outcomes(
            startup_resume.synth_resume_jobs(ev),
            startup_resume.synth_resume_docs(ev),
            now=startup_resume.NOW)
    q["startup_resume_outcomes"] = startup_resume_outcomes

    def startup_resume_summary(spark, sf_dir):
        # the summary counts only resumed/no_file/no_doc — claim and
        # promote no-ops are logged, not counted (rag_routes.py:399-403)
        from mivaa_pdf_extractor_spark.operators import startup_resume
        ev = _events(spark, sf_dir)
        return startup_resume.resume_summary(
            startup_resume.resume_outcomes(
                startup_resume.synth_resume_jobs(ev),
                startup_resume.synth_resume_docs(ev),
                now=startup_resume.NOW))
    q["startup_resume_summary"] = startup_resume_summary

    def rag_jobs_list(spark, sf_dir):
        # field:direction sort parse (non-'asc' tokens mean DESC),
        # inclusive range page, count = page rows
        # (rag_routes.py:2115-2171)
        from mivaa_pdf_extractor_spark.operators import rag_job_routes
        return rag_job_routes.list_jobs(
            rag_job_routes.synth_jobs(_events(spark, sf_dir)),
            limit=25, offset=10, status_filter="processing",
            sort="progress:ASC")
    q["rag_jobs_list"] = rag_jobs_list

    def rag_job_delete_mode(spark, sf_dir):
        # explicit override wins; completed preserves; other terminal
        # statuses wipe; active/unknown/missing -> default-wipe label
        # (rag_routes.py:2216-2258; schemas/jobs.py:48-63)
        from mivaa_pdf_extractor_spark.operators import rag_job_routes
        ev = _events(spark, sf_dir)
        return rag_job_routes.delete_mode(
            rag_job_routes.synth_delete_reqs(ev),
            rag_job_routes.synth_jobs(ev))
    q["rag_job_delete_mode"] = rag_job_delete_mode

    def admin_jobs_list(spark, sf_dir):
        # active+history union list: filtered total but UNFILTERED
        # status_counts (history-only completed/failed), page slicing
        # (admin.py:287-337)
        from mivaa_pdf_extractor_spark.operators import admin_jobs
        ev = _events(spark, sf_dir)
        return admin_jobs.admin_list_jobs(
            admin_jobs.synth_active_jobs(ev),
            admin_jobs.synth_history_jobs(ev),
            job_type="bulk_processing", page=2, page_size=40)
    q["admin_jobs_list"] = admin_jobs_list

    def admin_job_distributions(spark, sf_dir):
        # status/type distributions over the union (admin.py:348-360)
        from mivaa_pdf_extractor_spark.operators import admin_jobs
        ev = _events(spark, sf_dir)
        return admin_jobs.admin_job_distributions(
            admin_jobs.synth_active_jobs(ev),
            admin_jobs.synth_history_jobs(ev))
    q["admin_job_distributions"] = admin_job_distributions

    def admin_job_scalars(spark, sf_dir):
        # scalar stats: history-only terminal counts, strict 24h
        # recency, mean processing seconds (admin.py:362-399)
        from mivaa_pdf_extractor_spark.operators import admin_jobs
        ev = _events(spark, sf_dir)
        return admin_jobs.admin_job_scalars(
            admin_jobs.synth_active_jobs(ev),
            admin_jobs.synth_history_jobs(ev),
            now=admin_jobs.NOW)
    q["admin_job_scalars"] = admin_job_scalars

    def admin_cancel_outcomes(spark, sf_dir):
        # cancel ladder: 404 missing, 404 (not 403) cross-workspace,
        # 400 on completed/failed/cancelled (interrupted IS
        # cancellable), else cancelled + cleanup echo
        # (admin.py:533-655)
        from mivaa_pdf_extractor_spark.operators import admin_jobs
        ev = _events(spark, sf_dir)
        return admin_jobs.cancel_outcomes(
            admin_jobs.synth_cancel_reqs(ev),
            admin_jobs.synth_active_jobs(ev))
    q["admin_cancel_outcomes"] = admin_cancel_outcomes

    def admin_cleanup_scope(spark, sf_dir):
        # retention sweep scope: strictly older than now - days_old
        # (admin.py:836-880)
        from mivaa_pdf_extractor_spark.operators import admin_jobs
        return admin_jobs.cleanup_scope(
            admin_jobs.synth_history_jobs(_events(spark, sf_dir)),
            now=admin_jobs.NOW, days_old=2)
    q["admin_cleanup_scope"] = admin_cleanup_scope

    def google_jobs_parse(spark, sf_dir):
        # DataForSEO Google-Jobs item mapping: 3-type gate, URL
        # ladder, or-None is_remote (never False), int(float) salary
        # truncation, 600-char excerpt with empty->NULL
        # (job_search_service.py:537-586)
        from mivaa_pdf_extractor_spark.operators import google_jobs
        return google_jobs.parse_google_jobs(
            google_jobs.synth_google_items(_events(spark, sf_dir)))
    q["google_jobs_parse"] = google_jobs_parse

    def kb_chunk_expand(spark, sf_dir):
        # issue-#318 neighbour expansion: (doc, product)-scoped
        # adjacency, sequential 6000-char budget with skip-not-break,
        # NULL reading order -> INT_MAX, document-id address,
        # matched_content only when expanded
        # (rag_routes.py:5860,6340-6470)
        from mivaa_pdf_extractor_spark.operators import kb_expand
        ev = _events(spark, sf_dir)
        return kb_expand.expand_chunk_hits(
            kb_expand.synth_kb_hits(ev),
            kb_expand.synth_kb_corpus(ev), expand_n=1)
    q["kb_chunk_expand"] = kb_chunk_expand

    def kb_expand_stats(spark, sf_dir):
        # the shipped expansion counters (rag_routes.py:6202-6205)
        from mivaa_pdf_extractor_spark.operators import kb_expand
        ev = _events(spark, sf_dir)
        return kb_expand.expansion_stats(
            kb_expand.expand_chunk_hits(
                kb_expand.synth_kb_hits(ev),
                kb_expand.synth_kb_corpus(ev), expand_n=1),
            expand_n=1)
    q["kb_expand_stats"] = kb_expand_stats

    def read_section_requests(spark, sf_dir):
        # source normalize + 400 ladder; from clamps to 0; backwards
        # span clamps UP to from (rag_routes.py:6723-6745)
        from mivaa_pdf_extractor_spark.operators import read_section
        return read_section.resolve_requests(
            read_section.synth_read_requests(_events(spark, sf_dir)))
    q["read_section_requests"] = read_section_requests

    def read_section_pdf(spark, sf_dir):
        # pdf span read: (doc, product)-namespaced, page-N headings,
        # len//4 token estimate, first-section-always-kept budget,
        # full-span outline, empty span -> 404 (rag_routes.py:6746-6877)
        from mivaa_pdf_extractor_spark.operators import read_section
        ev = _events(spark, sf_dir)
        return read_section.read_pdf_sections(
            read_section.synth_read_requests(ev),
            read_section.synth_section_chunks(ev))
    q["read_section_pdf"] = read_section_pdf

    def temp_sweep_classify(spark, sf_dir):
        # five-tier temp-file scope ladder: strict age gates on
        # tiers 1/2/5, AGELESS output + __pycache__ tiers, isdir
        # gates (cleanup_service.py:1042-1250)
        from mivaa_pdf_extractor_spark.operators import temp_sweep
        return temp_sweep.classify_entries(
            temp_sweep.synth_fs_entries(_events(spark, sf_dir)))
    q["temp_sweep_classify"] = temp_sweep_classify

    def temp_sweep_summary(spark, sf_dir):
        # the stats dict incl. the forever-zero empty_folders_deleted
        # (advertised tier with no code path — doc-vs-code pin)
        from mivaa_pdf_extractor_spark.operators import temp_sweep
        return temp_sweep.sweep_summary(
            temp_sweep.classify_entries(
                temp_sweep.synth_fs_entries(_events(spark, sf_dir))))
    q["temp_sweep_summary"] = temp_sweep_summary

    def kb_save_chunk_rows(spark, sf_dir):
        # legacy KB save: non-empty string chunks only, but
        # chunk_index keeps the enumerate position (gaps survive)
        # (supabase_client.py:703-731)
        from mivaa_pdf_extractor_spark.operators import kb_save
        return kb_save.chunk_rows(
            kb_save.synth_kb_chunk_inputs(_events(spark, sf_dir)))
    q["kb_save_chunk_rows"] = kb_save_chunk_rows

    def kb_save_image_rows(spark, sf_dir):
        # image URL ladder + placeholder-prefix drop (real
        # placeholder_-urls dropped too), falsy-or page (0 falls to
        # 1), caption/layer/storage defaults
        # (supabase_client.py:734-812)
        from mivaa_pdf_extractor_spark.operators import kb_save
        return kb_save.image_rows(
            kb_save.synth_kb_image_inputs(_events(spark, sf_dir)))
    q["kb_save_image_rows"] = kb_save_image_rows

    # --- multi-modal image-product associations (operators/
    # associations.py; reference
    # multi_modal_image_product_association_service.py) ---

    def _assoc_scored(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import (
            associations as asc)
        d = _docs(spark, sf_dir)
        return asc.score_associations(asc.synth_assoc_images(d),
                                      asc.synth_assoc_products(d))

    def image_product_assoc(spark, sf_dir):
        # hard spatial page-membership rule + generic-neutral caption
        # Jaccard with name boosts + cosine clip tier; weighted overall,
        # variance-bonus confidence, tier-ladder reasoning; per-doc
        # equi-join, all-native scoring
        return _assoc_scored(spark, sf_dir)
    q["image_product_assoc"] = image_product_assoc

    def image_product_assoc_limits(spark, sf_dir):
        # greedy dual-cap admission (score DESC, ids tiebreak) — caps
        # (2, 2) here so both counters bind on the 3x3 synth fan-out
        from mivaa_pdf_extractor_spark.operators import (
            associations as asc)
        return asc.apply_association_limits(
            _assoc_scored(spark, sf_dir), max_per_image=2,
            max_per_product=2)
    q["image_product_assoc_limits"] = image_product_assoc_limits

    def image_product_assoc_stats(spark, sf_dir):
        # per-doc rollup over the admitted pairs: count, micro-unit
        # average confidence, high/good/moderate/low buckets
        from mivaa_pdf_extractor_spark.operators import (
            associations as asc)
        return asc.association_stats(asc.apply_association_limits(
            _assoc_scored(spark, sf_dir), max_per_image=2,
            max_per_product=2))
    q["image_product_assoc_stats"] = image_product_assoc_stats

    # --- job-hit relevance rule tier (operators/job_classify.py;
    # reference job_classifier_service.py rule_shortcut) ---

    def job_rule_classify(spark, sf_dir):
        # full pre-LLM verdict ladder: unverifiable blob, non-posting
        # drop, excluded company/term, remote enforcement, distinctive-
        # token fast-drop, source-gated phrase/token fast-promote —
        # one unrolled when-chain, map-only
        from mivaa_pdf_extractor_spark.operators import (
            job_classify as jc)
        hits = jc.synth_class_hits(_docs(spark, sf_dir))
        return jc.classify_hits(hits, jc.TEST_FACETS).select(
            "hit_id", "relevance", "note")
    q["job_rule_classify"] = job_rule_classify

    def job_non_posting(spark, sf_dir):
        # the _is_non_posting battery: domain blocklist, reddit
        # permalinks, scraper-farm hosts, scrubbed employers, jooble,
        # search shapes, editorial-vs-jobs paths, listing titles (incl.
        # the Greek forms)
        from mivaa_pdf_extractor_spark.operators import (
            job_classify as jc)
        hits = jc.synth_non_posting(_docs(spark, sf_dir))
        return hits.select(
            "hit_id",
            jc.is_non_posting_col(
                F.col("url"), F.col("company_domain"), F.col("title"),
                F.col("company")).alias("non_posting"))
    q["job_non_posting"] = job_non_posting

    # --- SERP-block parse + opportunity builders (operators/
    # serp_opps.py; reference mention_opportunity_service.py
    # _parse_serp_blocks + _build_*_opps) ---

    def serp_blocks_parse(spark, sf_dir):
        # single-pass typed SERP-block collection: per-type caps,
        # normalized-title dedup, first-block singletons, cross-block
        # video dedup, platform inference, reference truncations —
        # all per-query windows, no UDFs
        from mivaa_pdf_extractor_spark.operators import serp_opps as so
        # round 6: the synth is now a broadcast template-table join
        # (~70 rows), so the 11-branch parse embeds a small plan —
        # the eager localCheckpoint that truncated the old 24 MB
        # when-chain lineage is no longer needed (parse persists the
        # item stream itself)
        items = so.synth_serp_items(_docs(spark, sf_dir))
        return so.parse_serp_blocks(items, limit=2)
    q["serp_blocks_parse"] = serp_blocks_parse

    def serp_opportunities(spark, sf_dir):
        # the nine deterministic opportunity builders over the parsed
        # blocks: pinned rationale/action strings, falsy-rank '?'
        # rendering, brand-mention haystacks, platform-mix summaries
        # with the insertion-order tiebreak, rank-decay priorities
        from mivaa_pdf_extractor_spark.operators import serp_opps as so
        d = _docs(spark, sf_dir)
        # round 6: synth is a small broadcast template-table join, so
        # no checkpoint is needed on items (parse persists the stream
        # internally). The parsed union IS checkpointed: one
        # materialization that truncates the 11-branch parse subtree
        # so the nine builders don't re-analyze (or re-persist) it 9x.
        items = so.synth_serp_items(d)
        parsed = so.parse_serp_blocks(items, limit=2).localCheckpoint()
        return so.build_serp_opportunities(
            parsed, so.synth_serp_subjects(d), limit=2,
            pre_partitioned=True)
    q["serp_opportunities"] = serp_opportunities

    # --- mention keyword / LLM-visibility / domain cards (operators/
    # mention_cards.py; reference mention_opportunity_service.py) ---

    def mention_seed_fallback(spark, sf_dir):
        # ordered seed candidates: trim, len>=3 drop, normalized-dedup
        # first-wins — label -> brand -> aliases
        from mivaa_pdf_extractor_spark.operators import (
            mention_cards as mc)
        return mc.fallback_seeds(
            mc.synth_seed_subjects(_docs(spark, sf_dir)))
    q["mention_seed_fallback"] = mention_seed_fallback

    def keyword_opportunity_cards(spark, sf_dir):
        # volume-ranked slice BEFORE the <10 skip (slot consumption
        # pinned), comma-grouped volumes, difficulty/intent segments,
        # intent-matched action suffixes, volume-scaled priority
        from mivaa_pdf_extractor_spark.operators import (
            mention_cards as mc)
        d = _docs(spark, sf_dir)
        return mc.keyword_opportunity_cards(
            mc.synth_keyword_items(d), mc.synth_card_subjects(d),
            limit=3)
    q["keyword_opportunity_cards"] = keyword_opportunity_cards

    def llm_visibility_cards(spark, sf_dir):
        # absent/not-present card + the three share-of-voice tiers,
        # per-model bullet lines in input order, falsy avg-rank skip,
        # top-5 competitor line
        from mivaa_pdf_extractor_spark.operators import (
            mention_cards as mc)
        d = _docs(spark, sf_dir)
        return mc.llm_visibility_cards(
            mc.synth_llm_snapshots(d), mc.synth_llm_models(d),
            mc.synth_llm_competitors(d), mc.synth_card_subjects(d))
    q["llm_visibility_cards"] = llm_visibility_cards

    def domain_snapshot_cards(spark, sf_dir):
        # not-configured / not-indexed / snapshot narratives; the
        # last-truthy metric fold (zeros never survive) runs in-plan
        from mivaa_pdf_extractor_spark.operators import (
            mention_cards as mc)
        d = _docs(spark, sf_dir)
        return mc.domain_snapshot_cards(
            mc.synth_card_subjects(d), mc.synth_domain_metrics(d))
    q["domain_snapshot_cards"] = domain_snapshot_cards

    # --- mention discovery curation (operators/mention_curation.py;
    # reference mention_search_service.py + tracked_mentions_service
    # + mention_identity_service) ---

    def mention_url_enrich(spark, sf_dir):
        # canonical URL (tracking-prefix query strip, scheme fallback,
        # path normalization), domain, outlet classify, country gate
        # (TLD or curated allowlist) — one map-only projection
        from mivaa_pdf_extractor_spark.operators import (
            mention_curation as mcu)
        urls = mcu.synth_mention_urls(_docs(spark, sf_dir))
        host = mcu.mention_domain_of(F.col("url"))
        return urls.select(
            "hit_id",
            mcu.canonicalize_mention_url(F.col("url"))
            .alias("canon_url"),
            host.alias("domain"),
            mcu.classify_outlet_type(host).alias("outlet_type"),
            mcu.matches_country(host, ["GR", "DE"]).alias("country_ok"))
    q["mention_url_enrich"] = mention_url_enrich

    def mention_fanout(spark, sf_dir):
        # all_aliases raw-dedup THEN the fanout filters + stripped
        # dedup; primary-first + length-desc ordering; raw-label
        # fallback when nothing survives
        from mivaa_pdf_extractor_spark.operators import (
            mention_curation as mcu)
        return mcu.fanout_queries(
            mcu.synth_fanout_subjects(_docs(spark, sf_dir)), 3)
    q["mention_fanout"] = mention_fanout

    def mention_hits_dedupe(spark, sf_dir):
        # sequential (url, content-hash) first-wins where rejected rows
        # register neither key — per-subject kernel, recursive-CTE twin
        from mivaa_pdf_extractor_spark.operators import (
            mention_curation as mcu)
        return mcu.dedupe_mention_hits(
            mcu.synth_mention_hits(_docs(spark, sf_dir)))
    q["mention_hits_dedupe"] = mention_hits_dedupe

    def mention_summary_30d(spark, sf_dir):
        # per-subject rollup: sentiment counts, zero-coerced average,
        # top outlets with first-appearance tiebreak, latest_at from
        # the most recently PUBLISHED row
        from mivaa_pdf_extractor_spark.operators import (
            mention_curation as mcu)
        return mcu.mention_summary(
            mcu.synth_mention_history(_docs(spark, sf_dir)))
    q["mention_summary_30d"] = mention_summary_30d

    def mention_anomalies(spark, sf_dir):
        # trailing-median z-score flags (>= 5 samples gate, negative
        # outliers only) with the pinned sigma reason string
        from mivaa_pdf_extractor_spark.operators import (
            mention_curation as mcu)
        d = _docs(spark, sf_dir)
        return mcu.stamp_anomalies(mcu.synth_anomaly_rows(d),
                                   mcu.synth_anomaly_trailing(d))
    q["mention_anomalies"] = mention_anomalies

    def mention_velocity(spark, sf_dir):
        # trailing 7d velocity %: empty-history 100/0 edge + percent
        # change vs daily average
        from mivaa_pdf_extractor_spark.operators import (
            mention_curation as mcu)
        return mcu.compute_velocity(
            mcu.synth_velocity_stats(_docs(spark, sf_dir)))
    q["mention_velocity"] = mention_velocity

    # --- spec-vision page resolution + result shaping (operators/
    # spec_vision.py; reference product_spec_vision_extractor.py) ---

    def spec_page_resolve(spark, sf_dir):
        # the folio-bug fix ladder: accent-folded name scan over the
        # raw text layer, layout-cache fallback, then the bounded
        # numeric page_range conversion — per-doc equi-join + ranks
        from mivaa_pdf_extractor_spark.operators import (
            spec_vision as sv)
        d = _docs(spark, sf_dir)
        return sv.resolve_product_pages(sv.synth_spec_products(d),
                                        sv.synth_spec_pages(d))
    q["spec_page_resolve"] = spec_page_resolve

    def spec_result_merge(spark, sf_dir):
        # field-by-field first non-empty scalar + unique-ordered list
        # union across page extractions
        from mivaa_pdf_extractor_spark.operators import (
            spec_vision as sv)
        out = sv.select_best_spec(
            sv.synth_spec_results(_docs(spark, sf_dir)))
        # arrays stringify asymmetrically through the compare harness —
        # flatten at the contract boundary only
        return out.select("product_id", "field", "value",
                          F.array_join(F.col("merged"), "|")
                           .alias("merged_str"))
    q["spec_result_merge"] = spec_result_merge

    def spec_metadata_map(spark, sf_dir):
        # flat->nested section mapper with the three presence gates
        # (truthy vs is-not-None vs not-in-(None,[],'')) and the
        # nesting renames
        from mivaa_pdf_extractor_spark.operators import (
            spec_vision as sv)
        return sv.map_specs_to_metadata(
            sv.synth_spec_fields(_docs(spark, sf_dir)))
    q["spec_metadata_map"] = spec_metadata_map

    # --- request/response validation gates (operators/
    # validation_gate.py; reference app/middleware/validation.py) ---

    def request_security_gate(spark, sf_dir):
        # blocked-pattern scan over keys + string values, depth-at-
        # entry guard, array-length cap — per-request boolean rollup
        from mivaa_pdf_extractor_spark.operators import (
            validation_gate as vg)
        return vg.security_gate(
            vg.synth_json_nodes(_docs(spark, sf_dir)))
    q["request_security_gate"] = request_security_gate

    def payload_sanitize(spark, sf_dir):
        # sensitive-key masking + anchored base64 / lowercase-hex
        # leaf masking — map-only
        from mivaa_pdf_extractor_spark.operators import (
            validation_gate as vg)
        return vg.sanitize_nodes(
            vg.synth_string_leaves(_docs(spark, sf_dir)))
    q["payload_sanitize"] = payload_sanitize

    def response_security_flags(spark, sf_dir):
        # sensitive-content battery, JSON-gated XSS battery, present-
        # header value checks, first-prefix content-type ladder
        from mivaa_pdf_extractor_spark.operators import (
            validation_gate as vg)
        return vg.response_security_flags(
            vg.synth_responses(_docs(spark, sf_dir)))
    q["response_security_flags"] = response_security_flags

    # --- job progress-tracker rollup (operators/progress.py;
    # reference progress_tracker.py) ---

    def job_progress_rollup_q(spark, sf_dir):
        # per-event counters (no per-page guard — a page completed
        # after a fail counts in BOTH; pct can exceed 100, unclamped),
        # last-writer-wins stage/override, int()-truncated effective pct
        from mivaa_pdf_extractor_spark.operators import progress as pg
        d = _docs(spark, sf_dir)
        return pg.job_progress_rollup(pg.synth_progress_events(d),
                                      pg.synth_progress_jobs(d))
    q["job_progress_rollup"] = job_progress_rollup_q

    def product_progress_fold_q(spark, sf_dir):
        # state-guarded event fold: failed/init_existing open segments
        # unconditionally, stage/stage_complete no-op in terminal
        # state, complete guards only !=failed and REPLACES metrics
        from mivaa_pdf_extractor_spark.operators import (
            product_progress as pp)
        return pp.fold_product_progress(
            pp.synth_product_events(_docs(spark, sf_dir)))
    q["product_progress_fold"] = product_progress_fold_q

    def job_product_summary_q(spark, sf_dir):
        # per-job status counts + completion pct over the folded rows
        from mivaa_pdf_extractor_spark.operators import (
            product_progress as pp)
        return pp.job_product_summary(pp.fold_product_progress(
            pp.synth_product_events(_docs(spark, sf_dir))))
    q["job_product_summary"] = job_product_summary_q

    def job_page_statuses_q(spark, sf_dir):
        # 1..total ledger with last-event status; stage set only by
        # complete/fail, error_message by fail/skip (never cleared)
        from mivaa_pdf_extractor_spark.operators import progress as pg
        d = _docs(spark, sf_dir)
        return pg.job_page_statuses(pg.synth_progress_events(d),
                                    pg.synth_progress_jobs(d))
    q["job_page_statuses"] = job_page_statuses_q

    # ── catalog knowledge / legend extraction folds ────────────────
    def _ckb_knowledge(spark, sf_dir):
        from mivaa_pdf_extractor_spark.operators import catalog_kb as kb
        docs = kb.synth_knowledge_docs(_docs(spark, sf_dir))
        scan = kb.knowledge_scan_pages(docs)
        vision = kb.synth_knowledge_vision(scan)
        return kb, scan, vision

    def catalog_knowledge_pages_q(spark, sf_dir):
        # v1 tail-page scan: min(10, max(1, pc//4)) pages, status
        # ladder, strip-first title fallback (1-based page), key_points
        # summary, 9-entry relationship map, whitespace-content pin
        kb, scan, vision = _ckb_knowledge(spark, sf_dir)
        out = kb.knowledge_page_outcomes(scan, vision)
        return out.select(
            "doc_id", F.col("page_idx").cast("long").alias("page_idx"),
            "status", "page_type", "title", "content", "summary",
            "relationship_type",
            F.col("attach_count").cast("long").alias("attach_count"))
    q["catalog_knowledge_pages"] = catalog_knowledge_pages_q

    def catalog_knowledge_certs_q(spark, sf_dir):
        # catalog-wide cert set: collected from every parsed page
        # regardless of page_type, page order, first-wins on the
        # space/hyphen-stripped lowercase norm; empty NORMS survive
        kb, scan, vision = _ckb_knowledge(spark, sf_dir)
        return kb.collect_knowledge_certs(scan, vision)
    q["catalog_knowledge_certs"] = catalog_knowledge_certs_q

    def knowledge_cert_propagate_q(spark, sf_dir):
        # v1 merge: existing list kept VERBATIM (dups survive), unseen
        # catalog certs appended in order, source 'catalog_knowledge'
        kb, scan, vision = _ckb_knowledge(spark, sf_dir)
        certs = kb.collect_knowledge_certs(scan, vision)
        prods = kb.synth_products(_docs(spark, sf_dir))
        return kb.propagate_certs(
            prods, certs, source_label="catalog_knowledge",
            rededupe=False)
    q["knowledge_cert_propagate"] = knowledge_cert_propagate_q

    def _ckb_legend(spark, sf_dir):
        from mivaa_pdf_extractor_spark.core.cache import track
        from mivaa_pdf_extractor_spark.operators import catalog_kb as kb
        docs = kb.synth_legend_docs(_docs(spark, sf_dir))
        # round 6: the page plan feeds the extractor AND both synth
        # sides of its joins — persist it once instead of re-running
        # the plan ladder three times per query
        plan = track(kb.legend_page_plan(docs).persist())
        ext = kb.extract_legend_pages(plan, kb.synth_legend_vision(plan),
                                      kb.synth_legend_renders(plan))
        return kb, ext

    def catalog_legend_extract_q(spark, sf_dir):
        # v2 plan + resolution: idempotent skip, last-12 unknown
        # fallback, no-prompt/empty-pages skips, best-prompt ladder
        # (strictly-greater score, dict-order ties, >=3 gate)
        kb, ext = _ckb_legend(spark, sf_dir)
        return ext.select(
            "doc_id", F.col("seq").cast("long").alias("seq"),
            "legend_type",
            F.col("page_idx").cast("long").alias("page_idx"),
            "status", "resolved_type", "title", "content_markdown",
            "applies_globally")
    q["catalog_legend_extract"] = catalog_legend_extract_q

    def legend_cert_propagate_q(spark, sf_dir):
        # v2 merge: _dedupe_norm over existing+catalog together —
        # existing dups collapse, entries re-strip; icons-global codes
        # included; source 'catalog_legend', confidence 0.9
        kb, ext = _ckb_legend(spark, sf_dir)
        certs = kb.collect_legend_certs(ext)
        prods = kb.synth_products(_docs(spark, sf_dir))
        return kb.propagate_certs(
            prods, certs, source_label="catalog_legend", rededupe=True)
    q["legend_cert_propagate"] = legend_cert_propagate_q

    def catalog_legend_kb_docs_q(spark, sf_dir):
        # one kb_doc per extracted legend with non-empty STRIPPED
        # markdown; or-before-strip title pin; summary content[:300]
        kb, ext = _ckb_legend(spark, sf_dir)
        d = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc"))
        counts = d.select(
            F.col("doc").alias("doc_id"),
            (F.col("doc") % 7).cast("int").alias("n_products"))
        out = kb.legend_kb_docs(ext, counts)
        return out.select(
            "doc_id", F.col("seq").cast("long").alias("seq"),
            F.col("source_page_index").cast("long")
            .alias("source_page_index"),
            "legend_type", "title", "content", "summary",
            "relationship_type",
            F.col("attach_count").cast("long").alias("attach_count"))
    q["catalog_legend_kb_docs"] = catalog_legend_kb_docs_q

    # ── input-validation framework folds ───────────────────────────
    def security_scan_violations_q(spark, sf_dir):
        # per (string, pattern) violation rows: findall count + first
        # 5 matches, (?is) flags, 10-pattern table
        from mivaa_pdf_extractor_spark.operators import (
            input_validation as iv)
        return iv.scan_string_threats(
            iv.synth_security_strings(_docs(spark, sf_dir)))
    q["security_scan_violations"] = security_scan_violations_q

    def security_sanitize_q(spark, sf_dir):
        # the per-pattern re-escape cascade (& replaced LAST, runs for
        # every pattern regardless of match) + aggressive sub chain
        from mivaa_pdf_extractor_spark.operators import (
            input_validation as iv)
        return iv.sanitize_strings(
            iv.synth_security_strings(_docs(spark, sf_dir)))
    q["security_sanitize"] = security_sanitize_q

    def json_structure_validate_q(spark, sf_dir):
        # depth-first then pre-order array violations, '; '-joined
        # JSONStructureError message, default 10/1000 limits
        from mivaa_pdf_extractor_spark.operators import (
            input_validation as iv)
        return iv.validate_structure(
            iv.synth_structure_nodes(_docs(spark, sf_dir)), 10, 1000)
    q["json_structure_validate"] = json_structure_validate_q

    def schema_registry_lookup_q(spark, sf_dir):
        # exact-dict (last-write wins, disabled falls through) →
        # wildcard exact → registration-order scan (priority IGNORED)
        from mivaa_pdf_extractor_spark.operators import (
            input_validation as iv)
        return iv.registry_lookup(
            iv.synth_registrations(spark),
            iv.synth_registry_requests(_docs(spark, sf_dir)))
    q["schema_registry_lookup"] = schema_registry_lookup_q

    def validation_profiles_q(spark, sf_dir):
        # pinned default/production/development profile constants
        from mivaa_pdf_extractor_spark.operators import (
            input_validation as iv)
        return iv.validation_profiles(spark)
    q["validation_profiles"] = validation_profiles_q

    def validation_error_responses_q(spark, sf_dir):
        # pydantic/http/generic/typed handler ladder: type mapping,
        # VALIDATION_* codes, severity pins, [:497]+'...' truncation
        from mivaa_pdf_extractor_spark.operators import (
            input_validation as iv)
        return iv.error_responses(
            iv.synth_error_events(_docs(spark, sf_dir)))
    q["validation_error_responses"] = validation_error_responses_q

    # ── performance-monitor folds ──────────────────────────────────
    def perf_retained_window_q(spark, sf_dir):
        # collector trim replayed in closed form: trims at 1001 then
        # every 501 appends, window = last N - 501*k values
        from mivaa_pdf_extractor_spark.operators import (
            perf_monitor as pm)
        return pm.retained_window(
            pm.synth_metric_values(_docs(spark, sf_dir)))
    q["perf_retained_window"] = perf_retained_window_q

    def perf_aggregated_stats_q(spark, sf_dir):
        # count/min/max/avg over the retained window + the pinned
        # int(p/100*len) index percentile (p50 of [1,2,3,4] is 3)
        from mivaa_pdf_extractor_spark.operators import (
            perf_monitor as pm)
        return pm.aggregated_stats(
            pm.synth_metric_values(_docs(spark, sf_dir)))
    q["perf_aggregated_stats"] = perf_aggregated_stats_q

    def perf_threshold_alerts_q(spark, sf_dir):
        # warning/critical ladder + 300s cooldown keyed per
        # (metric, level); disabled/missing thresholds skip
        from mivaa_pdf_extractor_spark.operators import (
            perf_monitor as pm)
        return pm.threshold_alerts(
            pm.synth_alert_metrics(_docs(spark, sf_dir)),
            pm.synth_alert_thresholds(spark))
    q["perf_threshold_alerts"] = perf_threshold_alerts_q

    def perf_analysis_q(spark, sf_dir):
        # optimizer fold: health 100 -20/-15/-10, pinned messages,
        # absent metrics contribute nothing
        from mivaa_pdf_extractor_spark.operators import (
            perf_monitor as pm)
        return pm.analyze_performance(
            pm.synth_snapshot_stats(_docs(spark, sf_dir)))
    q["perf_analysis"] = perf_analysis_q

    def perf_slow_operations_q(spark, sf_dir):
        # operation.* stats with p95 > 1000, ranked by p95 desc
        from mivaa_pdf_extractor_spark.operators import (
            perf_monitor as pm)
        return pm.slow_operations(pm.aggregated_stats(
            pm.synth_metric_values(_docs(spark, sf_dir))))
    q["perf_slow_operations"] = perf_slow_operations_q

    # ── PaddleOCR attempt ladder + GPU billing ─────────────────────
    def ocr_attempt_ladder_q(spark, sf_dir):
        # 3-attempt fold: config fail-fast on 401/403/404, retry on
        # http/no-regions/all-dropped, {"regions": []} IS a success
        from mivaa_pdf_extractor_spark.operators import (
            ocr_attempts as oa)
        return oa.attempt_metrics(
            oa.synth_attempts(_docs(spark, sf_dir)))
    q["ocr_attempt_ladder"] = ocr_attempt_ladder_q

    def ocr_call_summary_q(spark, sf_dir):
        # disabled/resume pre-gates + first-terminal verdict
        from mivaa_pdf_extractor_spark.operators import (
            ocr_attempts as oa)
        return oa.call_summary(
            oa.synth_attempts(_docs(spark, sf_dir)))
    q["ocr_call_summary"] = ocr_call_summary_q

    def ocr_gpu_cost_q(spark, sf_dir):
        # per-attempt GPU-seconds billing: max(ms/1000, 0.001) *
        # $1/3600, no markup, credits = $ * 100; failures billed too
        from mivaa_pdf_extractor_spark.operators import (
            ocr_attempts as oa)
        return oa.gpu_cost_rows(
            oa.synth_attempts(_docs(spark, sf_dir)))
    q["ocr_gpu_cost"] = ocr_gpu_cost_q

    # ── per-unit / per-generation / firecrawl billing ──────────────
    def external_unit_cost_q(spark, sf_dir):
        # 14-service per-unit table, 1.5 markup, credits = $*100,
        # pinned unknown-service message with the list repr
        from mivaa_pdf_extractor_spark.operators import (
            unit_billing as ub)
        return ub.external_service_cost(
            ub.synth_external_events(_docs(spark, sf_dir)))
    q["external_unit_cost"] = external_unit_cost_q

    def firecrawl_cost_q(spark, sf_dir):
        # credits_used * $0.001; unknown ops silently use the
        # scrape rate; 15 tokens per firecrawl credit
        from mivaa_pdf_extractor_spark.operators import (
            unit_billing as ub)
        return ub.firecrawl_cost(
            ub.synth_firecrawl_events(_docs(spark, sf_dir)))
    q["firecrawl_cost"] = firecrawl_cost_q

    def replicate_generation_cost_q(spark, sf_dir):
        # DB overlay wins only when cost truthy (0.0 falls through),
        # overlay markup `or 1.5`, unknown models error
        from mivaa_pdf_extractor_spark.operators import (
            unit_billing as ub)
        return ub.replicate_cost(
            ub.synth_replicate_events(_docs(spark, sf_dir)),
            ub.synth_replicate_overlay(spark))
    q["replicate_generation_cost"] = replicate_generation_cost_q

    # ── marketplace facet filter + Skroutz hit assembly ────────────
    def marketplace_adaptive_query_q(spark, sf_dir):
        # 6-branch brand/model/sku query ladder, upper+strip+or-None
        from mivaa_pdf_extractor_spark.operators import (
            marketplace_facets as mf)
        return mf.adaptive_query(
            mf.synth_adaptive_requests(_docs(spark, sf_dir)))
    q["marketplace_adaptive_query"] = marketplace_adaptive_query_q

    def marketplace_facet_match_q(spark, sf_dir):
        # sku-required haystack check (separator-only tokens pass
        # vacuously), 8-family type synonyms, unknown-type permissive
        from mivaa_pdf_extractor_spark.operators import (
            marketplace_facets as mf)
        return mf.facet_match(
            mf.synth_facet_cands(_docs(spark, sf_dir)))
    q["marketplace_facet_match"] = marketplace_facet_match_q

    def skroutz_decision_q(spark, sf_dir):
        # not_found/no_product_url/facet_mismatch/fanout/
        # fallback_single/dropped_implausible ladder
        from mivaa_pdf_extractor_spark.operators import (
            marketplace_facets as mf)
        d = _docs(spark, sf_dir)
        return mf.skroutz_decisions(mf.synth_skroutz_search(d),
                                    mf.synth_skroutz_merchants(d))
    q["skroutz_decision"] = skroutz_decision_q

    def skroutz_hit_assembly_q(spark, sf_dir):
        # fanout PriceHits (availability token ladder, [:max(limit,1)]
        # slice) + the single-hit fallback with the pinned notes
        from mivaa_pdf_extractor_spark.operators import (
            marketplace_facets as mf)
        d = _docs(spark, sf_dir)
        return mf.skroutz_hits(mf.synth_skroutz_search(d),
                               mf.synth_skroutz_merchants(d))
    q["skroutz_hit_assembly"] = skroutz_hit_assembly_q

    # ── search-prompt folds ────────────────────────────────────────
    def search_simple_enhancement_q(spark, sf_dir):
        # first keyword→expansion mapping line wins, quote/dash strip
        # chain, empty keyword matches everything
        from mivaa_pdf_extractor_spark.operators import (
            search_prompts as sp)
        return sp.simple_enhancement(
            sp.synth_enhance_reqs(_docs(spark, sf_dir)))
    q["search_simple_enhancement"] = search_simple_enhancement_q

    def search_simple_formatting_q(spark, sf_dir):
        # availability → (in_stock, score) desc; elif price asc with
        # 999999 default; stable ties
        from mivaa_pdf_extractor_spark.operators import (
            search_prompts as sp)
        return sp.simple_formatting(
            sp.synth_format_rows(_docs(spark, sf_dir)))
    q["search_simple_formatting"] = search_simple_formatting_q

    def search_simple_filtering_q(spark, sf_dir):
        # prompt-gated out_of_stock / discontinued drops
        from mivaa_pdf_extractor_spark.operators import (
            search_prompts as sp)
        return sp.simple_filtering(
            sp.synth_filter_rows(_docs(spark, sf_dir)))
    q["search_simple_filtering"] = search_simple_filtering_q

    def search_llm_reorder_q(spark, sf_dir):
        # order-list replay: negative wrap + double-emission pin,
        # unmentioned tail, null/IndexError fallback
        from mivaa_pdf_extractor_spark.operators import (
            search_prompts as sp)
        return sp.llm_reorder(
            sp.synth_order_reqs(_docs(spark, sf_dir), key="order"))
    q["search_llm_reorder"] = search_llm_reorder_q

    def search_llm_filter_keep_q(spark, sf_dir):
        # keep-list replay with the same negative wrap
        from mivaa_pdf_extractor_spark.operators import (
            search_prompts as sp)
        return sp.llm_filter_keep(
            sp.synth_order_reqs(_docs(spark, sf_dir), key="keep"))
    q["search_llm_filter_keep"] = search_llm_filter_keep_q

    def search_llm_enrich_q(spark, sf_dir):
        # batch-of-10 local-index enrichment merge
        from mivaa_pdf_extractor_spark.operators import (
            search_prompts as sp)
        d = _docs(spark, sf_dir)
        return sp.llm_enrich(
            sp.synth_result_rows(d).select("req_id", "idx", "name"),
            sp.synth_enrichments(d))
    q["search_llm_enrich"] = search_llm_enrich_q

    # ── mention-monitoring cost + credit folds ─────────────────────
    def mention_call_costs_q(spark, sf_dir):
        # 7-kind rate table, perplexity per-call+token, probe rate
        # ladder, #286 slug routing (only labs/serp honor the caller
        # slug), round-6 raw/billed, [:120]/[:240] truncations
        from mivaa_pdf_extractor_spark.operators import (
            mention_costs as mc)
        return mc.call_cost_rows(
            mc.synth_call_events(_docs(spark, sf_dir)))
    q["mention_call_costs"] = mention_call_costs_q

    def mention_credit_debit_q(spark, sf_dir):
        # zero-amount ops free, missing user / exception / empty RPC
        # reply fail, success=false row fails (audit #217 H3)
        from mivaa_pdf_extractor_spark.operators import (
            mention_costs as mc)
        return mc.credit_debit_fold(
            mc.synth_debit_reqs(_docs(spark, sf_dir)))
    q["mention_credit_debit"] = mention_credit_debit_q

    def mention_lifetime_cost_q(spark, sf_dir):
        # recompute_mention_cost: per-mention billed sum
        from mivaa_pdf_extractor_spark.operators import (
            mention_costs as mc)
        return mc.lifetime_cost(mc.call_cost_rows(
            mc.synth_call_events(_docs(spark, sf_dir))))
    q["mention_lifetime_cost"] = mention_lifetime_cost_q

    # ── segmentation post-processing ───────────────────────────────
    def segment_zone_parse_q(spark, sf_dir):
        # fence strip + truncation-recovering JSON array extraction +
        # zone validation (clamps, defaults, original-index labels)
        from mivaa_pdf_extractor_spark.operators import (
            segmentation as sg)
        return sg.parse_zone_responses(
            sg.synth_zone_responses(_docs(spark, sf_dir)))
    q["segment_zone_parse"] = segment_zone_parse_q

    def media_type_magic_q(spark, sf_dir):
        # base64-prefix magic bytes: jpeg/png/webp/gif, jpeg fallback
        from mivaa_pdf_extractor_spark.operators import (
            segmentation as sg)
        return sg.detect_media_type(
            sg.synth_media_images(_docs(spark, sf_dir)))
    q["media_type_magic"] = media_type_magic_q

    # ── product-enrichment property combiner ───────────────────────
    def product_enrich_properties_q(spark, sf_dir):
        # first-5 analyzed images, truthy-props gate (only those
        # contribute confidence), canonicalized set-dedupe, mean conf
        from mivaa_pdf_extractor_spark.operators import (
            enrich_props as ep)
        return ep.combine_material_properties(
            ep.synth_enrich_images(_docs(spark, sf_dir)))
    q["product_enrich_properties"] = product_enrich_properties_q

    def product_embedding_text_q(spark, sf_dir):
        # "{name}. {desc}. Materials: .. Colors: .." join form
        from mivaa_pdf_extractor_spark.operators import (
            enrich_props as ep)
        d = _docs(spark, sf_dir)
        props = ep.combine_material_properties(
            ep.synth_enrich_images(d))
        prods = (d.select((F.col("doc_id").cast("long") % 80)
                          .alias("product_id")).distinct()
                 .select("product_id",
                         F.concat(F.lit("Product "),
                                  F.col("product_id").cast("string"))
                         .alias("name"),
                         F.when(F.col("product_id") % 9 == 0,
                                F.lit(""))
                         .otherwise(F.concat(
                             F.lit("Desc "),
                             F.col("product_id").cast("string")))
                         .alias("description")))
        return ep.embedding_text(props, prods)
    q["product_embedding_text"] = product_embedding_text_q

    # ── LLM mention probes ─────────────────────────────────────────
    def probe_prompts_build_q(spark, sf_dir):
        # 4-template bank with ptype/brand/competitor interpolation
        from mivaa_pdf_extractor_spark.operators import (
            llm_probes as lp)
        return lp.build_probes(
            lp.synth_probe_subjects(_docs(spark, sf_dir)))
    q["probe_prompts_build"] = probe_prompts_build_q

    def probe_extract_deterministic_q(spark, sf_dir):
        # alias containment, first numbered-list rank, substring
        # sentiment ('top' in 'laptop' pin), competitors[:5]
        from mivaa_pdf_extractor_spark.operators import (
            llm_probes as lp)
        return lp.extract_deterministic(
            lp.synth_probe_responses(_docs(spark, sf_dir)))
    q["probe_extract_deterministic"] = probe_extract_deterministic_q

    def probe_snapshot_models_q(spark, sf_dir):
        # per-model probes/mentions; rank 0 dropped from positions
        from mivaa_pdf_extractor_spark.operators import (
            llm_probes as lp)
        return lp.snapshot_models(
            lp.synth_probe_rows(_docs(spark, sf_dir)))
    q["probe_snapshot_models"] = probe_snapshot_models_q

    def probe_snapshot_run_q(spark, sf_dir):
        # share-of-voice, avg position, top-10 competitors by count
        # desc with first-seen tie-break
        from mivaa_pdf_extractor_spark.operators import (
            llm_probes as lp)
        return lp.snapshot_run(
            lp.synth_probe_rows(_docs(spark, sf_dir)))
    q["probe_snapshot_run"] = probe_snapshot_run_q

    # ── Stage 3 image post-processing folds ────────────────────────
    def stage3_page_assign_q(spark, sf_dir):
        # spread-aware image->physical-page assignment: per-component
        # normalized-vs-points bbox heuristic, scene detection,
        # region-assisted + parity fallbacks (stage_3_images.py)
        from mivaa_pdf_extractor_spark.operators import (
            stage3_images as s3)
        d = _docs(spark, sf_dir)
        return s3.assign_image_pages(
            s3.synth_images(d), s3.synth_sheets(d),
            s3.synth_regions(d))
    q["stage3_page_assign"] = stage3_page_assign_q

    def stage3_ocr_gate_q(spark, sf_dir):
        # text-bearing OCR gate: full_render/photo/embedded-no-text
        # skips, local-path marker, exception/null/failed-method
        # attempt accounting, ''->NULL text
        from mivaa_pdf_extractor_spark.operators import (
            stage3_images as s3)
        return s3.phase3_ocr_gate(
            s3.synth_ocr_rows(_docs(spark, sf_dir)))
    q["stage3_ocr_gate"] = stage3_ocr_gate_q

    def stage3_ocr_summary_q(spark, sf_dir):
        # per-product attempted/succeeded/failed/skipped counts
        from mivaa_pdf_extractor_spark.operators import (
            stage3_images as s3)
        return s3.phase3_ocr_summary(
            s3.synth_ocr_rows(_docs(spark, sf_dir)))
    q["stage3_ocr_summary"] = stage3_ocr_summary_q

    def catalog_icon_stats_q(spark, sf_dir):
        # supplementary-page icon pre-pass stats: raised-vs-err
        # ladder, _physical_for inverted-map-min vs pdf_idx+1
        from mivaa_pdf_extractor_spark.operators import (
            stage3_images as s3)
        d = _docs(spark, sf_dir)
        return s3.catalog_icon_stats(
            s3.synth_icon_pages(d), s3.synth_icon_candidates(d))
    q["catalog_icon_stats"] = catalog_icon_stats_q

    # ── per-product pipeline folds (product_processor.py) ──────────
    def product_resume_decision_q(spark, sf_dir):
        # Fix E resume ladder: completed_empty re-runs, expected-vs-
        # DB-count verification, partial chunks DELETE vs partial
        # images REUSE+flag, whole-product skip ordering pins
        from mivaa_pdf_extractor_spark.operators import (
            stage4_product as s4)
        d = _docs(spark, sf_dir)
        return s4.resume_decision(
            s4.synth_tracker(d), s4.synth_history(d),
            s4.synth_db_state(d))
    q["product_resume_decision"] = product_resume_decision_q

    def stage4_chunk_rollup_q(spark, sf_dir):
        # structured_metadata rollup: list elements added RAW,
        # scalars STRIPPED; first non-blank studio in chunk order
        from pyspark.sql import functions as F
        from mivaa_pdf_extractor_spark.operators import (
            stage4_product as s4)
        r = s4.chunk_metadata_rollup(
            s4.synth_chunk_sm(_docs(spark, sf_dir)))
        return r.select(
            "product",
            *[F.array_join(F.col(c), "|").alias(c) for c in (
                "dimensions", "available_colors",
                "materials_mentioned", "key_features")],
            "studio_name")
    q["stage4_chunk_rollup"] = stage4_chunk_rollup_q

    def stage4_metadata_merge_q(spark, sf_dir):
        # deep merge: skip-empty, dict shallow-merge value-wins,
        # scalar-list set-union, extracted-wins vs chunk-loses
        from mivaa_pdf_extractor_spark.operators import (
            stage4_product as s4)
        d = _docs(spark, sf_dir)
        return s4.merge_product_metadata(
            s4.synth_existing_meta(d), s4.synth_extracted_meta(d),
            s4.chunk_metadata_rollup(s4.synth_chunk_sm(d)))
    q["stage4_metadata_merge"] = stage4_metadata_merge_q

    def product_stage_progress_q(spark, sf_dir):
        # clamp(int((100*(idx-1)+pct)/total)) — truncate then clamp
        from mivaa_pdf_extractor_spark.operators import (
            stage4_product as s4)
        return s4.stage_progress(
            s4.synth_progress_rows(_docs(spark, sf_dir)))
    q["product_stage_progress"] = product_stage_progress_q

    # ── vision-analysis serialization + embedding slots ────────────
    def va_legacy_coerce_q(spark, sf_dir):
        # legacy-dict coercion: error-envelope-first rejection, falsy
        # or-chains (empty values fall through), _as_list semantics
        # incl. the scalar-'' -> [''] pin, confidence default 0.85
        from pyspark.sql import functions as F
        from mivaa_pdf_extractor_spark.operators import (
            vision_embed as ve)
        c = ve.coerce_legacy_vision(
            ve.synth_legacy_vision(_docs(spark, sf_dir)))
        # arrays joined to strings for the oracle hash (NULL stays
        # NULL, [] joins to '' — the distinction is preserved)
        return c.select(
            "doc", "rejected", "material_type", "category",
            "subcategory",
            *[F.array_join(F.col(a), "|").alias(a) for a in (
                "colors", "textures", "applications",
                "detected_text")],
            "finish", "surface_pattern", "description", "style",
            "confidence")
    q["va_legacy_coerce"] = va_legacy_coerce_q

    def va_understanding_text_q(spark, sf_dir):
        # fixed-order serializer + sorted material-props suffix with
        # id/document_id/... key exclusions
        from mivaa_pdf_extractor_spark.operators import (
            vision_embed as ve)
        d = _docs(spark, sf_dir)
        return ve.understanding_text(
            ve.coerce_legacy_vision(ve.synth_legacy_vision(d)),
            ve.synth_material_props(d))
    q["va_understanding_text"] = va_understanding_text_q

    def va_aspect_texts_q(spark, sf_dir):
        # 4 aspect serializers: strip-filter joins, NULL = skip;
        # texture appends finish, style is style+pattern+applications
        from mivaa_pdf_extractor_spark.operators import (
            vision_embed as ve)
        return ve.aspect_texts(ve.coerce_legacy_vision(
            ve.synth_legacy_vision(_docs(spark, sf_dir))))
    q["va_aspect_texts"] = va_aspect_texts_q

    def va_embed_slots_q(spark, sf_dir):
        # generate_all_embeddings fold: 4 aspect keys land together
        # (None-valued keys COUNT toward produced), success=produced>0
        from mivaa_pdf_extractor_spark.operators import (
            vision_embed as ve)
        c = ve.coerce_legacy_vision(
            ve.synth_legacy_vision(_docs(spark, sf_dir)))
        return ve.embed_slot_fold(c, ve.aspect_texts(c))
    q["va_embed_slots"] = va_embed_slots_q

    # ── public-tools quota / cache / scan ladder ───────────────────
    def public_query_hash_q(spark, sf_dir):
        # normalize (lower+collapse+strip) + "type|query|CC" prehash;
        # sha256 stand-in hashed on both sides, sha1 pinned in pytest
        from mivaa_pdf_extractor_spark.operators import (
            public_tools as pt)
        return pt.query_hashes(
            pt.synth_hash_queries(_docs(spark, sf_dir))) \
            .drop("qhash_sha1")
    q["public_query_hash"] = public_query_hash_q

    def public_quota_check_q(spark, sf_dir):
        # success-only 24h count per user/ip key; no identity ->
        # exhausted with reset_at = now; reset = oldest success + 24h
        from mivaa_pdf_extractor_spark.operators import (
            public_tools as pt)
        d = _docs(spark, sf_dir)
        now_s = 1_700_000_000
        return pt.check_quota(pt.synth_quota_log(d, now_s),
                              pt.synth_quota_requests(d), now_s)
    q["public_quota_check"] = public_quota_check_q

    def public_market_stats_q(spark, sf_dir):
        # priced-only stats; upper-middle odd median; modal currency
        # with canonicalized smallest-tie
        from mivaa_pdf_extractor_spark.operators import (
            public_tools as pt)
        return pt.market_stats(
            pt.synth_price_hits(_docs(spark, sf_dir)))
    q["public_market_stats"] = public_market_stats_q

    def public_scan_ladder_q(spark, sf_dir):
        # captcha -> credits/quota -> cache -> debit-before-upstream
        # -> refund arms; not-success resets balance_after (pin)
        from mivaa_pdf_extractor_spark.operators import (
            public_tools as pt)
        return pt.price_scan_ladder(
            pt.synth_scan_requests(_docs(spark, sf_dir)))
    q["public_scan_ladder"] = public_scan_ladder_q

    def mention_facets_build_q(spark, sf_dir):
        # label strip, alias strip-filter, must_have_tokens =
        # [label]+aliases, language pinned 'en'
        from mivaa_pdf_extractor_spark.operators import (
            public_tools as pt)
        return pt.mention_facets(
            pt.synth_mention_subjects(_docs(spark, sf_dir)))
    q["mention_facets_build"] = mention_facets_build_q

    def mention_hit_shape_q(spark, sf_dir):
        # first-20 cap, excerpt[:280] with ''-excerpt -> NULL pin
        from mivaa_pdf_extractor_spark.operators import (
            public_tools as pt)
        return pt.mention_hit_shape(
            pt.synth_mention_hits(_docs(spark, sf_dir)))
    q["mention_hit_shape"] = mention_hit_shape_q

    def mention_top_outlets_q(spark, sf_dir):
        # top-5 domains, count desc, first-seen stable tie-break
        from mivaa_pdf_extractor_spark.operators import (
            public_tools as pt)
        return pt.mention_top_outlets(
            pt.synth_mention_hits(_docs(spark, sf_dir)))
    q["mention_top_outlets"] = mention_top_outlets_q

    # ── vecs multi-collection search fusion ────────────────────────
    def vecs_multi_fusion_q(spark, sf_dir):
        # image_only_weights renormalization, has_understanding needs
        # RESULTS (failed specialized keeps weight — pin), 0.0 score
        # defaults, combined sort + limit-20 trim
        from mivaa_pdf_extractor_spark.operators import (
            vecs_fusion as vf)
        d = _docs(spark, sf_dir)
        return vf.fuse_collections(vf.synth_results(d),
                                   vf.synth_channels(d))
    q["vecs_multi_fusion"] = vecs_multi_fusion_q

    def vecs_collection_stats_q(spark, sf_dir):
        # per-channel result counts incl. zero rows for failed/
        # unqueried channels
        from mivaa_pdf_extractor_spark.operators import (
            vecs_fusion as vf)
        d = _docs(spark, sf_dir)
        return vf.collection_stats(vf.synth_results(d),
                                   vf.synth_channels(d))
    q["vecs_collection_stats"] = vecs_collection_stats_q

    # ── image-analysis property extraction + quality scoring ──────
    def image_props_extract_q(spark, sf_dir):
        # vision fields behind success+analysis gate, falsy chains
        # into legacy properties.*, claude fill-only-falsy + max-conf
        from mivaa_pdf_extractor_spark.operators import (
            image_analysis as ia)
        return ia.extract_material_properties(
            ia.synth_analysis_rows(_docs(spark, sf_dir)))
    q["image_props_extract"] = image_props_extract_q

    def image_props_vision_only_q(spark, sf_dir):
        # gate ladder: analysis, ELIF no-error reads top level (pin)
        from mivaa_pdf_extractor_spark.operators import (
            image_analysis as ia)
        return ia.extract_vision_only(
            ia.synth_analysis_rows(_docs(spark, sf_dir)))
    q["image_props_vision_only"] = image_props_vision_only_q

    def image_quality_unified_q(spark, sf_dir):
        # zero components leave the denominator; props weight always
        # counted; invalid SLIG excluded not penalized; 0.5 fallback
        from mivaa_pdf_extractor_spark.operators import (
            image_analysis as ia)
        rows = ia.synth_analysis_rows(_docs(spark, sf_dir))
        return ia.quality_score_unified(
            rows, ia.extract_material_properties(rows))
    q["image_quality_unified"] = image_quality_unified_q

    # ── document extraction-status rollup ──────────────────────────
    def product_field_coverage_q(spark, sf_dir):
        # _count_populated skips _-sections + catalog_layout; present-
        # but-empty critical field is missing; pct = min(100,
        # int(n/40*100)); '' name -> '?'; source histogram w/ unknown
        from mivaa_pdf_extractor_spark.operators import (
            extraction_status as es)
        d = _docs(spark, sf_dir)
        return es.product_coverage(es.synth_status_products(d),
                                   es.synth_status_entries(d))
    q["product_field_coverage"] = product_field_coverage_q

    def doc_extraction_status_q(spark, sf_dir):
        # doc rollup: avg pct round 1 (0.0 on no products), bucket
        # histogram, ordered issue ladder incl. legend_pages==0 firing
        # when layer 1 never ran; legend types/certs empty w/o layer 2
        from mivaa_pdf_extractor_spark.operators import (
            extraction_status as es)
        d = _docs(spark, sf_dir)
        cov = es.product_coverage(es.synth_status_products(d),
                                  es.synth_status_entries(d))
        return es.document_status(es.synth_status_docs(d), cov)
    q["doc_extraction_status"] = doc_extraction_status_q

    # ── Stage-0 product-creation idempotency/quota/repair ladder ───
    def stage0_product_ledger_q(spark, sf_dir):
        # _idem_key strip/lower + int-parse-or-None; DB map first-wins
        # skipping falsy keys; reuse passes at zero quota; skipped keys
        # NOT cached (dups re-skip); same-run cache stores falsy keys;
        # repair-on-reuse popped once per db row
        from mivaa_pdf_extractor_spark.operators import (
            stage0_products as s0)
        d = _docs(spark, sf_dir)
        return s0.fold_stage0_creation(
            s0.synth_discovered(d), s0.synth_existing(d),
            s0.synth_quotas(d))
    q["stage0_product_ledger"] = stage0_product_ledger_q

    def stage0_creation_summary_q(spark, sf_dir):
        # checkpoint counters: ready = reused+created+same-run (skips
        # continue before the append); explicit skipped-quota marker
        from mivaa_pdf_extractor_spark.operators import (
            stage0_products as s0)
        d = _docs(spark, sf_dir)
        return s0.stage0_creation_summary(s0.fold_stage0_creation(
            s0.synth_discovered(d), s0.synth_existing(d),
            s0.synth_quotas(d)))
    q["stage0_creation_summary"] = stage0_creation_summary_q

    def stage2_chunk_plan_q(spark, sf_dir):
        # Stage-2 per-product plan: layout-source priority ladder,
        # NameError-pinned failed-page count, pages_chunked = ALL pages
        # on success, failed/no_text split (stage_2_chunking.py:52-331)
        from mivaa_pdf_extractor_spark.operators import stage2_plan as s2
        ev = _events(spark, sf_dir)
        return s2.chunk_plan(s2.synth_pages(ev), s2.synth_products(ev))
    q["stage2_chunk_plan"] = stage2_chunk_plan_q

    def stage2_page_texts_q(spark, sf_dir):
        # per-page text resolution: page_text_from_layout_regions join
        # (stable reading_order sort, None → 1e6), per-page fallback
        # failure isolation, doc-open failure losing cached text
        # (stage_2_chunking.py:199-299; stage_1_layout_precompute.py:
        # 728-745)
        from mivaa_pdf_extractor_spark.operators import stage2_plan as s2
        return s2.page_texts(s2.synth_pages(_events(spark, sf_dir)))
    q["stage2_page_texts"] = stage2_page_texts_q

    def auth_path_gate_q(spark, sf_dir):
        # OPTIONS bypass, exact-root match (pentest #250 A1), prefix
        # exclusion over the pinned 37-entry list (jwt_auth.py:79-163,
        # 268-278)
        from mivaa_pdf_extractor_spark.operators import auth_gate as ag
        return ag.path_gate(ag.synth_requests(_events(spark, sf_dir)))
    q["auth_path_gate"] = auth_path_gate_q

    def auth_token_resolve_q(spark, sf_dir):
        # bearer/cookie extraction (double-space pin), simple-key
        # classification + no-JWT-fallback pin, supabase→api→mivaa
        # ladder with crypto verdicts as flags (jwt_auth.py:279-372,
        # 521-624)
        from mivaa_pdf_extractor_spark.operators import auth_gate as ag
        return ag.token_resolve(ag.synth_requests(_events(spark, sf_dir)))
    q["auth_token_resolve"] = auth_token_resolve_q

    def auth_workspace_context_q(spark, sf_dir):
        # workspace-context fold: role ValueError → member, test-user
        # bypass, material-platform always-access, X-Workspace-Id
        # override (jwt_auth.py:219-231, 625-717)
        from mivaa_pdf_extractor_spark.operators import auth_gate as ag
        return ag.workspace_context(
            ag.synth_claims(_events(spark, sf_dir)))
    q["auth_workspace_context"] = auth_workspace_context_q

    def job_status_admin_q(spark, sf_dir):
        # DB-vs-memory comparison (.get present-NULL pin), sync-failure
        # branch, delete preserve_outputs mode
        # (management_routes.py:59-193,551-570)
        from mivaa_pdf_extractor_spark.operators import job_admin as ja
        return ja.status_fold(ja.synth_status_jobs(_events(spark, sf_dir)))
    q["job_status_admin"] = job_status_admin_q

    def job_restart_plan_q(spark, sf_dir):
        # restart ladder: checkpoint → verify → job → doc → /tmp
        # replacement flows through → url-vs-bucket split, .get resume
        # params (management_routes.py:221-436)
        from mivaa_pdf_extractor_spark.operators import job_admin as ja
        return ja.restart_plan(
            ja.synth_restart_jobs(_events(spark, sf_dir)))
    q["job_restart_plan"] = job_restart_plan_q

    def job_list_page_q(spark, sf_dir):
        # sort 'field:direction' parse (case pins, two-colon ValueError),
        # exact status filter, inclusive range pagination
        # (management_routes.py:446-505)
        from mivaa_pdf_extractor_spark.operators import job_admin as ja
        ev = _events(spark, sf_dir)
        return ja.list_page(ja.synth_list_requests(ev),
                            ja.synth_list_jobs(ev))
    q["job_list_page"] = job_list_page_q

    def search_enhance_images_q(spark, sf_dir):
        # per-result top-10 image join: limit BEFORE the image gate,
        # dead .get defaults (stored NULLs pass through), falsy-id
        # passthrough (query_routes.py:167-254)
        from mivaa_pdf_extractor_spark.operators import (
            search_enhance as se)
        ev = _events(spark, sf_dir)
        return se.enhance_images(se.synth_results(ev),
                                 se.synth_assocs(ev))
    q["search_enhance_images"] = search_enhance_images_q

    def rag_ws_authz_q(spark, sf_dir):
        # service/test trust shapes, sub-or-user_id falsy-or identity,
        # check-error vs not-member 403 split (query_routes.py:41-92)
        from mivaa_pdf_extractor_spark.operators import (
            search_enhance as se)
        return se.ws_authz(se.synth_authz_calls(_events(spark, sf_dir)))
    q["rag_ws_authz"] = rag_ws_authz_q

    def kb_doc_upsert_q(spark, sf_dir):
        # upsert keyed (ws, title, category) with NULL-category
        # is-null match, content-changed re-embed gate, embedding
        # outcome ladder (knowledge_base.py:132-248)
        from mivaa_pdf_extractor_spark.operators import kb_docs as kbo
        ev = _events(spark, sf_dir)
        return kbo.upsert_plan(kbo.synth_upsert_requests(ev),
                               kbo.synth_existing(ev))
    q["kb_doc_upsert"] = kb_doc_upsert_q

    def kb_search_validate_q(spark, sf_dir):
        # RPC-row validation fold: LIVE .get defaults on absent keys,
        # present-NULL passthrough (knowledge_base.py:823-852)
        from mivaa_pdf_extractor_spark.operators import kb_docs as kbo
        return kbo.validate_results(
            kbo.synth_rpc_rows(_events(spark, sf_dir)))
    q["kb_search_validate"] = kb_search_validate_q

    def kb_rpc_args_q(spark, sf_dir):
        # truthy-gated optional RPC filters, semantic-vs-text RPC pick
        # (knowledge_base.py:776-815)
        from mivaa_pdf_extractor_spark.operators import kb_docs as kbo
        return kbo.rpc_args(kbo.synth_search_requests(_events(spark,
                                                              sf_dir)))
    q["kb_rpc_args"] = kb_rpc_args_q

    def stage_timeouts_q(spark, sf_dir):
        # progressive per-stage timeout formulas + memory-pressure
        # multiplier tiers (timeout_guard.py:16-71,217-359)
        from mivaa_pdf_extractor_spark.operators import ops_guard as ogd
        return ogd.stage_timeouts(
            ogd.synth_timeout_jobs(_events(spark, sf_dir)))
    q["stage_timeouts"] = stage_timeouts_q

    def retry_schedule_q(spark, sf_dir):
        # exponential-backoff sleep fold: cap AFTER each multiply,
        # first sleep uncapped (retry_helper.py:23-100)
        from mivaa_pdf_extractor_spark.operators import ops_guard as ogd
        return ogd.retry_schedule(
            ogd.synth_retry_calls(_events(spark, sf_dir)))
    q["retry_schedule"] = retry_schedule_q

    def retry_classify_q(spark, sf_dir):
        # DNS-then-connection substring tiers + httpx type verdict
        # (retry_helper.py:102-178)
        from mivaa_pdf_extractor_spark.operators import ops_guard as ogd
        return ogd.classify_errors(
            ogd.synth_errors(_events(spark, sf_dir)))
    q["retry_classify"] = retry_classify_q

    def claude_payload_build_q(spark, sf_dir):
        # temperature prefix-drop gate, truthy system, extra OVERRIDES
        # base payload keys (claude_helper.py:60-160)
        from mivaa_pdf_extractor_spark.operators import llm_payload as lpd
        return lpd.payload_build(lpd.synth_calls(_events(spark, sf_dir)))
    q["claude_payload_build"] = claude_payload_build_q

    def claude_response_parse_q(spark, sf_dir):
        # block-type ABSENT-key default, LIVE `or 0` usage coercion,
        # text/tool folds (claude_helper.py:115-139)
        from mivaa_pdf_extractor_spark.operators import llm_payload as lpd
        return lpd.response_parse(
            lpd.synth_responses(_events(spark, sf_dir)))
    q["claude_response_parse"] = claude_response_parse_q

    def prompt_list_q(spark, sf_dir):
        # 'all'/''/NULL all mean "no filter"; prompt_text-or-system
        # falsy ladder; ABSENT-key is_custom/version defaults stay NULL
        # (admin_prompt_service.py:25-83)
        from mivaa_pdf_extractor_spark.operators import prompt_admin as pad
        return pad.list_prompts(pad.synth_prompts(_events(spark, sf_dir)),
                                pad.synth_combos(spark))
    q["prompt_list"] = prompt_list_q

    def prompt_update_resolve_q(spark, sf_dir):
        # type-agnostic active-row lookup (audit #217 H9 fix), version+1
        # vs insert-at-1, audit old_prompt reads LEGACY prompt_template
        # (admin_prompt_service.py:101-193)
        from mivaa_pdf_extractor_spark.operators import prompt_admin as pad
        return pad.resolve_updates(pad.synth_prompts(_events(spark, sf_dir)),
                                   pad.synth_updates(_events(spark, sf_dir)))
    q["prompt_update_resolve"] = prompt_update_resolve_q

    def prompt_history_top5_q(spark, sf_dir):
        # per-prompt change log, latest 5 (admin_prompt_service.py:194-212)
        from mivaa_pdf_extractor_spark.operators import prompt_admin as pad
        return pad.history_top5(pad.synth_history(_events(spark, sf_dir)))
    q["prompt_history_top5"] = prompt_history_top5_q

    def error_response_build_q(spark, sf_dir):
        # exception -> HTTP envelope: dict-order isinstance chain (base
        # 500 last), per-class to_dict detail shapes incl. the size_ratio
        # falsy gate and the validation-details override
        # (app/utils/exceptions.py:46-374)
        from mivaa_pdf_extractor_spark.operators import error_taxonomy as et
        return et.build_error_responses(
            et.synth_errors(_events(spark, sf_dir)))
    q["error_response_build"] = error_response_build_q

    def error_wrap_resolve_q(spark, sf_dir):
        # handle_extraction_errors: custom reraises unchanged, foreign
        # wraps into PDFExtractionError, reraise=False swallows
        # (app/utils/exceptions.py:414-456)
        from mivaa_pdf_extractor_spark.operators import error_taxonomy as et
        return et.resolve_wraps(et.synth_wrap_calls(_events(spark, sf_dir)))
    q["error_wrap_resolve"] = error_wrap_resolve_q

    def product_fanout_plan_q(spark, sf_dir):
        # sequential iff parallel disabled or <= 2 products; 600 s
        # default per-product timeout
        # (parallel_product_processor.py:120-163)
        from mivaa_pdf_extractor_spark.operators import product_fanout as pf
        return pf.fanout_plan(pf.synth_fanout_docs(_events(spark, sf_dir)))
    q["product_fanout_plan"] = product_fanout_plan_q

    def product_fanout_rollup_q(spark, sf_dir):
        # success-only metric sums; gather exceptions skip the failed
        # counter; ''-error failures emit no error row; link post-pass
        # (parallel_product_processor.py:212-373)
        from mivaa_pdf_extractor_spark.operators import product_fanout as pf
        ev = _events(spark, sf_dir)
        return pf.fanout_rollup(pf.synth_fanout_results(ev),
                                pf.synth_links(ev))
    q["product_fanout_rollup"] = product_fanout_rollup_q

    def product_failure_rows_q(spark, sf_dir):
        # product_{index}_{name spaces->underscores} id synthesis +
        # the pinned timeout message (parallel_product_processor.py:255-327)
        from mivaa_pdf_extractor_spark.operators import product_fanout as pf
        return pf.failure_rows(pf.synth_fanout_results(_events(spark,
                                                               sf_dir)))
    q["product_failure_rows"] = product_failure_rows_q

    def product_progress_ladder_q(spark, sf_dir):
        # progress = int((k/total)*70) + 15 after the k-th completion
        # (parallel_product_processor.py:229-233)
        from mivaa_pdf_extractor_spark.operators import product_fanout as pf
        return pf.progress_ladder(pf.synth_fanout_docs(_events(spark,
                                                               sf_dir)))
    q["product_progress_ladder"] = product_progress_ladder_q

    def health_status_rollup_q(spark, sf_dir):
        # /health per-service ladders + overall: cached-unhealthy and
        # HF endpoints never touch overall; rag exception only degrades;
        # storage's except is dead (app/main.py:1300-1778)
        from mivaa_pdf_extractor_spark.operators import health_rollup as hr
        return hr.health_status_rollup(
            hr.synth_health_snaps(_events(spark, sf_dir)))
    q["health_status_rollup"] = health_status_rollup_q

    def health_resource_gate_q(spark, sf_dir):
        # memory>85 / disk>90 degradation tiers + ', '-joined warnings
        # (app/main.py:598-640)
        from mivaa_pdf_extractor_spark.operators import health_rollup as hr
        return hr.resource_gate(
            hr.synth_resource_probes(_events(spark, sf_dir)))
    q["health_resource_gate"] = health_resource_gate_q

    def health_summary_counts_q(spark, sf_dir):
        # healthy counts only DICT results with status healthy — the
        # list-valued external_services entry can never count
        # (app/main.py:726-730)
        from mivaa_pdf_extractor_spark.operators import health_rollup as hr
        return hr.summary_counts(
            hr.synth_components(_events(spark, sf_dir)))
    q["health_summary_counts"] = health_summary_counts_q

    def exception_handler_dispatch_q(spark, sf_dir):
        # app-level handler dispatch: 503 material-kai, HTTP_{code}
        # envelope + Sentry routing ladder (401/403/404 silent), debug
        # gate on the 500 detail (app/main.py:1094-1193)
        from mivaa_pdf_extractor_spark.operators import error_taxonomy as et
        return et.handler_dispatch(et.synth_raised(_events(spark, sf_dir)))
    q["exception_handler_dispatch"] = exception_handler_dispatch_q

    def ocr_result_fold_q(spark, sf_dir):
        # failure tiers stamp different attempt counts; success conf
        # 0.85; no-text fires only when text.strip() AND blocks falsy
        # (ocr_service.py:207-305)
        from mivaa_pdf_extractor_spark.operators import ocr_agg as oa
        ev = _events(spark, sf_dir)
        return oa.paddle_result_fold(oa.synth_paddle_calls(ev),
                                     oa.synth_paddle_regions(ev))
    q["ocr_result_fold"] = ocr_result_fold_q

    def ocr_blocks_pixels_q(spark, sf_dir):
        # int() truncation on the products, width from the DIFFERENCE;
        # blank contents dropped first (ocr_service.py:283-296)
        from mivaa_pdf_extractor_spark.operators import ocr_agg as oa
        ev = _events(spark, sf_dir)
        return oa.blocks_pixels(oa.synth_paddle_calls(ev),
                                oa.synth_paddle_regions(ev))
    q["ocr_blocks_pixels"] = ocr_blocks_pixels_q

    def ocr_confidence_agg_q(spark, sf_dir):
        # inclusive >= threshold, zeroed empty envelope, no-strip join,
        # truthy-gated distinct methods (ocr_service.py:357-411)
        from mivaa_pdf_extractor_spark.operators import ocr_agg as oa
        return oa.confidence_agg(oa.synth_ocr_results(_events(spark,
                                                              sf_dir)))
    q["ocr_confidence_agg"] = ocr_confidence_agg_q

    def ocr_simple_text_q(spark, sf_dir):
        # strip-gated ' ' join (ocr_service.py:338-356)
        from mivaa_pdf_extractor_spark.operators import ocr_agg as oa
        return oa.simple_text(oa.synth_ocr_results(_events(spark, sf_dir)))
    q["ocr_simple_text"] = ocr_simple_text_q

    def ocr_icon_fragments_q(spark, sf_dir):
        # composed: result fold -> failed/empty gate -> per-block
        # fragments carrying the PARENT result confidence, no-block
        # fallback with NULL bbox (ocr_service.py:524-555)
        from mivaa_pdf_extractor_spark.operators import ocr_agg as oa
        ev = _events(spark, sf_dir)
        calls, regions = oa.synth_paddle_calls(ev), \
            oa.synth_paddle_regions(ev)
        return oa.icon_fragments(oa.paddle_result_fold(calls, regions),
                                 oa.blocks_pixels(calls, regions))
    q["ocr_icon_fragments"] = ocr_icon_fragments_q

    def agent_run_gate_q(spark, sf_dir):
        # empty MIVAA_API_KEY disables auth (pin); exact Bearer compare;
        # unknown type 422 with the registry list repr
        # (agent_routes.py:88-114)
        from mivaa_pdf_extractor_spark.operators import agent_enrich as ae
        return ae.run_gate(ae.synth_requests(_events(spark, sf_dir)))
    q["agent_run_gate"] = agent_run_gate_q

    def agent_batch_plan_q(spark, sf_dir):
        # input_data overrides config; min(batch, 200); NULL-description
        # / truthy category / image+untagged candidate gates, top-N by
        # created_at (agent_routes.py:219-238, :309-330)
        from mivaa_pdf_extractor_spark.operators import agent_enrich as ae
        ev = _events(spark, sf_dir)
        return ae.batch_plan(ae.synth_agent_runs(ev),
                             ae.synth_agent_products(ev))
    q["agent_batch_plan"] = agent_batch_plan_q

    def agent_fence_strip_q(spark, sf_dir):
        # lstrip("```json") is a CHARSET strip — "null" -> "ull" (the
        # reference's own bug, reproduced) (agent_routes.py:278-280)
        from mivaa_pdf_extractor_spark.operators import agent_enrich as ae
        return ae.fence_strip(ae.synth_responses(_events(spark, sf_dir)))
    q["agent_fence_strip"] = agent_fence_strip_q

    def agent_update_build_q(spark, sf_dir):
        # truthy-gated update fields, keywords->search_keywords rename,
        # counted only when non-empty (agent_routes.py:283-289,:365-371)
        from mivaa_pdf_extractor_spark.operators import agent_enrich as ae
        return ae.update_build(ae.synth_parsed(_events(spark, sf_dir)))
    q["agent_update_build"] = agent_update_build_q

    def agent_run_rollup_q(spark, sf_dir):
        # cancel discovered only at the next multiple-of-5 heartbeat —
        # past the end it is MISSED and the run completes (pin)
        # (agent_routes.py:119-231)
        from mivaa_pdf_extractor_spark.operators import agent_enrich as ae
        ev = _events(spark, sf_dir)
        return ae.run_rollup(ae.synth_rollup_runs(ev),
                             ae.synth_rollup_items(ev))
    q["agent_run_rollup"] = agent_run_rollup_q

    def llm_fence_sanitize_q(spark, sf_dir):
        # invisible/bidi strip -> delimiter look-alike swap -> unicode
        # ws collapse -> strip -> 300-cap + ellipsis (llm_fence.py:55-68)
        from mivaa_pdf_extractor_spark.operators import fencing as fnc
        return fnc.fence_untrusted(
            fnc.synth_fence_rows(_events(spark, sf_dir)))
    q["llm_fence_sanitize"] = llm_fence_sanitize_q

    def anthropic_error_tags_q(spark, sf_dir):
        # ordered substring banks: credit -> rate -> auth -> other; raw
        # substring checks ('4290 rows' fires '429' — pin); level=error
        # only for credit_balance (anthropic_error_reporter.py:58-139)
        from mivaa_pdf_extractor_spark.operators import (
            error_reporting as erp)
        return erp.classify_failures(
            erp.synth_failures(_events(spark, sf_dir)))
    q["anthropic_error_tags"] = anthropic_error_tags_q

    def embed_context_build_q(spark, sf_dir):
        # LIVE `embeddings.get(k) or []` ladder; dims + first-10 sample
        # (embedding_to_text_service.py:86-113)
        from mivaa_pdf_extractor_spark.operators import (
            error_reporting as erp)
        return erp.embed_context_build(
            erp.synth_embeddings(_events(spark, sf_dir)))
    q["embed_context_build"] = embed_context_build_q

    def embed_response_fold_q(spark, sf_dir):
        # GREEDY re.search(r'\{.*\}', DOTALL): first '{' .. LAST '}'
        # spans multiple objects (pin); integer micro-dollar cost
        # in*3 + out*15 (embedding_to_text_service.py:146-171)
        from mivaa_pdf_extractor_spark.operators import (
            error_reporting as erp)
        return erp.embed_response_fold(
            erp.synth_responses(_events(spark, sf_dir)))
    q["embed_response_fold"] = embed_response_fold_q

    def queue_job_plan_q(spark, sf_dir):
        # image jobs carry max_retries=3, AI jobs DON'T (asymmetric
        # insert shapes — pin) (async_queue_service.py:23-106)
        from mivaa_pdf_extractor_spark.operators import queue_folds as qfl
        imgs, chks = qfl.synth_queue_items(_events(spark, sf_dir))
        return qfl.queue_job_plan(imgs, chks)
    q["queue_job_plan"] = queue_job_plan_q

    def queue_retry_fold_q(spark, sf_dir):
        # table pick: 'image' exact else ai (even 'IMAGE'); <3 requeue
        # +1; else failed, 'Max retries exceeded: ' prefix, retry_count
        # untouched (async_queue_service.py:146-185)
        from mivaa_pdf_extractor_spark.operators import queue_folds as qfl
        return qfl.queue_retry_fold(
            qfl.synth_failures(_events(spark, sf_dir)))
    q["queue_retry_fold"] = queue_retry_fold_q

    def queue_metrics_q(spark, sf_dir):
        # per-(queue,status) counts + distinct-truthy-doc active count
        # (async_queue_service.py:108-144)
        from mivaa_pdf_extractor_spark.operators import queue_folds as qfl
        ev = _events(spark, sf_dir)
        return qfl.queue_metrics(qfl.synth_queue_state(ev),
                                 qfl.synth_bg_jobs(ev))
    q["queue_metrics"] = queue_metrics_q

    def validation_queue_stats_q(spark, sf_dir):
        # priority-ordered pending rows batched by 10; progress =
        # int(done/total*100) after each batch
        # (claude_validation_service.py:96-183)
        from mivaa_pdf_extractor_spark.operators import queue_folds as qfl
        return qfl.validation_queue_stats(
            qfl.synth_validation_queue(_events(spark, sf_dir)))
    q["validation_queue_stats"] = validation_queue_stats_q

    def validation_retry_fold_q(spark, sf_dir):
        # ABSENT-key .get defaults (0 / 3); rc+1 >= max -> failed else
        # re-queued pending (claude_validation_service.py:259-287)
        from mivaa_pdf_extractor_spark.operators import queue_folds as qfl
        return qfl.validation_retry_fold(
            qfl.synth_validation_jobs(_events(spark, sf_dir)))
    q["validation_retry_fold"] = validation_retry_fold_q

    def circuit_breaker_replay_q(spark, sf_dir):
        # 3-state breaker replay (claude defaults: threshold 3,
        # timeout 120 s): lazy OPEN->HALF_OPEN at call time, failure
        # count carried INTO half-open (one failure re-opens), dead
        # recovery_timeout (circuit_breaker.py:58-189)
        from mivaa_pdf_extractor_spark.operators import (
            breaker_replay as cbr)
        return cbr.fold_breaker(
            cbr.synth_breaker_events(_events(spark, sf_dir)),
            failure_threshold=3, timeout_seconds=120,
            half_open_max_calls=3)
    q["circuit_breaker_replay"] = circuit_breaker_replay_q

    def circuit_breaker_stats_q(spark, sf_dir):
        # get_stats rollup: success_rate denominator INCLUDES rejected
        # fail-fast calls (circuit_breaker.py:191-209)
        from mivaa_pdf_extractor_spark.operators import (
            breaker_replay as cbr)
        return cbr.breaker_stats(circuit_breaker_replay_q(spark, sf_dir))
    q["circuit_breaker_stats"] = circuit_breaker_stats_q

    def query_metrics_track_q(spark, sf_dir):
        # decorator fold: STRICT > threshold; error path stamps
        # 'ERROR: {e}' and still times (query_metrics.py:88,168-208)
        from mivaa_pdf_extractor_spark.operators import db_metrics as dbm
        return dbm.track_queries(
            dbm.synth_query_calls(_events(spark, sf_dir)))
    q["query_metrics_track"] = query_metrics_track_q

    def query_metrics_global_q(spark, sf_dir):
        # get_metrics global block: times rounded 2 (floor-half-up on
        # both engines), percentage UNROUNDED, inf->0.0 min sentinel
        # (query_metrics.py:113-133)
        from mivaa_pdf_extractor_spark.operators import db_metrics as dbm
        return dbm.query_metrics_global(
            dbm.synth_query_calls(_events(spark, sf_dir)))
    q["query_metrics_global"] = query_metrics_global_q

    def query_metrics_tables_q(spark, sf_dir):
        # per-table count/avg/max/slow_count — no min, no pct at table
        # grain (query_metrics.py:134-141)
        from mivaa_pdf_extractor_spark.operators import db_metrics as dbm
        return dbm.query_metrics_tables(
            dbm.synth_query_calls(_events(spark, sf_dir)))
    q["query_metrics_tables"] = query_metrics_tables_q

    def query_metrics_recent_slow_q(spark, sf_dir):
        # 10-slot ring buffer reported [-5:] — effective window is 5
        # (query_metrics.py:102-104,142)
        from mivaa_pdf_extractor_spark.operators import db_metrics as dbm
        return dbm.recent_slow_queries(
            dbm.synth_query_calls(_events(spark, sf_dir)))
    q["query_metrics_recent_slow"] = query_metrics_recent_slow_q

    def resource_lifecycle_replay_q(spark, sf_dir):
        # event-based cleanup replay: re-register keeps READY state,
        # discard of a never-holder still triggers the emptiness
        # check, shutdown ignores in_use_by
        # (resource_manager.py:56-175)
        from mivaa_pdf_extractor_spark.operators import (
            resource_lifecycle as rlc)
        return rlc.fold_resources(
            rlc.synth_resource_events(_events(spark, sf_dir)))
    q["resource_lifecycle_replay"] = resource_lifecycle_replay_q

    def janitor_sweep_q(spark, sf_dir):
        # /tmp orphan-PDF janitor: (tmp*&&*.pdf)|pdf_processor_* gate,
        # strict mtime>cutoff recency (boundary file IS deleted),
        # stat errors short-circuit (resource_manager.py:222-289)
        from mivaa_pdf_extractor_spark.operators import (
            resource_lifecycle as rlc)
        return rlc.janitor_dispositions(
            rlc.synth_tmp_listing(_events(spark, sf_dir),
                                  now=1_800_000_000),
            now=1_800_000_000)
    q["janitor_sweep"] = janitor_sweep_q

    def mem_pressure_tier_q(spark, sf_dir):
        # hardcoded dataclass thresholds 65/75 (ctor's 80/90 are dead
        # params); gc on both elevated tiers (memory_monitor.py:33-47,
        # 100-131)
        from mivaa_pdf_extractor_spark.operators import (
            mem_pressure as mem)
        return mem.pressure_tier(
            mem.synth_mem_samples(_events(spark, sf_dir)))
    q["mem_pressure_tier"] = mem_pressure_tier_q

    def mem_batch_size_q(spark, sf_dir):
        # <50 -> min(default,max) skipping the MIN clamp; >65 (not the
        # commented 80) -> min; else int(avail*0.8/item) clamped
        # (memory_monitor.py:183-231)
        from mivaa_pdf_extractor_spark.operators import (
            mem_pressure as mem)
        return mem.optimal_batch_size(
            mem.synth_mem_samples(_events(spark, sf_dir)),
            default_batch_size=8, min_batch_size=2, max_batch_size=20,
            memory_per_item_mb=10.0)
    q["mem_batch_size"] = mem_batch_size_q

    def mem_wait_outcome_q(spark, sf_dir):
        # first available>=required probe proceeds (inclusive) even
        # past max_wait; timeout fires only on unsatisfied probes
        # strictly past it (memory_monitor.py:133-176)
        from mivaa_pdf_extractor_spark.operators import (
            mem_pressure as mem)
        return mem.wait_outcome(
            mem.synth_wait_probes(_events(spark, sf_dir)))
    q["mem_wait_outcome"] = mem_wait_outcome_q

    def credits_ai_debit_q(spark, sf_dir):
        # log rounds costs to 8 dp / credits to 2; the job aggregate
        # rounds billed to SIX — two sinks disagree (pin); error
        # ladder: absent-key 'Unknown error' default is live,
        # present-NULL passes through
        # (credits_integration_service.py:62-180)
        from mivaa_pdf_extractor_spark.operators import (
            credits_debit as crd)
        return crd.ai_debit_fold(
            crd.synth_ai_attempts(_events(spark, sf_dir)))
    q["credits_ai_debit"] = credits_ai_debit_q

    def credits_firecrawl_debit_q(spark, sf_dir):
        # platform credits UNROUNDED float; debit op prefixed
        # firecrawl_ but log op unprefixed; model hardcoded
        # 'firecrawl-scrape' (credits_integration_service.py:180-286)
        from mivaa_pdf_extractor_spark.operators import (
            credits_debit as crd)
        return crd.firecrawl_debit_fold(
            crd.synth_firecrawl_attempts(_events(spark, sf_dir)))
    q["credits_firecrawl_debit"] = credits_firecrawl_debit_q

    def credits_external_debit_q(spark, sf_dir):
        # credits<=0 short-circuits to zero success with NO usage row;
        # '(N unit[s])' pluralizes 0 as plural; api_provider =
        # split('-')[0] (credits_integration_service.py:430-549)
        from mivaa_pdf_extractor_spark.operators import (
            credits_debit as crd)
        return crd.external_debit_fold(
            crd.synth_external_attempts(_events(spark, sf_dir)))
    q["credits_external_debit"] = credits_external_debit_q

    def export_rate_replay_q(spark, sf_dir):
        # 5/hour sliding window: inclusive evict at exactly 3600 s,
        # rejected attempts never extend the lockout
        # (app/api/images.py:82-106)
        from mivaa_pdf_extractor_spark.operators import (
            image_export as imx)
        return imx.rate_limit_replay(
            imx.synth_rate_attempts(_events(spark, sf_dir)))
    q["export_rate_replay"] = export_rate_replay_q

    def export_gate_q(spark, sf_dir):
        # 429 -> 400(upper-cased fmt) -> 404 -> tenancy-404 with the
        # SAME message (id-enum defense) -> 413 count -> 413 size
        # (app/api/images.py:835-897)
        from mivaa_pdf_extractor_spark.operators import (
            image_export as imx)
        return imx.export_gate(
            imx.synth_export_requests(_events(spark, sf_dir)))
    q["export_gate"] = export_gate_q

    def export_manifest_q(spark, sf_dir):
        # {idx:03d}_{stem}.{ext}, JPEG->jpg; URL-less images consume
        # indices and still appear in metadata.json
        # (app/api/images.py:915-980)
        from mivaa_pdf_extractor_spark.operators import (
            image_export as imx)
        return imx.export_manifest(
            imx.synth_export_images(_events(spark, sf_dir)),
            fmt="JPEG")
    q["export_manifest"] = export_manifest_q

    def image_reclassify_update_q(spark, sf_dir):
        # asymmetric confidence defaults: 0.0 top-level, NULL in
        # nested ai_classification (app/api/images.py:1005-1030)
        from mivaa_pdf_extractor_spark.operators import (
            image_export as imx)
        return imx.reclassify_update(
            imx.synth_reclassify(_events(spark, sf_dir)))
    q["image_reclassify_update"] = image_reclassify_update_q

    def segment_source_resolve_q(spark, sf_dir):
        # code prefers base64 though the docstring says prefer url
        # (comment lies); SSRF/fetch/missing 400 ladder
        # (app/api/images.py:1087-1107)
        from mivaa_pdf_extractor_spark.operators import (
            image_export as imx)
        return imx.segment_source(
            imx.synth_segment_requests(_events(spark, sf_dir)))
    q["segment_source_resolve"] = segment_source_resolve_q

    def save_image_row_q(spark, sf_dir):
        # document_images row shaping: url falsy ladder + placeholder
        # skip, page-0 falls through, 10-char reason gate, hardcoded
        # confidence 0.95, asymmetric layer(or)/cvg(is-not-None)
        # fallbacks (supabase_client.py:393-645)
        from mivaa_pdf_extractor_spark.operators import image_row as imr
        return imr.save_image_row(
            imr.synth_image_infos(_events(spark, sf_dir)))
    q["save_image_row"] = save_image_row_q

    def bbox_validate_q(spark, sf_dir):
        # 4 elements, all in [0,1] INCLUSIVE, else NULL (never fails
        # the insert) (supabase_client.py:505-523)
        from mivaa_pdf_extractor_spark.operators import image_row as imr
        return imr.validate_bbox(
            imr.synth_bboxes(_events(spark, sf_dir)))
    q["bbox_validate"] = bbox_validate_q

    def template_prompt_resolve_q(spark, sf_dir):
        # 4-tier ladder; tier 2/3 require the STORED axis NULL (the
        # docstring's "any category" lies); tier 4 canonicalized
        # updated_at DESC, id (unified_prompt_service.py:207-283)
        from mivaa_pdf_extractor_spark.operators import (
            prompt_resolve as prs)
        ev = _events(spark, sf_dir)
        return prs.resolve_template_prompt(
            prs.synth_resolve_requests(ev), prs.synth_prompts(ev))
    q["template_prompt_resolve"] = template_prompt_resolve_q

    def template_response_shape_q(spark, sf_dir):
        # _num type-of-default coercion (int('100.7') raises ->
        # default); absent is_active -> True but present-NULL -> False
        # (prompt_template_service.py:86-119)
        from mivaa_pdf_extractor_spark.operators import (
            prompt_resolve as prs)
        return prs.template_response_shape(
            prs.synth_template_rows(_events(spark, sf_dir)))
    q["template_response_shape"] = template_response_shape_q

    def desc_chunk_clean_q(spark, sf_dir):
        # ordered regex passes + the >0.15 English ratio (docstring
        # claims 40% — pin) (product_description_writer.py:66-104)
        from mivaa_pdf_extractor_spark.operators import (
            desc_writer as dsw)
        return dsw.clean_chunks(
            dsw.synth_desc_chunks(_events(spark, sf_dir)))
    q["desc_chunk_clean"] = desc_chunk_clean_q

    def desc_chunks_assemble_q(spark, sf_dir):
        # English-first THEN shorter-first stable sort; 6000-char cap
        # truncates the boundary chunk; join separators uncounted
        # (product_description_writer.py:137-166)
        from mivaa_pdf_extractor_spark.operators import (
            desc_writer as dsw)
        return dsw.assemble_chunks_text(
            dsw.synth_desc_chunks(_events(spark, sf_dir)))
    q["desc_chunks_assemble"] = desc_chunks_assemble_q

    def desc_response_shape_q(spark, sf_dir):
        # quote/backtick strips (the ``` fence branch is dead after
        # strip('`') — pin), here-is colon split, <20 -> NULL,
        # 1500-cap + ellipsis (product_description_writer.py:190-206)
        from mivaa_pdf_extractor_spark.operators import (
            desc_writer as dsw)
        return dsw.shape_response(
            dsw.synth_responses(_events(spark, sf_dir)))
    q["desc_response_shape"] = desc_response_shape_q

    def prototype_embed_avg_q(spark, sf_dir):
        # `if embedding:` gate drops falsy embeddings silently; mean
        # over survivors (category_prototypes.py:85-109)
        from mivaa_pdf_extractor_spark.operators import (
            cat_prototypes as cpt)
        return cpt.prototype_embed_avg(
            cpt.synth_proto_embeds(_events(spark, sf_dir)))
    q["prototype_embed_avg"] = prototype_embed_avg_q

    def prototype_populate_rollup_q(spark, sf_dir):
        # overall success = success_count > 0 (one of ten wins — pin)
        # (category_prototypes.py:113-187)
        from mivaa_pdf_extractor_spark.operators import (
            cat_prototypes as cpt)
        return cpt.populate_rollup(
            cpt.synth_outcomes(_events(spark, sf_dir)))
    q["prototype_populate_rollup"] = prototype_populate_rollup_q

    def request_log_route_q(spark, sf_dir):
        # 4xx logs INFO (only >=500 warns); system_logs substring
        # suppression skips request/response logs but NOT the
        # exception path (error_logging.py:61-168)
        from mivaa_pdf_extractor_spark.operators import (
            request_log as rql)
        return rql.route_request_logs(
            rql.synth_requests(_events(spark, sf_dir)))
    q["request_log_route"] = request_log_route_q

    def job_cost_calls_q(spark, sf_dir):
        # provider rate formulas; 'sonar-pro' EXACT match (any other
        # string gets the cheap base — pin); query/location/url
        # truncations (job_cost_logger.py:30-160)
        from mivaa_pdf_extractor_spark.operators import job_costs as jcs
        return jcs.job_cost_calls(
            jcs.synth_cost_calls(_events(spark, sf_dir)))
    q["job_cost_calls"] = job_cost_calls_q

    def job_credit_gate_q(spark, sf_dir):
        # amount<=0 'succeeds' even with no user; success=false rows
        # honoured (audit H3); refund op suffixed .refund
        # (job_cost_logger.py:169-208)
        from mivaa_pdf_extractor_spark.operators import job_costs as jcs
        return jcs.credit_gate(
            jcs.synth_credit_ops(_events(spark, sf_dir)))
    q["job_credit_gate"] = job_credit_gate_q

    def agent_run_lifecycle_q(spark, sf_dir):
        # 'processing' not 'running' (audit M7); [:480] truncations;
        # int(x or 0) folds; run_count bumped only on complete, fail
        # leaves it (pin) (job_agent_runs.py:97-226)
        from mivaa_pdf_extractor_spark.operators import agent_runs as arn
        return arn.fold_run_events(
            arn.synth_run_events(_events(spark, sf_dir)))
    q["agent_run_lifecycle"] = agent_run_lifecycle_q

    def log_sink_gate_q(spark, sf_dir):
        # WARNING+ never dropped; un-dotted prefix denylist (the
        # 'middleware' prefix also denies 'middlewares'); '-'/''
        # uuid sentinels fold to NULL
        # (supabase_logging_handler.py:101-178)
        from mivaa_pdf_extractor_spark.operators import (
            request_log as rql)
        return rql.log_sink_gate(
            rql.synth_log_records(_events(spark, sf_dir)))
    q["log_sink_gate"] = log_sink_gate_q

    def pagination_derive_q(spark, sf_dir):
        # total_pages = max(1, ceil) — empty results still report 1
        # page (common.py:108-121)
        from mivaa_pdf_extractor_spark.operators import (
            schema_gate as sgt)
        return sgt.derive_pagination(
            sgt.synth_pages(_events(spark, sf_dir)))
    q["pagination_derive"] = pagination_derive_q

    def request_validators_q(spark, sf_dir):
        # inclusive [10,3600] timeout, image_id XOR image_url with
        # distinct messages, [0,1] bbox, type banks
        # (common.py:89-242, images.py:37-81)
        from mivaa_pdf_extractor_spark.operators import (
            schema_gate as sgt)
        return sgt.validate_requests(
            sgt.synth_validation_reqs(_events(spark, sf_dir)))
    q["request_validators"] = request_validators_q

    def db_conn_probe_q(spark, sf_dir):
        # tiered connectivity ladder: dead auth + configured URL still
        # 'healthy'; non-healthy rungs only DEGRADE the overall;
        # exactly-1000ms latency is 'slow'
        # (app/database/connection.py:15-196)
        from mivaa_pdf_extractor_spark.operators import db_health as dbh
        return dbh.fold_conn_probe(
            dbh.synth_conn_probes(_events(spark, sf_dir)))
    q["db_conn_probe"] = db_conn_probe_q

    def logs_admin_query_q(spark, sf_dir):
        # truthy-gated filters (hours=0 disables the cutoff), level
        # UPPERCASED, ilike search, range pagination + has_more
        # (logs_routes.py:105-181)
        from mivaa_pdf_extractor_spark.operators import logs_admin as lga
        return lga.logs_query(
            lga.synth_system_logs(_events(spark, sf_dir)),
            now=lga.NOW, hours=100, level="error", search="failed",
            page=2, page_size=50)
    q["logs_admin_query"] = logs_admin_query_q

    def logs_clear_scope_q(spark, sf_dir):
        # truthy hours deletes STRICTLY older; 0/None wipes all
        # (pinned in pytest) (logs_routes.py:183-214)
        from mivaa_pdf_extractor_spark.operators import logs_admin as lga
        return lga.logs_clear_scope(
            lga.synth_system_logs(_events(spark, sf_dir)),
            now=lga.NOW, hours=72)
    q["logs_clear_scope"] = logs_clear_scope_q

    def log_stats_q(spark, sf_dir):
        # by-level + top-10 loggers with absent-key 'UNKNOWN'/'unknown'
        # labels (logs_routes.py:216-259)
        from mivaa_pdf_extractor_spark.operators import logs_admin as lga
        return lga.log_stats(
            lga.synth_system_logs(_events(spark, sf_dir)),
            now=lga.NOW, hours=96)
    q["log_stats"] = log_stats_q

    def frontend_log_rows_q(spark, sf_dir):
        # level UPPERCASED; source='frontend' overrides caller context;
        # user_agent falsy-or header fallback (logs_routes.py:56-103)
        from mivaa_pdf_extractor_spark.operators import logs_admin as lga
        return lga.frontend_log_rows(
            lga.synth_frontend_reqs(_events(spark, sf_dir)))
    q["frontend_log_rows"] = frontend_log_rows_q

    def ai_metrics_summary_q(spark, sf_dir):
        # get-or-0 LIVE folds; 4/2/2-dp rounding grains in one payload
        # (ai_metrics_routes.py:260-280)
        from mivaa_pdf_extractor_spark.operators import ai_metrics as aim
        return aim.ai_summary(
            aim.synth_ai_logs(_events(spark, sf_dir)))
    q["ai_metrics_summary"] = ai_metrics_summary_q

    def ai_metrics_model_usage_q(spark, sf_dir):
        # per-model rollup keyed model-or-unknown; 4-dp cost, 2-dp
        # averages (ai_metrics_routes.py:283-318)
        from mivaa_pdf_extractor_spark.operators import ai_metrics as aim
        return aim.ai_model_usage(
            aim.synth_ai_logs(_events(spark, sf_dir)))
    q["ai_metrics_model_usage"] = ai_metrics_model_usage_q

    def ai_metrics_confidence_bands_q(spark, sf_dir):
        # strict < band edges (exactly 0.2 -> '0.2-0.4'); ELSE last
        # band catches >1.0; 1-dp percentages
        # (ai_metrics_routes.py:349-372)
        from mivaa_pdf_extractor_spark.operators import ai_metrics as aim
        return aim.ai_confidence_bands(
            aim.synth_ai_logs(_events(spark, sf_dir)))
    q["ai_metrics_confidence_bands"] = ai_metrics_confidence_bands_q

    def ext_provider_resolve_q(spark, sf_dir):
        # nested provider ladder (api_provider > source > req.source >
        # req.api_provider), lowercased before the 5-provider set
        # (ai_metrics_routes.py:443-461)
        from mivaa_pdf_extractor_spark.operators import ai_metrics as aim
        return aim.ext_provider_resolve(
            aim.synth_ext_logs(_events(spark, sf_dir)))
    q["ext_provider_resolve"] = ext_provider_resolve_q

    def ext_usage_by_service_q(spark, sf_dir):
        # service = model_name or api_provider or 'unknown'; kept rows
        # only (ai_metrics_routes.py:466-480)
        from mivaa_pdf_extractor_spark.operators import ai_metrics as aim
        return aim.ext_usage_by_service(
            aim.synth_ext_logs(_events(spark, sf_dir)))
    q["ext_usage_by_service"] = ext_usage_by_service_q

    def bucket_stats_fold_q(spark, sf_dir):
        # folders/non-dicts skipped pre-count; size-less files count
        # with 0 bytes; 2dp MB / 3dp GB
        # (monitoring_routes.py:66-110)
        from mivaa_pdf_extractor_spark.operators import (
            storage_monitor as smn)
        return smn.bucket_stats(
            smn.synth_bucket_listing(_events(spark, sf_dir)))
    q["bucket_stats_fold"] = bucket_stats_fold_q

    def storage_status_fold_q(spark, sf_dir):
        # strict >90/>80/>50 tiers (docstring's 50-80 bands are
        # off-by-boundary); can_upload <95 allows uploads while
        # already critical (monitoring_routes.py:208-307)
        from mivaa_pdf_extractor_spark.operators import (
            storage_monitor as smn)
        return smn.storage_status(
            smn.synth_bucket_listing(_events(spark, sf_dir)))
    q["storage_status_fold"] = storage_status_fold_q

    def upload_estimate_fold_q(spark, sf_dir):
        # flat 0.2 MB/image; is_safe = projected < 90 strict
        # (monitoring_routes.py:368-417)
        from mivaa_pdf_extractor_spark.operators import (
            storage_monitor as smn)
        return smn.upload_estimate(
            smn.synth_upload_requests(_events(spark, sf_dir)))
    q["upload_estimate_fold"] = upload_estimate_fold_q

    def api_key_gate_q(spark, sf_dir):
        # case-INSENSITIVE bearer (vs the JWT gate's case-sensitive);
        # malformed expiry = expired; EMPTY allowed_endpoints list
        # allows all; int(override or 60) clamp [1,600]
        # (price_lookup_routes.py:48-157)
        from mivaa_pdf_extractor_spark.operators import (
            api_key_gate as akg)
        return akg.api_key_gate(
            akg.synth_key_requests(_events(spark, sf_dir)))
    q["api_key_gate"] = api_key_gate_q

    def detailed_health_rollup_q(spark, sf_dir):
        # derived circuit block; monitor 'unhealthy' NOT checked (only
        # 'degraded' compared) so it leaves the overall healthy;
        # slow% > 20 strict (app/api/health.py:123-204)
        from mivaa_pdf_extractor_spark.operators import db_health as dbh
        return dbh.detailed_health_rollup(
            dbh.synth_health_states(_events(spark, sf_dir)))
    q["detailed_health_rollup"] = detailed_health_rollup_q

    def claude_status_ladders_q(spark, sf_dir):
        # image valid/needs_review/invalid at >=0.7/>=0.5 vs enrich
        # enriched/partial/failed at >=0.7/>=0.4 — shared top rung,
        # divergent middle (anthropic_routes.py:228-234,339-345)
        from mivaa_pdf_extractor_spark.operators import ai_validation
        return ai_validation.claude_status_ladders(
            ai_validation.synth_claude_results(_events(spark, sf_dir)))
    q["claude_status_ladders"] = claude_status_ladders_q

    def processing_options_validate_q(spark, sf_dir):
        # max>min STRICT with the absent-min 100 default; 'pdf'
        # SUBSTRING url check (pdfviewer passes); positive pages
        # (models/processing.py:23-142)
        from mivaa_pdf_extractor_spark.operators import (
            schema_gate as sgt)
        return sgt.processing_options_validate(
            sgt.synth_processing_reqs(_events(spark, sf_dir)))
    q["processing_options_validate"] = processing_options_validate_q

    def import_job_status_q(spark, sf_dir):
        # int-truncated progress (0 when total 0); ETA = remaining x 2s
        # only while 'processing' (data_import_routes.py:131-196)
        from mivaa_pdf_extractor_spark.operators import (
            import_stages as xs)
        return xs.import_job_status(
            xs.synth_import_jobs(_events(spark, sf_dir)))
    q["import_job_status"] = import_job_status_q

    def platform_secret_resolve_q(spark, sf_dir):
        # env > db > default, each rung strip-truthy (whitespace-only
        # falls through) (platform_secret_resolver.py:73-94)
        from mivaa_pdf_extractor_spark.operators import ops_guard as ogd
        return ogd.resolve_secrets(
            ogd.synth_secret_rows(_events(spark, sf_dir)))
    q["platform_secret_resolve"] = platform_secret_resolve_q

    def seo_agent_gate_q(spark, sf_dir):
        # unset CRON_SECRET fails CLOSED (every request 401);
        # whitelist/missing-method 404s; per-section failures fold
        # into errors without failing the call
        # (seo_agent_routes.py:47-52,141-260)
        from mivaa_pdf_extractor_spark.operators import (
            dataforseo as dfs)
        return dfs.seo_agent_gate(
            dfs.synth_seo_requests(_events(spark, sf_dir)))
    q["seo_agent_gate"] = seo_agent_gate_q

    def mention_access_gates_q(spark, sf_dir):
        # _is_admin fails CLOSED on any error; _module_enabled fails
        # OPEN on missing rows/read errors but a present-NULL enabled
        # DISABLES; 404-before-403 owner gate
        # (mention_monitoring_routes.py:79-146)
        from mivaa_pdf_extractor_spark.operators import mentions as mo
        return mo.mention_access_gates(
            mo.synth_access_reqs(_events(spark, sf_dir)))
    q["mention_access_gates"] = mention_access_gates_q

    def firecrawl_request_build_q(spark, sf_dir):
        # described-fields-only hints; JS render doubles timeout +
        # adds the 3s wait action (firecrawl_client.py:186-230)
        from mivaa_pdf_extractor_spark.operators import (
            firecrawl_shapes as fcs)
        return fcs.build_requests(
            fcs.synth_build_reqs(_events(spark, sf_dir)))
    q["firecrawl_request_build"] = firecrawl_request_build_q

    def firecrawl_retry_classify_q(spark, sf_dir):
        # 200+success=false RETRIES; fail-fast non-429 4xx raises;
        # [:200] body truncation (firecrawl_client.py:232-268)
        from mivaa_pdf_extractor_spark.operators import (
            firecrawl_shapes as fcs)
        return fcs.classify_attempts(
            fcs.synth_attempts(_events(spark, sf_dir)))
    q["firecrawl_retry_classify"] = firecrawl_retry_classify_q

    def stage5_result_shape_q(spark, sf_dir):
        # breaker-open folds validation to zeros; SPN-7: checkpoint
        # first, completed only on nonzero output (all-zero runs leave
        # the checkpoint validation owning FAILED)
        # (stage_5_quality.py:78-137)
        from mivaa_pdf_extractor_spark.operators import (
            checkpoints as ckp)
        return ckp.stage5_result_shape(
            ckp.synth_stage5_runs(_events(spark, sf_dir)))
    q["stage5_result_shape"] = stage5_result_shape_q

    def stage1_page_validate_q(spark, sf_dir):
        # falsy bound disables the upper check; out-of-bounds pages
        # counted loud vs non-positive pages dropped SILENTLY (two
        # buckets) (stage_1_focused_extraction.py:87-121)
        from mivaa_pdf_extractor_spark.operators import pages as pgs
        return pgs.stage1_page_validate(
            pgs.synth_stage1_reqs(_events(spark, sf_dir)))
    q["stage1_page_validate"] = stage1_page_validate_q

    def notify_rows_q(spark, sf_dir):
        # title()-fallback labels; presence-gated FIXED-order stats
        # ('0 images' renders); `error or` default
        # (notification_service.py:89-167)
        from mivaa_pdf_extractor_spark.operators import agent_runs as arn
        return arn.notify_rows(
            arn.synth_notify_jobs(_events(spark, sf_dir)))
    q["notify_rows"] = notify_rows_q

    def manual_debit_plan_q(spark, sf_dir):
        # 1 + n_images credits; root never billed but an is_root READ
        # ERROR bills the owner (fail-billed pin); failed debit 402
        # (products.py:524-541)
        from mivaa_pdf_extractor_spark.operators import (
            manual_product as mpr)
        return mpr.manual_debit_plan(
            mpr.synth_manual_reqs(_events(spark, sf_dir)))
    q["manual_debit_plan"] = manual_debit_plan_q

    def manual_passthrough_q(spark, sf_dir):
        # is-not-None gates (explicit 0 cost and '' category write)
        # vs truthy dict gates (empty specs/properties SKIPPED);
        # cost drags currency-or-EUR + source manual
        # (products.py:612-632)
        from mivaa_pdf_extractor_spark.operators import (
            manual_product as mpr)
        return mpr.manual_passthrough(
            mpr.synth_passthrough_reqs(_events(spark, sf_dir)))
    q["manual_passthrough"] = manual_passthrough_q

    def tracked_query_response_q(spark, sf_dir):
        # three default conventions in one response: live ors (0
        # interval -> 24), absent-True/present-NULL-False bools, and
        # or-False alerts (tracked_queries_routes.py:207-231)
        from mivaa_pdf_extractor_spark.operators import prices as prc
        return prc.tracked_query_response(
            prc.synth_tq_rows(_events(spark, sf_dir)))
    q["tracked_query_response"] = tracked_query_response_q

    def track_credit_outcome_q(spark, sf_dir):
        # failed debit 402; exception/no-data refunds; a clean refresh
        # with ZERO retailers keeps the credit
        # (tracked_queries_routes.py:251-296)
        from mivaa_pdf_extractor_spark.operators import prices as prc
        return prc.track_credit_outcome(
            prc.synth_track_runs(_events(spark, sf_dir)))
    q["track_credit_outcome"] = track_credit_outcome_q

    def dup_check_envelope_q(spark, sf_dir):
        # auto-merge score HARDCODED 0.95 regardless of the real one;
        # a found id with neither flag discards the duplicate
        # (saved_searches_routes.py:162-236)
        from mivaa_pdf_extractor_spark.operators import search_merge \
            as smg
        return smg.dup_check_envelope(
            smg.synth_dup_checks(_events(spark, sf_dir)))
    q["dup_check_envelope"] = dup_check_envelope_q

    def sam_bbox_pixels_q(spark, sf_dir):
        # x2 truncates the SUM int((x+w)*img_w) — opposite of the
        # Paddle pixelizer's truncated-difference width; the two can
        # disagree by a pixel (sam_routes.py:83-99)
        from mivaa_pdf_extractor_spark.operators import (
            segmentation as sg)
        return sg.sam_bbox_pixels(
            sg.synth_sam_boxes(_events(spark, sf_dir)))
    q["sam_bbox_pixels"] = sam_bbox_pixels_q

    def project_list_filter_q(spark, sf_dir):
        # DB limit applies BEFORE the include_archived post-filter, and
        # the flag also hides COMPLETED projects
        # (project_tracking_routes.py:272-290)
        from mivaa_pdf_extractor_spark.operators import projects as prj
        return prj.project_list_filter(
            prj.synth_projects(_events(spark, sf_dir)))
    q["project_list_filter"] = project_list_filter_q

    def project_task_rollup_q(spark, sf_dir):
        # flat task rows -> parents with nested-subtask counts; a
        # subtask whose parent is missing from the project result set
        # is silently dropped (project_tracking_routes.py:415-453)
        from mivaa_pdf_extractor_spark.operators import projects as prj
        return prj.project_task_rollup(
            prj.synth_tasks(_events(spark, sf_dir)))
    q["project_task_rollup"] = project_task_rollup_q

    def task_room_inherit_q(spark, sf_dir):
        # subtasks inherit the PARENT's room even when NULL, overriding
        # the caller's explicit room_id; parent outside the project is
        # a 400 (project_tracking_routes.py:455-496)
        from mivaa_pdf_extractor_spark.operators import projects as prj
        return prj.task_room_inherit(
            prj.synth_task_reqs(_events(spark, sf_dir)))
    q["task_room_inherit"] = task_room_inherit_q

    def invite_outcome_q(spark, sf_dir):
        # 403 -> strip/lower '@'-only 400 -> pre-debit ilike dup 409 ->
        # 402 -> insert-fail 500 refund; email-SEND failure keeps row
        # AND credit (project_tracking_routes.py:560-640)
        from mivaa_pdf_extractor_spark.operators import projects as prj
        return prj.invite_outcome(
            prj.synth_invites(_events(spark, sf_dir)))
    q["invite_outcome"] = invite_outcome_q

    def job_refresh_credit_q(spark, sf_dir):
        # userless keys run FREE; '' error is falsy and keeps the
        # credit; H15 no-op refund needs cae PRESENT>0 & persisted=0
        # (job_tracking_routes.py:224-262)
        from mivaa_pdf_extractor_spark.operators import (
            job_track_routes as jtr)
        return jtr.job_refresh_credit(
            jtr.synth_refresh_runs(_events(spark, sf_dir)))
    q["job_refresh_credit"] = job_refresh_credit_q

    def job_create_credit_q(spark, sf_dir):
        # first-refresh debit only when run_first_refresh AND user;
        # ValueError 400 / exception 500 refund; H15 no-op refund on
        # a 201 (job_tracking_routes.py:126-171)
        from mivaa_pdf_extractor_spark.operators import (
            job_track_routes as jtr)
        return jtr.job_create_credit(
            jtr.synth_create_reqs(_events(spark, sf_dir)))
    q["job_create_credit"] = job_create_credit_q

    def regen_keywords_credit_q(spark, sf_dir):
        # silent Haiku failure = BOTH expanded and query_phrasings
        # empty -> refund; either non-empty keeps
        # (job_tracking_routes.py:329-355)
        from mivaa_pdf_extractor_spark.operators import (
            job_track_routes as jtr)
        return jtr.regen_keywords_credit(
            jtr.synth_regen_runs(_events(spark, sf_dir)))
    q["regen_keywords_credit"] = regen_keywords_credit_q

    def correct_match_note_q(spark, sf_dir):
        # 404 -> 403 ladder; match_note or-fallback fires on '' too;
        # 240-char cap applies AFTER the 16-char prefix
        # (job_tracking_routes.py:357-394)
        from mivaa_pdf_extractor_spark.operators import (
            job_track_routes as jtr)
        return jtr.correct_match_note(
            jtr.synth_correct_reqs(_events(spark, sf_dir)))
    q["correct_match_note"] = correct_match_note_q

    def mention_refresh_credit_q(spark, sf_dir):
        # EVERYONE debited (userless keys bill user_id='' — opposite
        # of the job route); five no-work statuses refund; zero hits
        # keeps (mention_tracking_routes.py:333-367)
        from mivaa_pdf_extractor_spark.operators import (
            mention_track_routes as mtr)
        return mtr.mention_refresh_credit(
            mtr.synth_mention_refreshes(_events(spark, sf_dir)))
    q["mention_refresh_credit"] = mention_refresh_credit_q

    def mention_create_brand_q(spark, sf_dir):
        # brand_name or-fallback fires on ''; only subject_type='brand'
        # inherits the label (mention_tracking_routes.py:241-258)
        from mivaa_pdf_extractor_spark.operators import (
            mention_track_routes as mtr)
        return mtr.mention_create_brand(
            mtr.synth_mention_creates(_events(spark, sf_dir)))
    q["mention_create_brand"] = mention_create_brand_q

    def probe_llm_credit_q(spark, sf_dir):
        # refund on any status other than EXACTLY 'completed' —
        # 'completed_with_errors' refunds too
        # (mention_tracking_routes.py:427-467)
        from mivaa_pdf_extractor_spark.operators import (
            mention_track_routes as mtr)
        return mtr.probe_llm_credit(
            mtr.synth_probe_runs(_events(spark, sf_dir)))
    q["probe_llm_credit"] = probe_llm_credit_q

    def opportunities_credit_q(spark, sf_dir):
        # cost key switches on use_llm_summary (2 vs 5); empty
        # opportunities refunds (mention_tracking_routes.py:511-558)
        from mivaa_pdf_extractor_spark.operators import (
            mention_track_routes as mtr)
        return mtr.opportunities_credit(
            mtr.synth_opportunity_runs(_events(spark, sf_dir)))
    q["opportunities_credit"] = opportunities_credit_q

    def endpoint_ready_gate_q(spark, sf_dir):
        # SLIG: enabled AND modal_url (combined gate); Paddle: enabled
        # FIRST then endpoint_url (distinct warnings); ready = health
        # validated AND >=1 manager (endpoint_registry.py:84-200,339-360)
        from mivaa_pdf_extractor_spark.operators import (
            endpoint_registry as epr)
        return epr.endpoint_ready_gate(
            epr.synth_registry_cfgs(_events(spark, sf_dir)))
    q["endpoint_ready_gate"] = endpoint_ready_gate_q

    def processing_lock_replay_q(spark, sf_dir):
        # duplicate starts / unmatched ends are no-ops; active count
        # gates can_auto_pause — replayed with two window functions,
        # no per-row state machine (endpoint_registry.py:283-337)
        from mivaa_pdf_extractor_spark.operators import (
            endpoint_registry as epr)
        return epr.processing_lock_replay(
            epr.synth_lock_ops(_events(spark, sf_dir)))
    q["processing_lock_replay"] = processing_lock_replay_q

    def ws_reconcile_q(spark, sf_dir):
        # D38 fail-closed reconcile: two ABSENT workspace ids still 403
        # (duplicate_detection_routes.py:25-33)
        from mivaa_pdf_extractor_spark.operators import dup_routes as dpr
        return dpr.ws_reconcile(
            dpr.synth_ws_pairs(_events(spark, sf_dir)))
    q["ws_reconcile"] = ws_reconcile_q

    def merge_route_envelope_q(spark, sf_dir):
        # not-success raise inside try gets re-wrapped -> '500: ...'
        # double-wrap; absent error 'Merge failed', present-None 'None'
        # (duplicate_detection_routes.py:283-327)
        from mivaa_pdf_extractor_spark.operators import dup_routes as dpr
        return dpr.merge_route_envelope(
            dpr.synth_merge_calls(_events(spark, sf_dir)))
    q["merge_route_envelope"] = merge_route_envelope_q

    def retry_backoff_plan_q(spark, sf_dir):
        # min(base*2^i, cap) schedule; sleeps only BETWEEN attempts —
        # the last failure re-raises without sleeping
        # (retry_utils.py:21-47,70-113)
        from mivaa_pdf_extractor_spark.operators import (
            runtime_limits as rtl)
        return rtl.retry_backoff_plan(
            rtl.synth_retry_calls(_events(spark, sf_dir)))
    q["retry_backoff_plan"] = retry_backoff_plan_q

    def vision_concurrency_tier_q(spark, sf_dir):
        # out-of-range tier -> 1; tier 1 short-circuits to 10 BEFORE
        # the 60%-RPM formula; int-truncate then clamp [2,20]
        # (rate_limits.py:47-137)
        from mivaa_pdf_extractor_spark.operators import (
            runtime_limits as rtl)
        return rtl.vision_concurrency_tier(
            rtl.synth_tier_envs(_events(spark, sf_dir)))
    q["vision_concurrency_tier"] = vision_concurrency_tier_q

    def observability_stamp_q(spark, sf_dir):
        # three presence conventions side by side: or-'-' record stamp,
        # truthy tag gates, is-not-None llm annotation (0 recorded)
        # (pipeline_observability.py:38-49,118-125,165-189)
        from mivaa_pdf_extractor_spark.operators import (
            observability as obs)
        return obs.observability_stamp(
            obs.synth_observed_calls(_events(spark, sf_dir)))
    q["observability_stamp"] = observability_stamp_q

    def bestprice_decision_q(spark, sf_dir):
        # plausibility BEFORE facets (opposite of skroutz); /to/ or
        # /item/ substring wants fanout; every failed-fanout path
        # falls back to the single hit (adapters/bestprice.py:105-185)
        from mivaa_pdf_extractor_spark.operators import bestprice as bp
        d = _docs(spark, sf_dir)
        return bp.bestprice_decisions(bp.synth_bp_search(d),
                                      bp.synth_bp_shops(d))
    q["bestprice_decision"] = bestprice_decision_q

    def bestprice_hit_assembly_q(spark, sf_dir):
        # UNCAPPED shop fanout, 3-token OUT-only availability ladder,
        # raw-availability single fallback with 'Bestprice.gr' default
        # (adapters/bestprice.py:175-247)
        from mivaa_pdf_extractor_spark.operators import bestprice as bp
        d = _docs(spark, sf_dir)
        return bp.bestprice_hits(bp.synth_bp_search(d),
                                 bp.synth_bp_shops(d))
    q["bestprice_hit_assembly"] = bestprice_hit_assembly_q

    def shopflix_outcome_q(spark, sf_dir):
        # hydration retry ONLY when scrape SUCCEEDED empty (a failed
        # scrape does not retry — pin); Spryker double-param URL;
        # plausibility-before-facets single hit
        # (adapters/shopflix.py:38-160)
        from mivaa_pdf_extractor_spark.operators import shopflix as sfx
        return sfx.shopflix_outcome(
            sfx.synth_shopflix_reqs(_docs(spark, sf_dir)))
    q["shopflix_outcome"] = shopflix_outcome_q

    def idealo_listing_filter_q(spark, sf_dir):
        # [:limit] slice BEFORE the row filters (junk consumes slots);
        # 0/negative/unparsable price skip; EXACT aggregator blocklist
        # misses 'idealo.fr' (adapters/idealo_search.py:93-121)
        from mivaa_pdf_extractor_spark.operators import idealo as idl
        return idl.idealo_listing_filter(
            idl.synth_idealo_listings(_events(spark, sf_dir)))
    q["idealo_listing_filter"] = idealo_listing_filter_q

    def feedback_submit_fold_q(spark, sf_dir):
        # D25/G1 BOPLA: JWT identity wins, is_verified forced FALSE
        # server-side; is_public pydantic-default True; context or-{}
        # (user_feedback.py:104-149)
        from mivaa_pdf_extractor_spark.operators import (
            feedback_routes as fbr)
        return fbr.feedback_submit_fold(
            fbr.synth_feedback_submits(_events(spark, sf_dir)))
    q["feedback_submit_fold"] = feedback_submit_fold_q

    def feedback_helpful_fold_q(spark, sf_dir):
        # absent helpful_count increments from 0; the inner 404
        # double-wraps to 500 '404: Feedback not found'
        # (user_feedback.py:248-277)
        from mivaa_pdf_extractor_spark.operators import (
            feedback_routes as fbr)
        return fbr.feedback_helpful_fold(
            fbr.synth_helpful_reqs(_events(spark, sf_dir)))
    q["feedback_helpful_fold"] = feedback_helpful_fold_q

    def job_sites_render_q(spark, sf_dir):
        # unknown site_types vanish; NULL country sorts LAST via 'ZZ';
        # backquotes only in the perplexity section; ' · ' extras in
        # evaluation order (job_sites_kb_sync.py:40-78)
        from mivaa_pdf_extractor_spark.operators import kb_sync as kbs
        return kbs.job_sites_render(
            kbs.synth_job_sites(_events(spark, sf_dir)))
    q["job_sites_render"] = job_sites_render_q

    def meter_operation_fold_q(spark, sf_dir):
        # '' sub falls to user_id; 402 only on 'insufficient' substring
        # OR truthy credits_required (0 does NOT 402); everything else
        # fails OPEN at 0.0 (credit_metering.py:24-60)
        from mivaa_pdf_extractor_spark.operators import metering as mtg
        return mtg.meter_operation_fold(
            mtg.synth_meter_calls(_events(spark, sf_dir)))
    q["meter_operation_fold"] = meter_operation_fold_q

    def charge_cron_fold_q(spark, sf_dir):
        # workspace payer wins; no payer = free pass; absent 'allowed'
        # allows but present-NULL SKIPS; errors fail open
        # (cron_billing.py:22-79)
        from mivaa_pdf_extractor_spark.operators import metering as mtg
        return mtg.charge_cron_fold(
            mtg.synth_cron_charges(_events(spark, sf_dir)))
    q["charge_cron_fold"] = charge_cron_fold_q

    def turnstile_verdict_q(spark, sf_dir):
        # fail-closed ladder; action check only on SUCCESS + truthy
        # expected, flips success but keeps hostname/action; failed
        # verify keeps its original codes
        # (turnstile_verifier.py:39-85)
        from mivaa_pdf_extractor_spark.operators import turnstile as ts
        return ts.turnstile_verdict(
            ts.synth_turnstile_reqs(_events(spark, sf_dir)))
    q["turnstile_verdict"] = turnstile_verdict_q

    def kb_rechunk_rows_q(spark, sf_dir):
        # '' heading -> NULL; len//4 token count; empty embedding ==
        # failed (row kept, model NULLed) (kb_chunk_service.py:24-113)
        from mivaa_pdf_extractor_spark.operators import (
            kb_rechunk as kbr)
        return kbr.kb_rechunk_rows(
            kbr.synth_kb_chunks(_events(spark, sf_dir)))
    q["kb_rechunk_rows"] = kb_rechunk_rows_q

    def endpoint_provider_fold_q(spark, sf_dir):
        # modal_url-or-endpoint_url ladder, rstrip-all-slashes, no
        # /health doubling, empty token = NO auth header, resume
        # warm/cold state fold (endpoint_providers.py:92-237)
        from mivaa_pdf_extractor_spark.operators import (
            endpoint_provider as epv)
        return epv.endpoint_provider_fold(
            epv.synth_provider_rows(_events(spark, sf_dir)))
    q["endpoint_provider_fold"] = endpoint_provider_fold_q

    def slig_resize_plan_q(spark, sf_dir):
        # PIL thumbnail round_aspect arithmetic (floor-vs-ceil by
        # closeness to true aspect, floor wins ties, min 1);
        # RGBA/LA/P -> RGB (slig_client.py:142-171)
        from mivaa_pdf_extractor_spark.operators import (
            slig_client as slc)
        return slc.slig_resize_plan(
            slc.synth_slig_images(_events(spark, sf_dir)))
    q["slig_resize_plan"] = slig_resize_plan_q

    def slig_backpressure_classify_q(spark, sf_dir):
        # transport failures + 429/5xx shrink concurrency; other 4xx
        # raise with NO backpressure signal; mark_used only on success
        # with a manager (slig_client.py:107-141)
        from mivaa_pdf_extractor_spark.operators import (
            slig_client as slc)
        return slc.slig_backpressure_classify(
            slc.synth_slig_calls(_events(spark, sf_dir)))
    q["slig_backpressure_classify"] = slig_backpressure_classify_q

    def slig_mode_route_q(spark, sf_dir):
        # auto ladder: dict-images beats candidate_labels; >=500-char
        # or 'http'-prefixed text falls to IMAGE embedding; unknown
        # mode 400; exact-equality bearer; comma-split labels
        # (modal_app/slig.py:222-262,300-339)
        from mivaa_pdf_extractor_spark.operators import (
            slig_modes as slm)
        return slm.slig_mode_route(
            slm.synth_slig_infer_reqs(_events(spark, sf_dir)))
    q["slig_mode_route"] = slig_mode_route_q

    def paddle_region_fold_q(spark, sf_dir):
        # None-coalescing order ladder (explicit 0 kept — the fixed
        # 500-bug); len(regions) fallback shifts with earlier skips;
        # truthy label/content ladders; stable sort
        # (modal_app/paddleocr_vl.py:183-224)
        from mivaa_pdf_extractor_spark.operators import (
            paddle_parse as ppr)
        return ppr.paddle_region_fold(
            ppr.synth_paddle_blocks(_events(spark, sf_dir)))
    q["paddle_region_fold"] = paddle_region_fold_q

    def paddle_block_text_q(spark, sf_dir):
        # block mode: newline-join of truthy contents in region order,
        # stripped (modal_app/paddleocr_vl.py:250-255)
        from mivaa_pdf_extractor_spark.operators import (
            paddle_parse as ppr)
        return ppr.paddle_block_text(
            ppr.synth_paddle_blocks(_events(spark, sf_dir)))
    q["paddle_block_text"] = paddle_block_text_q

    def price_debit_gate_q(spark, sf_dir):
        # fail-CLOSED partner debit (H3): free<=0 TRUE even userless;
        # positive without user FALSE; success=false row never serves
        # free (price_cost_logger.py:33-58)
        from mivaa_pdf_extractor_spark.operators import metering as mtg
        return mtg.price_debit_gate(
            mtg.synth_price_debits(_events(spark, sf_dir)))
    q["price_debit_gate"] = price_debit_gate_q

    def extraction_prompt_resolve_q(spark, sf_dir):
        # 2-tier exact -> (stage,'default') ladder; active-only with
        # HIGHEST version winning (inactive higher version invisible);
        # double miss raises (prompt_templates.py:18-79)
        from mivaa_pdf_extractor_spark.operators import (
            extraction_prompts as exp)
        ev = _events(spark, sf_dir)
        return exp.resolve_extraction_prompts(
            exp.synth_prompt_requests(ev), exp.synth_prompt_rows(ev))
    q["extraction_prompt_resolve"] = extraction_prompt_resolve_q

    def lazy_component_replay_q(spark, sf_dir):
        # binary lifecycle as one last_value window; raising cleanup
        # leaves the component LOADED (pin)
        # (lazy_loader.py:20-160)
        from mivaa_pdf_extractor_spark.operators import (
            lazy_components as lzc)
        return lzc.lazy_component_replay(
            lzc.synth_lazy_ops(_events(spark, sf_dir)))
    q["lazy_component_replay"] = lazy_component_replay_q

    def job_site_normalize_q(spark, sf_dir):
        # lower() only for perplexity_domain; (cc or '').upper() or
        # None; 409 via duplicate/unique substring
        # (job_research_routes.py:429-456)
        from mivaa_pdf_extractor_spark.operators import (
            job_sites_admin as jsa)
        return jsa.job_site_normalize(
            jsa.synth_site_creates(_events(spark, sf_dir)))
    q["job_site_normalize"] = job_site_normalize_q

    def job_sites_bulk_clean_q(spark, sf_dir):
        # dedup by LOWERCASED key, stored value keeps first original
        # case; duplicate/unique/23505 substrings -> skipped
        # (job_research_routes.py:490-546)
        from mivaa_pdf_extractor_spark.operators import (
            job_sites_admin as jsa)
        return jsa.job_sites_bulk_clean(
            jsa.synth_bulk_urls(_events(spark, sf_dir)))
    q["job_sites_bulk_clean"] = job_sites_bulk_clean_q

    def rasterize_plan_q(spark, sf_dir):
        # fail-closed cron secret; int-truncated clamp crop with
        # degenerate full-page fallback; 4-decimal bbox key; %04d page
        # path; truthy target override (catalog_routes.py:45-185)
        from mivaa_pdf_extractor_spark.operators import rasterize as rz
        return rz.rasterize_plan(
            rz.synth_rasterize_reqs(_events(spark, sf_dir)))
    q["rasterize_plan"] = rasterize_plan_q

    def job_health_dashboard_q(spark, sf_dir):
        # elif heartbeat ladder (fresh heartbeat shields a stale
        # updated_at); critical threshold vs COMPLETED not total
        # (job_health_routes.py:31-133)
        from mivaa_pdf_extractor_spark.operators import (
            job_health as jhl)
        return jhl.job_health_dashboard(
            jhl.synth_health_jobs(_events(spark, sf_dir)))
    q["job_health_dashboard"] = job_health_dashboard_q

    def ws_room_final_q(spark, sf_dir):
        # disconnect removes only metadata['room']: a reconnect to a
        # different room leaks the old membership forever (pin);
        # lag + last_value windows, no state machine
        # (websocket_routes.py:35-112)
        from mivaa_pdf_extractor_spark.operators import ws_rooms as wsr
        return wsr.ws_room_final(
            wsr.synth_ws_ops(_events(spark, sf_dir)))
    q["ws_room_final"] = ws_room_final_q

    def report_stage_fold_q(spark, sf_dir):
        # unknown key drops silently; raising live tracker falls
        # through to append-only history (never fabricates a tracker);
        # 'completed' only at >=100 (internal_routes.py:77-138)
        from mivaa_pdf_extractor_spark.operators import (
            stage_reporting as srp)
        return srp.report_stage_fold(
            srp.synth_stage_reports(_events(spark, sf_dir)))
    q["report_stage_fold"] = report_stage_fold_q

    def internal_access_gate_q(spark, sf_dir):
        # D19/D20: unconfigured secret falls through to JWT (opposite
        # of the catalog route); case-sensitive Bearer
        # (internal_routes.py:150-170)
        from mivaa_pdf_extractor_spark.operators import (
            stage_reporting as srp)
        return srp.internal_access_gate(
            srp.synth_internal_reqs(_events(spark, sf_dir)))
    q["internal_access_gate"] = internal_access_gate_q

    def tracked_refresh_route_q(spark, sf_dir):
        # issue-#234 cost boundary: (mode or '')=='url-only' routes to
        # the Firecrawl-only path; 0-interval falls to 24; blank pin
        # errors at 0 credits; www-stripped domain or 'pinned URL'
        # (tracked_queries_service.py:533-779)
        from mivaa_pdf_extractor_spark.operators import (
            url_only_refresh as uor)
        return uor.tracked_refresh_route(
            uor.synth_refresh_rows(_events(spark, sf_dir)))
    q["tracked_refresh_route"] = tracked_refresh_route_q

    def extraction_config_resolve_q(spark, sf_dir):
        # missing row -> 7-field defaults, read error -> {}; update
        # only when a REAL row with id was read
        # (admin_prompt_service.py:267-330)
        from mivaa_pdf_extractor_spark.operators import (
            extraction_config as exc)
        return exc.extraction_config_resolve(
            exc.synth_config_rows(_events(spark, sf_dir)))
    q["extraction_config_resolve"] = extraction_config_resolve_q

    def trending_searches_fold_q(spark, sf_dir):
        # unknown window falls to daily; the category 'filter' labels
        # rows with the filter value and never drops (pin);
        # min_search_count filters AFTER the RPC limit
        # (suggestions.py:97-183)
        from mivaa_pdf_extractor_spark.operators import trending as trd
        return trd.trending_searches_fold(
            trd.synth_trending_rows(_events(spark, sf_dir)))
    q["trending_searches_fold"] = trending_searches_fold_q

    def greek_dedupe_fold_q(spark, sf_dir):
        # 'gr' passes the upper() gate; (domain, source-or-'') keep-
        # first dedup with the source tie-breaker; netloc-less URLs
        # dropped (greek_marketplaces/service.py:54-112)
        from mivaa_pdf_extractor_spark.operators import (
            greek_service as gks)
        return gks.greek_dedupe_fold(
            gks.synth_greek_hits(_events(spark, sf_dir)))
    q["greek_dedupe_fold"] = greek_dedupe_fold_q

    def idealo_locale_route_q(spark, sf_dir):
        # 7-entry locale table (AT->.de alias, UK+GB->.co.uk);
        # unknown locale = NO fallback; empty-query/module/exception
        # ladder (idealo/service.py:53-80)
        from mivaa_pdf_extractor_spark.operators import idealo as idl
        return idl.idealo_locale_route(
            idl.synth_locale_reqs(_events(spark, sf_dir)))
    q["idealo_locale_route"] = idealo_locale_route_q

    def module_enabled_fold_q(spark, sf_dir):
        # central fail-CLOSED toggle (contrast with the fail-open
        # route chokepoints); stale-cache fallback with never-cached
        # False (registry.py:96-140)
        from mivaa_pdf_extractor_spark.operators import (
            module_registry as mreg)
        return mreg.module_enabled_fold(
            mreg.synth_module_checks(_events(spark, sf_dir)))
    q["module_enabled_fold"] = module_enabled_fold_q

    def auth_dependency_fold_q(spark, sf_dir):
        # leaky 'Authentication failed: …' 401 vs the J3 generic 403
        # (deliberate asymmetry); optional routes swallow every
        # HTTPException to anonymous (dependencies.py:150-336)
        from mivaa_pdf_extractor_spark.operators import (
            auth_deps as adp)
        return adp.auth_dependency_fold(
            adp.synth_auth_reqs(_events(spark, sf_dir)))
    q["auth_dependency_fold"] = auth_dependency_fold_q

    # contract boundary: flatten any top-level array/map/struct output
    # so the driver's canonicalizer can sort+hash every query (the
    # matching DuckDB twins are wrapped in _wrap_complex_oracles)
    for _name in list(q):
        q[_name] = _serialize_wrap(q[_name])
    return q


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — names/rounding match the Spark side exactly
# ---------------------------------------------------------------------------


def _duck_search_profiles_sql() -> str:
    """Weight-profile twin generated from the SAME package constants the
    Spark operator embeds, so every weight literal is the identical
    double (repr round-trips, DuckDB parses to nearest)."""
    from mivaa_pdf_extractor_spark.operators.search import (
        EMBEDDING_ASPECTS, TEXT_SOURCE_SPLIT, WEIGHT_PROFILES)
    aspect_cols = []
    for a in EMBEDDING_ASPECTS:
        whens = " ".join(f"WHEN '{n}' THEN {WEIGHT_PROFILES[n][a]!r}"
                         for n in WEIGHT_PROFILES)
        aspect_cols.append(f"CASE profile {whens} END AS w_{a}")
    aspects = ",\n                   ".join(aspect_cols)
    src = ",\n                   ".join(
        f"w_text * {share!r} AS w_src_{s}"
        for s, share in TEXT_SOURCE_SPLIT.items())
    return f"""
            WITH parsed AS (
                SELECT doc_id,
                       doc_id % 11 = 0 AS is_product_name,
                       doc_id % 7 = 0 AS has_dimensions,
                       doc_id % 5 = 0 AS has_colors,
                       doc_id % 13 = 0 AS has_finish,
                       doc_id % 3 = 0 AS has_pattern,
                       doc_id % 17 = 0 AS has_material,
                       doc_id % 2 = 0 AS has_style,
                       doc_id % 19 = 0 AS has_application
                FROM documents),
            prof AS (
                SELECT doc_id,
                       CASE WHEN is_product_name THEN 'product_name'
                            WHEN has_dimensions THEN 'specification'
                            WHEN has_colors OR has_finish
                                 THEN 'color_finish'
                            WHEN has_pattern THEN 'texture_pattern'
                            WHEN has_material THEN 'material_search'
                            WHEN has_style OR has_application
                                 THEN 'style_aesthetic'
                            ELSE 'balanced' END AS profile
                FROM parsed),
            aw AS (
                SELECT doc_id, profile,
                   {aspects}
                FROM prof)
            SELECT doc_id, profile,
                   {', '.join('w_' + a for a in EMBEDDING_ASPECTS)},
                   {src}
            FROM aw"""


def _duck_kw_words(expr: str) -> str:
    return (f"list_distinct(list_filter(string_split(lower({expr}), ' '), "
            f"x -> x <> ''))")


def _duck_kw_field(expr: str) -> str:
    """Per-field keyword score for the search_keyword_score twin: Jaccard
    of distinct lowercased word sets vs the constant query, plus
    0.1 * (count of >3-char query words contained as substrings), capped
    at 1.0 — rag_service.py:1520-1543 semantics, same op order as the
    Spark operator."""
    q_words = sorted({"modern", "ceramic", "tile", "red"})
    q_list = "[" + ", ".join(f"'{w}'" for w in q_words) + "]"
    long_words = [w for w in q_words if len(w) > 3]
    hits = " + ".join(
        f"(CASE WHEN contains(lower({expr}), '{w}') THEN 1 ELSE 0 END)"
        for w in long_words)
    words = _duck_kw_words(expr)
    inter = f"len(list_intersect({words}, {q_list}))"
    union = f"len(list_distinct(list_concat({words}, {q_list})))"
    jacc = (f"(CASE WHEN {union} > 0 THEN CAST({inter} AS DOUBLE) "
            f"/ CAST({union} AS DOUBLE) ELSE 0.0 END)")
    return f"least(1.0, {jacc} + 0.1 * CAST({hits} AS DOUBLE))"


def _duck_search_kw_sql() -> str:
    fields = [("name", 3.0), ("manufacturer", 3.0), ("colors", 1.5),
              ("description", 2.0)]
    # presence = non-empty word set, matching the operator (a
    # whitespace-only field contributes neither score nor weight)
    score_cols = ",\n                   ".join(
        f"{c} IS NOT NULL AND len({_duck_kw_words(c)}) > 0 AS p_{c},\n"
        f"                   {_duck_kw_field(c)} AS s_{c}"
        for c, _ in fields)
    ts = " + ".join(f"(CASE WHEN p_{c} THEN s_{c} * {w!r} ELSE 0.0 END)"
                    for c, w in fields)
    tw = " + ".join(f"(CASE WHEN p_{c} THEN {w!r} ELSE 0.0 END)"
                    for c, w in fields)
    return f"""
            WITH products AS (
                SELECT doc_id,
                       (['ceramic tile', 'oak plank', 'marble slab',
                         'vinyl panel'])[CAST(doc_id % 4 AS INT) + 1]
                       || ' ' || CAST(doc_id AS VARCHAR) AS name,
                       nullif((['Acme Ceramics', 'TileWorks',
                                'Not specified', ''])
                              [CAST(doc_id % 4 AS INT) + 1],
                              'Not specified') AS manufacturer,
                       (['red blue', 'grey white', ''])
                       [CAST(doc_id % 3 AS INT) + 1] AS colors,
                       'durable ' || (['ceramic', 'wood', 'stone'])
                       [CAST(doc_id % 3 AS INT) + 1]
                       || ' surface for modern spaces' AS description
                FROM documents),
            f AS (
                SELECT doc_id,
                   {score_cols}
                FROM products),
            t AS (SELECT doc_id, {ts} AS ts, {tw} AS tw FROM f)
            SELECT doc_id,
                   CASE WHEN tw > 0 THEN least(1.0, ts / tw)
                        ELSE 0.0 END AS keyword_score
            FROM t"""


# weight CASE for the hybrid-fusion twin (dyadic weights, exact sums)
_HYBRID_W = ("CASE source WHEN 'visual' THEN 0.25 WHEN 'chunk' THEN 0.25 "
             "WHEN 'understanding' THEN 0.1875 WHEN 'product' THEN 0.1875 "
             "WHEN 'keyword' THEN 0.125 ELSE 0.0 END")

_HYBRID_SQL = f"""
            WITH legs AS (
                SELECT CAST(doc_id AS VARCHAR) AS product_id,
                       'visual' AS source,
                       CAST(doc_id * 3 % 32 AS DOUBLE) / 32.0 AS score
                FROM documents WHERE doc_id % 2 = 0
                UNION ALL
                SELECT CAST(doc_id AS VARCHAR), 'chunk',
                       CAST(doc_id * 5 % 32 AS DOUBLE) / 32.0
                FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT CAST(doc_id AS VARCHAR), 'understanding',
                       CAST(doc_id * 7 % 32 AS DOUBLE) / 32.0
                FROM documents WHERE doc_id % 4 = 0
                UNION ALL
                SELECT CAST(doc_id AS VARCHAR), 'product',
                       CAST(doc_id * 11 % 32 AS DOUBLE) / 32.0
                FROM documents WHERE doc_id % 5 = 0
                UNION ALL
                SELECT CAST(doc_id AS VARCHAR), 'keyword',
                       CAST(doc_id * 13 % 32 AS DOUBLE) / 32.0
                FROM documents),
            g AS (
                SELECT product_id,
                       sum(CASE WHEN score > 0 THEN score * {_HYBRID_W}
                                ELSE 0.0 END) AS ws,
                       sum(CASE WHEN score > 0 THEN {_HYBRID_W}
                                ELSE 0.0 END) AS aw,
                       CAST(sum(CASE WHEN score > 0 AND source IN
                                ('visual', 'chunk', 'understanding',
                                 'product') THEN 1 ELSE 0 END) AS INTEGER)
                           AS active_embedding_sources,
                       max(CASE WHEN source = 'visual' THEN score
                                ELSE 0.0 END) AS visual_score,
                       max(CASE WHEN source = 'chunk' THEN score
                                ELSE 0.0 END) AS chunk_score,
                       max(CASE WHEN source = 'understanding' THEN score
                                ELSE 0.0 END) AS understanding_score,
                       max(CASE WHEN source = 'product' THEN score
                                ELSE 0.0 END) AS product_score,
                       max(CASE WHEN source = 'keyword' THEN score
                                ELSE 0.0 END) AS keyword_score
                FROM legs GROUP BY product_id)
            SELECT * FROM (
                SELECT product_id, active_embedding_sources,
                       visual_score, chunk_score, understanding_score,
                       product_score, keyword_score,
                       CASE WHEN aw > 0 THEN ws / aw ELSE 0.0 END AS score,
                       CASE WHEN active_embedding_sources >= 2 THEN 0.25
                            ELSE 0.25 * 0.3 END AS effective_threshold
                FROM g)
            WHERE score >= effective_threshold"""

def _duck_url_gate_sql() -> str:
    """URL-gate twin: the classification is re-derived from the URL
    string with the same RE2-safe regexes (not re-synthesized from the
    modulo), so the twin genuinely tests the parse; the extension list
    is generated from the package constant."""
    from mivaa_pdf_extractor_spark.operators.urls import (
        NON_CONTENT_EXTENSIONS)
    ext_cond = " OR ".join(
        f"ends_with(split_part(lower(url), '?', 1), '{e}')"
        for e in NON_CONTENT_EXTENSIONS)
    return rf"""
            WITH u AS (
                SELECT doc_id,
                   CASE doc_id % 12
                     WHEN 0 THEN 'https://example.com/media/p/'
                                 || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN 'http://cdn.example.org/img/'
                                 || CAST(doc_id AS VARCHAR) || '.png'
                     WHEN 2 THEN 'ftp://example.com/file'
                     WHEN 3 THEN 'https://localhost/admin'
                     WHEN 4 THEN 'https://169.254.169.254/latest/meta-data'
                     WHEN 5 THEN 'https://192.168.'
                                 || CAST(doc_id % 256 AS VARCHAR) || '.7/x'
                     WHEN 6 THEN 'https://example.com/doc'
                                 || CAST(doc_id AS VARCHAR) || '.pdf?x=1'
                     WHEN 7 THEN 'https://example.com/'
                     WHEN 8 THEN 'https://example.com/app.js'
                     WHEN 9 THEN 'https://10.0.0.'
                                 || CAST(doc_id % 256 AS VARCHAR)
                                 || '/internal'
                     WHEN 10 THEN
                        'https://metadata.google.internal/computeMetadata'
                     ELSE 'https://shop.example.co.uk/products/'
                          || CAST(doc_id AS VARCHAR)
                   END AS url
                FROM documents),
            p AS (
                SELECT doc_id, url,
                   lower(regexp_extract(url,
                       '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                   lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#]+)',
                       1)) AS host,
                   regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                       AS path
                FROM u),
            ip AS (
                SELECT *,
                   regexp_matches(host,
                       '^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$') AS is4,
                   TRY_CAST(string_split(host, '.')[1] AS INT) AS o1,
                   TRY_CAST(string_split(host, '.')[2] AS INT) AS o2,
                   TRY_CAST(string_split(host, '.')[3] AS INT) AS o3,
                   TRY_CAST(string_split(host, '.')[4] AS INT) AS o4
                FROM p)
            SELECT doc_id, url,
               CASE WHEN scheme NOT IN ('http', 'https')
                         THEN 'blocked_scheme'
                    WHEN host = '' OR host IN ('localhost',
                         'metadata.google.internal', 'metadata',
                         'instance-data') THEN 'blocked_host'
                    WHEN is4 AND (o1 IS NULL OR o2 IS NULL OR o3 IS NULL
                         OR o4 IS NULL OR o1 > 255 OR o2 > 255
                         OR o3 > 255 OR o4 > 255 OR o1 IN (0, 10, 127)
                         OR (o1 = 169 AND o2 = 254)
                         OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
                         OR (o1 = 192 AND o2 = 168)
                         OR o1 >= 224) THEN 'blocked_ip'
                    WHEN {ext_cond} THEN 'non_content_ext'
                    WHEN length(path) < 2 THEN 'trivial_path'
                    ELSE 'ok' END AS url_status,
               CASE WHEN len(string_split(host, '.')) >= 2
                    THEN string_split(host, '.')[-2] || '.'
                         || string_split(host, '.')[-1]
                    ELSE host END AS domain
            FROM ip"""


# synthesized per-doc product dimension shared by both entity-linking
# twins (generate_series is inclusive, matching Spark's F.sequence)
_LINK_PRODUCTS_SQL = """
                SELECT doc_id, p.p, doc_id * 10 + p.p AS product_id,
                       CASE WHEN p.p = 0 THEN 'alpha series by onset'
                            ELSE 'beta quartz' END AS name,
                       generate_series(1 + (doc_id + p.p) % 4,
                                       1 + (doc_id + p.p) % 4 + p.p)
                           AS page_range
                FROM documents, (SELECT unnest(range(2)) AS p) p"""

# greedy MMR twin: k=4 unrolled as chained CTEs — each step scores the
# remaining candidates against the selected set (exact integer dot
# products make cosine bit-identical to the kernel's numpy matmul),
# picks argmax with the reference's earliest-wins tie-break
_MMR_SQL = """
            WITH cand AS (
                SELECT doc_id AS query_id, c.ord,
                       doc_id * 100 + c.ord AS cand_id,
                       CAST((doc_id + 7 * c.ord) % 16 AS DOUBLE) / 16.0
                           AS rel,
                       CAST((doc_id + c.ord) % 7 + 1 AS DOUBLE) AS e0,
                       CAST((doc_id * 2 + c.ord * 3) % 11 - 5 AS DOUBLE)
                           AS e1,
                       CAST((doc_id * 3 + c.ord * 5) % 11 - 5 AS DOUBLE)
                           AS e2,
                       CAST((doc_id + c.ord * 7) % 11 - 5 AS DOUBLE) AS e3
                FROM documents, (SELECT unnest(range(8)) AS ord) c
                WHERE doc_id % 50 = 0),
            n AS (SELECT *, sqrt(e0*e0 + e1*e1 + e2*e2 + e3*e3) AS nm
                  FROM cand),
            sims AS (
                SELECT a.query_id, a.ord AS i, b.ord AS j,
                       (a.e0*b.e0 + a.e1*b.e1 + a.e2*b.e2 + a.e3*b.e3)
                       / (a.nm * b.nm) AS sim
                FROM n a JOIN n b ON a.query_id = b.query_id),
            s1 AS (
                SELECT query_id, ord, cand_id, rel FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY rel DESC, ord) AS rn FROM n)
                WHERE rn = 1),
            r2 AS (
                SELECT c.query_id, c.ord, c.cand_id, c.rel,
                       1.0 - s.sim AS div,
                       0.75 * c.rel + 0.25 * (1.0 - s.sim) AS mmr
                FROM n c
                JOIN s1 ON s1.query_id = c.query_id AND c.ord <> s1.ord
                JOIN sims s ON s.query_id = c.query_id
                    AND s.i = c.ord AND s.j = s1.ord),
            s2 AS (
                SELECT query_id, ord, cand_id, rel, div, mmr FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY mmr DESC, ord) AS rn FROM r2)
                WHERE rn = 1),
            r3 AS (
                SELECT c.query_id, c.ord, c.cand_id, c.rel,
                       1.0 - greatest(sa.sim, sb.sim) AS div,
                       0.75 * c.rel
                       + 0.25 * (1.0 - greatest(sa.sim, sb.sim)) AS mmr
                FROM n c
                JOIN s1 ON s1.query_id = c.query_id
                JOIN s2 ON s2.query_id = c.query_id
                JOIN sims sa ON sa.query_id = c.query_id
                    AND sa.i = c.ord AND sa.j = s1.ord
                JOIN sims sb ON sb.query_id = c.query_id
                    AND sb.i = c.ord AND sb.j = s2.ord
                WHERE c.ord <> s1.ord AND c.ord <> s2.ord),
            s3 AS (
                SELECT query_id, ord, cand_id, rel, div, mmr FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY mmr DESC, ord) AS rn FROM r3)
                WHERE rn = 1),
            r4 AS (
                SELECT c.query_id, c.ord, c.cand_id, c.rel,
                       1.0 - greatest(sa.sim, sb.sim, sc.sim) AS div,
                       0.75 * c.rel
                       + 0.25 * (1.0 - greatest(sa.sim, sb.sim, sc.sim))
                           AS mmr
                FROM n c
                JOIN s1 ON s1.query_id = c.query_id
                JOIN s2 ON s2.query_id = c.query_id
                JOIN s3 ON s3.query_id = c.query_id
                JOIN sims sa ON sa.query_id = c.query_id
                    AND sa.i = c.ord AND sa.j = s1.ord
                JOIN sims sb ON sb.query_id = c.query_id
                    AND sb.i = c.ord AND sb.j = s2.ord
                JOIN sims sc ON sc.query_id = c.query_id
                    AND sc.i = c.ord AND sc.j = s3.ord
                WHERE c.ord <> s1.ord AND c.ord <> s2.ord
                  AND c.ord <> s3.ord),
            s4 AS (
                SELECT query_id, ord, cand_id, rel, div, mmr FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY mmr DESC, ord) AS rn FROM r4)
                WHERE rn = 1)
            SELECT query_id, 1 AS rank, cand_id, rel AS relevance,
                   rel AS mmr_score, 0.0 AS diversity_gain FROM s1
            UNION ALL
            SELECT query_id, 2, cand_id, rel, mmr, div FROM s2
            UNION ALL
            SELECT query_id, 3, cand_id, rel, mmr, div FROM s3
            UNION ALL
            SELECT query_id, 4, cand_id, rel, mmr, div FROM s4"""


# independently-derived expectations for the G7 mining over the
# synthesized catalog/split-axis/spec tables — shared by the per-table
# query and the per-product aggregation twin
_G7_MINE_SQL = """
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   CASE WHEN doc_id % 20 = 0 THEN 'specifications'
                        ELSE 'dimensions' END AS table_type,
                   CASE WHEN doc_id % 20 = 0 THEN NULL
                        ELSE CAST(30 + (doc_id % 7) * 10 AS VARCHAR)
                             || 'x' ||
                             CAST(60 + (doc_id % 5) * 20 AS VARCHAR)
                             || ' cm' END AS sizes,
                   CASE WHEN doc_id % 20 = 0 THEN NULL
                        ELSE CAST(8 + doc_id % 3 AS DOUBLE)
                        END AS thickness_mm,
                   CASE WHEN doc_id % 20 = 0 THEN NULL
                        ELSE CAST(2 + doc_id % 4 AS DOUBLE)
                        END AS pieces_per_box,
                   CASE WHEN doc_id % 20 != 0 AND doc_id % 30 != 0
                        THEN CAST(30 + doc_id % 20 AS DOUBLE)
                        END AS boxes_per_pallet,
                   CASE WHEN doc_id % 20 != 0 AND doc_id % 30 != 0
                        THEN CAST(20 + doc_id % 15 AS DOUBLE) + 0.5
                        END AS weight_per_box_kg,
                   CASE WHEN doc_id % 20 != 0 AND doc_id % 30 != 0
                        THEN 1 + 0.25 * (1 + doc_id % 3)
                        END AS coverage_per_box_m2,
                   CAST(NULL AS DOUBLE) AS pallet_weight_kg,
                   CAST(NULL AS DOUBLE) AS pieces_per_m2,
                   CASE WHEN doc_id % 20 = 0
                        THEN '< 0,' || CAST(doc_id % 9 AS VARCHAR) || '%'
                        END AS water_absorption,
                   CASE WHEN doc_id % 20 = 0
                        THEN 'R' || CAST(10 + doc_id % 4 AS VARCHAR)
                        END AS slip_resistance,
                   CASE WHEN doc_id % 20 = 0 THEN 'Conforme'
                        END AS frost_resistance,
                   CASE WHEN doc_id % 20 = 0
                        THEN CAST(35 + doc_id % 10 AS VARCHAR) || ' N/mm²'
                        END AS breaking_strength,
                   CAST(NULL AS VARCHAR) AS abrasion_resistance,
                   CAST(NULL AS VARCHAR) AS chemical_resistance,
                   CAST(NULL AS VARCHAR) AS fire_rating
            FROM documents WHERE doc_id % 10 = 0"""


# Shared CTE bodies for the page-embedding ledger oracles: the same
# deterministic doc/ledger synthesis as the Spark queries, the fail-closed
# tenant gate, the reported cap (rank over the FULL page list, before the
# already-filter), and the current-schema decided set.
_DUCK_PAGE_CTES = """docs AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 0 THEN NULL
                            WHEN doc_id % 11 = 0 THEN 'ws_other'
                            ELSE 'ws_main' END AS workspace_id,
                       CAST(1 + doc_id % 7 AS INT) AS total_pages
                FROM documents),
            ledger AS (
                SELECT doc_id, CAST(t.p AS INT) AS page_number,
                       CASE WHEN (doc_id + t.p) % 2 = 0 THEN 'embedded'
                            ELSE 'skipped' END AS cache_status,
                       CAST(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 2 END
                           AS INT) AS schema_version
                FROM documents, generate_series(1, 2) AS t(p)
                WHERE doc_id % 3 = 0),
            refused AS (
                SELECT doc_id, CAST(NULL AS INT) AS page_number,
                       CASE WHEN workspace_id IS NULL
                                 OR trim(workspace_id) = ''
                            THEN 'refused_no_workspace'
                            ELSE 'refused_tenant' END AS decision
                FROM docs
                WHERE workspace_id IS NULL OR trim(workspace_id) = ''
                      OR workspace_id <> 'ws_main'),
            pages AS (
                SELECT doc_id, CAST(p AS INT) AS page_number,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY p) AS page_rank
                FROM (SELECT d.doc_id,
                             unnest(generate_series(1,
                                 CAST(d.total_pages AS BIGINT))) AS p
                      FROM docs d
                      WHERE d.workspace_id IS NOT NULL
                            AND trim(d.workspace_id) <> ''
                            AND d.workspace_id = 'ws_main')),
            decided AS (
                SELECT DISTINCT doc_id, page_number FROM ledger
                WHERE cache_status IN ('embedded', 'skipped')
                      AND coalesce(schema_version, 0) >= 2),
            planned AS (
                SELECT p.doc_id, p.page_number,
                       CASE WHEN p.page_rank > 4 THEN 'over_cap'
                            WHEN dd.doc_id IS NOT NULL THEN 'already'
                            ELSE 'pending' END AS decision
                FROM pages p LEFT JOIN decided dd
                  ON p.doc_id = dd.doc_id
                 AND p.page_number = dd.page_number)"""

# Deterministic side-effect synthesis over the pending pages (same
# arithmetic as the Spark _page_side_effects helper).
_DUCK_PAGE_FX_CTE = """fx AS (
                SELECT doc_id, page_number,
                       (doc_id + page_number) % 17 <> 0 AS render_ok,
                       CASE WHEN (doc_id * 5 + page_number) % 19 = 0
                                THEN NULL
                            WHEN (doc_id + page_number) % 5 = 0
                                THEN CAST(700 + ((doc_id + page_number)
                                     % 4) * 500 AS INT)
                            ELSE CAST(3000 + ((doc_id * 3 + page_number)
                                 % 40) * 100 AS INT)
                       END AS render_bytes,
                       CASE WHEN (doc_id + page_number) % 4 = 0 THEN ' '
                            ELSE 'text of page '
                                 || CAST(page_number AS VARCHAR)
                       END AS page_text,
                       (doc_id * 3 + page_number) % 23 = 0
                           AS provider_empty,
                       (doc_id + page_number * 7) % 29 = 0
                           AS upsert_refused
                FROM planned WHERE decision = 'pending')"""

def _duck_uuid(expr: str) -> str:
    """Canonical dashed-hex uuid derived from md5 — the twin of the
    Spark-side _cuuid synthesis helper."""
    m = "md5(" + expr + ")"
    return ("(substr(" + m + ", 1, 8) || '-' || substr(" + m
            + ", 9, 4) || '-' || substr(" + m + ", 13, 4) || '-' || substr("
            + m + ", 17, 4) || '-' || substr(" + m + ", 21, 12))")


# Cascading-deletion twin: the same deterministic table synthesis as the
# Spark _cascade_tables helper, then scope resolution with the UUID
# validation and the OR-of-two-sources product reachability.
_DUCK_CASCADE_CTES = ("""djobs AS (
                SELECT 'job_' || CAST(doc_id AS VARCHAR) AS job_id,
                       CASE WHEN doc_id % 8 = 1 THEN NULL
                            ELSE CAST(doc_id AS VARCHAR) END AS document_id
                FROM documents WHERE doc_id % 4 < 2),
            dproducts AS (
                SELECT CASE WHEN (doc_id + p) % 5 = 0
                            THEN 'product_' || CAST(doc_id AS VARCHAR)
                                 || '_' || CAST(p AS VARCHAR)
                            ELSE """
                      + _duck_uuid("'p' || CAST(doc_id * 2 + p AS VARCHAR)")
                      + """ END AS product_id,
                       CASE WHEN p = 0 THEN 'job_' || CAST(doc_id AS VARCHAR)
                           END AS source_job_id,
                       CASE WHEN p = 1 THEN CAST(doc_id AS VARCHAR)
                           END AS source_document_id
                FROM documents, (SELECT unnest(range(2)) AS p) pp),
            dimages AS (
                SELECT """
                      + _duck_uuid("'i' || CAST(doc_id * 2 + i AS VARCHAR)")
                      + """ AS image_id,
                       CASE WHEN i = 0 THEN """
                      + _duck_uuid("'p' || CAST(doc_id * 2 AS VARCHAR)")
                      + """ END AS product_id,
                       CASE WHEN i = 1 THEN CAST(doc_id AS VARCHAR)
                           END AS document_id
                FROM documents, (SELECT unnest(range(2)) AS i) ii
                WHERE doc_id % 2 = 0),
            dchunks AS (
                SELECT 'ch_' || CAST(doc_id AS VARCHAR) || '_'
                           || CAST(c AS VARCHAR) AS chunk_id,
                       CASE WHEN c = 0 THEN CAST(doc_id AS VARCHAR)
                           END AS document_id,
                       CASE WHEN c = 1 THEN """
                      + _duck_uuid("'p' || CAST(doc_id * 2 AS VARCHAR)")
                      + """
                            WHEN c = 2 THEN 'product_'
                                || CAST(doc_id AS VARCHAR) || '_0'
                           END AS product_id
                FROM documents, (SELECT unnest(range(3)) AS c) cc),
            dembeddings AS (
                SELECT CASE WHEN e = 0 THEN """
                      + _duck_uuid("'i' || CAST(doc_id * 2 AS VARCHAR)")
                      + """
                            ELSE """
                      + _duck_uuid("'e' || CAST(doc_id AS VARCHAR)")
                      + """ END AS embedding_id,
                       CASE WHEN e = 1 THEN CAST(doc_id AS VARCHAR)
                           END AS meta_document_id
                FROM documents, (SELECT unnest(range(2)) AS e) ee),
            dimage_children AS (
                SELECT 'ic_' || CAST(doc_id AS VARCHAR) || '_'
                           || CAST(k AS VARCHAR) AS row_id,
                       CASE WHEN k < 3 THEN """
                      + _duck_uuid(
                          "'i' || CAST(doc_id * 2 + k % 2 AS VARCHAR)")
                      + """
                            ELSE """
                      + _duck_uuid("'x' || CAST(doc_id AS VARCHAR)")
                      + """ END AS image_id,
                       ['image_product_associations',
                        'chunk_image_relationships',
                        'image_metafield_values',
                        'image_validations'][CAST(k % 4 AS INT) + 1]
                           AS kind
                FROM documents, (SELECT unnest(range(4)) AS k) kk
                WHERE doc_id % 2 = 0),
            dproduct_children AS (
                SELECT 'pc_' || CAST(doc_id AS VARCHAR) || '_'
                           || CAST(k AS VARCHAR) AS row_id,
                       CASE WHEN k < 2 THEN """
                      + _duck_uuid(
                          "'p' || CAST(doc_id * 2 + k AS VARCHAR)")
                      + """
                            ELSE """
                      + _duck_uuid("'y' || CAST(doc_id AS VARCHAR)")
                      + """ END AS product_id,
                       ['product_layout_regions', 'product_tables',
                        'product_enrichments'][CAST(k % 3 AS INT) + 1]
                           AS kind
                FROM documents, (SELECT unnest(range(3)) AS k) kk),
            dpps AS (
                SELECT 'job_' || CAST(doc_id AS VARCHAR) AS job_id,
                       'product_' || CAST(doc_id AS VARCHAR) || '_PPS'
                           AS product_key
                FROM documents WHERE doc_id % 4 < 3),
            ddocs AS (
                SELECT CAST(doc_id AS VARCHAR) AS document_id
                FROM documents),
            scope_products AS (
                SELECT DISTINCT job_id, key FROM (
                    SELECT j.job_id, p.product_id AS key
                    FROM djobs j JOIN dproducts p
                      ON p.source_job_id = j.job_id
                    UNION ALL
                    SELECT j.job_id, p.product_id AS key
                    FROM djobs j JOIN dproducts p
                      ON j.document_id IS NOT NULL
                         AND p.source_document_id = j.document_id)
                WHERE regexp_matches(key,
                    '^([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"""
                      + """[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"""
                      + """|[0-9a-fA-F]{32})$')),
            scope_images AS (
                SELECT DISTINCT job_id, key FROM (
                    SELECT sp.job_id, i.image_id AS key
                    FROM scope_products sp JOIN dimages i
                      ON i.product_id = sp.key
                    UNION ALL
                    SELECT j.job_id, i.image_id AS key
                    FROM djobs j JOIN dimages i
                      ON j.document_id IS NOT NULL
                         AND i.document_id = j.document_id)),
            scope AS (
                SELECT job_id, 'document' AS kind, document_id AS key
                FROM djobs WHERE document_id IS NOT NULL
                UNION ALL
                SELECT job_id, 'product' AS kind, key FROM scope_products
                UNION ALL
                SELECT job_id, 'image' AS kind, key FROM scope_images)""")


def _duck_section_hits_sql() -> str:
    """section_header_hits twin, generated from the shared pattern
    constants (no transcription drift; patterns are quote- and
    brace-free so direct embedding is safe)."""
    from mivaa_pdf_extractor_spark.operators.sections import (
        DIMENSION_PATTERN, INDEX_END, INDEX_START, SECTION_PATTERNS)
    fams = ",\n                   ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS n_{name}"
        for name, pat in SECTION_PATTERNS.items())
    return f"""
            WITH t AS (
                SELECT doc_id,
                    repeat('pad ', 3500)
                    || CASE WHEN doc_id % 5 = 0 THEN ' 120 x 60 cm '
                            ELSE ' no dims here ' END
                    || ' Packaging details. installation notes. '
                    || repeat('filler ',
                              CASE WHEN doc_id % 31 = 1 THEN 24000
                                   ELSE CAST(doc_id % 3 AS INT) * 3000
                                  END)
                    || text AS text
                FROM documents)
            SELECT doc_id, length(text) AS n_chars,
                   length(text) > 100000 AS needs_smart_extraction,
                   {fams},
                   (length(text) > {INDEX_END}) AND
                   regexp_matches(lower(substr(text, {INDEX_START} + 1,
                       {INDEX_END} - {INDEX_START})),
                       '{DIMENSION_PATTERN}') AS index_has_dimensions
            FROM t"""


# Checkpoint-audit twin: the same deterministic stage-history + catalog
# synthesis as the Spark _ckpt_history/_ckpt_catalog helpers, with the
# last-entry window.
_DUCK_CKPT_CTES = """hist AS (
                SELECT 'job_' || CAST(doc_id AS VARCHAR) AS job_id,
                    2 AS seq,
                    CASE doc_id % 8
                        WHEN 0 THEN 'chunks_created'
                        WHEN 1 THEN 'chunks_created'
                        WHEN 2 THEN 'chunks_created'
                        WHEN 3 THEN 'text_embeddings_generated'
                        WHEN 4 THEN 'images_extracted'
                        WHEN 5 THEN 'warmup_started'
                        WHEN 6 THEN 'warmup_complete'
                        ELSE 'bogus_stage' END AS stage,
                    CASE WHEN doc_id % 8 IN (0, 3)
                         THEN list_transform(generate_series(0, 2),
                              i -> 'ck_' || CAST(doc_id AS VARCHAR)
                                   || '_' || CAST(i AS VARCHAR))
                         WHEN doc_id % 8 IN (1, 2) THEN []::VARCHAR[]
                        END AS chunk_ids,
                    CASE WHEN doc_id % 8 = 4
                         THEN ['im_' || CAST(doc_id AS VARCHAR) || '_0',
                               'im_' || CAST(doc_id AS VARCHAR) || '_1']
                        END AS image_ids,
                    CASE WHEN doc_id % 8 = 1 THEN 0 ELSE 3
                        END AS chunks_created,
                    CASE WHEN doc_id % 8 = 2 THEN
                        CASE WHEN doc_id % 10 = 2
                             THEN 'nodoc_' || CAST(doc_id AS VARCHAR)
                             ELSE CAST(doc_id AS VARCHAR) END
                        END AS document_id,
                    CASE WHEN doc_id % 8 = 5 THEN
                        CASE WHEN doc_id % 10 = 5 THEN []::VARCHAR[]
                             ELSE ['e1', 'e2'] END
                        END AS endpoints_to_warmup,
                    CASE WHEN doc_id % 8 = 6
                         THEN CAST(doc_id % 3 AS INT)
                        END AS total_ready,
                    CASE WHEN doc_id % 8 = 6 THEN
                        CASE WHEN doc_id % 6 = 0 THEN ['x']
                             ELSE []::VARCHAR[] END
                        END AS endpoints_failed,
                    CASE WHEN doc_id % 7 = 0 THEN NULL
                         WHEN doc_id % 5 = 0 THEN 1700000000.0 - 200000.0
                         ELSE 1700000000.0 - 3600.0
                              - CAST(doc_id % 10 AS DOUBLE) * 60.0
                        END AS created_at
                FROM documents
                UNION ALL
                SELECT 'job_' || CAST(doc_id AS VARCHAR), 1,
                    'initialized', NULL, NULL, 0, NULL, NULL, NULL,
                    NULL, 1700000000.0 - 7200.0
                FROM documents),
            last AS (
                SELECT * FROM hist
                QUALIFY row_number() OVER (PARTITION BY job_id
                    ORDER BY seq DESC) = 1),
            cat_chunks AS (
                SELECT 'ck_' || CAST(doc_id AS VARCHAR) || '_'
                           || CAST(i AS VARCHAR) AS chunk_id,
                       CAST(doc_id AS VARCHAR) AS document_id,
                       (i <> 1 OR doc_id % 9 <> 3) AS has_embedding
                FROM documents,
                     (SELECT unnest(generate_series(0, 2)) AS i) ii
                WHERE i <> 2 OR doc_id % 6 <> 0),
            cat_images AS (
                SELECT 'im_' || CAST(doc_id AS VARCHAR) || '_'
                           || CAST(i AS VARCHAR) AS image_id
                FROM documents,
                     (SELECT unnest(generate_series(0, 1)) AS i) ii
                WHERE i <> 1 OR doc_id % 5 <> 4)"""


def _duck_facet_gate(key: str = "facet_key") -> str:
    """is_canonicalizable twin generated from the shared whitelist
    constants."""
    from mivaa_pdf_extractor_spark.operators.facets import (
        CANONICALIZABLE_FACETS, NON_CANONICAL_FACETS)
    wl = ", ".join("'" + k + "'" for k in CANONICALIZABLE_FACETS)
    nc = ", ".join("'" + k + "'" for k in NON_CANONICAL_FACETS)
    return (f"(substr({key}, 1, 1) <> '_' AND {key} NOT IN ({nc}) "
            f"AND {key} IN ({wl}))")


def _duck_property_case() -> str:
    """Property-key -> category CASE generated from the shared constant
    (declaration order IS the lookup order)."""
    from mivaa_pdf_extractor_spark.operators.metadata_post import (
        METADATA_CATEGORY_HINTS)
    parts = []
    for cat, hints in METADATA_CATEGORY_HINTS.items():
        lst = ", ".join("'" + h + "'" for h in hints)
        parts.append(f"WHEN list_contains([{lst}], k) THEN '{cat}'")
    return ("CASE " + " ".join(parts)
            + " WHEN starts_with(k, '_custom_') THEN 'custom'"
            + " ELSE 'other' END")


# Corpus n-gram counts (n = 1..3) over the ASCII-whitespace token stream —
# the stupid-backoff model's count tables.
_DUCK_NGRAM_COUNTS_CTE = """docs_w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text),
                           '[ \t\r\n]+'), x -> x <> '') AS w
                FROM documents),
            g1 AS (SELECT 1 AS n, unnest(w) AS gram FROM docs_w),
            g2 AS (SELECT 2 AS n,
                          unnest(list_transform(
                              generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i + 1])) AS gram
                   FROM docs_w),
            g3 AS (SELECT 3 AS n,
                          unnest(list_transform(
                              generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i + 1] || ' '
                                   || w[i + 2])) AS gram
                   FROM docs_w),
            counts AS (
                SELECT n, gram, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2
                      UNION ALL SELECT * FROM g3)
                GROUP BY n, gram)"""


def oracle_sql() -> dict[str, str]:
    hits = {lang: _duck_lang_hits(lang) for lang in _LANGS}
    greatest_hits = "greatest(" + ", ".join(hits[x] for x in _LANGS) + ")"
    lang_case = "CASE WHEN " + greatest_hits + " = 0 THEN 'und' " + " ".join(
        f"WHEN {hits[lang]} = {greatest_hits} THEN '{lang}'"
        for lang in _LANGS) + " END"

    # price-monitoring twins: shared synthetic history + sorted-array
    # median arithmetic (kept in expression-lockstep with operators/prices)
    from mivaa_pdf_extractor_spark.operators.prices import (
        SYNTH_PRICE_HISTORY_SQL as _ph_sql)

    # AI cost-accounting twins (expression-lockstep with operators/billing)
    from mivaa_pdf_extractor_spark.operators import billing as _billing
    _ai_calls_sql = _billing.SYNTH_AI_CALLS_SQL
    _ai_pages_sql = _billing.SYNTH_PAGE_EMBED_SQL
    _ai_resolution_ctes = _billing.resolution_sql_ctes()
    _ai_costed_cte = _billing.COSTED_SQL_CTE

    # product-enrichment field-mining twin (generated from the same
    # pattern constants as operators/enrich.mine_fields)
    from mivaa_pdf_extractor_spark.operators import enrich as _enrich
    from mivaa_pdf_extractor_spark.operators import vision as _vision
    from mivaa_pdf_extractor_spark.operators import propagate as _prop
    from mivaa_pdf_extractor_spark.operators import enrich_merge \
        as _emerge
    from mivaa_pdf_extractor_spark.operators import product_text \
        as _ptext
    from mivaa_pdf_extractor_spark.operators import discovery as _disc
    from mivaa_pdf_extractor_spark.operators import discovery_pages \
        as _dpages
    from mivaa_pdf_extractor_spark.operators import material_props \
        as _mprops
    from mivaa_pdf_extractor_spark.operators import spec_rows \
        as _srows
    from mivaa_pdf_extractor_spark.operators import ai_validation \
        as _aival
    from mivaa_pdf_extractor_spark.operators import product_merge \
        as _pmg
    from mivaa_pdf_extractor_spark.operators import suggestions \
        as _sugg
    from mivaa_pdf_extractor_spark.operators import relevancy as _rel
    from mivaa_pdf_extractor_spark.operators import catalog_layout \
        as _clay
    from mivaa_pdf_extractor_spark.operators import quality_scores \
        as _qsc
    from mivaa_pdf_extractor_spark.operators import query_tracking \
        as _qtr
    from mivaa_pdf_extractor_spark.operators import entity_match \
        as _ematch
    from mivaa_pdf_extractor_spark.operators import visual_analytics \
        as _vana
    from mivaa_pdf_extractor_spark.operators import product_extract \
        as _pex
    from mivaa_pdf_extractor_spark.operators import identity as _ident
    from mivaa_pdf_extractor_spark.operators import prices as _prices
    from mivaa_pdf_extractor_spark.operators import icon_split as _icon
    from mivaa_pdf_extractor_spark.operators import salaries as _sal
    from mivaa_pdf_extractor_spark.operators import sentiment as _senti
    from mivaa_pdf_extractor_spark.operators import consolidation as _cons
    from mivaa_pdf_extractor_spark.operators import recipes as _rec
    from mivaa_pdf_extractor_spark.operators import source_curation as _scur
    from mivaa_pdf_extractor_spark.operators import facet_sweep as _fsw
    from mivaa_pdf_extractor_spark.operators import facet_admin as _fad
    from mivaa_pdf_extractor_spark.operators import doc_entities as _dce
    from mivaa_pdf_extractor_spark.operators import chunk_dispatch as _cdsp
    from mivaa_pdf_extractor_spark.operators import icon_rollup as _icr
    from mivaa_pdf_extractor_spark.operators import tracked_results as _trk
    from mivaa_pdf_extractor_spark.operators import job_terminal as _jtm
    from mivaa_pdf_extractor_spark.operators import startup_resume as _sres
    from mivaa_pdf_extractor_spark.operators import rag_job_routes as _rjr
    from mivaa_pdf_extractor_spark.operators import admin_jobs as _adj
    from mivaa_pdf_extractor_spark.operators import google_jobs as _gjp
    from mivaa_pdf_extractor_spark.operators import kb_expand as _kbe
    from mivaa_pdf_extractor_spark.operators import read_section as _rds
    from mivaa_pdf_extractor_spark.operators import temp_sweep as _tsw
    from mivaa_pdf_extractor_spark.operators import kb_save as _kbsv
    from mivaa_pdf_extractor_spark.operators import associations as _asc
    from mivaa_pdf_extractor_spark.operators import job_classify as _jc
    from mivaa_pdf_extractor_spark.operators import serp_opps as _so
    from mivaa_pdf_extractor_spark.operators import mention_cards as _mc
    from mivaa_pdf_extractor_spark.operators import (
        mention_curation as _mcu)
    from mivaa_pdf_extractor_spark.operators import spec_vision as _sv
    from mivaa_pdf_extractor_spark.operators import vision_embed as _ve
    from mivaa_pdf_extractor_spark.operators import public_tools as _pt
    from mivaa_pdf_extractor_spark.operators import vecs_fusion as _vf
    from mivaa_pdf_extractor_spark.operators import image_analysis as _ia
    from mivaa_pdf_extractor_spark.operators import (
        validation_gate as _vg)
    from mivaa_pdf_extractor_spark.operators import progress as _pg
    from mivaa_pdf_extractor_spark.operators import (
        product_progress as _ppr)
    from mivaa_pdf_extractor_spark.operators import (
        extraction_status as _es)
    from mivaa_pdf_extractor_spark.operators import (
        stage0_products as _s0)
    from mivaa_pdf_extractor_spark.operators import catalog_kb as _ckb
    from mivaa_pdf_extractor_spark.operators import (
        input_validation as _iv)
    from mivaa_pdf_extractor_spark.operators import (
        perf_monitor as _pm)
    from mivaa_pdf_extractor_spark.operators import (
        ocr_attempts as _oa)
    from mivaa_pdf_extractor_spark.operators import (
        unit_billing as _ub)
    from mivaa_pdf_extractor_spark.operators import (
        marketplace_facets as _mf)
    from mivaa_pdf_extractor_spark.operators import (
        search_prompts as _sp)
    from mivaa_pdf_extractor_spark.operators import (
        mention_costs as _mc2)
    from mivaa_pdf_extractor_spark.operators import (
        segmentation as _sg)
    from mivaa_pdf_extractor_spark.operators import (
        projects as _prj)
    from mivaa_pdf_extractor_spark.operators import (
        job_track_routes as _jtr)
    from mivaa_pdf_extractor_spark.operators import (
        mention_track_routes as _mtr)
    from mivaa_pdf_extractor_spark.operators import (
        endpoint_registry as _epr)
    from mivaa_pdf_extractor_spark.operators import (
        dup_routes as _dpr)
    from mivaa_pdf_extractor_spark.operators import (
        runtime_limits as _rtl)
    from mivaa_pdf_extractor_spark.operators import (
        observability as _obs)
    from mivaa_pdf_extractor_spark.operators import (
        bestprice as _bp)
    from mivaa_pdf_extractor_spark.operators import (
        shopflix as _sfx)
    from mivaa_pdf_extractor_spark.operators import (
        idealo as _idl)
    from mivaa_pdf_extractor_spark.operators import (
        feedback_routes as _fbr)
    from mivaa_pdf_extractor_spark.operators import (
        kb_sync as _kbs)
    from mivaa_pdf_extractor_spark.operators import (
        metering as _mtg)
    from mivaa_pdf_extractor_spark.operators import (
        turnstile as _ts)
    from mivaa_pdf_extractor_spark.operators import (
        kb_rechunk as _kbr)
    from mivaa_pdf_extractor_spark.operators import (
        endpoint_provider as _epv)
    from mivaa_pdf_extractor_spark.operators import (
        slig_client as _slc)
    from mivaa_pdf_extractor_spark.operators import (
        slig_modes as _slm)
    from mivaa_pdf_extractor_spark.operators import (
        paddle_parse as _ppz)
    from mivaa_pdf_extractor_spark.operators import (
        extraction_prompts as _exp)
    from mivaa_pdf_extractor_spark.operators import (
        lazy_components as _lzc)
    from mivaa_pdf_extractor_spark.operators import (
        job_sites_admin as _jsa)
    from mivaa_pdf_extractor_spark.operators import (
        rasterize as _rz)
    from mivaa_pdf_extractor_spark.operators import (
        job_health as _jhl)
    from mivaa_pdf_extractor_spark.operators import (
        ws_rooms as _wsr)
    from mivaa_pdf_extractor_spark.operators import (
        stage_reporting as _srp)
    from mivaa_pdf_extractor_spark.operators import (
        url_only_refresh as _uor)
    from mivaa_pdf_extractor_spark.operators import (
        extraction_config as _exc)
    from mivaa_pdf_extractor_spark.operators import (
        trending as _trd)
    from mivaa_pdf_extractor_spark.operators import (
        greek_service as _gks)
    from mivaa_pdf_extractor_spark.operators import (
        module_registry as _mreg)
    from mivaa_pdf_extractor_spark.operators import (
        auth_deps as _adp)
    from mivaa_pdf_extractor_spark.operators import (
        enrich_props as _ep)
    from mivaa_pdf_extractor_spark.operators import (
        llm_probes as _lp)
    from mivaa_pdf_extractor_spark.operators import (
        job_diagnosis as _jd)
    from mivaa_pdf_extractor_spark.operators import (
        job_monitor as _jm)
    from mivaa_pdf_extractor_spark.operators import (
        image_backfill as _ib)
    from mivaa_pdf_extractor_spark.operators import (
        field_registry as _fr)
    from mivaa_pdf_extractor_spark.operators import (
        monitor_alerts as _ma)
    from mivaa_pdf_extractor_spark.operators import aimd as _aimd
    from mivaa_pdf_extractor_spark.operators import (
        stage3_images as _s3)
    from mivaa_pdf_extractor_spark.operators import (
        stage4_product as _s4p)
    from mivaa_pdf_extractor_spark.operators import (
        escalation as _esc)

    def _pt_layer(tag: str, mod: int) -> str:
        # twin of the inline layer() synth in product_factory_object
        fields = []
        for i, f in enumerate(_ptext.FACTORY_FIELDS14):
            fields.append(
                f"{f} := CASE WHEN event_id % {mod} = {i % mod} "
                f"THEN '{tag}_{f}' "
                f"WHEN event_id % {mod + 1} = {i % (mod + 1)} "
                f"THEN 'N/A' END")
        return "struct_pack(" + ", ".join(fields) + ")"

    def _pt_factory_fields() -> str:
        ph = ", ".join(f"'{p}'" for p in (
            "n/a", "not found", "not explicitly mentioned",
            "not mentioned", "unknown", "none"))
        outs = []
        for f in _ptext.FACTORY_FIELDS14:
            def ne(v):
                return (f"(NOT ({v} IS NULL OR trim({v}) = '' OR "
                        f"lower(trim({v})) IN ({ph})))")
            outs.append(
                f"coalesce(CASE WHEN {ne(f'existing.{f}')} "
                f"THEN existing.{f} END, "
                f"CASE WHEN {ne(f'meta.{f}')} THEN meta.{f} END, "
                f"CASE WHEN {ne(f'dflt.{f}')} THEN dflt.{f} END) "
                f"AS f_{f}")
        return ",\n                   ".join(outs)

    # job-listing curation twins (expression-lockstep with operators/jobs)
    from mivaa_pdf_extractor_spark.operators import jobs as _jobs
    from mivaa_pdf_extractor_spark.operators import job_refresh as _jref
    from mivaa_pdf_extractor_spark.operators import job_curation as _jcur
    from mivaa_pdf_extractor_spark.operators import dataforseo as _dfs
    from mivaa_pdf_extractor_spark.operators import (
        chunk_quality_report as _cq)
    from mivaa_pdf_extractor_spark.operators import ai_tracker as _at
    from mivaa_pdf_extractor_spark.operators import interior_gen as _ig
    from mivaa_pdf_extractor_spark.operators import stage2_plan as _s2plan
    from mivaa_pdf_extractor_spark.operators import auth_gate as _auth
    from mivaa_pdf_extractor_spark.operators import job_admin as _jadmin
    from mivaa_pdf_extractor_spark.operators import (
        search_enhance as _senh)
    from mivaa_pdf_extractor_spark.operators import kb_docs as _kbd
    from mivaa_pdf_extractor_spark.operators import ops_guard as _ogd
    from mivaa_pdf_extractor_spark.operators import llm_payload as _lpd
    from mivaa_pdf_extractor_spark.operators import prompt_admin as _padm
    from mivaa_pdf_extractor_spark.operators import error_taxonomy as _etax
    from mivaa_pdf_extractor_spark.operators import product_fanout as _pfan
    from mivaa_pdf_extractor_spark.operators import health_rollup as _hlth
    from mivaa_pdf_extractor_spark.operators import ocr_agg as _ocrg
    from mivaa_pdf_extractor_spark.operators import agent_enrich as _agen
    from mivaa_pdf_extractor_spark.operators import fencing as _fnc
    from mivaa_pdf_extractor_spark.operators import error_reporting as _erep
    from mivaa_pdf_extractor_spark.operators import queue_folds as _qfl
    from mivaa_pdf_extractor_spark.operators import breaker_replay as _cbr
    from mivaa_pdf_extractor_spark.operators import db_metrics as _dbm
    from mivaa_pdf_extractor_spark.operators import (
        resource_lifecycle as _rlc)
    from mivaa_pdf_extractor_spark.operators import mem_pressure as _mem
    from mivaa_pdf_extractor_spark.operators import credits_debit as _crd
    from mivaa_pdf_extractor_spark.operators import image_export as _imx
    from mivaa_pdf_extractor_spark.operators import image_row as _imr
    from mivaa_pdf_extractor_spark.operators import prompt_resolve as _prs
    from mivaa_pdf_extractor_spark.operators import desc_writer as _dsw
    from mivaa_pdf_extractor_spark.operators import cat_prototypes as _cpt
    from mivaa_pdf_extractor_spark.operators import request_log as _rql
    from mivaa_pdf_extractor_spark.operators import job_costs as _jcs
    from mivaa_pdf_extractor_spark.operators import agent_runs as _arn
    from mivaa_pdf_extractor_spark.operators import schema_gate as _sgt
    from mivaa_pdf_extractor_spark.operators import db_health as _dbh2
    from mivaa_pdf_extractor_spark.operators import logs_admin as _lga
    from mivaa_pdf_extractor_spark.operators import ai_metrics as _aim
    from mivaa_pdf_extractor_spark.operators import (
        storage_monitor as _smn)
    from mivaa_pdf_extractor_spark.operators import api_key_gate as _akg
    from mivaa_pdf_extractor_spark.operators import (
        import_stages as _xstg)
    from mivaa_pdf_extractor_spark.operators import mentions as _mnt
    from mivaa_pdf_extractor_spark.operators import (
        firecrawl_shapes as _fcs)
    from mivaa_pdf_extractor_spark.operators import checkpoints as _ckp
    from mivaa_pdf_extractor_spark.operators import pages as _pgs
    from mivaa_pdf_extractor_spark.operators import (
        manual_product as _mpr)
    from mivaa_pdf_extractor_spark.operators import (
        search_merge as _smg2)
    _jg = _jobs.gate_sql_exprs()
    _job_src_prio = ("CASE source WHEN 'ats_board' THEN 5 "
                     "WHEN 'firecrawl_careers' THEN 4 "
                     "WHEN 'rss_feed' THEN 3 "
                     "WHEN 'perplexity_sonar' THEN 2 "
                     "WHEN 'google_jobs' THEN 1 ELSE 0 END")

    def _dmed(v: str) -> str:
        return (f"CASE WHEN len({v}) % 2 = 1 THEN {v}[len({v})//2 + 1] "
                f"ELSE ({v}[len({v})//2] + {v}[len({v})//2 + 1]) / 2.0 END")

    _ph_dom = ("regexp_replace(nullif(lower(regexp_extract("
               "trim(product_url), '(?i)^https?://([^/]+)', 1)), ''), "
               "'^www\\.', '')")
    _ph_h = (f"SELECT ph.*, date_diff('day', DATE '1970-01-01', "
             f"CAST(scraped_at AS DATE)) AS run_day, {_ph_dom} AS dom "
             f"FROM ph")

    # lined-docs synthesizer for the template-removal twins — must stay
    # in lockstep with _lined_docs in queries() (concat_ws skips NULLs
    # in both engines, so the conditional lines drop out identically)
    _lined_docs_sql = """
        SELECT doc_id, source,
               concat_ws(chr(10),
                   'Home | Products | About - ' || source,
                   CASE WHEN doc_id % 3 <> 0 THEN
                       'Subscribe to the ' || source || ' newsletter' END,
                   CASE WHEN doc_id % 5 = 0 THEN
                       'Special notice ' || CAST(doc_id % 7 AS VARCHAR)
                   END,
                   substring(text, 1, 120),
                   '(c) 2024 ' || source || ' - all rights reserved')
                 AS text
        FROM documents
    """

    # mention-opportunity twins — lockstep with operators/mentions.py
    from mivaa_pdf_extractor_spark.operators.mentions import (
        STOPWORDS as _mn_stop)
    _mn_stop_sql = "[" + ", ".join(f"'{s}'" for s in _mn_stop) + "]"
    _mn_sql = """
        SELECT event_id AS mention_id,
               user_id % 20 AS subject_id,
               (CASE WHEN event_id % 10 = 0 THEN 'Acme Solar launch: '
                     ELSE '' END)
                 || 'the ' ||
                 (CASE WHEN event_id % 4 = 0 THEN 'solar'
                       WHEN event_id % 4 = 1 THEN 'wind'
                       WHEN event_id % 4 = 2 THEN 'hydro'
                       ELSE 'storage' END)
                 || ' ' ||
                 (CASE WHEN event_id % 3 = 0 THEN 'panels'
                       WHEN event_id % 3 = 1 THEN 'tariffs'
                       ELSE 'subsidies' END)
                 || ' for best results' AS title,
               CASE WHEN event_id % 8 = 0 THEN NULL
                    WHEN event_id % 7 < 3 THEN 'green energy shift'
                    ELSE 'the grid upgrade debate' END AS excerpt,
               CASE WHEN event_id % 19 = 0 THEN ''
                    WHEN event_id % 23 = 0 THEN NULL
                    ELSE 'Outlet' || CAST(event_id % 9 AS VARCHAR)
                         || '.example.com' END AS outlet_domain,
               'Outlet ' || CAST(event_id % 9 AS VARCHAR) AS outlet_name,
               CASE WHEN (event_id % 9) % 3 = 0 THEN 'news'
                    WHEN (event_id % 9) % 3 = 1 THEN 'blog'
                    ELSE 'trade' END AS outlet_type,
               CASE WHEN event_id % 11 = 0 THEN 'Staff'
                    WHEN event_id % 11 = 1 THEN ''
                    WHEN event_id % 11 = 2 THEN NULL
                    WHEN event_id % 11 = 3 THEN 'admin'
                    ELSE 'Author ' || CAST(event_id % 5 AS VARCHAR)
               END AS author,
               CASE WHEN event_id % 5 = 0 THEN 'negative'
                    WHEN event_id % 5 = 1 THEN 'positive'
                    WHEN event_id % 5 = 2 THEN 'neutral'
                    WHEN event_id % 5 = 3 THEN NULL
                    ELSE 'negative' END AS sentiment,
               CASE WHEN event_id % 4 = 0 THEN 'exact'
                    WHEN event_id % 4 = 1 THEN 'tangential'
                    WHEN event_id % 4 = 2 THEN NULL
                    ELSE 'mismatch' END AS relevance,
               'https://outlet' || CAST(event_id % 9 AS VARCHAR)
                 || '.example.com/a/' || CAST(event_id AS VARCHAR) AS url,
               ts AS published_at
        FROM events
    """
    _mn_subj_sql = """
        SELECT DISTINCT user_id % 20 AS subject_id,
               (CASE WHEN (user_id % 20) % 2 = 0 THEN 'Acme Solar '
                     ELSE 'Bolt Energy ' END)
                 || CAST(user_id % 20 AS VARCHAR) AS subject_label
        FROM events
    """
    # trending CTE chain (tokens -> positions -> bigram pairs -> counts)
    _mn_trend_ctes = f"""
        tt AS (SELECT mention_id, subject_id,
                      list_filter(
                        string_split(trim(regexp_replace(lower(
                            concat_ws(' ', title, excerpt)),
                            '\\s+', ' ', 'g')), ' '),
                        w -> w <> ''
                             AND NOT list_contains({_mn_stop_sql}, w)
                             AND NOT regexp_matches(w, '^[0-9]+$')
                             AND length(w) >= 3) AS toks
               FROM mn),
        tk AS (SELECT mention_id, subject_id, unnest(toks) AS tok,
                      generate_subscripts(toks, 1) AS pos FROM tt),
        pr AS (SELECT t1.subject_id, t1.tok AS a, t2.tok AS b
               FROM tk t1 JOIN tk t2
                 ON t1.mention_id = t2.mention_id
                AND t2.pos = t1.pos + 1),
        sj AS (SELECT subject_id,
                      string_split(trim(regexp_replace(lower(
                          subject_label), '\\s+', ' ', 'g')), ' ') AS st
               FROM subj),
        prf AS (SELECT pr.subject_id, a, b FROM pr JOIN sj
                  ON pr.subject_id = sj.subject_id
                WHERE NOT (list_contains(st, a)
                           AND list_contains(st, b))),
        tct AS (SELECT subject_id, a, b, count(*) AS mention_count
                FROM prf GROUP BY subject_id, a, b
                HAVING count(*) >= 2),
        trend AS (SELECT subject_id, rank, a || ' ' || b AS phrase,
                         mention_count,
                         least(1.0, mention_count / 10.0)
                           AS priority_score
                  FROM (SELECT *, row_number() OVER (
                            PARTITION BY subject_id
                            ORDER BY mention_count DESC, a ASC, b ASC)
                          AS rank FROM tct)
                  WHERE rank <= 5)
    """
    _mn_outlet_ctes = """
        ob AS (SELECT subject_id, lower(outlet_domain) AS domain,
                      mention_id, published_at, outlet_name, outlet_type
               FROM mn
               WHERE outlet_domain IS NOT NULL AND outlet_domain <> ''),
        oct AS (SELECT subject_id, domain, count(*) AS mention_count
                FROM ob GROUP BY subject_id, domain),
        omt AS (SELECT subject_id, domain, outlet_name, outlet_type
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY subject_id, domain
                          ORDER BY published_at DESC, mention_id DESC)
                        AS rn FROM ob) WHERE rn = 1),
        outl AS (SELECT subject_id, rank, domain,
                        coalesce(outlet_name, domain) AS outlet_name,
                        outlet_type, mention_count,
                        mention_count >= 3 AS warm,
                        CASE WHEN mention_count >= 3
                             THEN least(1.0, 0.5 + mention_count / 10.0)
                             ELSE 0.3 + mention_count * 0.1
                        END AS priority_score
                 FROM (SELECT oct.subject_id, oct.domain, mention_count,
                              omt.outlet_name, omt.outlet_type,
                              row_number() OVER (
                                  PARTITION BY oct.subject_id
                                  ORDER BY mention_count DESC,
                                           oct.domain ASC) AS rank
                       FROM oct JOIN omt
                         ON oct.subject_id = omt.subject_id
                        AND oct.domain = omt.domain)
                 WHERE rank <= 5)
    """
    _mn_author_ctes = """
        ab AS (SELECT subject_id, lower(trim(author)) AS author_key,
                      trim(author) AS display_name, outlet_domain,
                      mention_id, published_at
               FROM mn
               WHERE author IS NOT NULL AND trim(author) <> ''
                 AND lower(trim(author)) NOT IN
                     ('staff', 'editor', 'admin', 'unknown')),
        act AS (SELECT subject_id, author_key,
                       count(*) AS mention_count
                FROM ab GROUP BY subject_id, author_key
                HAVING count(*) >= 2),
        amt AS (SELECT subject_id, author_key, display_name,
                       outlet_domain
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY subject_id, author_key
                          ORDER BY published_at DESC, mention_id DESC)
                        AS rn FROM ab) WHERE rn = 1),
        auth AS (SELECT subject_id, rank, author_key, display_name,
                        outlet_domain, mention_count,
                        least(1.0, 0.4 + mention_count / 6.0)
                          AS priority_score
                 FROM (SELECT act.subject_id, act.author_key,
                              mention_count, amt.display_name,
                              amt.outlet_domain,
                              row_number() OVER (
                                  PARTITION BY act.subject_id
                                  ORDER BY mention_count DESC,
                                           act.author_key ASC) AS rank
                       FROM act JOIN amt
                         ON act.subject_id = amt.subject_id
                        AND act.author_key = amt.author_key)
                 WHERE rank <= 5)
    """
    _mn_sent_ctes = """
        sent AS (SELECT subject_id, rank, mention_id,
                        coalesce(title, 'Negative mention') AS title,
                        outlet_domain, url, 0.85 AS priority_score
                 FROM (SELECT *, row_number() OVER (
                           PARTITION BY subject_id
                           ORDER BY published_at DESC, mention_id DESC)
                         AS rank
                       FROM mn
                       WHERE sentiment = 'negative'
                         AND (relevance IS NULL
                              OR relevance IN ('exact', 'tangential')))
                 WHERE rank <= 5)
    """

    # product-identity twins — generated from the same verbatim constants
    # as operators/identity.py so the ladders can't drift
    from mivaa_pdf_extractor_spark.operators.identity import (
        AGGREGATOR_HOSTS as _id_aggs, MATCH_STOPWORDS as _id_stops,
        NON_PRODUCT_PATH_MARKERS as _id_marks, TRUSTED_SOURCES as _id_trust,
        _GREEK as _id_greek, _LATIN as _id_latin)

    def _id_norm(x: str) -> str:
        return (f"regexp_replace(upper(translate({x}, '{_id_greek}', "
                f"'{_id_latin}')), '[\\s\\-_./]+', '', 'g')")

    _id_path = ("regexp_extract(trim(product_url), "
                "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)")
    _id_host = ("regexp_replace(regexp_replace(lower(regexp_extract("
                "trim(product_url), "
                "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), "
                "'^\\.+', ''), '^www\\.', '')")
    _id_qs = "regexp_extract(trim(product_url), '\\?([^#]*)', 1)"
    _id_trust_sql = ("source IN ("
                     + ", ".join(f"'{s}'" for s in _id_trust) + ")")
    _id_listing = ("CASE " + " ".join(
        f"WHEN contains(lower(path), '{m}') "
        f"THEN 'listing/search path ({m})'" for m in _id_marks)
        + " ELSE NULL END")
    _id_agg_case = ("CASE " + " ".join(
        f"WHEN retailer_name IS NOT NULL AND retailer_name <> '' "
        f"AND contains(host, '{a.split('.')[0]}') "
        f"AND NOT contains(rguess, '{a.split('.')[0]}') "
        f"THEN 'aggregator host {a} claimed as ' || retailer_name"
        for a in _id_aggs) + " ELSE NULL END")
    # coalesce: DuckDB array_to_string([]) is NULL, Spark array_join is ''
    _id_slug_join = (
        "coalesce(array_to_string(list_transform(list_filter("
        "string_split_regex(regexp_replace(coalesce("
        "list_filter(string_split(path, '/'), p -> p <> '')[-1], ''), "
        "'(?i)\\.(html?|php|aspx?)$', ''), '[-_.]+'), "
        "t -> t <> '' AND length(t) >= 2), t -> "
        + _id_norm("t") + "), ' '), '')")
    _id_stop_sql = "[" + ", ".join(f"'{s}'" for s in _id_stops) + "]"

    def _id_mtok(x: str) -> str:
        return ("list_sort(list_distinct(list_filter(string_split_regex("
                f"lower(coalesce({x}, '')), '[^a-z0-9α-ω]+'), "
                f"t -> t <> '' AND length(t) >= 3 "
                f"AND NOT list_contains({_id_stop_sql}, t))))")

    _id_base_sql = """
        SELECT p_partkey AS id,
               string_split(p_name, ' ')[1] AS w0,
               string_split(p_name, ' ')[2] AS w1,
               replace(p_brand, '#', '') AS brand_tok,
               p_name
        FROM part
    """

    # markdown product-detection twins — generated from the same verbatim
    # keyword tiers as operators/product_detect.py
    from mivaa_pdf_extractor_spark.operators import product_detect as _pd

    def _pd_any(col: str, kws: list) -> str:
        return ("(" + " OR ".join(
            f"contains({col}, '{k}')" for k in kws) + ")")

    def _pd_upper(col: str, min_len: int) -> str:
        return (f"len(list_filter(regexp_split_to_array({col}, '\\s+'), "
                f"w -> length(w) > {min_len} AND regexp_matches(w, "
                f"'[A-Z]') AND NOT regexp_matches(w, '[a-z]'))) > 0")

    _pd_chunks_sql = """
        SELECT p_partkey AS id,
          CASE
            WHEN p_partkey % 10 = 0 THEN
              'Table of Contents ......... page 1 page 2 page 3' || pad
            WHEN p_partkey % 10 = 1 THEN
              'Our sustainability and recycled materials policy.' || pad
            WHEN p_partkey % 10 = 2 THEN
              'Technical characteristics | thickness 10mm and water '
              || 'absorption table.' || pad
            WHEN p_partkey % 10 = 3 THEN
              'Moodboard inspiration for the season.' || pad
            WHEN p_partkey % 10 = 4 THEN
              '## ' || upper(string_split(p_name, ' ')[1]) || chr(10)
              || '120 × 60 cm' || chr(10)
              || 'by Estudi{H}ac designer collection ceramic white matt'
              || pad
            WHEN p_partkey % 10 = 5 THEN
              upper(string_split(p_name, ' ')[2])
              || ' premium surface 45 x 45 cm porcelain collection in '
              || 'grey and beige tones' || pad
            WHEN p_partkey % 10 = 6 THEN 'tiny'
            WHEN p_partkey % 10 = 7 THEN
              'The designer biography: born in 1980, graduated from '
              || 'art school.' || pad
            WHEN p_partkey % 10 = 8 THEN
              'Cleaning and maintenance guide for floor cleaner usage.'
              || ' not applicable' || pad
            ELSE
              'Just plain prose with nothing special to say at all.'
              || pad
          END AS content
        FROM (SELECT *, repeat(' lorem filler words continue here', 4)
                     AS pad FROM part)
    """

    # regex constants interpolated as VALUES (f-string braces stay single)
    _pd_name_re = r"##?\s+[A-Z]{2,}(?:\s+[A-Z]{2,})*"
    _pd_line_re = r"(?m)^[A-Z]{2,}(?:\s+[A-Z]{2,})*$"
    _pd_any_re = r"\b[A-Z]{2,}(?:\s+[A-Z]{2,})*\b"
    _pd_name_g = r"##?\s+([A-Z]{2,}(?:\s+[A-Z]{2,})*)"
    _pd_line_g = r"(?m)^([A-Z]{2,}(?:\s+[A-Z]{2,})*)$"
    _pd_any_g = r"\b([A-Z]{2,}(?:\s+[A-Z]{2,})*)\b"
    _pd_dims_re = r"\d+\s*[×x]\s*\d+|\d+\s*(?:mm|cm)"
    _pd_desg_re = (r"(?i)(?:by|BY)\s+[A-Z][a-zA-Z\s{}]+"
                   r"|(?i)(?:studio|estudi)")
    _pd_desg_g = (r"(?i)(?:by|BY)\s+([A-Z][a-zA-Z\s{}]+)"
                  r"|(?:studio|estudi)\s*([A-Z][a-zA-Z\s{}]*)")
    _pd_color_re = (r"(?i)\b(?:white|black|grey|gray|beige|taupe|sand"
                    r"|clay|anthracite|cream|ivory|brown|blue|green|red"
                    r"|yellow|orange|purple|pink)\b")
    _pd_mat_re = (r"(?i)\b(?:ceramic|porcelain|stone|marble|granite"
                  r"|wood|metal|glass|concrete|tile|vinyl|laminate)\b")

    # dimension-parser twins — same patterns as operators/dimensions.py
    from mivaa_pdf_extractor_spark.operators import dimensions as _dm

    _dm_text_sql = """
        SELECT p_partkey AS id,
          CASE
            WHEN p_partkey % 8 = 0 THEN
              'tile ' || a || '×' || b || '×2.5 cm in stock'
            WHEN p_partkey % 8 = 1 THEN
              'panel ' || a || 'x' || b || 'x3 with no unit'
            WHEN p_partkey % 8 = 2 THEN
              'slab ' || a || '×' || b || ' MM listed'
            WHEN p_partkey % 8 = 3 THEN
              'board ' || a || 'x' || b || ' bare'
            WHEN p_partkey % 8 = 4 THEN 'rod ' || a || ' inch long'
            WHEN p_partkey % 8 = 5 THEN 'no numeric sizes in this row'
            WHEN p_partkey % 8 = 6 THEN
              'mix ' || a || '×' || b || ' cm and ' || a || '×' || b
              || ' cm again plus 7 m'
            ELSE 'deci 11.8×11.8 and ' || a || 'x' || b || 'x' || c
                 || 'in'
          END AS content
        FROM (SELECT *, CAST(p_partkey % 90 + 10 AS VARCHAR) AS a,
                     CAST(p_partkey % 45 + 5 AS VARCHAR) AS b,
                     CAST(p_partkey % 9 + 1 AS VARCHAR) AS c FROM part)
    """

    def _dm_unit(expr: str) -> str:
        return (f"CASE WHEN {expr} IS NULL OR {expr} = '' THEN 'cm' "
                f"ELSE lower({expr}) END")

    # one tier of extract_all: aligned unnests of the per-group match
    # lists (nm = number of numeric groups; unit is group nm+1)
    def _dm_tier(pattern: str, nm: int, tier: int) -> str:
        g = [f"regexp_extract_all(content, '{pattern}', {i})"
             for i in range(0, nm + 2)]
        inner = (f"SELECT id, {tier} AS tier, "
                 f"unnest(range(1, length({g[0]})+1)) AS pos, "
                 f"unnest({g[0]}) AS raw_text, "
                 + ", ".join(f"unnest({g[i]}) AS g{i}"
                             for i in range(1, nm + 2))
                 + " FROM t")
        depth = ("CAST(g3 AS DOUBLE)" if nm == 3
                 else "CAST(NULL AS DOUBLE)")
        return (f"SELECT id, tier, pos, CAST(g1 AS DOUBLE) AS width, "
                f"CAST(g2 AS DOUBLE) AS height, {depth} AS depth, "
                f"{_dm_unit(f'g{nm + 1}')} AS unit, raw_text "
                f"FROM ({inner})")

    # metadata-normalizer twins — generated from the same verbatim
    # behavior tables as operators/metadata_norm.py
    from mivaa_pdf_extractor_spark.operators import metadata_norm as _mn

    _mn_raws = ("['ceramic tile', 'porcelain', 'tile', 'marble', "
                "'Stoneware Tile', ' vinyl flooring ', 'floor_tile', "
                "'custom_thing', 'fancy stone-3d surface', '', 'glass', "
                "'shower tile', 'stoneware', 'Ceramic Tile Deluxe', "
                "'QUARTZ', 'heat pump']")
    _mn_map_case = ("CASE normalized "
                    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in
                               _mn.MATERIAL_CATEGORY_MAPPING.items())
                    + " END")
    _mn_slugs = ", ".join(f"'{s}'" for s in _mn.SLUG_PASSTHROUGH)
    _mn_comp_case = ("CASE "
                     + " ".join(f"WHEN contains(normalized, '{k}') "
                                f"THEN '{v}'" for k, v in
                                _mn.TILE_COMPOSITION_MAPPING)
                     + " END")
    # char-wise Python str.title(): uppercase after any non-letter
    _mn_title = ("array_to_string(list_transform("
                 "range(1, length(raw)+1), i -> CASE WHEN i = 1 OR NOT "
                 "regexp_matches(raw[i-1:i-1], '[A-Za-z]') THEN "
                 "upper(raw[i:i]) ELSE lower(raw[i:i]) END), '')")
    _mn_nf_list = ", ".join(f"'{v}'" for v in _mn.NOT_FOUND_VALUES)

    def _mn_nf(x: str) -> str:
        return (f"({x} IS NULL OR lower(regexp_replace({x}, "
                f"'^\\s+|\\s+$', '', 'g')) IN ({_mn_nf_list}))")

    # exact-tier mapping CASE for find_standard_field, in schema order
    _mn_std_whens = []
    for _cat, _fields in _mn.STANDARD_SCHEMA.items():
        for _std, _vars in _fields.items():
            names = ", ".join(f"'{n}'" for n in [_std] + _vars)
            _mn_std_whens.append(
                f"WHEN category = '{_cat}' AND field_name IN ({names}) "
                f"THEN '{_std}'")
    _mn_std_case = "CASE " + " ".join(_mn_std_whens) + " END"
    _mn_vocab = []
    for _cat, _fields in _mn.STANDARD_SCHEMA.items():
        for _std, _vars in _fields.items():
            _mn_vocab.append((_std, _cat))
            _mn_vocab += [(v, _cat) for v in _vars]
    _mn_vocab += [("zzqq9", "design"), ("pieces_per_box", "nope")]
    _mn_vnames = "[" + ", ".join(f"'{v[0]}'" for v in _mn_vocab) + "]"
    _mn_vcats = "[" + ", ".join(f"'{v[1]}'" for v in _mn_vocab) + "]"

    # search-merge twins: the synth corpus + the pair gate are shared;
    # cosine is the same left-fold as the Spark plan (bit-identical)
    _sm_vecs_sql = ("[[1.0,0.0,0.0,1.0],[2.0,1.0,0.0,2.0],"
                    "[5.0,1.0,0.0,5.0],[1.0,1.0,1.0,0.0],"
                    "[0.0,1.0,1.0,0.0],[1.0,0.0,1.0,1.0],"
                    "[3.0,1.0,1.0,3.0]]")
    _sm_pairs_sql = f"""
        sv AS (SELECT p_partkey AS sid, p_partkey % 40 AS user_id,
                      p_partkey % 5 AS mat,
                      CASE WHEN p_partkey % 3 = 1 THEN 'floor'
                           WHEN p_partkey % 3 = 2 THEN 'wall' END
                        AS ctx_e,
                      ['grey','white','beige','black']
                        [CAST(p_partkey % 4 AS INT) + 1] AS color_e,
                      p_partkey % 2 = 0 AS has_finish_e,
                      p_partkey % 5 = 0 AS has_outdoor_e,
                      p_partkey % 3 AS fc_e, p_partkey % 4 AS pr_e,
                      CASE WHEN p_partkey % 31 = 0 THEN NULL
                           ELSE {_sm_vecs_sql}
                             [CAST((p_partkey // 200) % 7 AS INT) + 1]
                      END AS emb_e,
                      CASE WHEN p_partkey % 2 = 0
                           THEN 'old saved query'
                           ELSE 'old saved query with many extra words'
                      END AS query_e
               FROM part),
        nw AS (SELECT p_partkey AS nid, p_partkey % 40 AS user_id,
                      p_partkey % 5 AS mat,
                      CASE WHEN p_partkey % 3 = 1 THEN 'floor'
                           WHEN p_partkey % 3 = 2 THEN 'wall' END
                        AS ctx_n,
                      ['grey','white','beige','black']
                        [CAST(p_partkey % 4 AS INT) + 1] AS color_n,
                      p_partkey % 3 = 0 AS has_finish_n,
                      p_partkey % 7 = 0 AS has_indoor_n,
                      p_partkey % 3 AS fc_n,
                      (p_partkey // 4) % 4 AS pr_n,
                      CASE WHEN (p_partkey // 4) % 2 = 0 THEN 'new one'
                           ELSE 'brand new longer query text' END
                        AS query_n
               FROM part WHERE p_partkey % 4 = 0),
        pr0 AS (SELECT nid, sid, ctx_e, ctx_n, color_e, color_n,
                       has_finish_e, has_finish_n, has_outdoor_e,
                       has_indoor_n, fc_e, fc_n, pr_e, pr_n, query_e,
                       query_n,
                       list_reduce(list_transform(
                           list_zip([1.0, 0.0, 0.0, 1.0], emb_e),
                           p -> p[1] * p[2]), (a, b) -> a + b)
                       / (sqrt(list_reduce(list_transform(
                              [1.0, 0.0, 0.0, 1.0], x -> x * x),
                              (a, b) -> a + b))
                          * sqrt(list_reduce(list_transform(emb_e,
                                 x -> x * x), (a, b) -> a + b)))
                         AS sim
                FROM nw JOIN sv USING (user_id, mat)
                WHERE emb_e IS NOT NULL),
        pr AS (SELECT * FROM pr0 WHERE sim >= 0.85
               QUALIFY row_number() OVER (PARTITION BY nid
                 ORDER BY sim DESC, sid) <= 10),
        vd AS (SELECT *,
               row_number() OVER (PARTITION BY nid
                 ORDER BY sim DESC, sid) AS rank,
               (ctx_e IS NOT DISTINCT FROM ctx_n) AS ctx_ok,
               -- filters: colors overlap when both non-empty; price
               -- ranges overlap with missing→default, empty→skip
               (NOT (fc_e IN (0, 1) AND fc_n IN (0, 1))
                OR (fc_e = 0 AND fc_n = 0)) AS colors_ok,
               (pr_e = 2 OR pr_n = 3 OR NOT (
                  CASE pr_e WHEN 0 THEN 10000.0 WHEN 1 THEN 200.0
                            ELSE 9000.0 END
                    < CASE pr_n WHEN 0 THEN 150.0 WHEN 1 THEN 0.0
                                ELSE 20.0 END
                  OR CASE pr_n WHEN 0 THEN 300.0 WHEN 1 THEN 10000.0
                               ELSE 30.0 END
                    < CASE pr_e WHEN 0 THEN 0.0 WHEN 1 THEN 100.0
                                ELSE 5000.0 END)) AS price_ok
               FROM pr),
        vr AS (SELECT *,
               CASE WHEN NOT ctx_ok
                      THEN 'Different application context'
                    WHEN color_e <> color_n THEN
                      'Conflicting color: ' || color_e || ' vs '
                      || color_n
                    WHEN has_finish_e AND has_finish_n THEN
                      'Conflicting finish: matte vs glossy'
                    WHEN has_outdoor_e AND has_indoor_n THEN
                      'Conflicting attributes: outdoor vs indoor'
                    WHEN NOT (colors_ok AND price_ok)
                      THEN 'Incompatible filters'
                    ELSE 'Compatible search - can merge' END AS reason,
               ctx_ok AND color_e = color_n
                 AND NOT (has_finish_e AND has_finish_n)
                 AND NOT (has_outdoor_e AND has_indoor_n)
                 AND colors_ok AND price_ok AS can_merge
               FROM vd)
    """

    # shared tokenize + IDF-weight CTEs for the classifier twins —
    # lockstep with operators/classify.py (lowercase ASCII-alpha runs;
    # integer weight 1000 - (df*1000) // n_docs)
    _clf_base_sql = """
        d AS (SELECT doc_id, text FROM documents),
        tok AS (SELECT doc_id,
                       unnest(list_filter(
                           regexp_split_to_array(lower(text), '[^a-z]+'),
                           t -> t <> '')) AS token
                FROM d),
        v AS (SELECT token, count(*) AS df
              FROM (SELECT DISTINCT doc_id, token FROM tok)
              GROUP BY token),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM d),
        w AS (SELECT token, 1000 - (df * 1000) // n_docs AS weight_micro
              FROM v CROSS JOIN n)
    """

    o = {
        "url_ingest": """
            WITH u AS (
              SELECT doc_id,
                     'https://corpus.example/doc/'
                     || CAST(doc_id AS VARCHAR)
                     || CASE WHEN doc_id % 17 = 0 THEN '#ct=html'
                             ELSE '.pdf' END
                     || CASE WHEN doc_id % 13 = 0 THEN '#404'
                             WHEN doc_id % 19 = 0 THEN '#boom'
                             ELSE '' END AS url
              FROM documents),
            f AS (
              SELECT doc_id, url,
                     doc_id % 13 = 0 OR doc_id % 19 = 0 AS failed
              FROM u)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, url,
                   CASE WHEN failed THEN 'download_failed'
                        ELSE 'fetched' END AS status,
                   CASE WHEN failed THEN NULL
                        WHEN doc_id % 17 = 0 THEN 0
                        ELSE 1 END AS content_type_ok,
                   CASE WHEN failed THEN NULL
                        ELSE CAST(length(url) AS BIGINT) END AS n_bytes,
                   CASE WHEN doc_id % 13 = 0
                        THEN 'Failed to download PDF from ' || url
                             || ': HTTP 404'
                        WHEN doc_id % 19 = 0
                        THEN 'Failed to download PDF from ' || url
                             || ': simulated transport failure for '
                             || url
                        END AS error
            FROM f""",
        "media_object_store": f"""
            WITH {_DUCK_MEDIA_REFS},
            o AS (
              SELECT doc_id, media_ref,
                     'page_' || regexp_extract(media_ref,
                         '/p(\\d+)/', 1)
                     || '_image_' || regexp_extract(media_ref,
                         '/(img)(\\d+)$', 2)
                     || '.png' AS filename
              FROM refs)
            SELECT doc_id || '/' || filename AS object_key,
                   doc_id, media_ref, filename,
                   CAST(regexp_extract(filename, 'page[_-]?(\\d+)', 1)
                        AS INT) AS page_number,
                   md5(media_ref) AS content_md5
            FROM o""",
        "paragraph_dedup": """
            WITH base AS (
              SELECT doc_id AS id,
                     list_filter(string_split_regex(lower(text),
                         '[ \t\r\n]+'), x -> x <> '') AS w
              FROM documents
            ), nb AS (
              SELECT id, w,
                     CAST(floor((len(w) - 1) / 10) + 1 AS INT) AS n_blocks
              FROM base WHERE len(w) > 0
            ), b AS (
              SELECT id, n_blocks, i AS pos,
                     array_to_string(w[i*10+1 : i*10+10], ' ') AS block
              FROM nb, unnest(generate_series(0, n_blocks - 1)) t(i)
            ), k AS (
              SELECT * FROM b
              QUALIFY row_number() OVER (PARTITION BY block
                  ORDER BY id, pos) = 1
            )
            SELECT id AS doc_id,
                   CAST(any_value(n_blocks) AS INT) AS n_blocks,
                   count(*) AS n_kept,
                   string_agg(block, ' ' ORDER BY pos) AS cleaned_text
            FROM k GROUP BY id""",
        "doc_repetition": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[ \t\r\n]+'), x -> x <> '') AS w
              FROM documents
            ), base AS (
              SELECT doc_id, w, len(w) AS n_words
              FROM w WHERE len(w) >= 3
            ), g AS (
              SELECT doc_id, n_words, w,
                     list_transform(generate_series(1, n_words - 1),
                         i -> w[i] || ' ' || w[i+1]) AS bi,
                     list_transform(generate_series(1, n_words - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tri
              FROM base
            )
            SELECT doc_id, CAST(n_words AS INT) AS n_words,
                   round((len(w) - len(list_distinct(w)))
                         / CAST(len(w) AS DOUBLE), 6) AS dup_word_frac,
                   round(list_max(list_transform(list_distinct(bi),
                             x -> len(list_filter(bi, y -> y = x))))
                         / CAST(len(bi) AS DOUBLE), 6) AS top_bigram_frac,
                   round((len(tri) - len(list_distinct(tri)))
                         / CAST(len(tri) AS DOUBLE), 6) AS dup_trigram_frac
            FROM g""",
        "stuck_jobs": """
            WITH last AS (
              SELECT user_id, event_type AS last_status,
                     ts AS last_heartbeat
              FROM events
              QUALIFY row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) = 1
            )
            SELECT user_id, last_status, last_heartbeat
            FROM last
            WHERE last_status <> 'purchase'
              AND last_heartbeat <
                  (SELECT max(ts) FROM events) - INTERVAL 12 HOUR""",
        "reading_order_sort": """
            SELECT event_id, user_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS reading_order
            FROM events""",
        "offset_cumsum": """
            SELECT doc_id, source,
                   CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS offset
            FROM documents""",
        "reading_text_assembly": """
            SELECT user_id,
                   string_agg(event_type, ' ' ORDER BY ts, event_id)
                       AS reading_text
            FROM events GROUP BY user_id""",
        "glyph_fix": f"""
            SELECT doc_id,
                   {_duck_glyph_chain("text || '" + _GLYPH_SALT + "'")}
                       AS fixed_text
            FROM documents""",
        "content_hashes": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                       AS content_hash
            FROM documents""",
        "doc_metrics": f"""
            SELECT doc_id,
                   length({_DUCK_WORDS.format(c='text')}) AS n_words,
                   length(text) AS n_chars_measured,
                   length(string_split(text, chr(10))) AS n_lines,
                   length(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe
            FROM documents""",
        "resume_anti_join": """
            SELECT d.doc_id FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM documents c
                              WHERE c.doc_id % 7 = 0
                                AND c.doc_id = d.doc_id)""",
        "caption_link": """
            SELECT event_id, next_type FROM (
              SELECT event_id, event_type,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS next_type
              FROM events)
            WHERE event_type = 'click'""",
        "label_taxonomy": """
            SELECT event_id, region_type FROM (
              SELECT event_id,
                     CASE WHEN event_type = 'error' THEN 'boilerplate'
                          WHEN event_type IN ('click','signup')
                              THEN 'interaction'
                          WHEN event_type = 'purchase' THEN 'transaction'
                          ELSE 'text' END AS region_type
              FROM events)
            WHERE region_type <> 'boilerplate'""",
        "sessionize": """
            SELECT user_id, event_id,
                   CAST(sum(ns) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
            FROM (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) IS NULL
                          OR date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id), ts) > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM events)""",
        "tumbling_window_agg": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2""",
        "text_similarity": """
            WITH a AS (SELECT doc_id AS id_a,
                              list_distinct(list_filter(
                                regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS wa
                       FROM documents WHERE doc_id % 50 = 0),
                 b AS (SELECT doc_id + 100000 AS id_b,
                              list_distinct(list_filter(
                                regexp_split_to_array(
                                  lower(text || ' zzzextra'), '\\s+'),
                                x -> x <> '')) AS wb
                       FROM documents WHERE doc_id % 100 = 0)
            SELECT id_a, id_b,
                   round(CASE WHEN greatest(len(wa), len(wb)) = 0 THEN 0.0
                         ELSE CAST(len(list_intersect(wa, wb)) AS DOUBLE)
                              / greatest(len(wa), len(wb)) END, 6) AS overlap
            FROM a JOIN b ON a.id_a + 100000 = b.id_b""",
        # difflib.SequenceMatcher.ratio as a recursive CTE (rows-only
        # since round 2; see seqratio_oracle_sql's docstring for the
        # autojunk / find_longest_match / block-recursion mapping)
        "text_similarity_seqratio": ta.seqratio_oracle_sql("""
            SELECT CAST(doc_id AS BIGINT) AS id_a,
                   CAST(doc_id + 100000 AS BIGINT) AS id_b,
                   text AS text_a, text || ' zzzextra' AS text_b
            FROM documents WHERE doc_id % 100 = 0"""),
        "sheet_layout": """
            WITH sheets AS (
              SELECT doc_id,
                     unnest(generate_series(0, doc_id % 4)) AS sheet_idx
              FROM documents),
            dims AS (
              SELECT doc_id, sheet_idx,
                     CASE WHEN (sheet_idx + doc_id) % 3 = 0
                          THEN 1346.0 ELSE 595.0 END AS width,
                     842.0 AS height
              FROM sheets),
            typed AS (
              SELECT doc_id, sheet_idx, width, height,
                     CASE WHEN width / height > 1.4
                          THEN 'spread' ELSE 'single' END AS layout_type,
                     CASE WHEN width / height > 1.4 THEN 2 ELSE 1
                          END AS n_physical,
                     CASE WHEN doc_id % 5 = 0 THEN width * 0.8
                          ELSE width * 0.3 END AS img_w,
                     CASE WHEN doc_id % 2 = 0 THEN height * 0.6
                          ELSE height * 0.2 END AS img_h,
                     CAST(doc_id * 13 % 400 AS DOUBLE) AS chars,
                     doc_id % 11 = 0 AS vect
              FROM dims)
            SELECT doc_id, sheet_idx, layout_type, n_physical,
                   CAST(coalesce(sum(n_physical) OVER (
                        PARTITION BY doc_id ORDER BY sheet_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) + 1 AS INT) AS first_physical_page,
                   ((img_w >= width * 0.75) AND (img_h >= height * 0.5))
                   OR (vect AND (img_w >= width * 0.75) AND (chars < 200))
                       AS no_split
            FROM typed""",
        "page_number_overlay": """
            WITH sheets AS (
              SELECT doc_id,
                     unnest(generate_series(0, doc_id % 4)) AS sheet_idx
              FROM documents),
            dims AS (
              SELECT doc_id, sheet_idx,
                     CASE WHEN (sheet_idx + doc_id) % 3 = 0
                          THEN 1346.0 ELSE 595.0 END AS width,
                     842.0 AS height
              FROM sheets),
            phys AS (
              SELECT *,
                     CASE WHEN width / height > 1.4
                          THEN 'spread' ELSE 'single' END AS layout_type,
                     CAST(coalesce(sum(CASE WHEN width / height > 1.4
                                            THEN 2 ELSE 1 END) OVER (
                          PARTITION BY doc_id ORDER BY sheet_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) + 1 AS INT) AS first_physical_page
              FROM dims),
            exploded AS (
              SELECT p.*, u.side
              FROM phys p,
                   UNNEST(CASE WHEN layout_type = 'spread'
                               THEN ['left', 'right']
                               ELSE ['full'] END) AS u(side)),
            nums AS (
              SELECT doc_id, sheet_idx,
                     CAST(first_physical_page
                          + CASE WHEN side = 'right' THEN 1 ELSE 0 END
                          AS INT) AS physical_page,
                     side, 'page_number' AS kind,
                     'Page ' || CAST(first_physical_page
                          + CASE WHEN side = 'right' THEN 1 ELSE 0 END
                          AS VARCHAR) AS text,
                     CAST(CASE WHEN side = 'left' THEN 30.0
                               WHEN side = 'right' THEN width - 80.0
                               ELSE width - 60.0 END AS DOUBLE) AS x,
                     CAST(height - 20.0 AS DOUBLE) AS y,
                     CAST(10 AS INT) AS font_size, width
              FROM exploded),
            products AS (
              SELECT doc_id,
                     CAST(doc_id % 3 + 1 AS INT) AS physical_page,
                     'prod_' || CAST(doc_id AS VARCHAR) AS product_name
              FROM documents WHERE doc_id % 4 = 1)
            SELECT doc_id, sheet_idx, physical_page, side, kind, text,
                   x, y, font_size
            FROM nums
            UNION ALL
            SELECT n.doc_id, n.sheet_idx, n.physical_page, n.side,
                   'product_label' AS kind,
                   '[' || pr.product_name || ']' AS text,
                   CAST(CASE WHEN n.side = 'left' THEN 30.0
                             WHEN n.side = 'right' THEN n.width / 2 + 30.0
                             ELSE 10.0 END AS DOUBLE) AS x,
                   CAST(20.0 AS DOUBLE) AS y, CAST(8 AS INT) AS font_size
            FROM nums n JOIN products pr
              ON pr.doc_id = n.doc_id
             AND pr.physical_page = n.physical_page""",
        "page_numbering_stats": """
            WITH sheets AS (
              SELECT doc_id,
                     unnest(generate_series(0, doc_id % 4)) AS sheet_idx
              FROM documents),
            dims AS (
              SELECT doc_id, sheet_idx,
                     CASE WHEN (sheet_idx + doc_id) % 3 = 0
                          THEN 1346.0 ELSE 595.0 END AS width,
                     842.0 AS height
              FROM sheets),
            typed AS (
              SELECT doc_id,
                     CASE WHEN width / height > 1.4 THEN 2 ELSE 1 END
                       AS n_physical,
                     width / height > 1.4 AS is_spread
              FROM dims)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS total_pdf_pages,
                   CAST(sum(n_physical) AS BIGINT) AS total_physical_pages,
                   CAST(count(*) AS BIGINT) AS pages_numbered,
                   CAST(sum(n_physical) AS BIGINT)
                     AS physical_pages_numbered,
                   bool_or(is_spread) AS has_spread_layout
            FROM typed GROUP BY doc_id""",
        "prototype_validate": """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                         FROM embeddings),
            protos AS (
              SELECT 'fk' || CAST(i AS VARCHAR) AS field_key,
                     e AS prop_embedding
              FROM (SELECT unnest([0, 1, 2, 3]) AS i) t
              JOIN emb ON emb.vec_id = 400 + i),
            ij AS (SELECT i, j
                   FROM (SELECT unnest([0, 1, 2, 3]) AS i) a
                   CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) b),
            pvals AS (
              SELECT 'fk' || CAST(i AS VARCHAR) AS field_key,
                     j AS proto_pos,
                     'pv_' || CAST(i AS VARCHAR) || '_'
                           || CAST(j AS VARCHAR) AS proto_value,
                     ['var_' || CAST(i AS VARCHAR) || '_'
                             || CAST(j AS VARCHAR),
                      'alt_' || CAST(i AS VARCHAR) || '_'
                             || CAST(j AS VARCHAR)] AS variations,
                     CASE WHEN j = 2 THEN NULL ELSE e END
                       AS proto_embedding
              FROM ij JOIN emb ON emb.vec_id = i * 3 + j + 410),
            docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                     FROM documents),
            main AS (
              SELECT doc AS doc_id,
                     'fk' || CAST(doc % 4 AS VARCHAR) AS field_key,
                     CASE WHEN doc % 6 = 0 THEN
                            'pv_' || CAST(doc % 4 AS VARCHAR) || '_1'
                          WHEN doc % 6 = 1 THEN
                            'VAR_' || CAST(doc % 4 AS VARCHAR) || '_0'
                          WHEN doc % 6 = 5 THEN NULL
                          ELSE 'freetext_' || CAST(doc AS VARCHAR)
                     END AS field_value,
                     CASE WHEN doc % 6 = 4 THEN NULL ELSE e END
                       AS value_embedding,
                     'cat' || CAST(doc % 3 AS VARCHAR) AS category_key
              FROM docs JOIN emb ON emb.vec_id = doc % 500),
            extras AS (
              SELECT doc AS doc_id,
                     UNNEST(['_private',
                             'nk' || CAST(doc % 2 AS VARCHAR)])
                       AS field_key,
                     'plain' AS field_value, e AS value_embedding,
                     'cat' || CAST(doc % 3 AS VARCHAR) AS category_key
              FROM docs JOIN emb ON emb.vec_id = doc % 500),
            fields AS (SELECT * FROM main
                       UNION ALL SELECT * FROM extras),
            thrs AS (SELECT lower(trim(ck)) AS ck, thr
                     FROM (VALUES ('CAT0 ', 0.9), ('cat1', 0.0))
                          t(ck, thr)),
            fth AS (
              SELECT f.*, COALESCE(t.thr, 0.8) AS threshold
              FROM fields f
              LEFT JOIN thrs t ON t.ck = lower(trim(f.category_key))),
            fj AS (
              SELECT f.*, p.prop_embedding,
                     CASE WHEN f.field_value IS NULL
                            THEN 'skipped_null'
                          WHEN starts_with(f.field_key, '_')
                            THEN 'skipped_private'
                          WHEN p.prop_embedding IS NULL
                            THEN 'no_prototype'
                          WHEN f.value_embedding IS NULL
                            THEN 'embedding_generation_failed'
                     END AS pass
              FROM fth f LEFT JOIN protos p USING (field_key)),
            live AS (
              SELECT *,
                round(least(greatest(
                  list_reduce(list_transform(
                      list_zip(value_embedding, prop_embedding),
                      p -> p[1] * p[2]), (a, b) -> a + b)
                  / ((sqrt(list_reduce(list_transform(value_embedding,
                          x -> x * x), (a, b) -> a + b)) + 1e-10)
                   * (sqrt(list_reduce(list_transform(prop_embedding,
                          x -> x * x), (a, b) -> a + b)) + 1e-10)),
                  0.0), 1.0), 6) AS prop_sim
              FROM fj WHERE pass IS NULL),
            scored AS (
              SELECT l.doc_id, l.field_key, l.field_value,
                     v.proto_pos, v.proto_value,
                     (lower(l.field_value) = lower(v.proto_value)
                      OR len(list_filter(v.variations,
                          x -> lower(x) = lower(l.field_value))) > 0)
                       AS is_exact,
                     CASE WHEN v.proto_embedding IS NOT NULL THEN
                       round(least(greatest(
                         list_reduce(list_transform(
                             list_zip(l.value_embedding,
                                      v.proto_embedding),
                             p -> p[1] * p[2]), (a, b) -> a + b)
                         / ((sqrt(list_reduce(list_transform(
                                l.value_embedding, x -> x * x),
                                (a, b) -> a + b)) + 1e-10)
                          * (sqrt(list_reduce(list_transform(
                                v.proto_embedding, x -> x * x),
                                (a, b) -> a + b)) + 1e-10)),
                         0.0), 1.0), 6) END AS sem_sim
              FROM live l JOIN pvals v USING (field_key)
              WHERE l.prop_sim >= l.threshold),
            exact_best AS (
              SELECT doc_id, field_key,
                     arg_min(proto_value, proto_pos) AS exact_value
              FROM scored WHERE is_exact GROUP BY doc_id, field_key),
            sem_best AS (
              SELECT doc_id, field_key, proto_value AS sem_value,
                     COALESCE(sem_sim, 0.0) AS s
              FROM scored
              QUALIFY row_number() OVER (
                  PARTITION BY doc_id, field_key
                  ORDER BY COALESCE(sem_sim, 0.0) DESC,
                           proto_pos ASC) = 1),
            live_out AS (
              SELECT l.doc_id, l.field_key,
                     l.field_value AS original_value,
                     CASE WHEN l.prop_sim >= l.threshold THEN
                            COALESCE(eb.exact_value,
                                CASE WHEN sb.s > 0 THEN sb.sem_value
                                END, l.field_value)
                          ELSE l.field_value END AS validated_value,
                     l.prop_sim >= l.threshold AS prototype_matched,
                     round(CASE WHEN l.prop_sim >= l.threshold THEN
                             CASE WHEN eb.exact_value IS NOT NULL
                                  THEN 1.0
                                  ELSE COALESCE(sb.s, 0.0) END
                           ELSE l.prop_sim END, 6) AS confidence,
                     CASE WHEN l.prop_sim >= l.threshold
                          THEN 'semantic_match'
                          ELSE 'low_confidence' END AS reason
              FROM live l
              LEFT JOIN exact_best eb USING (doc_id, field_key)
              LEFT JOIN sem_best sb USING (doc_id, field_key))
            SELECT doc_id, field_key, original_value, validated_value,
                   prototype_matched, confidence, reason
            FROM live_out
            UNION ALL
            SELECT doc_id, field_key, field_value AS original_value,
                   field_value AS validated_value,
                   FALSE AS prototype_matched,
                   0.0 AS confidence,
                   pass AS reason
            FROM fj WHERE pass IS NOT NULL""",
        "stuck_job_diagnosis": f"""
            WITH {_jd.DIAG_SYNTH_SQL},
            timed AS (
              SELECT *, round(COALESCE(created_at_sec
                  - lag(created_at_sec) OVER (PARTITION BY job_id
                      ORDER BY ckpt_pos), 0.0), 2) AS dur
              FROM ckpts),
            prog AS (
              SELECT job_id, stage,
                     arg_max(dur, ckpt_pos) AS duration_seconds,
                     min(ckpt_pos) AS first_pos
              FROM timed GROUP BY job_id, stage),
            bott AS (
              SELECT job_id, stage AS bottleneck_stage
              FROM prog
              QUALIFY row_number() OVER (PARTITION BY job_id
                  ORDER BY duration_seconds DESC, first_pos ASC) = 1),
            cnt AS (
              SELECT job_id,
                     CAST(count(*) AS BIGINT) AS checkpoints_completed,
                     arg_max(stage, ckpt_pos) AS last_stage
              FROM ckpts GROUP BY job_id),
            base AS (
              SELECT j.*,
                     COALESCE(b.bottleneck_stage, 'unknown')
                       AS bottleneck_stage,
                     COALESCE(c.checkpoints_completed, 0)
                       AS checkpoints_completed,
                     c.last_stage,
                     round(1000.0 - j.updated_at_min, 2)
                       AS stuck_duration_minutes
              FROM jobs j LEFT JOIN bott b USING (job_id)
              LEFT JOIN cnt c USING (job_id)),
            caused AS (
              SELECT *, CASE
                WHEN stuck_duration_minutes > 30
                  THEN 'silent_crash_no_error_handling'
                WHEN COALESCE(stage, 'unknown') = 'extracting_images'
                     AND stuck_duration_minutes > 10
                  THEN 'image_extraction_timeout_or_memory_exhaustion'
                WHEN COALESCE(stage, 'unknown') = 'generating_embeddings'
                     AND stuck_duration_minutes > 15
                  THEN 'clip_api_timeout_or_rate_limit'
                WHEN COALESCE(stage, 'unknown') = 'product_discovery'
                     AND stuck_duration_minutes > 5
                  THEN 'claude_api_timeout_or_failure'
                WHEN checkpoints_completed = 0
                  THEN 'job_never_started_background_task_failed'
                ELSE 'unknown_timeout_or_unhandled_exception'
                END AS root_cause
              FROM base)
            SELECT job_id, filename, status, stage AS current_stage,
                   progress_percentage AS progress,
                   stuck_duration_minutes, checkpoints_completed,
                   bottleneck_stage, root_cause,
                   COALESCE(array_to_string(flatten([
                     CASE WHEN contains(root_cause, 'silent_crash')
                       THEN ['Add comprehensive error handling with try-except blocks',
                             'Implement heartbeat monitoring to detect crashes within 2 minutes',
                             'Add timeout guards to all async operations']
                       ELSE CAST([] AS VARCHAR[]) END,
                     CASE WHEN contains(root_cause, 'memory_exhaustion')
                       THEN ['Reduce batch size from 10 to 5 images',
                             'Add memory pressure monitoring (pause at 80% usage)',
                             'Implement streaming processing (page-by-page)']
                       ELSE CAST([] AS VARCHAR[]) END,
                     CASE WHEN contains(root_cause, 'timeout')
                       THEN ['Reduce stuck job timeout from 30min to 5min',
                             'Add circuit breaker for external API calls',
                             'Implement progressive timeout strategy per stage']
                       ELSE CAST([] AS VARCHAR[]) END,
                     CASE WHEN contains(root_cause, 'api')
                       THEN ['Add retry logic with exponential backoff',
                             'Implement API call batching for parallel processing',
                             'Add fallback models if primary API fails']
                       ELSE CAST([] AS VARCHAR[]) END
                   ]), ' | '), '') AS recommendations,
                   COALESCE(array_to_string(flatten([
                     CASE WHEN checkpoints_completed > 0
                       THEN ['Resume from last checkpoint: ' || last_stage]
                       ELSE CAST([] AS VARCHAR[]) END,
                     ['Restart job from beginning',
                      'Mark job as failed and notify user']
                   ]), ' | '), '') AS recovery_options
            FROM caused""",
        "escalation_fold": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            esc_attempts AS (
              SELECT 'r' || CAST(doc AS VARCHAR) AS run_id,
                     ['material_classification', 'product_extraction',
                      'image_analysis', 'rag_search', 'custom_task']
                       [doc % 5 + 1] AS task_type,
                     CAST(a AS INT) AS attempt,
                     CAST(CASE
                       WHEN doc % 7 = 0 AND a = 0 THEN 0.95
                       WHEN doc % 7 = 1 AND a = 0 THEN 0.5
                       WHEN doc % 7 = 1 AND a = 1 THEN 0.86
                       WHEN doc % 7 = 1 AND a = 2 THEN 0.99
                       WHEN doc % 7 = 2 THEN CASE WHEN a = 0 THEN 0.5
                            WHEN a = 1 THEN 0.6 ELSE 0.65 END
                       WHEN doc % 7 = 3 AND a = 0 THEN NULL
                       WHEN doc % 7 = 3 THEN 0.9
                       WHEN doc % 7 = 4 THEN CASE WHEN a = 0
                            THEN 0.72 ELSE 0.74 END
                       WHEN doc % 7 = 5 THEN NULL
                       ELSE CASE WHEN a = 0 THEN 0.69
                            WHEN a = 1 THEN NULL ELSE 0.97 END
                     END AS DOUBLE) AS confidence,
                     CASE WHEN (CASE
                       WHEN doc % 7 = 0 AND a = 0 THEN 0.95
                       WHEN doc % 7 = 1 AND a = 0 THEN 0.5
                       WHEN doc % 7 = 1 AND a = 1 THEN 0.86
                       WHEN doc % 7 = 1 AND a = 2 THEN 0.99
                       WHEN doc % 7 = 2 THEN CASE WHEN a = 0 THEN 0.5
                            WHEN a = 1 THEN 0.6 ELSE 0.65 END
                       WHEN doc % 7 = 3 AND a = 0 THEN NULL
                       WHEN doc % 7 = 3 THEN 0.9
                       WHEN doc % 7 = 4 THEN CASE WHEN a = 0
                            THEN 0.72 ELSE 0.74 END
                       WHEN doc % 7 = 5 THEN NULL
                       ELSE CASE WHEN a = 0 THEN 0.69
                            WHEN a = 1 THEN NULL ELSE 0.97 END
                     END) IS NULL
                       THEN 'boom' || CAST(a AS VARCHAR) END AS error,
                     CAST(100 + a * 10 + doc % 3 AS BIGINT)
                       AS latency_ms
              FROM docs, (SELECT unnest([0, 1, 2]) AS a)),
            {_esc.duck_escalation_sql()}
            SELECT run_id, task_type, success, final_model,
                   confidence_score, quality_level, escalation_count,
                   attempts_used, total_latency_ms, warning, error
            FROM esc_final""",
        "db_health_fold": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            checks AS (
              SELECT 'svc' || CAST(doc % 20 AS VARCHAR) AS service,
                     doc * 100 + k AS check_ord,
                     (doc + k) % 6 != 0
                       AND NOT (k >= 28 AND doc % 9 = 0) AS ok,
                     CASE WHEN (doc + k) % 6 != 0
                               AND NOT (k >= 28 AND doc % 9 = 0)
                       THEN CAST((k % 7) * 3.5 + 1.0 AS DOUBLE) END
                       AS conn_ms,
                     CASE WHEN (doc + k) % 6 != 0
                               AND NOT (k >= 28 AND doc % 9 = 0)
                       THEN CAST((k % 11) * 150.0
                            + (doc % 5) * 100.0 AS DOUBLE) END
                       AS query_ms,
                     CASE WHEN NOT ((doc + k) % 6 != 0
                               AND NOT (k >= 28 AND doc % 9 = 0))
                       THEN 'err' || CAST(k AS VARCHAR) END AS error
              FROM docs, UNNEST(generate_series(0, 30)) AS t(k)),
            ann AS (
              SELECT *,
                max(CASE WHEN ok THEN check_ord END)
                  OVER (PARTITION BY service) AS ls,
                CASE WHEN ok THEN row_number() OVER (
                    PARTITION BY service, ok
                    ORDER BY check_ord DESC) END AS srank
              FROM checks),
            agg AS (
              SELECT service,
                sum(CASE WHEN NOT ok AND check_ord
                         > COALESCE(ls, -1) THEN 1 ELSE 0 END)
                  AS consecutive_failures,
                CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END)
                     AS BIGINT) AS error_count,
                CAST(sum(CASE WHEN ok AND query_ms > 1000.0
                         THEN 1 ELSE 0 END) AS BIGINT)
                  AS slow_query_count,
                (max(CASE WHEN NOT ok THEN
                     {'o': check_ord, 'v': error} END)).v
                  AS last_error,
                CAST(COALESCE(max(CASE WHEN NOT ok THEN check_ord
                     END), -1) AS BIGINT) AS last_error_ord,
                (max(CASE WHEN ok THEN
                     {'o': check_ord, 'v': conn_ms} END)).v
                  AS connection_test_ms,
                (max(CASE WHEN ok THEN
                     {'o': check_ord, 'v': query_ms} END)).v
                  AS query_test_ms,
                CAST(COALESCE(max(CASE WHEN ok THEN check_ord END),
                     -1) AS BIGINT) AS last_check_ord,
                round(COALESCE(avg(CASE WHEN ok AND srank <= 5
                      THEN query_ms END), 0.0), 2)
                  AS avg_query_time_ms,
                round(COALESCE(max(CASE WHEN ok AND srank <= 5
                      THEN query_ms END), 0.0), 2)
                  AS max_query_time_ms
              FROM ann GROUP BY service)
            SELECT service,
                   consecutive_failures < 3 AS healthy,
                   CASE WHEN consecutive_failures < 3 THEN 'healthy'
                        ELSE 'unhealthy' END AS status,
                   CAST(consecutive_failures AS BIGINT)
                     AS consecutive_failures,
                   error_count, slow_query_count, last_error,
                   last_error_ord, connection_test_ms, query_test_ms,
                   last_check_ord, avg_query_time_ms,
                   max_query_time_ms
            FROM agg""",
        "overload_classify": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            rows_in AS (
              SELECT doc AS row_id,
                     ['APITimeoutError', 'ValueError',
                      'ConnectionResetError', 'JSONDecodeError',
                      'RateLimitError', 'HTTPStatusError',
                      'ReadError', 'RemoteProtocolError']
                       [doc % 8 + 1] AS exc_type,
                     CAST(CASE WHEN doc % 6 = 0 THEN 503
                          WHEN doc % 6 = 1 THEN 400
                          WHEN doc % 6 = 2 THEN 429
                          WHEN doc % 6 = 3 THEN NULL
                          WHEN doc % 6 = 4 THEN 502
                          ELSE 200 END AS INT) AS status,
                     CAST(doc % 9 AS BIGINT) AS in_mem,
                     CAST(doc % 13 AS BIGINT) AS db_count,
                     doc % 4 != 0 AS db_ok
              FROM docs)
            SELECT row_id, exc_type, status,
                   (contains(COALESCE(exc_type, ''), 'Timeout')
                    OR contains(COALESCE(exc_type, ''), 'Connection')
                    OR contains(COALESCE(exc_type, ''), 'RateLimit')
                    OR contains(COALESCE(exc_type, ''), 'ReadError')
                    OR contains(COALESCE(exc_type, ''),
                                'RemoteProtocol')
                    OR COALESCE(status, 0) IN (429, 500, 502, 503,
                                               504)) AS is_overload,
                   CAST(CASE WHEN db_ok
                        THEN greatest(in_mem, db_count - in_mem)
                        ELSE in_mem END AS BIGINT) AS active_jobs
            FROM rows_in""",
        "aimd_fold": f"""
            WITH RECURSIVE docs AS (
              SELECT CAST(doc_id AS BIGINT) AS doc FROM documents),
            aimd_events AS (
              SELECT 'ep' || CAST(doc % 40 AS VARCHAR) AS endpoint,
                     doc * 100 + k AS event_ord,
                     CASE WHEN doc % 5 = 0 AND k = 25
                            THEN 'force_minimum'
                          WHEN (k + doc) % 7 < 2 THEN 'failure'
                          ELSE 'success' END AS kind
              FROM docs, UNNEST(generate_series(0, 39)) AS t(k)),
            {_aimd.duck_aimd_sql()}
            SELECT endpoint, event_ord, kind,
                   CAST(lim AS INT) AS "limit",
                   CAST(cs AS INT) AS consecutive_successes,
                   CAST(cf AS INT) AS consecutive_failures, changed
            FROM aimd_state""",
        "storage_cleanup_scope": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            drows AS (
              SELECT 'd' || CAST(doc AS VARCHAR) AS document_id,
                     CASE WHEN doc % 3 = 0 THEN 'pdf-documents' END
                       AS storage_bucket,
                     CASE WHEN doc % 3 = 0 AND doc % 5 != 0
                          THEN 'u' || CAST(doc AS VARCHAR)
                               || '/orig.pdf' END
                       AS storage_object_path,
                     CASE WHEN doc % 4 = 0 THEN
                            'https://h/storage/v1/object/public/'
                            || 'pdf-documents/u'
                            || CAST(doc AS VARCHAR)
                            || '/f.pdf?token=abc'
                          WHEN doc % 4 = 1 THEN 'https://x/no-marker'
                          WHEN doc % 4 = 2 THEN
                            'https://h/storage/v1/object/public/'
                            || 'nosplit' END AS file_url,
                     doc
              FROM docs),
            files AS (
              SELECT doc, 'pdf-tiles' AS bucket,
                     'extracted/d' || CAST(doc AS VARCHAR)
                       || '/p1.png' AS path, FALSE AS is_folder
              FROM docs
              UNION ALL SELECT doc, 'pdf-tiles',
                     'extracted/d' || CAST(doc AS VARCHAR)
                       || '/sub/p2.png', FALSE FROM docs
              UNION ALL SELECT doc, 'pdf-tiles',
                     'extracted/d' || CAST(doc AS VARCHAR), TRUE
              FROM docs
              UNION ALL SELECT doc, 'pdf-tiles',
                     'extracted/d' || CAST(doc AS VARCHAR), FALSE
              FROM docs
              UNION ALL SELECT doc, 'documents',
                     'd' || CAST(doc AS VARCHAR) || '/orig.bin',
                     FALSE FROM docs
              UNION ALL SELECT doc, 'documents', 'other/x.bin', FALSE
              FROM docs),
            leaves AS (SELECT * FROM files WHERE NOT is_folder),
            tiles AS (
              SELECT d.document_id, l.bucket, l.path,
                     'tiles' AS tier
              FROM leaves l JOIN drows d
                ON l.bucket = 'pdf-tiles'
               AND starts_with(l.path,
                     'extracted/' || d.document_id || '/')),
            legacy AS (
              SELECT d.document_id, l.bucket, l.path,
                     'legacy' AS tier
              FROM leaves l JOIN drows d
                ON l.bucket = 'documents'
               AND starts_with(l.path, d.document_id || '/')),
            resolved AS (
              SELECT document_id,
                CASE WHEN COALESCE(storage_bucket, '') != ''
                          AND COALESCE(storage_object_path, '') != ''
                       THEN storage_bucket
                     WHEN contains(COALESCE(file_url, ''),
                          '/storage/v1/object/public/')
                          AND contains(string_split(
                              COALESCE(file_url, ''),
                              '/storage/v1/object/public/')[2], '/')
                       THEN string_split(string_split(
                            COALESCE(file_url, ''),
                            '/storage/v1/object/public/')[2], '/')[1]
                END AS bucket,
                CASE WHEN COALESCE(storage_bucket, '') != ''
                          AND COALESCE(storage_object_path, '') != ''
                       THEN storage_object_path
                     WHEN contains(COALESCE(file_url, ''),
                          '/storage/v1/object/public/')
                          AND contains(string_split(
                              COALESCE(file_url, ''),
                              '/storage/v1/object/public/')[2], '/')
                       THEN string_split(substr(
                            string_split(COALESCE(file_url, ''),
                            '/storage/v1/object/public/')[2],
                            strpos(string_split(COALESCE(file_url, ''),
                            '/storage/v1/object/public/')[2], '/')
                            + 1), '?')[1]
                END AS path
              FROM drows)
            SELECT document_id, bucket, path, tier FROM tiles
            UNION ALL SELECT document_id, bucket, path, tier
            FROM legacy
            UNION ALL SELECT document_id, bucket, path,
                   'original' AS tier
            FROM resolved WHERE bucket IS NOT NULL""",
        "storage_cleanup_counts": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            drows AS (
              SELECT 'd' || CAST(doc AS VARCHAR) AS document_id, doc,
                     doc % 3 = 0 AND doc % 5 != 0 AS has_cols,
                     doc % 4 = 0 AS has_url
              FROM docs)
            SELECT document_id,
                   CAST(3 + CASE WHEN has_cols OR has_url THEN 1
                        ELSE 0 END AS BIGINT) AS total,
                   CAST(2 AS BIGINT) AS tiles,
                   CAST(1 AS BIGINT) AS legacy,
                   CAST(CASE WHEN has_cols OR has_url THEN 1 ELSE 0
                        END AS BIGINT) AS original
            FROM drows""",
        "monitor_alert_fold": f"""
            WITH RECURSIVE docs AS (
              SELECT CAST(doc_id AS BIGINT) AS doc FROM documents),
            starts AS (
              SELECT 'j' || CAST(doc AS VARCHAR) AS job_id,
                     CAST(0.0 AS DOUBLE) AS event_ord,
                     'start' AS kind,
                     'initializing' AS to_stage
              FROM docs),
            trs AS (
              SELECT 'j' || CAST(doc AS VARCHAR) AS job_id,
                     CAST(200.0 + (doc % 3) * 200.0 AS DOUBLE)
                       AS event_ord,
                     'transition' AS kind, 'downloading' AS to_stage
              FROM docs
              UNION ALL
              SELECT 'j' || CAST(doc AS VARCHAR),
                     CAST(200.0 + (doc % 3) * 200.0 + 100.0
                          + (doc % 4) * 20.0 AS DOUBLE),
                     'transition', 'extracting_text'
              FROM docs),
            states AS (SELECT * FROM starts UNION ALL
                       SELECT * FROM trs),
            ticks AS (
              SELECT 'j' || CAST(doc AS VARCHAR) AS job_id,
                     CAST(k * 60.0 + 7.0 AS DOUBLE) AS event_ord,
                     CASE WHEN doc % 5 = 0 AND k % 3 = 0
                            THEN 'downloading'
                          WHEN doc % 5 = 1 AND k % 4 = 0
                            THEN 'weird_stage' END AS db_stage,
                     CASE WHEN doc % 7 = 0 AND k % 2 = 0
                            THEN 'stage15'
                          WHEN doc % 7 = 1 AND k % 2 = 0
                            THEN 'op2' END AS op,
                     CAST(CASE WHEN doc % 7 = 0 AND k % 2 = 0
                          THEN k * 60.0 + 7.0 - 500.0 END AS DOUBLE)
                       AS started,
                     CASE WHEN doc % 7 = 0 AND k % 2 = 0 THEN
                          CAST(CASE WHEN doc % 14 = 0 THEN 400.0
                               ELSE 100.0 END AS DOUBLE) END
                       AS budget
              FROM docs, UNNEST(generate_series(0, 40)) AS t(k)),
            tr_ann AS (
              SELECT s.job_id, s.event_ord, s.to_stage,
                     lag(s.to_stage) OVER w AS closed,
                     s.event_ord - lag(s.event_ord) OVER w AS dur
              FROM states s
              WINDOW w AS (PARTITION BY s.job_id ORDER BY s.event_ord)),
            slow AS (
              SELECT job_id, event_ord AS fired_at,
                     'slow_stage' AS kind, closed AS stage,
                     to_stage AS other_stage, dur AS seconds,
                     {_ma.duck_timeout_case('closed', 300.0)}
                       AS threshold
              FROM tr_ann
              WHERE closed IS NOT NULL
                AND dur > {_ma.duck_timeout_case('closed', 300.0)}),
            tick_ann AS (
              SELECT t.*, st.cur, st.seg_start
              FROM ticks t
              JOIN LATERAL (
                SELECT s.to_stage AS cur, s.event_ord AS seg_start
                FROM states s
                WHERE s.job_id = t.job_id
                  AND s.event_ord < t.event_ord
                ORDER BY s.event_ord DESC LIMIT 1) st ON TRUE),
            cand AS (
              SELECT *, row_number() OVER (
                  PARTITION BY job_id, seg_start
                  ORDER BY event_ord) AS rn
              FROM (
                SELECT job_id, event_ord, cur, seg_start,
                       COALESCE(db_stage, cur) AS eff,
                       event_ord - seg_start AS tin,
                       {_ma.duck_timeout_case(
                           "COALESCE(db_stage, cur)", 900.0)}
                         AS timeout
                FROM tick_ann
                WHERE event_ord - seg_start
                      > {_ma.duck_timeout_case(
                          "COALESCE(db_stage, cur)", 900.0)}
                  AND NOT (op IS NOT NULL AND (
                      started IS NULL OR COALESCE(budget, 0) <= 0
                      OR event_ord - started
                         < COALESCE(budget, 0) * 1.5)))),
            sel AS (
              SELECT job_id, seg_start, rn, event_ord, cur, eff, tin,
                     timeout, TRUE AS fired, event_ord AS last_fire
              FROM cand WHERE rn = 1
              UNION ALL
              SELECT c.job_id, c.seg_start, c.rn, c.event_ord, c.cur,
                     c.eff, c.tin, c.timeout,
                     c.event_ord - s.last_fire >= 600.0,
                     CASE WHEN c.event_ord - s.last_fire >= 600.0
                          THEN c.event_ord ELSE s.last_fire END
              FROM sel s JOIN cand c
                ON c.job_id = s.job_id AND c.seg_start = s.seg_start
               AND c.rn = s.rn + 1)
            SELECT job_id, fired_at, kind, stage, other_stage,
                   seconds, threshold
            FROM slow
            UNION ALL
            SELECT job_id, event_ord AS fired_at, 'stuck' AS kind,
                   cur AS stage, eff AS other_stage, tin AS seconds,
                   timeout AS threshold
            FROM sel WHERE fired""",
        "category_prompt_build": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            registry AS (SELECT * FROM {_fr.duck_registry_values()}),
            lists AS (SELECT * FROM {_fr.duck_lists_values()}),
            secs AS (
              SELECT category, sec_pos,
                     '**' || array_to_string(list_transform(
                         string_split(replace(section, '_', ' '), ' '),
                         w -> upper(substr(w, 1, 1))
                              || lower(substr(w, 2))), ' ')
                     || ':**' || chr(10)
                     || string_agg('- ' || field_key || ': '
                                   || field_desc, chr(10)
                                   ORDER BY field_pos) AS sec_text
              FROM registry GROUP BY category, section, sec_pos),
            percat AS (
              SELECT category,
                     string_agg(sec_text, chr(10) || chr(10)
                                ORDER BY sec_pos) AS sections_text
              FROM secs GROUP BY category),
            built AS (
              SELECT p.category,
                     'PRIORITY FIELDS for ' || upper(l.display)
                     || ' products:' || chr(10)
                     || '(Extract these if present — they are the most important for this category)'
                     || chr(10) || chr(10) || p.sections_text
                     || chr(10) AS prompt_text,
                     CASE WHEN len(l.hints) > 0 THEN
                       'CATEGORY-SPECIFIC EXTRACTION TIPS for '
                       || l.display || ':' || chr(10)
                       || array_to_string(list_transform(l.hints,
                            h -> '- ' || h), chr(10))
                     ELSE '' END AS hints_text,
                     l.skips AS skip_fields,
                     l.vocab AS controlled_vocab
              FROM percat p JOIN lists l USING (category)),
            req AS (
              SELECT doc AS doc_id,
                     ['tiles', 'general_materials',
                      'mystery_cat'][doc % 3 + 1] AS category_key
              FROM docs),
            res AS (
              SELECT *, CASE WHEN category_key IN
                  ('tiles', 'general_materials') THEN category_key
                  ELSE 'general_materials' END AS resolved
              FROM req)
            SELECT r.doc_id, r.category_key, r.resolved,
                   b.prompt_text, b.hints_text, b.skip_fields,
                   b.controlled_vocab
            FROM res r JOIN built b ON b.category = r.resolved""",
        "image_backfill_select": f"""
            WITH {_ib.IMAGES_SYNTH_SQL},
            aspect_stale AS (
              SELECT id, classification_pending,
                (NOT COALESCE(has_color_slig, FALSE)
                 OR color_aspect_schema_version IS NULL
                 OR color_aspect_schema_version < 2
                 OR NOT starts_with(
                     COALESCE(color_aspect_embedding_model, ''),
                     'voyage')) AS color_stale,
                (NOT COALESCE(has_texture_slig, FALSE)
                 OR texture_aspect_schema_version IS NULL
                 OR texture_aspect_schema_version < 2
                 OR NOT starts_with(
                     COALESCE(texture_aspect_embedding_model, ''),
                     'voyage')) AS texture_stale,
                (NOT COALESCE(has_style_slig, FALSE)
                 OR style_aspect_schema_version IS NULL
                 OR style_aspect_schema_version < 2
                 OR NOT starts_with(
                     COALESCE(style_aspect_embedding_model, ''),
                     'voyage')) AS style_stale,
                (NOT COALESCE(has_material_slig, FALSE)
                 OR material_aspect_schema_version IS NULL
                 OR material_aspect_schema_version < 2
                 OR NOT starts_with(
                     COALESCE(material_aspect_embedding_model, ''),
                     'voyage')) AS material_stale
              FROM images),
            stale_u AS (
              SELECT id FROM (
                SELECT * FROM images ORDER BY id LIMIT 200)
              WHERE NOT COALESCE(classification_pending, FALSE)
                AND (NOT COALESCE(has_understanding_embedding, FALSE)
                     OR understanding_schema_version IS NULL
                     OR understanding_schema_version < 2
                     OR NOT starts_with(
                         COALESCE(understanding_embedding_model, ''),
                         'voyage')))
            SELECT a.id, a.color_stale, a.texture_stale, a.style_stale,
                   a.material_stale,
                   ((a.color_stale OR a.texture_stale OR a.style_stale
                     OR a.material_stale)
                    AND NOT COALESCE(a.classification_pending, FALSE))
                     AS any_stale,
                   s.id IS NOT NULL AS understanding_stale
            FROM aspect_stale a LEFT JOIN stale_u s USING (id)""",
        "image_classification_outcomes": f"""
            WITH {_ib.IMAGES_SYNTH_SQL},
            results AS (
              SELECT 'img' || lpad(CAST(doc AS VARCHAR), 6, '0') AS id,
                     doc % 11 != 0 AS bytes_ok,
                     doc % 13 = 0 AS has_error,
                     CASE WHEN doc % 17 = 0 THEN 'opus_failed'
                          WHEN doc % 19 = 0 THEN 'opus_empty_response'
                          ELSE 'claude-opus' END AS cls_model,
                     CASE WHEN doc % 23 = 0
                          THEN 'API key missing upstream'
                          ELSE 'looks like tile' END AS reason,
                     doc % 2 = 0 AS is_material,
                     CASE WHEN doc % 29 = 0 THEN NULL
                          ELSE CAST(doc % 10 AS DOUBLE) / 10 END
                       AS confidence,
                     doc % 31 != 0 AS stamp_ok,
                     doc % 3 != 0 AS embed_ok
              FROM docs),
            cands AS (
              SELECT * FROM images
              WHERE COALESCE(classification_pending, FALSE)
              ORDER BY id LIMIT 100),
            lad AS (
              SELECT c.id, r.is_material, r.confidence,
                CASE
                  WHEN NOT COALESCE(r.bytes_ok, FALSE) THEN 'skipped'
                  WHEN COALESCE(r.has_error, FALSE)
                       OR contains(COALESCE(r.cls_model, ''),
                                   '_failed')
                       OR contains(COALESCE(r.cls_model, ''),
                                   '_empty_response')
                       OR contains(COALESCE(r.reason, ''),
                                   'API key missing') THEN 'failed'
                  WHEN NOT COALESCE(r.stamp_ok, FALSE) THEN 'failed'
                  WHEN NOT COALESCE(r.is_material, FALSE)
                    THEN 'non_material'
                  WHEN COALESCE(r.embed_ok, FALSE)
                    THEN 'material_embedded'
                  ELSE 'material_unembedded' END AS outcome
              FROM cands c LEFT JOIN results r USING (id))
            SELECT id, outcome,
                   outcome IN ('non_material', 'material_embedded',
                               'material_unembedded')
                     AS quarantine_cleared,
                   CASE WHEN outcome IN ('non_material',
                            'material_embedded', 'material_unembedded')
                        THEN CASE WHEN COALESCE(is_material, FALSE)
                             THEN 'material' ELSE 'non-material' END
                   END AS classification,
                   CASE WHEN outcome IN ('non_material',
                            'material_embedded', 'material_unembedded')
                        THEN CASE WHEN COALESCE(is_material, FALSE)
                             THEN 'product' ELSE 'general' END
                   END AS category,
                   CASE WHEN outcome IN ('non_material',
                            'material_embedded', 'material_unembedded')
                        THEN COALESCE(confidence, 0.0)
                   END AS confidence,
                   CASE WHEN outcome IN ('non_material',
                            'material_embedded', 'material_unembedded')
                        THEN 'classification_backfill'
                   END AS reclassified_by
            FROM lad""",
        "image_classification_summary": f"""
            WITH {_ib.IMAGES_SYNTH_SQL},
            results AS (
              SELECT 'img' || lpad(CAST(doc AS VARCHAR), 6, '0') AS id,
                     doc % 11 != 0 AS bytes_ok,
                     doc % 13 = 0 AS has_error,
                     CASE WHEN doc % 17 = 0 THEN 'opus_failed'
                          WHEN doc % 19 = 0 THEN 'opus_empty_response'
                          ELSE 'claude-opus' END AS cls_model,
                     CASE WHEN doc % 23 = 0
                          THEN 'API key missing upstream'
                          ELSE 'looks like tile' END AS reason,
                     doc % 2 = 0 AS is_material,
                     doc % 31 != 0 AS stamp_ok,
                     doc % 3 != 0 AS embed_ok
              FROM docs),
            cands AS (
              SELECT * FROM images
              WHERE COALESCE(classification_pending, FALSE)
              ORDER BY id LIMIT 100),
            lad AS (
              SELECT CASE
                  WHEN NOT COALESCE(r.bytes_ok, FALSE) THEN 'skipped'
                  WHEN COALESCE(r.has_error, FALSE)
                       OR contains(COALESCE(r.cls_model, ''),
                                   '_failed')
                       OR contains(COALESCE(r.cls_model, ''),
                                   '_empty_response')
                       OR contains(COALESCE(r.reason, ''),
                                   'API key missing') THEN 'failed'
                  WHEN NOT COALESCE(r.stamp_ok, FALSE) THEN 'failed'
                  WHEN NOT COALESCE(r.is_material, FALSE)
                    THEN 'non_material'
                  WHEN COALESCE(r.embed_ok, FALSE)
                    THEN 'material_embedded'
                  ELSE 'material_unembedded' END AS outcome
              FROM cands c LEFT JOIN results r USING (id))
            SELECT CAST(count(*) AS BIGINT) AS scanned,
                   CAST(COALESCE(sum(CASE WHEN outcome IN
                        ('material_embedded', 'material_unembedded')
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS material,
                   CAST(COALESCE(sum(CASE WHEN outcome =
                        'non_material' THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS non_material,
                   CAST(COALESCE(sum(CASE WHEN outcome =
                        'material_embedded' THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS embedded,
                   CAST(COALESCE(sum(CASE WHEN outcome = 'skipped'
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS skipped,
                   CAST(COALESCE(sum(CASE WHEN outcome = 'failed'
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS failed
            FROM lad""",
        "job_persistence_fold": """
            WITH
            docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                     FROM documents),
            pers AS (
              SELECT k * 10000 + doc AS event_ord,
                     'persist' AS kind,
                     'j' || CAST(doc AS VARCHAR) AS job_id,
                     'd' || CAST(doc AS VARCHAR) AS document_id,
                     'f' || CAST(doc AS VARCHAR) AS filename,
                     CASE WHEN k = 0 THEN 'pending'
                          WHEN k = 1 THEN
                            CASE WHEN doc % 4 = 2 THEN 'completed'
                                 WHEN doc % 4 = 3 THEN 'pending'
                                 ELSE 'processing' END
                          WHEN k = 3 THEN
                            CASE WHEN doc % 2 = 0 THEN 'processing'
                                 ELSE 'completed' END
                          ELSE 'completed' END AS status,
                     CAST(CASE k WHEN 0 THEN 0 WHEN 1 THEN 50
                          WHEN 3 THEN 80 ELSE 100 END AS BIGINT)
                       AS progress,
                     CASE WHEN k = 3 AND doc % 6 = 0 THEN 'oops' END
                       AS error,
                     CASE WHEN k = 0 THEN [{'key': 'a', 'value': '1'}]
                          WHEN k = 1 AND doc % 3 = 0 THEN
                            [{'key': 'b', 'value': '2'},
                             {'key': 'a', 'value': '3'}] END
                       AS metadata,
                     CAST(NULL AS VARCHAR) AS reason,
                     (k > 0 OR doc % 10 != 0) AS doc_exists
              FROM docs, (SELECT unnest([0, 1, 3, 5]) AS k)
              WHERE NOT (k = 3 AND doc % 5 = 1)
                AND NOT (k = 5 AND doc % 7 != 0)),
            sweeps AS (SELECT * FROM (VALUES
                (25000, 'Service restart'), (45000, 'Second restart'))
                t(event_ord, reason)),
            jobs AS (SELECT DISTINCT job_id FROM pers),
            fanned AS (
              SELECT event_ord, kind, job_id, document_id, filename,
                     status, progress, error, metadata, reason,
                     doc_exists
              FROM pers
              UNION ALL
              SELECT s.event_ord, 'interrupt', j.job_id, NULL, NULL,
                     NULL, NULL, NULL, NULL, s.reason, NULL
              FROM sweeps s CROSS JOIN jobs j),
            crt AS (
              SELECT job_id,
                     min(CASE WHEN kind = 'persist' AND doc_exists
                         THEN event_ord END) AS create_ord
              FROM fanned GROUP BY job_id),
            e AS (
              SELECT f.*, c.create_ord FROM fanned f
              JOIN crt c USING (job_id)
              WHERE c.create_ord IS NOT NULL
                AND f.event_ord >= c.create_ord),
            ann AS (
              SELECT *,
                max(CASE WHEN kind = 'persist' THEN event_ord END)
                  OVER w_prev AS lp_ord,
                (max(CASE WHEN kind = 'persist' THEN
                     {'o': event_ord, 's': status} END) OVER w_prev).s
                  AS lp_status,
                max(CASE WHEN kind = 'interrupt' THEN event_ord END)
                  OVER w_prev AS prev_int
              FROM e
              WINDOW w_prev AS (PARTITION BY job_id ORDER BY event_ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            marked AS (
              SELECT *,
                kind = 'interrupt'
                AND COALESCE(lp_status IN ('processing', 'pending'),
                             FALSE)
                AND COALESCE(prev_int, -1) < COALESCE(lp_ord, -1)
                  AS int_applied
              FROM ann),
            agg AS (
              SELECT job_id,
                (max(CASE WHEN kind = 'persist' THEN
                     {'o': event_ord, 'v': document_id} END)).v
                  AS document_id,
                (max(CASE WHEN kind = 'persist' THEN
                     {'o': event_ord, 'v': filename} END)).v
                  AS filename,
                (max(CASE WHEN kind = 'persist' OR int_applied THEN
                     {'o': event_ord,
                      'v': CASE WHEN kind = 'persist' THEN status
                           ELSE 'interrupted' END} END)).v AS status,
                (max(CASE WHEN kind = 'persist' THEN
                     {'o': event_ord, 'v': progress} END)).v
                  AS progress,
                (max(CASE WHEN kind = 'persist' OR int_applied THEN
                     {'o': event_ord,
                      'v': CASE WHEN kind = 'persist' THEN error
                           ELSE reason END} END)).v AS error,
                min(create_ord) AS created_at_ord,
                max(CASE WHEN kind = 'persist' OR int_applied
                    THEN event_ord END) AS updated_at_ord,
                COALESCE(max(CASE WHEN int_applied THEN event_ord
                             END), -1) AS interrupted_at_ord,
                list_transform(
                  array_agg(CASE WHEN kind = 'persist'
                            AND metadata IS NOT NULL THEN
                            {'o': event_ord, 'm': metadata} END
                            ORDER BY event_ord)
                  FILTER (WHERE kind = 'persist'
                          AND metadata IS NOT NULL),
                  x -> x.m) AS mlists
              FROM marked GROUP BY job_id),
            folded_jobs AS (
              SELECT job_id, document_id, filename, status, progress,
                     error, created_at_ord, updated_at_ord,
                     interrupted_at_ord,
                     CASE WHEN mlists IS NULL OR len(mlists) = 0
                       THEN CAST([] AS
                            STRUCT(key VARCHAR, value VARCHAR)[])
                       ELSE list_sort(list_reduce(mlists,
                         (acc, m) -> list_filter(acc,
                             a -> len(list_filter(m,
                                 n -> n.key = a.key)) = 0) || m))
                       END AS metadata
              FROM agg)
            SELECT * FROM folded_jobs""",
        "job_recovery_stats": """
            WITH
            docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                     FROM documents),
            pers AS (
              SELECT k * 10000 + doc AS event_ord,
                     'persist' AS kind,
                     'j' || CAST(doc AS VARCHAR) AS job_id,
                     'd' || CAST(doc AS VARCHAR) AS document_id,
                     'f' || CAST(doc AS VARCHAR) AS filename,
                     CASE WHEN k = 0 THEN 'pending'
                          WHEN k = 1 THEN
                            CASE WHEN doc % 4 = 2 THEN 'completed'
                                 WHEN doc % 4 = 3 THEN 'pending'
                                 ELSE 'processing' END
                          WHEN k = 3 THEN
                            CASE WHEN doc % 2 = 0 THEN 'processing'
                                 ELSE 'completed' END
                          ELSE 'completed' END AS status,
                     CAST(CASE k WHEN 0 THEN 0 WHEN 1 THEN 50
                          WHEN 3 THEN 80 ELSE 100 END AS BIGINT)
                       AS progress,
                     CASE WHEN k = 3 AND doc % 6 = 0 THEN 'oops' END
                       AS error,
                     CASE WHEN k = 0 THEN [{'key': 'a', 'value': '1'}]
                          WHEN k = 1 AND doc % 3 = 0 THEN
                            [{'key': 'b', 'value': '2'},
                             {'key': 'a', 'value': '3'}] END
                       AS metadata,
                     CAST(NULL AS VARCHAR) AS reason,
                     (k > 0 OR doc % 10 != 0) AS doc_exists
              FROM docs, (SELECT unnest([0, 1, 3, 5]) AS k)
              WHERE NOT (k = 3 AND doc % 5 = 1)
                AND NOT (k = 5 AND doc % 7 != 0)),
            sweeps AS (SELECT * FROM (VALUES
                (25000, 'Service restart'), (45000, 'Second restart'))
                t(event_ord, reason)),
            jobs AS (SELECT DISTINCT job_id FROM pers),
            fanned AS (
              SELECT event_ord, kind, job_id, document_id, filename,
                     status, progress, error, metadata, reason,
                     doc_exists
              FROM pers
              UNION ALL
              SELECT s.event_ord, 'interrupt', j.job_id, NULL, NULL,
                     NULL, NULL, NULL, NULL, s.reason, NULL
              FROM sweeps s CROSS JOIN jobs j),
            crt AS (
              SELECT job_id,
                     min(CASE WHEN kind = 'persist' AND doc_exists
                         THEN event_ord END) AS create_ord
              FROM fanned GROUP BY job_id),
            e AS (
              SELECT f.*, c.create_ord FROM fanned f
              JOIN crt c USING (job_id)
              WHERE c.create_ord IS NOT NULL
                AND f.event_ord >= c.create_ord),
            ann AS (
              SELECT *,
                max(CASE WHEN kind = 'persist' THEN event_ord END)
                  OVER w_prev AS lp_ord,
                (max(CASE WHEN kind = 'persist' THEN
                     {'o': event_ord, 's': status} END) OVER w_prev).s
                  AS lp_status,
                max(CASE WHEN kind = 'interrupt' THEN event_ord END)
                  OVER w_prev AS prev_int
              FROM e
              WINDOW w_prev AS (PARTITION BY job_id ORDER BY event_ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            marked AS (
              SELECT *,
                kind = 'interrupt'
                AND COALESCE(lp_status IN ('processing', 'pending'),
                             FALSE)
                AND COALESCE(prev_int, -1) < COALESCE(lp_ord, -1)
                  AS int_applied
              FROM ann),
            agg AS (
              SELECT job_id,
                (max(CASE WHEN kind = 'persist' THEN
                     {'o': event_ord, 'v': document_id} END)).v
                  AS document_id,
                (max(CASE WHEN kind = 'persist' THEN
                     {'o': event_ord, 'v': filename} END)).v
                  AS filename,
                (max(CASE WHEN kind = 'persist' OR int_applied THEN
                     {'o': event_ord,
                      'v': CASE WHEN kind = 'persist' THEN status
                           ELSE 'interrupted' END} END)).v AS status,
                (max(CASE WHEN kind = 'persist' THEN
                     {'o': event_ord, 'v': progress} END)).v
                  AS progress,
                (max(CASE WHEN kind = 'persist' OR int_applied THEN
                     {'o': event_ord,
                      'v': CASE WHEN kind = 'persist' THEN error
                           ELSE reason END} END)).v AS error,
                min(create_ord) AS created_at_ord,
                max(CASE WHEN kind = 'persist' OR int_applied
                    THEN event_ord END) AS updated_at_ord,
                COALESCE(max(CASE WHEN int_applied THEN event_ord
                             END), -1) AS interrupted_at_ord,
                list_transform(
                  array_agg(CASE WHEN kind = 'persist'
                            AND metadata IS NOT NULL THEN
                            {'o': event_ord, 'm': metadata} END
                            ORDER BY event_ord)
                  FILTER (WHERE kind = 'persist'
                          AND metadata IS NOT NULL),
                  x -> x.m) AS mlists
              FROM marked GROUP BY job_id),
            folded_jobs AS (
              SELECT job_id, document_id, filename, status, progress,
                     error, created_at_ord, updated_at_ord,
                     interrupted_at_ord,
                     CASE WHEN mlists IS NULL OR len(mlists) = 0
                       THEN CAST([] AS
                            STRUCT(key VARCHAR, value VARCHAR)[])
                       ELSE list_sort(list_reduce(mlists,
                         (acc, m) -> list_filter(acc,
                             a -> len(list_filter(m,
                                 n -> n.key = a.key)) = 0) || m))
                       END AS metadata
              FROM agg),
            swept AS (
              SELECT * FROM folded_jobs
              WHERE NOT (status IN ('completed', 'failed')
                         AND updated_at_ord < 60000 - 20000))
            SELECT CAST(count(*) AS BIGINT) AS total,
                   CAST(COALESCE(sum(CASE WHEN status = 'pending'
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS pending,
                   CAST(COALESCE(sum(CASE WHEN status = 'processing'
                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS processing,
                   CAST(COALESCE(sum(CASE WHEN status = 'completed'
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS completed,
                   CAST(COALESCE(sum(CASE WHEN status = 'failed'
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS failed,
                   CAST(COALESCE(sum(CASE WHEN status = 'interrupted'
                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS interrupted
            FROM swept""",
        "product_rule_edges": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            products AS (
              SELECT 'w' || CAST(doc % 25 AS VARCHAR) AS workspace_id,
                     'p' || CAST(doc AS VARCHAR) AS product_id,
                     'm' || CAST(doc % 4 AS VARCHAR) AS material_type,
                     CASE WHEN doc % 3 = 0 THEN NULL
                          ELSE 'f' || CAST(doc % 2 AS VARCHAR) END
                       AS finish,
                     ['c' || CAST(doc % 5 AS VARCHAR),
                      'c' || CAST((doc + 1) % 5 AS VARCHAR)] AS colors,
                     CASE WHEN doc % 7 = 0 THEN NULL
                          ELSE 'col' || CAST(doc % 6 AS VARCHAR) END
                       AS collection,
                     's' || CAST(doc % 3 AS VARCHAR) AS slip_rating,
                     'fr' || CAST(doc % 2 AS VARCHAR) AS fire_rating,
                     'd' || CAST(doc % 5 AS VARCHAR) AS dimensions,
                     ['tile', 'grout', 'skirting',
                      'adhesive'][doc % 4 + 1] AS category
              FROM docs),
            pairs AS (SELECT * FROM (VALUES ('tile', 'grout'),
                      ('grout', 'tile'), ('tile', 'skirting'),
                      ('skirting', 'tile')) t(category_a, category_b)),
            pc AS (SELECT workspace_id, product_id, finish,
                          unnest(colors) AS color
                   FROM products)
            SELECT a.workspace_id, a.product_id AS src_product_id,
                   b.product_id AS dst_product_id,
                   'material_family' AS edge_type,
                   CAST(0.55 AS DOUBLE) AS weight,
                   'rule' AS derived_from
            FROM products a JOIN products b
              ON a.workspace_id = b.workspace_id
             AND a.material_type = b.material_type
             AND a.product_id != b.product_id
            UNION ALL
            SELECT DISTINCT a.workspace_id, a.product_id,
                   b.product_id, 'pattern_match',
                   CAST(0.65 AS DOUBLE), 'rule'
            FROM pc a JOIN pc b
              ON a.workspace_id = b.workspace_id
             AND a.finish IS NOT NULL AND a.finish = b.finish
             AND a.color = b.color
             AND a.product_id != b.product_id
            UNION ALL
            SELECT a.workspace_id, a.product_id, b.product_id,
                   'collection', CAST(0.70 AS DOUBLE), 'rule'
            FROM products a JOIN products b
              ON a.workspace_id = b.workspace_id
             AND a.collection = b.collection
             AND a.product_id != b.product_id
            UNION ALL
            SELECT a.workspace_id, a.product_id, b.product_id,
                   'complementary', CAST(0.60 AS DOUBLE), 'rule'
            FROM products a
            JOIN pairs cp ON a.category = cp.category_a
            JOIN products b ON a.workspace_id = b.workspace_id
             AND b.category = cp.category_b
             AND a.product_id != b.product_id
            UNION ALL
            SELECT a.workspace_id, a.product_id, b.product_id,
                   'alternative', CAST(0.75 AS DOUBLE), 'rule'
            FROM products a JOIN products b
              ON a.workspace_id = b.workspace_id
             AND a.slip_rating = b.slip_rating
             AND a.fire_rating = b.fire_rating
             AND a.dimensions = b.dimensions
             AND a.product_id != b.product_id""",
        "llm_edge_postprocess": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            identity_t AS (
              SELECT 'w' || CAST(doc % 10 AS VARCHAR) AS workspace_id,
                     'p' || CAST(doc AS VARCHAR) AS product_id,
                     CASE WHEN doc % 3 = 0 THEN NULL
                          ELSE 'sku' || CAST(doc AS VARCHAR) END
                       AS external_sku,
                     'ms' || CAST(doc % 50 AS VARCHAR) AS meta_sku,
                     'Name ' || CAST(doc AS VARCHAR) AS name
              FROM docs),
            refs AS (
              SELECT 'w' || CAST(doc % 10 AS VARCHAR) AS workspace_id,
                     'p' || CAST(doc AS VARCHAR) AS src_product_id,
                     CAST(pos AS INT) AS ref_pos,
                     CASE WHEN pos IN (0, 1) THEN
                       CASE doc % 6
                         WHEN 0 THEN 'SKU' || CAST(doc + 10 AS VARCHAR)
                         WHEN 1 THEN
                           'ms' || CAST((doc + 10) % 50 AS VARCHAR)
                         WHEN 2 THEN
                           'name ' || CAST(doc + 20 AS VARCHAR)
                         WHEN 3 THEN 'x'
                         WHEN 4 THEN 'zzz-unknown'
                         ELSE 'Name ' || CAST(doc AS VARCHAR) END
                     ELSE 'Name ' || CAST(doc + 30 AS VARCHAR) END
                       AS referenced_identifier,
                     CASE WHEN pos = 0 THEN 'pairs_with'
                          WHEN pos = 1 THEN 'replaces'
                          ELSE CASE WHEN doc % 2 = 0 THEN 'completes'
                               ELSE 'equivalent_alternative' END END
                       AS relationship,
                     CASE WHEN pos = 0 AND doc % 9 = 0 THEN ''
                          ELSE 'because the text says so '
                               || CAST(doc AS VARCHAR) || ' #'
                               || CAST(pos AS VARCHAR) END AS evidence,
                     CAST(CASE WHEN pos = 2 AND doc % 5 = 0 THEN 0.6
                          WHEN pos = 1 THEN 0.95 ELSE 0.9 END
                          AS DOUBLE) AS confidence
              FROM docs, (SELECT unnest([0, 1, 2]) AS pos)),
            gated AS (
              SELECT * FROM refs
              WHERE trim(COALESCE(referenced_identifier, '')) != ''
                AND trim(COALESCE(evidence, '')) != ''
                AND COALESCE(confidence, 0) >= 0.6
                AND relationship IN ('pairs_with', 'requires',
                    'completes', 'replaces', 'equivalent_alternative')),
            m AS (
              SELECT g.src_product_id, g.ref_pos, 0 AS tier,
                     i.product_id AS dst
              FROM gated g JOIN identity_t i
                ON i.workspace_id = g.workspace_id
               AND i.product_id != g.src_product_id
               AND lower(i.external_sku)
                   = lower(trim(g.referenced_identifier))
              UNION ALL
              SELECT g.src_product_id, g.ref_pos, 1, i.product_id
              FROM gated g JOIN identity_t i
                ON i.workspace_id = g.workspace_id
               AND i.product_id != g.src_product_id
               AND lower(i.meta_sku)
                   = lower(trim(g.referenced_identifier))
              UNION ALL
              SELECT g.src_product_id, g.ref_pos, 2, i.product_id
              FROM gated g JOIN identity_t i
                ON i.workspace_id = g.workspace_id
               AND i.product_id != g.src_product_id
               AND lower(i.name)
                   = lower(trim(g.referenced_identifier))),
            pt AS (
              SELECT src_product_id, ref_pos, tier,
                     count(*) AS n, min(dst) AS one
              FROM m GROUP BY src_product_id, ref_pos, tier),
            dec AS (
              SELECT src_product_id, ref_pos, n, one FROM pt
              QUALIFY row_number() OVER (
                  PARTITION BY src_product_id, ref_pos
                  ORDER BY tier) = 1),
            res AS (
              SELECT g.*,
                     CASE WHEN length(trim(g.referenced_identifier))
                               >= 2 AND d.n = 1
                          THEN d.one END AS dst_product_id
              FROM gated g LEFT JOIN dec d
                USING (src_product_id, ref_pos)),
            firsts AS (
              SELECT * FROM res WHERE dst_product_id IS NOT NULL
              QUALIFY row_number() OVER (
                  PARTITION BY workspace_id, src_product_id,
                               dst_product_id
                  ORDER BY ref_pos) = 1),
            rows_out AS (
              SELECT workspace_id, src_product_id, dst_product_id,
                     ref_pos,
                     CASE relationship
                       WHEN 'replaces' THEN 'alternative'
                       WHEN 'equivalent_alternative'
                         THEN 'alternative'
                       ELSE 'complementary' END AS edge_type,
                     CAST(CASE relationship
                       WHEN 'replaces' THEN 0.83
                       WHEN 'equivalent_alternative' THEN 0.83
                       ELSE 0.88 END AS DOUBLE) AS weight,
                     substr(trim(evidence), 1, 500) AS reason,
                     substr(trim(referenced_identifier), 1, 200)
                       AS referenced,
                     confidence, 'llm' AS derived_from
              FROM firsts)
            SELECT workspace_id, src_product_id, dst_product_id,
                   edge_type, weight, reason, referenced, confidence,
                   derived_from
            FROM rows_out
            QUALIFY row_number() OVER (
                PARTITION BY workspace_id, src_product_id,
                             dst_product_id, edge_type
                ORDER BY weight DESC, ref_pos) = 1""",
        "edge_text_gate": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            products AS (
              SELECT 'w0' AS workspace_id,
                     'p' || CAST(doc AS VARCHAR) AS product_id,
                     CASE WHEN doc % 4 = 0 THEN ''
                          ELSE 'Product description for item '
                               || CAST(doc AS VARCHAR) END
                       AS description,
                     doc
              FROM docs),
            nchs AS (SELECT doc,
                            CASE WHEN doc % 31 = 0 THEN 25
                                 ELSE CAST(doc % 6 AS INT) END AS nch
                     FROM docs),
            chunks AS (
              SELECT 'w0' AS workspace_id,
                     'p' || CAST(doc AS VARCHAR) AS product_id,
                     CAST(j AS INT) AS chunk_index,
                     CASE WHEN j % 3 = 1 THEN '  '
                          ELSE 'chunk text ' || CAST(doc AS VARCHAR)
                               || ' #' || CAST(j AS VARCHAR) END
                       AS content
              FROM nchs, UNNEST(generate_series(1, nch)) AS t(j)
              WHERE nch >= 1),
            lim AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY workspace_id, product_id
                    ORDER BY chunk_index) AS rn
                FROM chunks
                WHERE trim(COALESCE(content, '')) != '')
              WHERE rn <= 20),
            agg AS (
              SELECT workspace_id, product_id,
                     string_agg(trim(content), e'\n\n'
                                ORDER BY chunk_index) AS chunk_text
              FROM lim GROUP BY workspace_id, product_id),
            j AS (
              SELECT p.workspace_id, p.product_id, p.description,
                     CASE WHEN trim(COALESCE(p.description, '')) != ''
                               AND a.chunk_text IS NOT NULL
                          THEN trim(p.description) || e'\n\n'
                               || a.chunk_text
                          WHEN trim(COALESCE(p.description, '')) != ''
                          THEN trim(p.description)
                          ELSE COALESCE(a.chunk_text, '') END AS full_t
              FROM products p LEFT JOIN agg a
                USING (workspace_id, product_id))
            SELECT workspace_id, product_id, description,
                   CAST(length(substr(full_t, 1, 6000)) AS INT)
                     AS text_len,
                   substr(full_t, 1, 6000) AS text
            FROM j WHERE length(full_t) >= 40""",
        "text_backfill_products": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            products AS (
              SELECT 'p' || lpad(CAST(doc AS VARCHAR), 6, '0') AS id,
                     'w' || CAST(doc % 3 AS VARCHAR) AS workspace_id,
                     doc % 6 = 0 AS has_embedding,
                     CASE WHEN doc % 11 = 0 THEN ''
                          ELSE 'text ' || CAST(doc AS VARCHAR) END
                       AS embedding_text,
                     CASE WHEN doc % 4 = 0 THEN 'marker' END
                       AS failure_marker,
                     doc
              FROM docs),
            emb AS (
              SELECT 'p' || lpad(CAST(doc AS VARCHAR), 6, '0') AS id,
                     doc % 5 != 0 AS success,
                     CAST(CASE WHEN doc % 7 = 0 THEN 512
                          ELSE 1024 END AS INT) AS dim,
                     'voyage-4' AS model
              FROM docs),
            cands AS (
              SELECT * FROM products
              WHERE NOT COALESCE(has_embedding, FALSE)
                AND workspace_id = 'w1'
              ORDER BY id LIMIT 100),
            j AS (
              SELECT c.*, e.success, e.dim, e.model,
                     CASE WHEN trim(COALESCE(c.embedding_text, ''))
                               = '' THEN 'failed_empty_text'
                          WHEN NOT (COALESCE(e.success, FALSE)
                               AND COALESCE(e.dim, 0) = 1024)
                            THEN 'failed_embedding'
                          ELSE 'embedded' END AS outcome
              FROM cands c LEFT JOIN emb e USING (id))
            SELECT id, outcome, outcome = 'embedded' AS set_embedding,
                   CASE WHEN outcome = 'embedded' THEN model END
                     AS model,
                   outcome = 'embedded' AND failure_marker IS NOT NULL
                     AS marker_resolved,
                   CASE WHEN outcome = 'embedded'
                             AND failure_marker IS NOT NULL
                        THEN 'text_embedding_backfill' END
                     AS resolved_by
            FROM j""",
        "text_backfill_chunks": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            chunks AS (
              SELECT 'c' || lpad(CAST(doc AS VARCHAR), 6, '0') AS id,
                     'w0' AS workspace_id,
                     CASE WHEN doc % 5 = 0 THEN TRUE
                          WHEN doc % 5 = 1 THEN FALSE END
                       AS has_text_embedding,
                     CASE WHEN doc % 9 = 0 THEN ''
                          WHEN doc % 9 = 1 THEN '  '
                          ELSE 'content ' || CAST(doc AS VARCHAR) END
                       AS content,
                     doc
              FROM docs),
            vectors AS (
              SELECT 'c' || lpad(CAST(doc AS VARCHAR), 6, '0') AS id,
                     doc % 10 != 3 AS vector_ok
              FROM docs WHERE doc % 8 != 7),
            limited AS (
              SELECT * FROM chunks
              WHERE has_text_embedding IS NULL
                 OR has_text_embedding = FALSE
              ORDER BY id LIMIT 120),
            cands AS (
              SELECT * FROM limited
              WHERE trim(COALESCE(content, '')) != ''),
            batched AS (
              SELECT *, CAST((row_number() OVER (ORDER BY id) - 1)
                        // 50 AS INT) AS batch_index,
                     CAST((row_number() OVER (ORDER BY id) - 1)
                        % 50 AS INT) AS pos_in_batch
              FROM cands),
            j AS (
              SELECT b.*, v.vector_ok,
                     v.id IS NOT NULL AS returned
              FROM batched b LEFT JOIN vectors v USING (id))
            SELECT id, batch_index, pos_in_batch,
                   CASE WHEN batch_index = 1 THEN 'failed_batch'
                        WHEN NOT returned THEN 'failed_short_list'
                        WHEN NOT COALESCE(vector_ok, FALSE)
                          THEN 'failed_null_vector'
                        ELSE 'embedded' END AS outcome,
                   CASE WHEN batch_index = 1 THEN 'failed_batch'
                        WHEN NOT returned THEN 'failed_short_list'
                        WHEN NOT COALESCE(vector_ok, FALSE)
                          THEN 'failed_null_vector'
                        ELSE 'embedded' END = 'embedded'
                     AS set_embedding
            FROM j""",
        "xml_import_progress": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            staged AS (
              SELECT doc AS doc_id,
                     CASE doc % 10 WHEN 0 THEN 'initialized'
                          WHEN 1 THEN 'products_parsed'
                          WHEN 2 THEN 'images_downloaded'
                          WHEN 3 THEN 'images_classified'
                          WHEN 4 THEN 'clips_generated'
                          WHEN 5 THEN 'chunks_created'
                          WHEN 6 THEN 'embeddings_queued'
                          WHEN 7 THEN 'completed'
                          WHEN 8 THEN 'failed'
                          ELSE 'bogus' END AS stage
              FROM docs)
            SELECT doc_id, stage,
                   CAST(CASE stage WHEN 'initialized' THEN 0
                        WHEN 'products_parsed' THEN 14
                        WHEN 'images_downloaded' THEN 28
                        WHEN 'images_classified' THEN 42
                        WHEN 'clips_generated' THEN 57
                        WHEN 'chunks_created' THEN 71
                        WHEN 'embeddings_queued' THEN 85
                        WHEN 'completed' THEN 100
                        ELSE 0 END AS INT) AS progress,
                   CASE stage WHEN 'initialized' THEN 'Job initialized'
                        WHEN 'products_parsed'
                          THEN 'Parsing XML and extracting products'
                        WHEN 'images_downloaded'
                          THEN 'Downloading product images'
                        WHEN 'images_classified'
                          THEN 'Classifying images (material vs non-material)'
                        WHEN 'clips_generated'
                          THEN 'Generating SLIG embeddings for images'
                        WHEN 'chunks_created'
                          THEN 'Creating text chunks with quality scoring'
                        WHEN 'embeddings_queued'
                          THEN 'Queueing text embeddings for generation'
                        WHEN 'completed'
                          THEN 'Import completed successfully'
                        WHEN 'failed' THEN 'Import failed'
                   END AS description
            FROM staged""",
        "material_quota_clamp": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            rows_in AS (
              SELECT doc AS row_id,
                     CASE WHEN doc % 17 = 0 THEN NULL
                          ELSE 'w' || CAST(doc % 10 AS VARCHAR) END
                       AS workspace_id,
                     doc AS batch_pos,
                     doc % 13 = 0 AS is_service
              FROM docs),
            lims AS (
              SELECT 'w' || CAST(i AS VARCHAR) AS workspace_id,
                     CAST(CASE WHEN i = 6 THEN -1 WHEN i = 7 THEN 0
                          ELSE (i + 1) * 5 END AS BIGINT) AS plan_limit,
                     CAST((i * 3) % 13 AS BIGINT) AS n_products
              FROM (SELECT unnest(generate_series(0, 7)) AS i)),
            j AS (
              SELECT r.*,
                     CAST(COALESCE(CASE WHEN l.plan_limit IS NULL
                              THEN NULL
                              WHEN l.plan_limit = -1 THEN -1
                              ELSE l.plan_limit
                                   - COALESCE(l.n_products, 0) END,
                          -1) AS BIGINT) AS remaining
              FROM rows_in r
              LEFT JOIN lims l USING (workspace_id)),
            ranked AS (
              SELECT *, SUM(CASE WHEN is_service THEN 0 ELSE 1 END)
                     OVER (PARTITION BY workspace_id
                           ORDER BY batch_pos) AS rk
              FROM j)
            SELECT row_id, workspace_id, batch_pos, is_service,
                   remaining,
                   (is_service OR remaining = -1 OR rk <= remaining)
                     AS admitted,
                   CASE WHEN is_service OR remaining = -1
                             OR rk <= remaining THEN ''
                        ELSE 'quota_exceeded' END AS refusal
            FROM ranked""",
        "keyword_expansion_curate": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            raw AS (
              SELECT doc AS req_id,
                     CASE WHEN doc % 7 = 0 THEN
                       list_transform(generate_series(0, 24),
                           i -> 'kw' || CAST(i AS VARCHAR))
                     ELSE ['Alpha Dev', ' beta dev ', '', 'ALPHA DEV']
                     END AS title_variants,
                     ['senior alpha dev',
                      'gamma_' || CAST(doc % 3 AS VARCHAR)]
                       AS seniority_variants,
                     CASE WHEN doc % 5 = 0 THEN NULL
                          ELSE ['AD', 'bd'] END AS abbreviations,
                     [' react native ', ''] AS rejected_terms,
                     ['Alpha Dev hiring 2026', 'alpha dev HIRING 2026',
                      ' Beta roles ', ''] AS query_phrasings,
                     CASE WHEN doc % 4 = 0 THEN ['beta']
                          ELSE CAST([] AS VARCHAR[]) END
                       AS excluded_keywords
              FROM docs),
            merged AS (
              SELECT req_id,
                     COALESCE(title_variants, [])
                       || COALESCE(seniority_variants, [])
                       || COALESCE(abbreviations, []) AS m,
                     list_filter(list_transform(
                         COALESCE(excluded_keywords, []),
                         e -> lower(COALESCE(e, ''))),
                       e -> e != '') AS exl,
                     rejected_terms, query_phrasings
              FROM raw),
            terms AS (
              SELECT req_id, i, trim(lower(COALESCE(m[i], ''))) AS t,
                     exl
              FROM (SELECT *, unnest(generate_series(1, len(m))) AS i
                    FROM merged)),
            kept AS (
              SELECT req_id, i, t FROM terms
              WHERE t != ''
                AND len(list_filter(exl,
                        ex -> contains(t, ex))) = 0),
            firsts AS (
              SELECT req_id, t, min(i) AS fi
              FROM kept GROUP BY req_id, t),
            expanded AS (
              SELECT req_id,
                     list_slice(array_agg(t ORDER BY fi), 1, 18) AS e
              FROM firsts GROUP BY req_id),
            phr_terms AS (
              SELECT req_id, i, trim(query_phrasings[i]) AS p
              FROM (SELECT req_id, query_phrasings,
                           unnest(generate_series(1,
                               len(query_phrasings))) AS i
                    FROM merged)
              WHERE trim(COALESCE(query_phrasings[i], '')) != ''),
            phr_first AS (
              SELECT req_id, lower(p) AS lp, arg_min(p, i) AS p,
                     min(i) AS fi
              FROM phr_terms GROUP BY req_id, lower(p)),
            phr AS (
              SELECT req_id,
                     list_slice(array_agg(p ORDER BY fi), 1, 5) AS ph
              FROM phr_first GROUP BY req_id)
            SELECT m.req_id,
                   COALESCE(e.e, []) AS expanded,
                   list_filter(list_transform(m.rejected_terms,
                       r -> trim(COALESCE(r, ''))), r -> r != '')
                     AS rejected,
                   COALESCE(p.ph, []) AS query_phrasings
            FROM merged m
            LEFT JOIN expanded e USING (req_id)
            LEFT JOIN phr p USING (req_id)""",
        "query_cache_fold": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            ev AS (
              SELECT doc * 10 + k AS event_ord,
                     CASE WHEN k = 0 THEN 'store'
                          WHEN k = 3 AND doc % 2 = 0 THEN 'store'
                          ELSE 'lookup' END AS kind,
                     CASE WHEN k = 0 THEN
                            '  Query ' || CAST(doc % 50 AS VARCHAR)
                            || ' '
                          WHEN k = 3 THEN
                            'QUERY ' || CAST(doc % 50 AS VARCHAR)
                          ELSE 'query ' || CAST(doc % 50 AS VARCHAR)
                     END AS query
              FROM docs, (SELECT unnest(generate_series(0, 4)) AS k)),
            keyed AS (
              SELECT *, sha256(lower(trim(query))) AS query_hash
              FROM ev),
            ls AS (
              SELECT query_hash,
                     max(event_ord) FILTER (WHERE kind = 'store')
                       AS last_store,
                     arg_max(query, CASE WHEN kind = 'store'
                             THEN event_ord END) AS query_text
              FROM keyed GROUP BY query_hash)
            SELECT l.query_hash, l.query_text,
                   CAST(count(k.event_ord) FILTER (
                       WHERE k.kind = 'lookup'
                         AND k.event_ord > l.last_store) AS BIGINT)
                     AS hit_count,
                   l.last_store AS created_at_ord,
                   CAST(COALESCE(max(k.event_ord) FILTER (
                       WHERE k.kind = 'lookup'
                         AND k.event_ord > l.last_store), -1)
                     AS BIGINT) AS last_hit_ord
            FROM ls l JOIN keyed k USING (query_hash)
            WHERE l.last_store IS NOT NULL
            GROUP BY l.query_hash, l.query_text, l.last_store""",
        "job_monitor_detect": f"""
            WITH {_jm.MONITOR_SYNTH_SQL}
            SELECT job_id, detection_tier, action, fail_reason,
                   resume_stage
            FROM planned""",
        "job_monitor_stats": f"""
            WITH {_jm.MONITOR_SYNTH_SQL}
            SELECT CAST(count(*) AS BIGINT) AS stuck_jobs_detected,
                   CAST(sum(CASE WHEN action = 'restart_from_checkpoint'
                        THEN 1 ELSE 0 END) AS BIGINT) AS jobs_restarted,
                   CAST(sum(CASE WHEN action != 'restart_from_checkpoint'
                        THEN 1 ELSE 0 END) AS BIGINT) AS jobs_failed
            FROM planned""",
        "import_job_recovery": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            imp AS (
              SELECT 'imp_' || CAST(doc AS VARCHAR) AS job_id,
                     'src' || CAST(doc % 5 AS VARCHAR) AS source_name,
                     CASE WHEN doc % 8 = 0 THEN 'failed'
                          ELSE 'processing' END AS status,
                     5000.0 - (doc % 30) * 1.5 AS updated_at_min,
                     CASE WHEN doc % 3 = 0 THEN NULL
                          ELSE 'job_' || CAST(doc AS VARCHAR) END
                       AS background_job_id
              FROM docs)
            SELECT job_id, source_name, 'failed' AS new_status,
                   'XML import job stuck for '
                   || printf('%.1f', 5000.0 - updated_at_min)
                   || ' minutes without progress' AS error_message,
                   background_job_id,
                   background_job_id IS NOT NULL
                     AS update_background_job
            FROM imp
            WHERE status = 'processing'
              AND updated_at_min < 5000.0 - 20.0""",
        "stuck_job_stats": f"""
            WITH {_jd.DIAG_SYNTH_SQL},
            stuck AS (
              SELECT COALESCE(stage, 'unknown') AS stage FROM jobs
              WHERE status = 'processing'
                AND updated_at_min < 1000.0 - 30.0),
            per AS (SELECT stage, CAST(count(*) AS BIGINT) AS n
                    FROM stuck GROUP BY stage)
            SELECT CAST(COALESCE(sum(n), 0) AS BIGINT)
                     AS total_stuck_jobs,
                   COALESCE(string_agg(stage || ':'
                              || CAST(n AS VARCHAR), ' | '
                              ORDER BY stage, n), '')
                     AS stage_breakdown,
                   COALESCE((SELECT stage FROM per
                             ORDER BY n DESC, stage ASC LIMIT 1),
                            'none') AS most_common_stuck_stage
            FROM per""",
        "sheet_clip_spans": """
            WITH sheets AS (
              SELECT doc_id,
                     unnest(generate_series(0, doc_id % 4)) AS sheet_idx
              FROM documents),
            dims AS (
              SELECT doc_id, sheet_idx,
                     CASE WHEN (sheet_idx + doc_id) % 3 = 0
                          THEN 1346.0 ELSE 595.0 END AS width,
                     842.0 AS height
              FROM sheets),
            phys AS (
              SELECT *,
                     CASE WHEN width / height > 1.4
                          THEN 'spread' ELSE 'single' END AS layout_type,
                     CAST(coalesce(sum(CASE WHEN width / height > 1.4
                                            THEN 2 ELSE 1 END) OVER (
                          PARTITION BY doc_id ORDER BY sheet_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) + 1 AS INT) AS first_physical_page
              FROM dims),
            spans AS (
              SELECT doc_id, sheet_idx, i,
                     ((doc_id % 7) * 97.0 + i * 173.0) % 1200.0 AS x0,
                     CASE WHEN i = 5 THEN 900.0
                          ELSE 100.0 + i * 150.0 END AS y0,
                     CASE WHEN i = 3 THEN '  '
                          ELSE 't' || CAST(i AS VARCHAR) END AS text
              FROM sheets, unnest(generate_series(0, 5)) t(i)),
            j AS (
              SELECT p.doc_id, p.width, p.height, p.layout_type,
                     p.first_physical_page, s.i, s.x0, s.y0,
                     s.x0 + 120.0 AS x1, s.y0 + 40.0 AS y1, s.text
              FROM phys p JOIN spans s
                ON s.doc_id = p.doc_id AND s.sheet_idx = p.sheet_idx),
            e AS (
              SELECT *,
                     unnest(CASE WHEN layout_type = 'spread'
                                 THEN ['left', 'right']
                                 ELSE ['full'] END) AS position
              FROM j),
            f AS (
              SELECT *,
                     CASE WHEN position = 'right' THEN width / 2.0
                          ELSE 0.0 END AS cx0,
                     CASE WHEN position = 'left' THEN width / 2.0
                          ELSE width END AS cx1
              FROM e)
            SELECT doc_id,
                   CAST(first_physical_page
                        + CASE WHEN position = 'right' THEN 1 ELSE 0 END
                        AS INT) AS physical_page,
                   position,
                   CAST(trunc((x0 - cx0) * (250.0 / 72.0)) AS INT) AS x,
                   CAST(trunc(y0 * (250.0 / 72.0)) AS INT) AS y,
                   CAST(trunc(greatest(x1 - x0, 1.0) * (250.0 / 72.0))
                        AS INT) AS w,
                   CAST(trunc(greatest(y1 - y0, 1.0) * (250.0 / 72.0))
                        AS INT) AS h,
                   trim(text) AS text
            FROM f
            WHERE trim(text) <> ''
              AND (position = 'full'
                   OR NOT (x1 < cx0 OR x0 > cx1 OR y1 < 0 OR y0 > height))""",
        "region_normalize": """
            WITH r AS (
              SELECT doc_id, 1 AS page, i AS pos,
                     CASE WHEN doc_id % 10 = 0 THEN 0.0
                          ELSE 1000.0 END AS width,
                     800.0 AS height,
                     CASE WHEN i = 0 THEN [50.0, 40.0, 200.0, 100.0]
                          WHEN i = 1 THEN [300.0, 500.0, 100.0, 200.0]
                          WHEN i = 2 THEN [-50.0, -20.0, 1200.0, 900.0]
                          ELSE NULL END AS bbox,
                     CASE WHEN i = 2 THEN ''
                          ELSE 'lbl' || CAST(i AS VARCHAR) END AS label,
                     'c' || CAST(i AS VARCHAR) AS content,
                     CAST(CASE WHEN i = 1 THEN 0 ELSE i END AS INT) AS ord
              FROM documents, unnest(generate_series(0, 3)) t(i)),
            kept AS (SELECT * FROM r WHERE bbox IS NOT NULL
                                      AND len(bbox) = 4),
            c AS (
              SELECT doc_id, page, label, content, ord, pos,
                     least(greatest(bbox[1] / wd, 0.0), 1.0) AS cx0,
                     least(greatest(bbox[2] / hd, 0.0), 1.0) AS cy0,
                     least(greatest(bbox[3] / wd, 0.0), 1.0) AS cx1,
                     least(greatest(bbox[4] / hd, 0.0), 1.0) AS cy1
              FROM (SELECT *,
                           CASE WHEN width = 0 THEN 1.0
                                ELSE width END AS wd,
                           CASE WHEN height = 0 THEN 1.0
                                ELSE height END AS hd
                    FROM kept))
            SELECT doc_id, page,
                   CASE WHEN label = '' THEN 'text' ELSE label END AS label,
                   least(cx0, cx1) AS nx0, least(cy0, cy1) AS ny0,
                   greatest(cx0, cx1) AS nx1, greatest(cy0, cy1) AS ny1,
                   content,
                   CAST(row_number() OVER (PARTITION BY doc_id, page
                        ORDER BY ord, pos) AS INT) AS region_rank
            FROM c""",
        "size_gate": """
            SELECT doc_id, strlen(text) AS n_bytes,
                   CASE WHEN strlen(text) > 2000 THEN 'oversize'
                        ELSE 'ok' END AS route
            FROM documents""",
        "chunk_cross_refs": """
            WITH chunks AS (
              SELECT doc_id, unnest([0, 1, 2]) AS chunk_index
              FROM documents),
            c2 AS (
              SELECT doc_id, chunk_index, chunk_index + 1 AS page,
                     CASE WHEN chunk_index = 0
                          THEN 'intro, see page 3 for details'
                          WHEN chunk_index = 2
                          THEN 'refer to page 12 (see 5), refer to the Appendix A, described in section 1.2'
                          ELSE 'body, see Table 2.1 and as in Fig. 4-2'
                          END AS content
              FROM chunks),
            refs AS (
              SELECT doc_id, chunk_index AS src_chunk, 'page' AS ref_type,
                     unnest(regexp_extract_all(content,
                       '(?i)(?:see|refer(?:ence)?|refer to|shown in|described in|detailed in|as in)\\s+page[s]?\\s+(\\d+)',
                       1)) AS ref_value
              FROM c2
              UNION ALL
              SELECT doc_id, chunk_index, 'table',
                     unnest(regexp_extract_all(content,
                       '(?i)(?:see|refer(?:ence)?|refer to|shown in|see also)\\s+(?:the\\s+)?(?:table|tbl\\.?)\\s+([\\d\\.\\-]+)', 1))
              FROM c2
              UNION ALL
              SELECT doc_id, chunk_index, 'figure',
                     unnest(regexp_extract_all(content,
                       '(?i)(?:see|refer(?:ence)?|shown in|as in|refer to)\\s+(?:the\\s+)?(?:figure|fig\\.?)\\s+([\\d\\.\\-]+)', 1))
              FROM c2
              UNION ALL
              SELECT doc_id, chunk_index, 'section',
                     unnest(regexp_extract_all(content,
                       '(?i)(?:see|refer to|described in|detailed in)\\s+(?:the\\s+)?(?:section|sec\\.?)\\s+([\\d\\.\\-]+)', 1))
              FROM c2
              UNION ALL
              SELECT doc_id, chunk_index, 'appendix',
                     unnest(regexp_extract_all(content,
                       '(?i)(?:see|refer to)\\s+(?:the\\s+)?(?:appendix|app\\.?)\\s+([A-Z\\d]+)', 1))
              FROM c2
              UNION ALL
              SELECT doc_id, chunk_index, 'page',
                     unnest(regexp_extract_all(content,
                       '(?i)\\((?:see|cf\\.?)\\s+(?:page[s]?\\s+)?(\\d+)\\)', 1))
              FROM c2),
            resolved AS (
              SELECT r.doc_id, r.src_chunk, r.ref_type, r.ref_value,
                     CASE WHEN r.ref_type = 'page'
                          THEN CAST(r.ref_value AS INT) END AS ref_page
              FROM refs r),
            page_index AS (
              SELECT doc_id, page,
                     string_agg(CAST(chunk_index AS VARCHAR), ','
                                ORDER BY chunk_index) AS targets
              FROM c2 GROUP BY 1, 2)
            SELECT r.doc_id, r.src_chunk, r.ref_type, r.ref_value,
                   coalesce(p.targets, '') AS targets
            FROM resolved r
            LEFT JOIN page_index p
              ON p.doc_id = r.doc_id AND p.page = r.ref_page""",
        "chunk_type_classify": _duck_chunk_type_sql(),
        "chunks_indexed": f"""
            WITH base AS ({_duck_layout_chunks_sql()}),
            l AS (SELECT *, lower(content) AS lc FROM base)
            SELECT doc_id,
                   doc_id || '_' || CAST(chunk_index AS VARCHAR) AS chunk_id,
                   chunk_index, content, is_table, quality, page,
                   start_offset, end_offset, total_chunks,
                   {_duck_type_case()} AS chunk_type
            FROM l""",
        "table_parse_classify": """
            -- independently-derived expectations for the synthesized
            -- markdown/HTML tables (validates the full parse+classify chain)
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   CASE WHEN doc_id % 50 = 0 THEN 'pricing'
                        WHEN doc_id % 30 = 0 THEN 'dimensions'
                        ELSE 'specifications' END AS table_type,
                   CASE WHEN doc_id % 50 = 0 THEN 'Price,EUR'
                        WHEN doc_id % 30 = 0 THEN 'Size,Pack'
                        ELSE 'Property,Standard' END AS headers,
                   1 AS num_rows, 2 AS num_cols
            FROM documents WHERE doc_id % 10 = 0""",
        "corpus_curate": rf"""
            WITH s AS (SELECT doc_id, text, {lang_case} AS lang,
                              {_QUALITY_DUCK} AS quality_u
                       FROM documents),
            g AS (SELECT * FROM s
                  WHERE lang = 'en' AND quality_u >= 500000),
            k AS (SELECT min(doc_id) AS doc_id FROM g
                  GROUP BY md5(trim(regexp_replace(lower(text),
                                                   '\s+', ' ', 'g'))))
            SELECT g.doc_id, g.lang, g.quality_u
            FROM g JOIN k USING (doc_id)""",
        "dedup_components": """
            -- reachability min-label via recursive CTE (independent of
            -- the engine's label-propagation loop)
            WITH RECURSIVE p AS (
                SELECT doc_id AS a, doc_id + 1 AS b
                FROM documents WHERE doc_id % 8 < 5),
            e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
            n AS (SELECT DISTINCT a AS id FROM e),
            r AS (
                SELECT id, id AS comp FROM n
                UNION
                SELECT e.a AS id, r.comp FROM e JOIN r ON e.b = r.id)
            SELECT id, min(comp) AS comp FROM r GROUP BY id""",
        "dedup_canonical_docs": """
            -- chains cover d%8 in 0..5 with component min at d%8 = 0;
            -- docs outside the graph (d%8 in 6,7) all survive
            SELECT doc_id FROM documents
            WHERE doc_id % 8 = 0 OR doc_id % 8 >= 6""",
        "chunk_text_offsets": """
            -- independently-derived window arithmetic: advance 50,
            -- window 150, K = ceil((L-150)/50) extra chunks
            WITH d AS (
                SELECT doc_id,
                       150 + (doc_id % 10) * 73 AS L,
                       substring(repeat('abcdef', 135), 1,
                                 CAST(150 + (doc_id % 10) * 73 AS INT))
                           AS text
                FROM documents WHERE doc_id % 5 = 0)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(i AS INT) AS chunk_index,
                   substring(text, CAST(50 * i + 1 AS INT), 150) AS content,
                   CAST(50 * i AS INT) AS start_offset,
                   CAST(least(50 * i + 150, L) AS INT) AS end_offset,
                   CAST(ceil((L - 150) / 50.0) + 1 AS INT) AS total_chunks
            FROM d, unnest(generate_series(0,
                     CAST(ceil((L - 150) / 50.0) AS BIGINT))) t(i)""",
        "chunk_embedding_text": """
            -- independently-derived: the running heading context per
            -- synthesized chunk (heading at 1 and 3, inherit at 2,
            -- title only on even docs)
            WITH c AS (
                SELECT doc_id, i AS chunk_index,
                       CASE i WHEN 1 THEN '# Setup' || chr(10) || chr(10)
                                        || 'install'
                              WHEN 3 THEN '## Usage ' ||
                                        CAST(doc_id AS VARCHAR) || chr(10)
                                        || chr(10) || 'run it'
                              WHEN 0 THEN 'intro paragraph'
                              ELSE 'more details' END AS content,
                       CASE WHEN doc_id % 2 = 0
                            THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                            END AS title,
                       CASE WHEN i >= 3 THEN 'Usage ' ||
                                 CAST(doc_id AS VARCHAR)
                            WHEN i >= 1 THEN 'Setup' END AS heading
                FROM documents,
                     unnest(generate_series(0, 3)) t(i)),
            l AS (
                SELECT doc_id, chunk_index, content,
                       CASE WHEN title IS NOT NULL AND heading IS NOT NULL
                            THEN title || ' › ' || heading
                            WHEN heading IS NOT NULL THEN heading
                            ELSE title END AS heading_context
                FROM c)
            SELECT doc_id, chunk_index, heading_context,
                   CASE WHEN heading_context IS NOT NULL
                        THEN heading_context || chr(10) || chr(10)
                             || content
                        ELSE content END AS embedding_text
            FROM l""",
        "table_metadata_mine": _G7_MINE_SQL,
        "product_metadata_agg": f"""
            -- G7 per-product merge over the mined-table expectations:
            -- first-non-null packaging (arg_min on a null-masked key),
            -- last-non-null specs, sorted-distinct size union, modal
            -- thickness with smallest-value tie-break
            WITH m AS ({_G7_MINE_SQL}),
            b AS (SELECT CAST(floor(CAST(id AS BIGINT) / 50) AS BIGINT)
                             AS product_id,
                         CAST(id AS BIGINT) AS ord, * FROM m),
            sz AS (SELECT product_id,
                          array_to_string(list_sort(list_distinct(flatten(
                              list(str_split(sizes, ','))))), ',') AS sizes
                   FROM b WHERE sizes IS NOT NULL GROUP BY 1),
            th AS (SELECT product_id, thickness_mm FROM (
                       SELECT product_id, thickness_mm, count(*) AS c
                       FROM b WHERE thickness_mm IS NOT NULL GROUP BY 1, 2)
                   QUALIFY row_number() OVER (
                       PARTITION BY product_id
                       ORDER BY c DESC, thickness_mm) = 1),
            ag AS (SELECT product_id,
                   {', '.join(
                       f"arg_min({c}, CASE WHEN {c} IS NOT NULL THEN ord "
                       f"END) AS {c}"
                       for c in ('pieces_per_box', 'boxes_per_pallet',
                                 'weight_per_box_kg', 'coverage_per_box_m2',
                                 'pallet_weight_kg', 'pieces_per_m2'))},
                   {', '.join(
                       f"arg_max({c}, CASE WHEN {c} IS NOT NULL THEN ord "
                       f"END) AS {c}"
                       for c in ('water_absorption', 'slip_resistance',
                                 'frost_resistance', 'breaking_strength',
                                 'abrasion_resistance',
                                 'chemical_resistance', 'fire_rating'))}
                   FROM b GROUP BY 1)
            SELECT ag.product_id, sz.sizes, th.thickness_mm,
                   ag.pieces_per_box, ag.boxes_per_pallet,
                   ag.weight_per_box_kg, ag.coverage_per_box_m2,
                   ag.pallet_weight_kg, ag.pieces_per_m2,
                   ag.water_absorption, ag.slip_resistance,
                   ag.frost_resistance, ag.breaking_strength,
                   ag.abrasion_resistance, ag.chemical_resistance,
                   ag.fire_rating
            FROM ag LEFT JOIN sz USING (product_id)
                    LEFT JOIN th USING (product_id)""",
        "image_doc_heuristic": """
            SELECT lang, avg_chars,
                   CASE WHEN avg_chars < 250 THEN 'ocr_first'
                        ELSE 'text_first' END AS route
            FROM (SELECT lang, round(avg(n_chars), 4) AS avg_chars
                  FROM documents GROUP BY lang)""",
        "chunk_fixed_windows": """
            SELECT doc_id, i AS chunk_index,
                   substring(text, i * 150 + 1, 200) AS content
            FROM documents,
                 unnest(generate_series(0,
                     CAST(floor((length(text) - 1) / 150) AS BIGINT))) t(i)
            WHERE length(text) > 0""",
        "chunk_quality": f"""
            SELECT doc_id, {_QUALITY_DUCK} AS quality_u FROM documents""",
        "media_dedup_first_per_key": """
            SELECT label, min(vec_id) AS vec_id_kept
            FROM embeddings GROUP BY label""",
        "tpch_q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '{_Q1_DATE}'
            GROUP BY l_returnflag, l_linestatus""",
        "dedup_exact": r"""
            SELECT doc_id, content_hash FROM (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                         AS content_hash
              FROM documents)
            QUALIFY row_number() OVER (PARTITION BY content_hash
                                       ORDER BY doc_id) = 1""",
        "dedup_minhash_signatures": _DUCK_SIGS,
        "dedup_minhash_lsh_pairs": f"""
            WITH sigs AS ({_DUCK_SIGS}),
            bands AS (
              SELECT id, 0 AS band,
                     md5(sig_0 || '|' || sig_1) AS band_key FROM sigs
              UNION ALL
              SELECT id, 1 AS band,
                     md5(sig_2 || '|' || sig_3) AS band_key FROM sigs)
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.id < b.id""",
        "dedup_ngram_jaccard": f"""
            WITH sh AS ({_DUCK_SHINGLES_CAPPED}),
            sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id)
            SELECT id_a, id_b,
                   round(CAST(inter AS DOUBLE)
                         / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = inter.id_a
            JOIN sizes sb ON sb.id = inter.id_b
            WHERE round(CAST(inter AS DOUBLE)
                        / (sa.n_sh + sb.n_sh - inter), 6) >= 0.8""",
        "lang_id": f"""
            SELECT doc_id, {lang_case} AS lang_detected FROM documents""",
        "doc_fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       {_DUCK_WORDS.format(c='text')})), ' ')) AS fp
            FROM documents""",
        "doc_winnowing": r"""
            WITH t AS (SELECT doc_id,
                              trim(regexp_replace(lower(text),
                                  '\s+', ' ', 'g')) AS t
                       FROM documents),
            g AS (SELECT doc_id, t, length(t) - 7 AS ng FROM t
                  WHERE length(t) - 7 >= 1),
            h AS (SELECT doc_id,
                         list_transform(generate_series(1, ng),
                             i -> md5(substring(t, i, 8))) AS hs
                  FROM g),
            f AS (SELECT doc_id,
                         list_distinct(list_transform(
                             generate_series(1, greatest(len(hs) - 3, 1)),
                             j -> list_min(hs[j : j + 3]))) AS fps
                  FROM h)
            SELECT doc_id, unnest(fps) AS fp FROM f""",
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id,
                              CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id,
                         CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            s AS (
              SELECT query_id, neighbor_id,
                     round(
                       list_reduce(list_transform(list_zip(qv, cv),
                           p -> p[1] * p[2]), (a, b) -> a + b)
                       / (sqrt(list_reduce(list_transform(qv, x -> x * x),
                               (a, b) -> a + b))
                          * sqrt(list_reduce(list_transform(cv, x -> x * x),
                                 (a, b) -> a + b))), 6) AS sim
              FROM c CROSS JOIN q WHERE neighbor_id <> query_id)
            SELECT query_id, rank, neighbor_id, sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id) AS rank FROM s)
            WHERE rank <= 10""",
        "extract_pipeline": _duck_extract_twin(
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, 8 AS k "
            "FROM documents"),
        "extract_skew_giants": _duck_extract_twin(
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, 8 AS k "
            "FROM documents UNION ALL "
            "SELECT CAST(doc_id + 10000000 AS VARCHAR), "
            "repeat(text || ' ', 40), 1 FROM documents "
            "WHERE doc_id % 200 = 0"),
        "chunk_layout_spans": _duck_layout_chunks_sql(),
        "embedding_topk_lsh": _duck_topk_lsh_sql(),
        "embedding_topk_ivf": _duck_topk_ivf_sql(),
        "embedding_near_dups": """
            -- planted scale-perturbed shadows: SRP signs are scale-invariant
            -- so the LSH output is exactly the planted pairs (see queries())
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va
                       FROM embeddings),
            p AS (SELECT vec_id AS id_a, vec_id + 10000 AS id_b, va,
                         list_transform(va, x -> x * 1.01) AS vb
                  FROM v),
            s AS (SELECT id_a, id_b,
                         round(list_reduce(list_transform(list_zip(va, vb),
                                   q -> q[1] * q[2]), (x, y) -> x + y)
                               / (sqrt(list_reduce(list_transform(va,
                                       x -> x * x), (x, y) -> x + y))
                                  * sqrt(list_reduce(list_transform(vb,
                                         x -> x * x), (x, y) -> x + y))), 6)
                             AS sim
                  FROM p)
            SELECT id_a, id_b, sim FROM s WHERE sim >= 0.95""",
        "simhash_fingerprints": _duck_simhash(
            "SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents"),
        "simhash_near_pairs": f"""
            WITH fp AS ({_duck_simhash(
                "SELECT CAST(id AS VARCHAR) AS id, text FROM ("
                + _DUP_UNION_SQL + ")")})
            -- brute-force Hamming twin: the engine's block-rotation LSH has
            -- EXACT recall for hamming <= 3 with 4 blocks (pigeonhole), so
            -- the full O(n^2) scan at oracle scale must match it exactly
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                       AS hamming
            FROM fp a JOIN fp b ON a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
        "media_image_features": f"""
            WITH {_DUCK_MEDIA_REFS},
            feat AS (SELECT media_ref, doc_id, md5(media_ref) AS h FROM refs),
            by AS (
              SELECT media_ref, doc_id, h,
                     CAST(('0x' || substring(h, 1, 16)) AS UBIGINT) AS v1,
                     CAST(('0x' || substring(h, 17, 16)) AS UBIGINT) AS v2,
                     list_sum(list_transform(generate_series(1, 16),
                         j -> CAST(('0x' || substring(h, 2*j - 1, 2))
                                   AS INTEGER))) AS sx,
                     list_sum(list_transform(generate_series(1, 16),
                         j -> CAST(('0x' || substring(h, 2*j - 1, 2))
                                   AS INTEGER)
                              * CAST(('0x' || substring(h, 2*j - 1, 2))
                                     AS INTEGER))) AS sx2
              FROM feat)
            SELECT media_ref, doc_id,
                   CAST(CASE WHEN v1 >= 9223372036854775808
                             THEN CAST(v1 AS HUGEINT) - 18446744073709551616
                             ELSE CAST(v1 AS HUGEINT) END AS BIGINT)
                       AS phash64,
                   CAST(CASE WHEN v2 >= 9223372036854775808
                             THEN CAST(v2 AS HUGEINT) - 18446744073709551616
                             ELSE CAST(v2 AS HUGEINT) END AS BIGINT)
                       AS ahash64,
                   (CAST(sx AS DOUBLE) / 16.0) / 255.0 AS sharpness,
                   sqrt(CAST(sx2 * 16 - sx * sx AS DOUBLE) / 256.0) / 128.0
                       AS brightness
            FROM by""",
        "media_dedup_hamming": f"""
            -- brute-force within-(doc, layer) Hamming twin of the engine's
            -- block-rotation LSH (exact recall for hamming <= 5 with 6
            -- blocks by pigeonhole, so the O(n^2)-per-bucket scan matches)
            WITH {_DUCK_MEDIA_REFS},
            feat AS (
              SELECT doc_id, media_ref,
                     CAST(CASE WHEN v >= 9223372036854775808
                               THEN CAST(v AS HUGEINT) - 18446744073709551616
                               ELSE CAST(v AS HUGEINT) END AS BIGINT) AS ph
              FROM (SELECT doc_id, media_ref,
                           CAST(('0x' || substring(md5(media_ref), 1, 16))
                                AS UBIGINT) AS v
                    FROM refs)),
            unioned AS (
              SELECT doc_id, media_ref, ph, 'img' AS layer FROM feat
              UNION ALL
              SELECT doc_id, media_ref || '~dup', xor(ph, 37), 'img'
              FROM feat)
            SELECT a.doc_id, a.layer, a.media_ref AS id_a,
                   b.media_ref AS id_b,
                   CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
            FROM unioned a JOIN unioned b
              ON a.doc_id = b.doc_id AND a.layer = b.layer
             AND a.media_ref < b.media_ref
            WHERE bit_count(xor(a.ph, b.ph)) <= 5""",
        "media_audio_windows": f"""
            WITH {_DUCK_MEDIA_REFS},
            d AS (SELECT media_ref, doc_id,
                         CAST(CAST(('0x' || substring(md5(media_ref), 1, 4))
                              AS INTEGER) % 9000 + 500 AS INTEGER)
                             AS duration_ms
                  FROM refs)
            SELECT media_ref, doc_id,
                   CAST(i AS INTEGER) AS window_index,
                   CAST(i * 1000 AS INTEGER) AS start_ms,
                   CAST(i * 1000 + 2000 AS INTEGER) AS end_ms,
                   media_ref || '/win' || CAST(i AS VARCHAR) AS window_ref
            FROM d, unnest(generate_series(0,
                 CAST(floor((greatest(duration_ms, 1) - 1) / 1000.0)
                      AS BIGINT))) t(i)""",
        "media_frame_sample": f"""
            WITH {_DUCK_MEDIA_REFS}
            SELECT media_ref, doc_id,
                   CAST(i AS INTEGER) AS frame_index,
                   CAST(i * 1000 AS INTEGER) AS ts_ms,
                   media_ref || '/frame' || CAST(i AS VARCHAR) AS frame_ref
            FROM refs, unnest(generate_series(0, 4)) t(i)""",
        "decontaminate": """
            -- benchmark decontamination twin: same 21-word excerpts of
            -- every 17th doc, same word 8-grams, set-join + count
            WITH w AS (
                SELECT doc_id, list_filter(
                    regexp_split_to_array(lower(text), '\\s+'),
                    x -> x <> '') AS ws
                FROM documents),
            bw AS (SELECT ws[5:25] AS ws FROM w WHERE doc_id % 17 = 0),
            ds AS (SELECT DISTINCT doc_id AS id, shingle FROM (
                SELECT doc_id, unnest(list_transform(
                    generate_series(1, greatest(len(ws) - 7, 0)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                      || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' '
                      || ws[i+6] || ' ' || ws[i+7])) AS shingle
                FROM w)),
            bs AS (SELECT DISTINCT shingle FROM (
                SELECT unnest(list_transform(
                    generate_series(1, greatest(len(ws) - 7, 0)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                      || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' '
                      || ws[i+6] || ' ' || ws[i+7])) AS shingle
                FROM bw))
            SELECT id, count(*) AS n_hits
            FROM ds JOIN bs USING (shingle) GROUP BY id""",
        "pii_redact": """
            -- sequential four-tier redaction: each tier counts on the
            -- text as left by the previous tier (the operator contract)
            WITH e AS (
                SELECT doc_id, text || ' contact user'
                    || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST((doc_id // 256) % 256 AS VARCHAR)
                    || ' ssn 123-45-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' call +1 (555) 010-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
                FROM documents),
            s1 AS (SELECT doc_id,
                CAST(len(regexp_extract_all(t0,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                    AS INT) AS n_email,
                regexp_replace(t0,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g') AS t1 FROM e),
            s2 AS (SELECT doc_id, n_email,
                CAST(len(regexp_extract_all(t1,
                    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
                    AS INT) AS n_ip,
                regexp_replace(t1,
                    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                    '<IP>', 'g') AS t2 FROM s1),
            s3 AS (SELECT doc_id, n_email, n_ip,
                CAST(len(regexp_extract_all(t2,
                    '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS INT) AS n_ssn,
                regexp_replace(t2, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b',
                    '<SSN>', 'g') AS t3 FROM s2),
            s4 AS (SELECT doc_id, n_email, n_ip, n_ssn,
                CAST(len(regexp_extract_all(t3,
                    '\\+?[0-9][0-9 ()-]{6,}[0-9]')) AS INT) AS n_phone,
                regexp_replace(t3, '\\+?[0-9][0-9 ()-]{6,}[0-9]',
                    '<PHONE>', 'g') AS t4 FROM s3)
            SELECT doc_id, t4 AS redacted_text,
                   n_email, n_ip, n_ssn, n_phone FROM s4""",
        "pack_training_sequences": f"""
            -- independent next-fit re-derivation: recursive CTE carrying
            -- (fill, seq_id) along each part's doc_id order
            WITH RECURSIVE {_DUCK_PACK_RECURSION}
            SELECT doc_id, part, seq_id, tokens FROM r""",
        "packing_report": f"""
            WITH RECURSIVE {_DUCK_PACK_RECURSION},
            per_seq AS (
                SELECT part, seq_id, count(*) AS n_docs,
                       sum(tokens) AS seq_tokens
                FROM r GROUP BY part, seq_id)
            SELECT part, count(*) AS n_seqs,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs,
                   CAST(sum(seq_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(greatest(128 - seq_tokens, 0)) AS BIGINT)
                       AS total_waste
            FROM per_seq GROUP BY part""",
        "mixture_sample": """
            -- fixed-mixture twin: T = min(n_s/w_s), quota_s =
            -- floor(w_s*T), fill by md5(doc_id) rank. Weights are powers
            -- of two so every double op is exact in both engines.
            WITH counts AS (
                SELECT source, count(*) AS n FROM documents GROUP BY source),
            j AS (SELECT source, n,
                     CAST(1 << (CAST(substring(source, 4) AS INT) % 3)
                          AS DOUBLE) AS weight
                  FROM counts),
            t AS (SELECT min(n / weight) AS t FROM j),
            quota AS (SELECT source,
                             CAST(floor(weight * t.t) AS BIGINT) AS quota
                      FROM j, t),
            ranked AS (SELECT doc_id, source,
                          row_number() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
                       FROM documents)
            SELECT doc_id, source FROM ranked JOIN quota USING (source)
            WHERE rk <= quota""",
        "corpus_mixture_stats": """
            SELECT coalesce(source, 'ALL') AS source,
                   coalesce(lang, 'ALL') AS lang,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum(len(list_filter(
                       regexp_split_to_array(text, '\\s+'),
                       x -> x <> ''))) AS BIGINT) AS sum_tokens
            FROM documents GROUP BY ROLLUP (source, lang)""",
        "corpus_split": """
            -- same salted md5-top-60-bit uniform fraction ('split|', so
            -- the split is independent of mixture_sample's selection
            -- hash), same binary-exact thresholds; 1152921504606846976
            -- = 2^60
            SELECT doc_id,
                   CASE WHEN frac < 0.75 THEN 'train'
                        WHEN frac < 0.875 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                    CAST(CAST('0x' || substring(
                            md5('split|' || CAST(doc_id AS VARCHAR)),
                            1, 15)
                         AS UBIGINT) AS DOUBLE)
                    / 1152921504606846976.0 AS frac
                  FROM documents)""",
        "quality_resample": f"""
            -- salted uniform fraction vs exact micro-unit score; both
            -- sides exact doubles, same IEEE ops in both engines
            SELECT doc_id, quality_u FROM (
                SELECT doc_id, {_QUALITY_DUCK} AS quality_u,
                       CAST(CAST('0x' || substring(
                               md5('q|' || CAST(doc_id AS VARCHAR)), 1, 15)
                            AS UBIGINT) AS DOUBLE)
                       / 1152921504606846976.0 AS frac
                FROM documents)
            WHERE frac * 1000000.0 < quality_u""",
        "search_weight_profiles": _duck_search_profiles_sql(),
        "search_strategy_fusion": """
            -- dedup-and-mean strategy merge: first strategy (by rank)
            -- supplies the payload; scores are dyadic k/64 so the mean's
            -- sum is exact in any order
            WITH legs AS (
                SELECT CAST(doc_id AS VARCHAR) AS result_id,
                       'semantic' AS strategy, 1 AS strategy_rank,
                       CAST(doc_id * 7 % 64 AS DOUBLE) / 64.0 AS score,
                       'sem:' || CAST(doc_id AS VARCHAR) AS content
                FROM documents
                UNION ALL
                SELECT CAST(doc_id AS VARCHAR), 'keyword', 2,
                       CAST(doc_id * 11 % 64 AS DOUBLE) / 64.0,
                       'key:' || CAST(doc_id AS VARCHAR)
                FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT CAST(doc_id AS VARCHAR), 'visual', 3,
                       CAST(doc_id * 13 % 64 AS DOUBLE) / 64.0,
                       'vis:' || CAST(doc_id AS VARCHAR)
                FROM documents WHERE doc_id % 5 = 0)
            SELECT result_id, avg(score) AS fused_score,
                   CAST(count(*) AS INTEGER) AS strategies_found,
                   arg_min(strategy, strategy_rank) AS first_strategy,
                   arg_min(content, strategy_rank) AS content
            FROM legs GROUP BY result_id""",
        "search_keyword_score": _duck_search_kw_sql(),
        "search_hybrid_fusion": _HYBRID_SQL,
        "search_mmr_rerank": _MMR_SQL,
        "entity_link_chunks": f"""
            -- chunk->product relevance twin: sequential->original page
            -- mapping, proximity tiers + ' by '-stripped mention,
            -- threshold 0.3
            WITH ch AS (
                SELECT doc_id, c.c, doc_id * 10 + c.c AS chunk_id,
                       c.c + 1 AS page_number,
                       generate_series(doc_id % 5 + 1,
                                       doc_id % 5 + 1 + doc_id % 4)
                           AS product_pages,
                       'chunk ' || CAST(doc_id % 7 AS VARCHAR) ||
                       CASE WHEN (doc_id + c.c) % 3 = 0
                            THEN ' featuring alpha series tiles'
                            ELSE ' plain survey text' END AS content
                FROM documents, (SELECT unnest(range(4)) AS c) c),
            chm AS (
                SELECT doc_id, chunk_id, content,
                       CASE WHEN len(product_pages) > 0
                                 AND page_number >= 1
                                 AND page_number <= len(product_pages)
                            THEN product_pages[CAST(page_number AS INT)]
                            ELSE page_number END AS original_page
                FROM ch),
            pr AS ({_LINK_PRODUCTS_SQL}),
            j AS (
                SELECT chm.doc_id, chunk_id, original_page, content,
                       product_id, name, page_range,
                       list_min(list_transform(page_range,
                           q -> abs(original_page - q))) AS dist
                FROM chm JOIN pr ON chm.doc_id = pr.doc_id),
            s AS (
                SELECT doc_id, chunk_id, product_id,
                       (CASE WHEN len(page_range) = 0 THEN 0.0
                             WHEN dist = 0 THEN 0.5
                             WHEN dist = 1 THEN 0.25
                             WHEN dist = 2 THEN 0.1
                             ELSE 0.0 END)
                       + (CASE WHEN contains(content, name)
                               OR contains(content,
                                   trim(string_split(name, ' by ')[1]))
                               THEN 0.5 ELSE 0.0 END) AS raw
                FROM j)
            SELECT doc_id, chunk_id, product_id,
                   'source' AS relationship_type,
                   least(1.0, greatest(0.0, raw)) AS relevance_score
            FROM s WHERE least(1.0, greatest(0.0, raw)) >= 0.3""",
        "entity_link_images": f"""
            -- image->product relevance twin: fallback page/confidence
            -- formula + the vision-guided min(0.95, vc)-or-0.95 path
            WITH im AS (
                SELECT doc_id, i.i, doc_id * 10 + i.i AS image_id,
                       1 + (doc_id + i.i) % 6 AS page_number,
                       CASE WHEN (doc_id + i.i) % 4 = 0
                            THEN 'vision_guided'
                            ELSE (['embedded', 'region_crop',
                                   'full_render'])
                                 [CAST(i.i % 3 AS INT) + 1]
                       END AS extraction_layer,
                       CAST((doc_id * 3 + i.i) % 8 AS DOUBLE) / 8.0
                           AS detection_confidence,
                       CASE WHEN (doc_id + i.i) % 8 = 0 THEN 0.0
                            WHEN (doc_id + i.i) % 5 = 0 THEN 0.99
                            ELSE CAST((doc_id + i.i * 5) % 16 AS DOUBLE)
                                 / 16.0
                       END AS vision_confidence
                FROM documents, (SELECT unnest(range(3)) AS i) i),
            pr AS ({_LINK_PRODUCTS_SQL}),
            j AS (
                SELECT im.doc_id, image_id, extraction_layer,
                       detection_confidence, vision_confidence,
                       product_id, page_range,
                       list_min(list_transform(page_range,
                           q -> abs(page_number - q))) AS dist
                FROM im JOIN pr ON im.doc_id = pr.doc_id)
            SELECT doc_id, image_id, product_id, extraction_layer,
                   CASE WHEN extraction_layer = 'vision_guided'
                        THEN CASE WHEN vision_confidence IS NOT NULL
                                       AND vision_confidence > 0
                                  THEN least(0.95, vision_confidence)
                                  ELSE 0.95 END
                        ELSE least(1.0, greatest(0.0,
                             (CASE WHEN len(page_range) = 0 THEN 0.0
                                   WHEN dist = 0 THEN 0.4
                                   WHEN dist = 1 THEN 0.2
                                   WHEN dist = 2 THEN 0.1
                                   ELSE 0.0 END)
                             + detection_confidence * 0.4
                             + detection_confidence * 0.2))
                   END AS relevance_score
            FROM j""",
        "url_quality_gate": _duck_url_gate_sql(),
        "domain_cap_sample": f"""
            -- per-domain cap twin: same md5(doc_id) rank within the
            -- admitted domains, cap 10
            WITH gate AS ({_duck_url_gate_sql()}),
            ranked AS (
                SELECT doc_id, domain,
                       row_number() OVER (PARTITION BY domain
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                           AS rk
                FROM gate WHERE url_status = 'ok')
            SELECT doc_id, domain FROM ranked WHERE rk <= 10""",
        "similarity_floor_stats": """
            -- summarize_similarity_floor twin: inclusive floor, NULL
            -- top_rejected when the floor did nothing
            WITH s AS (
                SELECT doc_id AS query_id,
                       CAST((doc_id * 5 + c.c * 3) % 16 AS DOUBLE) / 16.0
                           AS score
                FROM documents, (SELECT unnest(range(6)) AS c) c)
            SELECT query_id, round(0.5, 4) AS floor_value,
                   CAST(count(*) AS INTEGER) AS candidates,
                   CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END)
                        AS INTEGER) AS kept,
                   CAST(sum(CASE WHEN score < 0.5 THEN 1 ELSE 0 END)
                        AS INTEGER) AS rejected,
                   round(max(score), 4) AS best_score,
                   round(min(CASE WHEN score >= 0.5 THEN score END), 4)
                       AS worst_kept,
                   round(max(CASE WHEN score < 0.5 THEN score END), 4)
                       AS top_rejected
            FROM s GROUP BY query_id""",
        "page_embed_plan": f"""
            WITH {_DUCK_PAGE_CTES}
            SELECT doc_id, page_number, decision FROM planned
            UNION ALL SELECT doc_id, page_number, decision FROM refused""",
        "page_embed_outcomes": f"""
            WITH {_DUCK_PAGE_CTES},
            {_DUCK_PAGE_FX_CTE}
            SELECT doc_id, page_number,
                CASE WHEN NOT render_ok THEN 'failed'
                     WHEN render_bytes IS NULL THEN 'failed'
                     WHEN render_bytes < 3000 AND trim(substr(
                         coalesce(page_text, ''), 1, 8000)) = ''
                         THEN 'skipped'
                     WHEN provider_empty THEN 'failed'
                     WHEN upsert_refused THEN 'failed'
                     ELSE 'embedded' END AS cache_status,
                CASE WHEN NOT render_ok THEN 'render raised'
                     WHEN render_bytes IS NULL
                         THEN 'render returned nothing'
                     WHEN render_bytes < 3000 AND trim(substr(
                         coalesce(page_text, ''), 1, 8000)) = ''
                         THEN NULL
                     WHEN provider_empty
                         THEN 'embedding provider returned nothing'
                     WHEN upsert_refused THEN 'vecs upsert refused'
                     ELSE NULL END AS error,
                CASE WHEN render_ok AND render_bytes IS NOT NULL
                          AND NOT (render_bytes < 3000 AND trim(substr(
                              coalesce(page_text, ''), 1, 8000)) = '')
                     THEN 'extracted/' || CAST(doc_id AS VARCHAR)
                          || '/pages/page-' || printf('%04d', page_number)
                          || '.png' END AS storage_path,
                trim(substr(coalesce(page_text, ''), 1, 8000)) <> ''
                    AS has_text
            FROM fx""",
        "page_embed_summary": f"""
            WITH {_DUCK_PAGE_CTES},
            {_DUCK_PAGE_FX_CTE},
            outc AS (
                SELECT doc_id,
                    CASE WHEN NOT render_ok THEN 'failed'
                         WHEN render_bytes IS NULL THEN 'failed'
                         WHEN render_bytes < 3000 AND trim(substr(
                             coalesce(page_text, ''), 1, 8000)) = ''
                             THEN 'skipped'
                         WHEN provider_empty THEN 'failed'
                         WHEN upsert_refused THEN 'failed'
                         ELSE 'embedded' END AS cache_status
                FROM fx),
            uni AS (
                SELECT doc_id,
                       CASE WHEN cache_status = 'embedded' THEN 1 ELSE 0
                           END AS embedded,
                       CASE WHEN cache_status = 'skipped' THEN 1 ELSE 0
                           END AS skipped_blank,
                       CASE WHEN cache_status = 'failed' THEN 1 ELSE 0
                           END AS failed,
                       0 AS already, 0 AS over_cap,
                       CAST(NULL AS VARCHAR) AS refusal
                FROM outc
                UNION ALL
                SELECT doc_id, 0, 0, 0,
                       CASE WHEN decision = 'already' THEN 1 ELSE 0 END,
                       CASE WHEN decision = 'over_cap' THEN 1 ELSE 0 END,
                       CASE WHEN decision LIKE 'refused%' THEN decision
                           END
                FROM (SELECT doc_id, decision FROM planned
                      UNION ALL SELECT doc_id, decision FROM refused)
                WHERE decision <> 'pending')
            SELECT doc_id,
                   CAST(sum(embedded) AS BIGINT) AS n_embedded,
                   CAST(sum(skipped_blank) AS BIGINT) AS n_skipped_blank,
                   CAST(sum(failed) AS BIGINT) AS n_failed,
                   CAST(sum(already) AS BIGINT) AS n_already,
                   CAST(sum(over_cap) AS BIGINT) AS n_over_cap,
                   max(refusal) AS refusal
            FROM uni GROUP BY doc_id""",
        "gopher_quality": """
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text),
                           '[ \t\r\n]+'), x -> x <> '') AS w,
                       list_filter(list_transform(
                           string_split(text, chr(10)), x -> trim(x)),
                           x -> x <> '') AS lines
                FROM documents),
            m AS (
                SELECT doc_id,
                    len(w) AS n_words, len(lines) AS n_lines,
                    round(CAST(coalesce(list_sum(list_transform(w,
                        x -> length(x))), 0) AS DOUBLE)
                        / greatest(len(w), 1), 6) AS mean_word_len,
                    round(CAST(len(list_filter(w, x -> contains(x, '#')))
                        + len(list_filter(w, x -> contains(x, '...')))
                        AS DOUBLE) / greatest(len(w), 1), 6)
                        AS symbol_word_ratio,
                    round(CAST(len(list_filter(lines,
                        x -> starts_with(x, '-') OR starts_with(x, '*')
                        OR starts_with(x, '•'))) AS DOUBLE)
                        / greatest(len(lines), 1), 6) AS bullet_line_frac,
                    round(CAST(len(list_filter(lines,
                        x -> ends_with(x, '...') OR ends_with(x, '…')))
                        AS DOUBLE) / greatest(len(lines), 1), 6)
                        AS ellipsis_line_frac,
                    round(CAST(len(list_filter(w,
                        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                        / greatest(len(w), 1), 6) AS alpha_word_frac,
                    len(list_filter(['the', 'be', 'to', 'of', 'and',
                        'that', 'have', 'with'],
                        s -> list_contains(w, s))) AS n_stopwords
                FROM base)
            SELECT doc_id, n_words, n_lines, mean_word_len,
                   symbol_word_ratio, bullet_line_frac,
                   ellipsis_line_frac, alpha_word_frac, n_stopwords,
                   (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
                   (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                       AS ok_word_len,
                   symbol_word_ratio <= 0.1 AS ok_symbols,
                   bullet_line_frac <= 0.9 AS ok_bullets,
                   ellipsis_line_frac <= 0.3 AS ok_ellipsis,
                   alpha_word_frac >= 0.8 AS ok_alpha,
                   n_stopwords >= 2 AS ok_stopwords,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                    AND symbol_word_ratio <= 0.1
                    AND bullet_line_frac <= 0.9
                    AND ellipsis_line_frac <= 0.3
                    AND alpha_word_frac >= 0.8
                    AND n_stopwords >= 2) AS gopher_keep
            FROM m""",
        "ngram_lm_counts": f"""
            WITH {_DUCK_NGRAM_COUNTS_CTE}
            SELECT n, gram, cnt FROM counts WHERE cnt >= 5""",
        "ngram_lm_perplexity": f"""
            WITH {_DUCK_NGRAM_COUNTS_CTE},
            total AS (
                SELECT CAST(sum(cnt) AS DOUBLE) AS n_tokens
                FROM counts WHERE n = 1),
            tri AS (
                SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
                FROM (SELECT doc_id, w,
                             unnest(generate_series(1, len(w) - 2)) AS i
                      FROM docs_w WHERE len(w) >= 3)),
            j AS (
                SELECT t.doc_id, c3.cnt AS c3, c2ctx.cnt AS c2ctx,
                       c2.cnt AS c2, c1ctx.cnt AS c1ctx, c1.cnt AS c1,
                       total.n_tokens
                FROM tri t
                LEFT JOIN counts c3 ON c3.n = 3
                    AND c3.gram = t.w1 || ' ' || t.w2 || ' ' || t.w3
                LEFT JOIN counts c2ctx ON c2ctx.n = 2
                    AND c2ctx.gram = t.w1 || ' ' || t.w2
                LEFT JOIN counts c2 ON c2.n = 2
                    AND c2.gram = t.w2 || ' ' || t.w3
                LEFT JOIN counts c1ctx ON c1ctx.n = 1
                    AND c1ctx.gram = t.w2
                LEFT JOIN counts c1 ON c1.n = 1 AND c1.gram = t.w3
                CROSS JOIN total),
            s AS (
                SELECT doc_id,
                    CASE WHEN c3 IS NOT NULL THEN 'tri'
                         WHEN c2 IS NOT NULL THEN 'bi'
                         WHEN c1 IS NOT NULL THEN 'uni'
                         ELSE 'oov' END AS level,
                    CAST(round(log10(
                        CASE WHEN c3 IS NOT NULL
                                 THEN c3 / CAST(c2ctx AS DOUBLE)
                             WHEN c2 IS NOT NULL
                                 THEN CAST(0.4 AS DOUBLE)
                                      * (c2 / CAST(c1ctx AS DOUBLE))
                             WHEN c1 IS NOT NULL
                                 THEN (CAST(0.4 AS DOUBLE)
                                       * CAST(0.4 AS DOUBLE))
                                      * (c1 / n_tokens)
                             ELSE (CAST(0.4 AS DOUBLE)
                                   * CAST(0.4 AS DOUBLE)) / n_tokens
                        END) * 1e6, 0) AS BIGINT) AS micro
                FROM j)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tri,
                   CAST(sum(CASE WHEN level = 'tri' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_tri_hits,
                   CAST(sum(CASE WHEN level = 'bi' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_bi_backoff,
                   CAST(sum(CASE WHEN level = 'uni' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_uni_backoff,
                   CAST(sum(CASE WHEN level = 'oov' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_oov,
                   CAST(sum(micro) AS BIGINT) AS logprob_micro,
                   round(pow(10, -CAST(sum(micro) AS DOUBLE) / 1e6
                             / count(*)), 4) AS ppl
            FROM s GROUP BY doc_id""",
        "cascade_scope": f"""
            WITH {_DUCK_CASCADE_CTES}
            SELECT job_id, kind, key FROM scope""",
        "cascade_wipe_stats": f"""
            WITH {_DUCK_CASCADE_CTES},
            plan AS (
                SELECT job_id, 'background_jobs' AS table_name,
                       job_id AS key
                FROM djobs
                UNION ALL
                SELECT j.job_id, 'product_processing_status' AS table_name,
                       s.product_key AS key
                FROM dpps s JOIN djobs j ON s.job_id = j.job_id
                UNION ALL
                SELECT DISTINCT job_id,
                       'document_chunks' AS table_name, chunk_id AS key
                FROM (
                    SELECT j.job_id, ch.chunk_id
                    FROM djobs j JOIN dchunks ch
                      ON j.document_id IS NOT NULL
                         AND ch.document_id = j.document_id
                    UNION ALL
                    SELECT sp.job_id, ch.chunk_id
                    FROM scope_products sp JOIN dchunks ch
                      ON ch.product_id = sp.key)
                UNION ALL
                SELECT DISTINCT job_id, 'embeddings' AS table_name,
                       embedding_id AS key
                FROM (
                    SELECT si.job_id, em.embedding_id
                    FROM scope_images si JOIN dembeddings em
                      ON em.embedding_id = si.key
                    UNION ALL
                    SELECT j.job_id, em.embedding_id
                    FROM djobs j JOIN dembeddings em
                      ON j.document_id IS NOT NULL
                         AND em.meta_document_id = j.document_id
                    WHERE j.job_id NOT IN
                        (SELECT job_id FROM scope_images))
                UNION ALL
                SELECT si.job_id, ic.kind AS table_name, ic.row_id AS key
                FROM scope_images si JOIN dimage_children ic
                  ON ic.image_id = si.key
                UNION ALL
                SELECT job_id, 'document_images' AS table_name, key
                FROM scope_images
                UNION ALL
                SELECT sp.job_id, pc.kind AS table_name, pc.row_id AS key
                FROM scope_products sp JOIN dproduct_children pc
                  ON pc.product_id = sp.key
                UNION ALL
                SELECT job_id, 'products' AS table_name, key
                FROM scope_products
                UNION ALL
                SELECT job_id, 'documents' AS table_name,
                       document_id AS key
                FROM djobs WHERE document_id IS NOT NULL)
            SELECT job_id, table_name,
                   CAST(count(*) AS BIGINT) AS n_deleted,
                   'FULL_WIPE' AS mode
            FROM plan GROUP BY job_id, table_name""",
        "orphan_scan": f"""
            WITH {_DUCK_CASCADE_CTES}
            SELECT 'embeddings' AS table_name, embedding_id AS key,
                   'no_image_for_pk' AS reason
            FROM dembeddings
            WHERE embedding_id NOT IN (SELECT image_id FROM dimages)
            UNION ALL
            SELECT 'document_chunks' AS table_name, chunk_id AS key,
                   'no_document_or_product' AS reason
            FROM dchunks
            WHERE (document_id IS NOT NULL OR product_id IS NOT NULL)
              AND (document_id IS NULL OR document_id NOT IN
                   (SELECT document_id FROM ddocs))
              AND (product_id IS NULL OR product_id NOT IN
                   (SELECT product_id FROM dproducts))
            UNION ALL
            SELECT kind AS table_name, row_id AS key,
                   'no_image' AS reason
            FROM dimage_children
            WHERE image_id NOT IN (SELECT image_id FROM dimages)
            UNION ALL
            SELECT kind AS table_name, row_id AS key,
                   'no_product' AS reason
            FROM dproduct_children
            WHERE product_id NOT IN (SELECT product_id FROM dproducts)
            UNION ALL
            SELECT 'document_images' AS table_name, image_id AS key,
                   'no_product_or_document' AS reason
            FROM dimages
            WHERE product_id IS NOT NULL
              AND product_id NOT IN (SELECT product_id FROM dproducts)
              AND (document_id IS NULL OR document_id NOT IN
                   (SELECT document_id FROM ddocs))""",
        "metadata_postprocess": r"""
            WITH resp AS (
                SELECT doc_id,
                    CASE
                      WHEN doc_id % 5 = 0 THEN '```json' || chr(10)
                        || '{"critical": {"material_category": '
                        || '{"value": "porcelain_tile", "confidence": '
                        || '0.9, "source": "auto_detected"}, '
                        || '"factory_name": {"value": "Acme Ceramics '
                        || CAST(doc_id AS VARCHAR)
                        || '", "confidence": 0.8, "source": "ai"}}}'
                        || chr(10) || '```'
                      WHEN doc_id % 5 = 1 THEN
                        '``` {"critical": {"material_category": '
                        || '{"value": "wall_tile", "confidence": 0.7, '
                        || '"source": "ai"}, "factory_name": {"value": '
                        || '"AB", "confidence": 0.5, "source": "ai"}}} ```'
                      WHEN doc_id % 5 = 2 THEN
                        '{"critical": {"material_category": {"value": '
                        || '"hardwood", "confidence": 0.6, '
                        || '"source": "ai"}}}'
                      WHEN doc_id % 5 = 3 THEN 'not json at all '
                        || CAST(doc_id AS VARCHAR)
                      ELSE '```json' || chr(10) || 'nothing here'
                        || chr(10) || '```'
                    END AS response
                FROM documents),
            ext AS (
                SELECT doc_id,
                    CASE WHEN contains(response, '```json')
                         THEN coalesce(nullif(regexp_extract(response,
                              '(?s)```json\s*(\{.*?\})\s*```', 1), ''),
                              response)
                         WHEN contains(response, '```')
                         THEN coalesce(nullif(regexp_extract(response,
                              '(?s)```\s*(\{.*?\})\s*```', 1), ''),
                              response)
                         ELSE response END AS j
                FROM resp),
            parsed AS (
                SELECT doc_id,
                       CASE WHEN json_valid(j) THEN j END AS jj
                FROM ext),
            fields AS (
                SELECT doc_id,
                    CASE WHEN jj IS NULL THEN 'json_parse_error'
                        END AS parse_error,
                    json_extract_string(jj,
                        '$.critical.material_category.value') AS mc_value,
                    CAST(json_extract(jj,
                        '$.critical.material_category.confidence')
                        AS DOUBLE) AS mc_conf,
                    json_extract_string(jj,
                        '$.critical.material_category.source') AS mc_src,
                    json_extract_string(jj,
                        '$.critical.factory_name.value') AS fn_value,
                    CAST(json_extract(jj,
                        '$.critical.factory_name.confidence')
                        AS DOUBLE) AS fn_conf,
                    json_extract_string(jj,
                        '$.critical.factory_name.source') AS fn_src,
                    json_extract_string(jj,
                        '$.critical.factory_group_name.value') AS fg_value
                FROM parsed),
            ov AS (
                SELECT doc_id, 'OVERRIDE GmbH' AS v
                FROM documents WHERE doc_id % 9 = 0),
            merged AS (
                SELECT f.doc_id, f.parse_error,
                    f.mc_value AS material_category_value,
                    f.mc_conf AS material_category_confidence,
                    f.mc_src AS material_category_source,
                    coalesce(o.v, f.fn_value) AS factory_name_value,
                    CASE WHEN o.v IS NOT NULL THEN CAST(1.0 AS DOUBLE)
                         ELSE f.fn_conf END AS factory_name_confidence,
                    CASE WHEN o.v IS NOT NULL THEN 'manual_override'
                         ELSE f.fn_src END AS factory_name_source,
                    f.fg_value AS factory_group_name_value
                FROM fields f LEFT JOIN ov o ON f.doc_id = o.doc_id),
            val AS (
                SELECT *,
                    list_filter([
                        CASE WHEN material_category_value IS NULL
                                  OR material_category_value = ''
                             THEN 'Missing required field: '
                                  || 'material_category'
                             WHEN length(material_category_value) < 1
                             THEN 'Invalid value for field: '
                                  || 'material_category' END,
                        CASE WHEN factory_name_value IS NULL
                                  OR factory_name_value = ''
                             THEN 'Missing required field: factory_name'
                             WHEN length(factory_name_value) < 3
                             THEN 'Invalid value for field: factory_name'
                            END], x -> x IS NOT NULL) AS errl
                FROM merged)
            SELECT doc_id, parse_error, material_category_value,
                   material_category_confidence, material_category_source,
                   factory_name_value, factory_name_confidence,
                   factory_name_source, factory_group_name_value,
                   coalesce(array_to_string(errl, '; '), '') AS errors,
                   len(errl) = 0 AS valid
            FROM val""",
        "metadata_fallback_extract": r"""
            WITH t AS (
                SELECT doc_id,
                    CASE
                      WHEN doc_id % 4 = 0 THEN 'Intro.' || chr(10)
                        || 'Manufacturer: Tile Co '
                        || CAST(doc_id AS VARCHAR) || chr(10)
                        || 'Company: Shadowed Inc' || chr(10)
                        || 'Group: Tile Group'
                      WHEN doc_id % 4 = 1 THEN 'made by: lower co '
                        || CAST(doc_id AS VARCHAR)
                      WHEN doc_id % 4 = 2 THEN
                        'Holdings: Big Holdings' || chr(10)
                        || 'no factory line'
                      ELSE 'plain text, nothing to mine'
                    END AS text
                FROM documents),
            m AS (
                SELECT doc_id,
                    coalesce(
                        nullif(trim(regexp_extract(text,
                            '(?i)Manufacturer:\s*(.+)', 1)), ''),
                        nullif(trim(regexp_extract(text,
                            '(?i)Made by:\s*(.+)', 1)), ''),
                        nullif(trim(regexp_extract(text,
                            '(?i)Producer:\s*(.+)', 1)), ''),
                        nullif(trim(regexp_extract(text,
                            '(?i)Factory:\s*(.+)', 1)), ''),
                        nullif(trim(regexp_extract(text,
                            '(?i)Company:\s*(.+)', 1)), ''))
                        AS factory_name_value,
                    coalesce(
                        nullif(trim(regexp_extract(text,
                            '(?i)Group:\s*(.+)', 1)), ''),
                        nullif(trim(regexp_extract(text,
                            '(?i)Parent Company:\s*(.+)', 1)), ''),
                        nullif(trim(regexp_extract(text,
                            '(?i)Corporation:\s*(.+)', 1)), ''),
                        nullif(trim(regexp_extract(text,
                            '(?i)Holdings:\s*(.+)', 1)), ''))
                        AS factory_group_name_value
                FROM t)
            SELECT doc_id, factory_name_value,
                   CASE WHEN factory_name_value IS NOT NULL THEN 0.7
                       END AS factory_name_confidence,
                   CASE WHEN factory_name_value IS NOT NULL
                        THEN 'pattern_match' END AS factory_name_source,
                   factory_group_name_value,
                   CAST(NULL AS VARCHAR) AS material_category_value
            FROM m""",
        "property_categories": f"""
            SELECT doc_id, k AS property_key,
                   {_duck_property_case()} AS category
            FROM (SELECT doc_id,
                         (['thickness', 'color', 'fire_rating', 'sku',
                           'designer', 'grade', 'composition',
                           'recommended_use', 'certifications',
                           '_custom_foo', 'unknown_key', 'rating'])
                             [CAST(doc_id % 12 AS INT) + 1] AS k
                  FROM documents)""",
        "section_header_hits": _duck_section_hits_sql(),
        "facet_collect_raw": f"""
            WITH rows0 AS (
                SELECT doc_id AS product_id,
                    CASE doc_id % 5 WHEN 0 THEN 'color'
                        WHEN 1 THEN 'sku' WHEN 2 THEN '_private'
                        WHEN 3 THEN 'finish' ELSE 'material'
                        END AS facet_key,
                    CASE doc_id % 5 WHEN 0 THEN '  Blue  '
                        WHEN 1 THEN 'X-99' WHEN 2 THEN 'secret'
                        WHEN 3 THEN '   ' ELSE NULL END AS raw_value
                FROM documents),
            rows AS (
                SELECT * FROM rows0
                UNION ALL
                SELECT * FROM rows0 WHERE product_id % 10 = 0)
            SELECT DISTINCT product_id, facet_key,
                   trim(raw_value) AS raw_value
            FROM rows
            WHERE {_duck_facet_gate()} AND raw_value IS NOT NULL
                  AND trim(raw_value) <> ''""",
        "facet_resolve": """
            WITH canon AS (
                SELECT * FROM (VALUES
                    ('color', 'deep blue', ['navy', 'blu'],
                     [1.0, 0.0, 0.0, 0.0]),
                    ('color', 'light grey', ['gray'],
                     [0.0, 1.0, 0.0, 0.0]),
                    ('finish', 'matte', []::VARCHAR[],
                     [0.0, 0.0, 1.0, 0.0]),
                    ('finish', 'polished', ['gloss'],
                     [0.0, 0.0, 0.0, 1.0]))
                    AS t(facet_key, canonical_value, aliases, embedding)),
            vals AS (
                SELECT doc_id AS product_id,
                    CASE WHEN doc_id % 6 IN (3, 4) THEN 'finish'
                         ELSE 'color' END AS facet_key,
                    CASE doc_id % 6 WHEN 0 THEN 'Navy'
                        WHEN 1 THEN 'Deep-Blue' WHEN 2 THEN 'café'
                        WHEN 3 THEN 'matt' WHEN 4 THEN 'hammered'
                        ELSE 'crimson' END AS raw_value,
                    CASE doc_id % 6
                        WHEN 3 THEN [0.0, 0.0, 0.9375, 0.25]
                        WHEN 4 THEN [0.0, 0.0, 0.5, 0.75]
                        END AS embedding
                FROM documents),
            normed AS (
                SELECT *,
                    trim(regexp_replace(lower(trim(raw_value)),
                        '[ \t\r\n\\-_/]+', ' ', 'g')) AS normalized
                FROM vals),
            cand AS (
                SELECT n.product_id, n.facet_key, n.raw_value,
                    n.normalized,
                    CASE WHEN c.canonical_value = n.normalized THEN 0
                         WHEN list_contains(coalesce(c.aliases,
                                 []::VARCHAR[]), n.normalized)
                           OR list_contains(coalesce(c.aliases,
                                 []::VARCHAR[]), n.raw_value) THEN 1
                        END AS t1,
                    c.canonical_value AS cand,
                    coalesce(
                        CASE WHEN n.embedding IS NOT NULL
                                  AND c.embedding IS NOT NULL
                             THEN list_sum(list_transform(
                                      generate_series(1, 4),
                                      i -> n.embedding[i]
                                           * c.embedding[i]))
                                  / (sqrt(list_sum(list_transform(
                                         n.embedding, x -> x * x)))
                                     * sqrt(list_sum(list_transform(
                                         c.embedding, x -> x * x))))
                            END, -2.0) AS cos
                FROM normed n LEFT JOIN canon c
                  ON n.facet_key = c.facet_key),
            agg AS (
                SELECT product_id, facet_key, raw_value, normalized,
                       min(CASE WHEN t1 = 0 THEN cand END) AS t1_exact,
                       min(CASE WHEN t1 = 1 THEN cand END) AS t1_alias,
                       max(cos) AS best_s
                FROM cand
                GROUP BY product_id, facet_key, raw_value, normalized),
            best AS (
                SELECT c.product_id, c.facet_key, c.raw_value,
                       max(c.cand) AS best_c
                FROM cand c JOIN agg a
                  ON c.product_id = a.product_id
                 AND c.facet_key = a.facet_key
                 AND c.raw_value = a.raw_value
                 AND c.cos = a.best_s
                GROUP BY c.product_id, c.facet_key, c.raw_value)
            SELECT a.product_id, a.facet_key, a.raw_value, a.normalized,
                CASE WHEN NOT regexp_matches(a.normalized,
                         '^[\\x00-\\x7f]+$') THEN NULL
                     WHEN coalesce(a.t1_exact, a.t1_alias) IS NOT NULL
                         THEN coalesce(a.t1_exact, a.t1_alias)
                     WHEN a.best_s >= -1.0 AND a.best_s >= 0.92
                         THEN b.best_c END AS canonical,
                CASE WHEN NOT regexp_matches(a.normalized,
                         '^[\\x00-\\x7f]+$')
                         THEN 'rejected_non_english'
                     WHEN coalesce(a.t1_exact, a.t1_alias) IS NOT NULL
                         THEN 'exact_alias'
                     WHEN a.best_s >= -1.0 AND a.best_s >= 0.92
                         THEN 'embedding_merge'
                     ELSE 'new' END AS action,
                CASE WHEN regexp_matches(a.normalized, '^[\\x00-\\x7f]+$')
                          AND coalesce(a.t1_exact, a.t1_alias) IS NULL
                          AND a.best_s >= -1.0
                     THEN round(a.best_s, 6) END AS similarity
            FROM agg a JOIN best b
              ON a.product_id = b.product_id
             AND a.facet_key = b.facet_key
             AND a.raw_value = b.raw_value""",
        "checkpoint_resume": f"""
            WITH {_DUCK_CKPT_CTES}
            SELECT job_id, stage, created_at,
                (created_at IS NOT NULL
                 AND 1700000000.0 - created_at <= 24 * 3600.0
                 AND stage IN ('initialized', 'warmup_started',
                     'warmup_complete', 'pdf_pages_numbered',
                     'pdf_extracted', 'chunks_created',
                     'text_embeddings_generated', 'images_extracted',
                     'image_embeddings_generated', 'products_detected',
                     'products_created', 'relationships_created',
                     'document_entities_created', 'metadata_extracted',
                     'completed')) AS can_resume,
                CASE WHEN created_at IS NOT NULL
                          AND 1700000000.0 - created_at <= 24 * 3600.0
                          AND stage IN ('initialized', 'warmup_started',
                              'warmup_complete', 'pdf_pages_numbered',
                              'pdf_extracted', 'chunks_created',
                              'text_embeddings_generated',
                              'images_extracted',
                              'image_embeddings_generated',
                              'products_detected', 'products_created',
                              'relationships_created',
                              'document_entities_created',
                              'metadata_extracted', 'completed')
                     THEN stage END AS resume_stage,
                CASE WHEN created_at IS NULL THEN 'no_checkpoint'
                     WHEN NOT (1700000000.0 - created_at <= 24 * 3600.0)
                         THEN 'too_old'
                     WHEN stage NOT IN ('initialized', 'warmup_started',
                         'warmup_complete', 'pdf_pages_numbered',
                         'pdf_extracted', 'chunks_created',
                         'text_embeddings_generated', 'images_extracted',
                         'image_embeddings_generated',
                         'products_detected', 'products_created',
                         'relationships_created',
                         'document_entities_created',
                         'metadata_extracted', 'completed')
                         THEN 'unknown_stage' END AS refusal_reason
            FROM last""",
        "checkpoint_audit": f"""
            WITH {_DUCK_CKPT_CTES},
            chunk_found AS (
                SELECT job_id, count(*) AS n FROM
                    (SELECT job_id, unnest(chunk_ids) AS id FROM last) l
                JOIN cat_chunks c ON c.chunk_id = l.id
                GROUP BY job_id),
            emb_found AS (
                SELECT job_id, count(*) AS n FROM
                    (SELECT job_id, unnest(chunk_ids) AS id FROM last) l
                JOIN cat_chunks c
                  ON c.chunk_id = l.id AND c.has_embedding
                GROUP BY job_id),
            img_found AS (
                SELECT job_id, count(*) AS n FROM
                    (SELECT job_id, unnest(image_ids) AS id FROM last) l
                JOIN cat_images c ON c.image_id = l.id
                GROUP BY job_id),
            by_doc AS (
                SELECT document_id, count(*) AS n_doc_chunks,
                       sum(CASE WHEN has_embedding THEN 1 ELSE 0 END)
                           AS n_doc_embs
                FROM cat_chunks GROUP BY document_id),
            j AS (
                SELECT l.*,
                    coalesce(len(l.chunk_ids), 0) AS n_chunk_ids,
                    coalesce(len(l.image_ids), 0) AS n_image_ids,
                    coalesce(cf.n, 0) AS chunks_found,
                    coalesce(ef.n, 0) AS embs_found,
                    coalesce(imf.n, 0) AS imgs_found,
                    coalesce(bd.n_doc_chunks, 0) AS doc_chunks,
                    coalesce(bd.n_doc_embs, 0) AS doc_embs
                FROM last l
                LEFT JOIN chunk_found cf ON cf.job_id = l.job_id
                LEFT JOIN emb_found ef ON ef.job_id = l.job_id
                LEFT JOIN img_found imf ON imf.job_id = l.job_id
                LEFT JOIN by_doc bd ON bd.document_id = l.document_id),
            r AS (
                SELECT job_id, stage,
                    CASE WHEN stage = 'warmup_started' THEN
                            CASE WHEN coalesce(len(endpoints_to_warmup),
                                     0) > 0 THEN 'valid'
                                 ELSE 'invalid_no_endpoints' END
                         WHEN stage = 'warmup_complete' THEN
                            CASE WHEN coalesce(total_ready, 0) = 0
                                      AND coalesce(len(endpoints_failed),
                                          0) > 0
                                 THEN 'invalid_nothing_ready'
                                 ELSE 'valid' END
                         WHEN stage = 'chunks_created' THEN
                            CASE WHEN chunks_created = 0
                                      AND n_chunk_ids = 0
                                 THEN 'valid_no_chunks'
                                 WHEN n_chunk_ids = 0
                                      AND document_id IS NOT NULL THEN
                                    CASE WHEN doc_chunks > 0
                                         THEN 'valid_by_document'
                                         ELSE 'invalid_no_doc_chunks'
                                        END
                                 WHEN n_chunk_ids = 0
                                     THEN 'invalid_no_ids'
                                 WHEN chunks_found = n_chunk_ids
                                     THEN 'valid_ids'
                                 ELSE 'invalid_count_mismatch' END
                         WHEN stage = 'text_embeddings_generated' THEN
                            CASE WHEN n_chunk_ids = 0
                                      AND document_id IS NOT NULL THEN
                                    CASE WHEN doc_embs > 0
                                              OR chunks_created = 0
                                         THEN 'valid_by_document'
                                         ELSE 'invalid_no_doc_embeddings'
                                        END
                                 WHEN n_chunk_ids = 0
                                     THEN 'invalid_no_ids'
                                 WHEN CAST(embs_found AS DOUBLE)
                                      >= CAST(n_chunk_ids AS DOUBLE)
                                         * 0.9
                                     THEN 'valid_ids'
                                 ELSE 'invalid_too_many_missing' END
                         WHEN stage = 'images_extracted' THEN
                            CASE WHEN n_image_ids = 0
                                 THEN 'valid_no_images'
                                 WHEN imgs_found = n_image_ids
                                     THEN 'valid_ids'
                                 ELSE 'invalid_count_mismatch' END
                         ELSE 'valid_no_data_contract' END AS reason
                FROM j)
            SELECT job_id, stage, reason,
                   starts_with(reason, 'valid') AS valid
            FROM r""",
        "table_profile": """
            WITH probe AS (
                SELECT doc_id, text,
                       CASE WHEN doc_id % 9 = 0 THEN NULL
                            ELSE lang END AS lang,
                       source, n_chars
                FROM documents),
            p AS (
                SELECT 'doc_id' AS "column", 'bigint' AS dtype,
                    CAST(count(1) AS BIGINT) AS n_rows,
                    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_nulls,
                    CAST(count(DISTINCT doc_id) AS BIGINT)
                        AS n_distinct,
                    CAST(NULL AS VARCHAR) AS min_str,
                    CAST(NULL AS VARCHAR) AS max_str,
                    round(CAST(min(doc_id) AS DOUBLE), 6) AS min_num,
                    round(CAST(max(doc_id) AS DOUBLE), 6) AS max_num,
                    CAST(NULL AS BIGINT) AS sum_len,
                    CAST(NULL AS BIGINT) AS n_str
                FROM probe
                UNION ALL
                SELECT 'text', 'string', CAST(count(1) AS BIGINT),
                    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                    CAST(count(DISTINCT text) AS BIGINT),
                    min(text), max(text),
                    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                    CAST(sum(length(text)) AS BIGINT),
                    CAST(count(text) AS BIGINT)
                FROM probe
                UNION ALL
                SELECT 'lang', 'string', CAST(count(1) AS BIGINT),
                    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                    CAST(count(DISTINCT lang) AS BIGINT),
                    min(lang), max(lang),
                    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                    CAST(sum(length(lang)) AS BIGINT),
                    CAST(count(lang) AS BIGINT)
                FROM probe
                UNION ALL
                SELECT 'source', 'string', CAST(count(1) AS BIGINT),
                    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0
                        END) AS BIGINT),
                    CAST(count(DISTINCT source) AS BIGINT),
                    min(source), max(source),
                    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                    CAST(sum(length(source)) AS BIGINT),
                    CAST(count(source) AS BIGINT)
                FROM probe
                UNION ALL
                SELECT 'n_chars', 'bigint', CAST(count(1) AS BIGINT),
                    CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0
                        END) AS BIGINT),
                    CAST(count(DISTINCT n_chars) AS BIGINT),
                    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                    round(CAST(min(n_chars) AS DOUBLE), 6),
                    round(CAST(max(n_chars) AS DOUBLE), 6),
                    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
                FROM probe)
            SELECT "column", dtype, n_rows, n_nulls,
                   round(CAST(n_nulls AS DOUBLE)
                         / greatest(n_rows, 1), 6) AS null_frac,
                   n_distinct, min_str, max_str, min_num, max_num,
                   CASE WHEN n_str > 0
                        THEN round(CAST(sum_len AS DOUBLE)
                                   / CAST(n_str AS DOUBLE), 6)
                       END AS avg_len
            FROM p""",
        "price_market_stats": f"""
            WITH ph AS ({_ph_sql}),
            b AS (SELECT *,
                    price IS NOT NULL
                      AND (match_kind IS NULL OR match_kind = 'exact')
                      AND (availability IS NULL
                           OR availability <> 'out_of_stock') AS is_stat
                  FROM ph),
            agg AS (SELECT query_id, count(*) AS n_hits,
                           count(price) AS n_priced,
                           count(CASE WHEN price IS NOT NULL AND verified
                                 THEN 1 END) AS n_verified,
                           list_sort(list(price) FILTER (WHERE is_stat))
                             AS vals
                    FROM b GROUP BY query_id),
            p1 AS (SELECT *, {_dmed('vals')} AS prov FROM agg),
            p2 AS (SELECT *, CASE WHEN len(vals) >= 4 THEN
                       list_filter(vals, v -> v >= prov / 3.0
                                          AND v <= prov * 3.0)
                     ELSE vals END AS trimmed FROM p1),
            u AS (SELECT *, CASE WHEN len(trimmed) > 0 THEN trimmed
                                 ELSE vals END AS use_vals FROM p2),
            modal AS (SELECT query_id, currency FROM (
                        SELECT query_id, currency,
                               row_number() OVER (PARTITION BY query_id
                                   ORDER BY count(*) DESC, currency ASC)
                                 AS rn
                        FROM b WHERE is_stat AND currency IS NOT NULL
                        GROUP BY query_id, currency) WHERE rn = 1)
            SELECT u.query_id,
                   CASE WHEN n_priced = 0 THEN n_hits ELSE n_priced END
                     AS hit_count,
                   CASE WHEN n_priced = 0 THEN 0 ELSE n_verified END
                     AS verified_count,
                   CASE WHEN len(vals) > 0 THEN use_vals[1] END
                     AS min_price,
                   CASE WHEN len(vals) > 0 THEN use_vals[-1] END
                     AS max_price,
                   CASE WHEN len(vals) > 0 THEN {_dmed('use_vals')} END
                     AS median_price,
                   CASE WHEN len(vals) > 0 THEN modal.currency END
                     AS currency
            FROM u LEFT JOIN modal ON u.query_id = modal.query_id""",
        "price_sanity_flags": f"""
            WITH ph AS ({_ph_sql}),
            h AS ({_ph_h}),
            latest AS (SELECT query_id, max(run_day) AS cur_day
                       FROM h GROUP BY query_id),
            nt AS (SELECT max(scraped_at) AS now_ts FROM ph),
            hist AS (SELECT h.query_id, dom, count(*) AS samples,
                            list_sort(list(price)) AS vals
                     FROM h JOIN latest ON h.query_id = latest.query_id
                     CROSS JOIN nt
                     WHERE run_day < cur_day
                       AND scraped_at >= now_ts - INTERVAL 7 DAY
                       AND coalesce(lower(match_kind), '') <> 'family'
                       AND price IS NOT NULL AND dom IS NOT NULL
                     GROUP BY h.query_id, dom),
            hm AS (SELECT query_id, dom, samples, {_dmed('vals')} AS med
                   FROM hist),
            cur AS (SELECT h.* FROM h JOIN latest
                      ON h.query_id = latest.query_id
                     AND h.run_day = latest.cur_day),
            j AS (SELECT cur.*, hm.samples, hm.med FROM cur LEFT JOIN hm
                    ON cur.query_id = hm.query_id AND cur.dom = hm.dom)
            SELECT query_id, event_id, dom AS retailer_domain, price,
              CASE WHEN price IS NULL OR price <= 0 OR dom IS NULL
                     THEN false
                   WHEN coalesce(samples, 0) < 3 THEN false
                   WHEN med <= 0 THEN false
                   WHEN price / med < 0.33 THEN true
                   WHEN price / med > 3.0 THEN true
                   ELSE false END AS is_anomaly,
              CASE WHEN price IS NULL OR price <= 0 OR dom IS NULL
                     THEN NULL
                   WHEN coalesce(samples, 0) < 3 THEN NULL
                   ELSE med END AS rolling_median,
              CASE WHEN price IS NULL OR price <= 0 OR dom IS NULL THEN 0
                   ELSE coalesce(samples, 0) END AS history_samples,
              CASE WHEN price IS NULL OR price <= 0 OR dom IS NULL
                     THEN NULL
                   WHEN coalesce(samples, 0) < 3
                     THEN 'insufficient_history'
                   WHEN med <= 0 THEN 'zero_median'
                   WHEN price / med < 0.33 THEN 'too_low'
                   WHEN price / med > 3.0 THEN 'too_high' END AS reason
            FROM j""",
        "price_volatility": f"""
            WITH ph AS ({_ph_sql}),
            h AS ({_ph_h}),
            latest AS (SELECT query_id, max(run_day) AS cur_day
                       FROM h GROUP BY query_id),
            nr AS (SELECT query_id, product_url, price AS new_price FROM (
                     SELECT h.query_id, product_url, price,
                            row_number() OVER (
                                PARTITION BY h.query_id, product_url
                                ORDER BY scraped_at DESC, event_id DESC)
                              AS rn
                     FROM h JOIN latest ON h.query_id = latest.query_id
                     WHERE run_day = cur_day
                       AND coalesce(lower(match_kind), '') <> 'family'
                       AND product_url IS NOT NULL AND price > 0)
                   WHERE rn = 1),
            pr AS (SELECT query_id, product_url, price AS old_price FROM (
                     SELECT h.query_id, product_url, price,
                            row_number() OVER (
                                PARTITION BY h.query_id, product_url
                                ORDER BY scraped_at DESC, event_id DESC)
                              AS rn
                     FROM h JOIN latest ON h.query_id = latest.query_id
                     WHERE run_day < cur_day AND price IS NOT NULL)
                   WHERE rn = 1),
            mx AS (SELECT nr.query_id,
                          max(abs(new_price - old_price) / old_price
                              * 100.0) AS m
                   FROM nr JOIN pr ON nr.query_id = pr.query_id
                                  AND nr.product_url = pr.product_url
                   WHERE old_price > 0 GROUP BY nr.query_id)
            SELECT q.query_id, coalesce(m, 0.0) AS max_pct_change,
                   CASE WHEN coalesce(m, 0.0) >= 10.0 THEN 6
                        WHEN coalesce(m, 0.0) >= 2.0 THEN 24
                        ELSE 48 END AS refresh_interval_hours
            FROM (SELECT DISTINCT query_id FROM ph) q
            LEFT JOIN mx ON q.query_id = mx.query_id""",
        "price_current_snapshot": f"""
            WITH ph AS ({_ph_sql}),
            h AS ({_ph_h}),
            latest AS (SELECT query_id, max(run_day) AS cur_day
                       FROM h GROUP BY query_id),
            cand AS (SELECT h.* FROM h JOIN latest
                       ON h.query_id = latest.query_id
                      AND h.run_day = latest.cur_day
                     WHERE price IS NOT NULL
                       AND coalesce(lower(match_kind), '') <> 'family')
            SELECT query_id, price AS current_price,
                   currency AS current_currency,
                   availability AS current_availability,
                   original_price AS current_original_price,
                   verified AS current_price_verified,
                   retailer_name, product_url
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY verified DESC, price ASC,
                             product_url ASC NULLS FIRST, event_id ASC)
                      AS rn
                  FROM cand) WHERE rn = 1""",
        "price_drop_alerts": f"""
            WITH ph AS ({_ph_sql}),
            nt AS (SELECT max(scraped_at) AS now_ts FROM ph),
            h0 AS (SELECT ph.*, now_ts, {_ph_dom} AS dom
                   FROM ph CROSS JOIN nt),
            h AS (SELECT * FROM h0
                  WHERE price IS NOT NULL AND dom IS NOT NULL),
            cur AS (SELECT query_id, dom,
                           list_sort(list(price)) AS vals,
                           min(retailer_name) AS retailer_name
                    FROM h WHERE scraped_at >= now_ts - INTERVAL 7 DAY
                    GROUP BY query_id, dom),
            prev AS (SELECT query_id, dom,
                            list_sort(list(price)) AS vals
                     FROM h
                     WHERE scraped_at >= now_ts - INTERVAL 14 DAY
                       AND scraped_at < now_ts - INTERVAL 7 DAY
                     GROUP BY query_id, dom),
            cm AS (SELECT query_id, dom, retailer_name,
                          {_dmed('vals')} AS current_median FROM cur),
            pm AS (SELECT query_id, dom,
                          {_dmed('vals')} AS previous_median FROM prev),
            j AS (SELECT cm.query_id, cm.dom, cm.retailer_name,
                         current_median, previous_median
                  FROM cm JOIN pm ON cm.query_id = pm.query_id
                                 AND cm.dom = pm.dom
                  WHERE previous_median > 0
                    AND current_median IS NOT NULL)
            SELECT query_id, dom AS retailer_domain,
                   coalesce(retailer_name, dom) AS retailer_name,
                   current_median, previous_median,
                   (previous_median - current_median) / previous_median
                     * 100.0 AS delta_pct
            FROM j
            WHERE (previous_median - current_median) / previous_median
                    * 100.0 >= 10.0""",
        "price_brand_index": f"""
            WITH ph AS ({_ph_sql}),
            h AS (SELECT ph.*, {_ph_dom} AS dom FROM ph)
            SELECT brand, dom AS retailer_domain, country_code,
                   count(*) AS hit_count
            FROM h
            WHERE coalesce(lower(match_kind), '')
                    NOT IN ('family', 'mismatch')
              AND dom IS NOT NULL
            GROUP BY brand, dom, country_code""",
        "template_strip": f"""
            WITH d AS ({_lined_docs_sql}),
            l AS (SELECT doc_id, domain, unnest(ls) AS line,
                         generate_subscripts(ls, 1) AS pos
                  FROM (SELECT doc_id, source AS domain,
                               string_split(text, chr(10)) AS ls FROM d)),
            lk AS (SELECT *, md5(lower(trim(line))) AS key FROM l),
            dd AS (SELECT source AS domain,
                          count(DISTINCT doc_id) AS n_docs
                   FROM d GROUP BY source),
            fr AS (SELECT domain, key, count(*) AS doc_freq
                   FROM (SELECT DISTINCT domain, key, doc_id FROM lk)
                   GROUP BY domain, key),
            bo AS (SELECT fr.domain, key FROM fr JOIN dd
                     ON fr.domain = dd.domain
                   WHERE n_docs >= 5 AND doc_freq >= 2
                     AND doc_freq * 100 >= 50 * n_docs),
            kept AS (SELECT lk.* FROM lk LEFT JOIN bo
                       ON lk.domain = bo.domain AND lk.key = bo.key
                     WHERE bo.key IS NULL),
            pd AS (SELECT doc_id, count(*) AS n_lines
                   FROM lk GROUP BY doc_id),
            rb AS (SELECT doc_id, count(*) AS n_kept,
                          string_agg(line, chr(10) ORDER BY pos)
                            AS cleaned_text
                   FROM kept GROUP BY doc_id)
            SELECT pd.doc_id, n_lines, coalesce(n_kept, 0) AS n_kept,
                   coalesce(cleaned_text, '') AS cleaned_text
            FROM pd LEFT JOIN rb ON pd.doc_id = rb.doc_id""",
        "template_stats": f"""
            WITH d AS ({_lined_docs_sql}),
            l AS (SELECT doc_id, domain, unnest(ls) AS line
                  FROM (SELECT doc_id, source AS domain,
                               string_split(text, chr(10)) AS ls FROM d)),
            lk AS (SELECT doc_id, domain,
                          md5(lower(trim(line))) AS key FROM l),
            dd AS (SELECT source AS domain,
                          count(DISTINCT doc_id) AS n_docs
                   FROM d GROUP BY source),
            fr AS (SELECT domain, key, count(*) AS doc_freq
                   FROM (SELECT DISTINCT domain, key, doc_id FROM lk)
                   GROUP BY domain, key)
            SELECT fr.domain, min(n_docs) AS n_docs,
                   count(*) AS n_distinct_lines,
                   count(CASE WHEN n_docs >= 5 AND doc_freq >= 2
                              AND doc_freq * 100 >= 50 * n_docs
                         THEN 1 END) AS n_template_lines
            FROM fr JOIN dd ON fr.domain = dd.domain
            GROUP BY fr.domain""",
        "quality_classifier": f"""
            WITH {_clf_base_sql}
            , s AS (SELECT doc_id, count(*) AS n_tokens,
                           sum(coalesce(weight_micro, 0)) AS w_sum
                    FROM tok LEFT JOIN w USING (token) GROUP BY doc_id)
            SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
                   CAST(CASE WHEN coalesce(n_tokens, 0) > 0
                        THEN w_sum // n_tokens ELSE 0 END AS BIGINT)
                     AS score_micro,
                   CASE WHEN coalesce(n_tokens, 0) > 0
                        THEN w_sum // n_tokens ELSE 0 END >= 200 AS keep
            FROM d LEFT JOIN s USING (doc_id)""",
        "tfidf_terms": f"""
            WITH {_clf_base_sql}
            , tf AS (SELECT doc_id, token, count(*) AS tf
                     FROM tok GROUP BY doc_id, token),
            sc AS (SELECT doc_id, token, tf,
                          tf * weight_micro AS score_micro
                   FROM tf JOIN w USING (token))
            SELECT doc_id, rank, token, tf, score_micro FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY score_micro DESC, token ASC) AS rank
              FROM sc) WHERE rank <= 5""",
        "mention_trending": f"""
            WITH mn AS ({_mn_sql}), subj AS ({_mn_subj_sql}),
            {_mn_trend_ctes}
            SELECT subject_id, rank, phrase, mention_count,
                   priority_score
            FROM trend""",
        "mention_outlets": f"""
            WITH mn AS ({_mn_sql}),
            {_mn_outlet_ctes}
            SELECT subject_id, rank, domain, outlet_name, outlet_type,
                   mention_count, warm, priority_score
            FROM outl""",
        "mention_authors": f"""
            WITH mn AS ({_mn_sql}),
            {_mn_author_ctes}
            SELECT subject_id, rank, author_key, display_name,
                   outlet_domain, mention_count, priority_score
            FROM auth""",
        "mention_sentiment": f"""
            WITH mn AS ({_mn_sql}),
            {_mn_sent_ctes}
            SELECT subject_id, rank, mention_id, title, outlet_domain,
                   url, priority_score
            FROM sent""",
        "mention_feed": f"""
            WITH mn AS ({_mn_sql}), subj AS ({_mn_subj_sql}),
            {_mn_trend_ctes},
            {_mn_outlet_ctes},
            {_mn_author_ctes},
            {_mn_sent_ctes},
            unioned AS (
              SELECT subject_id, 'trending_topic' AS type,
                     phrase AS title, priority_score, rank FROM trend
              UNION ALL
              SELECT subject_id, 'outlet_pitch', outlet_name,
                     priority_score, rank FROM outl
              UNION ALL
              SELECT subject_id, 'author_relationship', display_name,
                     priority_score, rank FROM auth
              UNION ALL
              SELECT subject_id, 'sentiment_response', title,
                     priority_score, rank FROM sent)
            SELECT subject_id, feed_rank, type, title, priority_score
            FROM (SELECT *, row_number() OVER (PARTITION BY subject_id
                      ORDER BY priority_score DESC, type ASC, rank ASC)
                    AS feed_rank FROM unioned)""",
        "identity_url_prefilter": f"""
            WITH b AS ({_id_base_sql}),
            cand AS (SELECT id,
                CASE WHEN id % 13 = 0 THEN ''
                     WHEN id % 13 = 1 THEN 'not a url'
                     WHEN id % 13 = 2 THEN 'https://shop.example.com/'
                     WHEN id % 13 = 3
                       THEN 'https://shop.example.com/search?q=x'
                     WHEN id % 13 = 4
                       THEN 'https://shop.example.com/p/item?ibp=oshop'
                     WHEN id % 13 = 5
                       THEN 'https://bestprice.gr/to/12345'
                     WHEN id % 13 = 6
                       THEN 'https://shop.example.com/p/ab'
                     WHEN id % 13 = 7 THEN NULL
                     ELSE 'https://www.shop' || CAST(id % 7 AS VARCHAR)
                          || '.example.com/p/long-product-name-'
                          || CAST(id AS VARCHAR)
                END AS product_url,
                CASE WHEN id % 9 = 0 THEN 'BestPrice'
                     WHEN id % 9 = 1 THEN 'Some Shop'
                     WHEN id % 9 = 2 THEN NULL
                     ELSE 'Shop ' || CAST(id % 7 AS VARCHAR)
                END AS retailer_name,
                CASE WHEN id % 10 = 0 THEN 'dataforseo'
                     WHEN id % 10 = 1 THEN 'skroutz'
                     ELSE 'perplexity' END AS source
              FROM b),
            parsed AS (SELECT *, {_id_path} AS path, {_id_host} AS host,
                              {_id_qs} AS qs,
                              regexp_replace(regexp_replace(
                                  lower(retailer_name), '\\s+', '', 'g'),
                                  '\\.', '', 'g') AS rguess,
                              {_id_trust_sql} AS trusted
                       FROM cand),
            enr AS (SELECT *, {_id_listing} AS listing,
                           {_id_agg_case} AS agg,
                           list_filter(string_split(path, '/'),
                                       p -> p <> '')[-1] AS last_seg
                    FROM parsed),
            verd AS (SELECT id, product_url, source,
                CASE WHEN product_url IS NULL
                          OR trim(product_url) = '' THEN 'empty URL'
                     WHEN host = '' THEN 'no host'
                     WHEN NOT trusted AND (path = '' OR path = '/')
                       THEN 'homepage URL'
                     WHEN NOT trusted AND listing IS NOT NULL
                       THEN listing
                     WHEN NOT trusted AND (contains(qs, 'ibp=oshop')
                          OR contains(qs, 'tbm=shop'))
                       THEN 'Google Shopping SERP URL'
                     WHEN NOT trusted AND agg IS NOT NULL THEN agg
                     WHEN NOT trusted AND last_seg IS NOT NULL
                          AND length(last_seg) < 4
                       THEN 'URL slug too short'
                END AS drop_reason FROM enr)
            SELECT id, product_url, source,
                   drop_reason IS NULL AS keep, drop_reason
            FROM verd""",
        "identity_slug_tokens": f"""
            WITH b AS ({_id_base_sql}),
            c AS (SELECT id,
                'https://www.shop' || CAST(id % 7 AS VARCHAR)
                  || '.example.com/p/' || w0 || '-' || w1
                  || (CASE WHEN id % 6 = 0
                           THEN '-p' || CAST(id AS VARCHAR) ELSE '' END)
                  || (CASE WHEN id % 4 = 0 THEN '.html' ELSE '' END)
                  AS product_url
              FROM b),
            p AS (SELECT id, product_url, {_id_path} AS path FROM c)
            SELECT id, product_url, {_id_slug_join} AS slug_tokens
            FROM p""",
        "identity_rule_verdict": f"""
            WITH b AS ({_id_base_sql}),
            c AS (SELECT id,
                CASE WHEN id % 11 = 0 THEN CAST([] AS VARCHAR[])
                     ELSE [w0, w1, brand_tok] END AS required_tokens,
                CASE WHEN id % 3 = 0 THEN ['P' || CAST(id AS VARCHAR)]
                     ELSE CAST([] AS VARCHAR[]) END AS sku_tokens,
                CASE WHEN id % 5 = 0 THEN NULL
                     WHEN id % 5 = 1 THEN w0
                     WHEN id % 5 = 2 THEN 'totally unrelated'
                     WHEN id % 5 = 3 THEN concat_ws(' ', w0, w1,
                                                    brand_tok)
                     ELSE concat_ws(' ', w0, w1) END AS product_name,
                'https://www.shop' || CAST(id % 7 AS VARCHAR)
                  || '.example.com'
                  || (CASE WHEN id % 5 = 0 AND id % 2 = 1 THEN '/'
                       ELSE '/p/'
                            || (CASE WHEN id % 6 = 0
                                     THEN 'p' || CAST(id AS VARCHAR)
                                     ELSE 'item' END)
                            || (CASE WHEN id % 4 = 0 THEN '.html'
                                     ELSE '' END) END) AS product_url
              FROM b),
            pp AS (SELECT *, {_id_path} AS path FROM c),
            n AS (SELECT *,
                list_distinct(list_filter(list_transform(
                    required_tokens, t -> {_id_norm('t')}),
                    t -> t <> '')) AS req,
                list_distinct(list_filter(list_transform(
                    sku_tokens, t -> {_id_norm('t')}),
                    t -> t <> '')) AS sk,
                {_id_slug_join} AS slug,
                coalesce(product_name, '') AS nm
              FROM pp),
            h AS (SELECT *,
                {_id_norm("concat_ws(' ', nm, slug)")} AS hay,
                (nm = '' AND slug = '') AS no_identity
              FROM n),
            h2 AS (SELECT *,
                len(list_filter(sk, t -> contains(hay, t))) > 0
                  AS sku_hit,
                len(list_filter(req, t -> contains(hay, t)))
                  AS req_hits
              FROM h)
            SELECT id,
              CASE WHEN len(req) = 0 AND len(sk) = 0 THEN 'unverifiable'
                   WHEN no_identity THEN 'unverifiable'
                   WHEN len(sk) > 0 AND sku_hit THEN 'exact'
                   WHEN len(sk) > 0 AND len(req) > 0
                        AND req_hits = len(req) THEN 'family'
                   WHEN len(sk) > 0 THEN 'mismatch'
                   WHEN len(req) > 0 AND req_hits = len(req)
                     THEN 'exact'
                   WHEN req_hits > 0 THEN 'family'
                   ELSE 'mismatch' END AS match_kind,
              CASE WHEN len(req) = 0 AND len(sk) = 0 THEN 50
                   WHEN no_identity THEN 40
                   WHEN len(sk) > 0 AND sku_hit THEN 95
                   WHEN len(sk) > 0 AND len(req) > 0
                        AND req_hits = len(req) THEN 55
                   WHEN len(sk) > 0 THEN 20
                   WHEN len(req) > 0 AND req_hits = len(req) THEN 90
                   WHEN req_hits > 0 THEN 55
                   ELSE 20 END AS match_score,
              CASE WHEN len(req) = 0 AND len(sk) = 0
                     THEN 'no_required_tokens'
                   WHEN no_identity THEN 'no_page_identity'
                   WHEN len(sk) > 0 AND sku_hit THEN 'sku_anchor'
                   WHEN len(sk) > 0 AND len(req) > 0
                        AND req_hits = len(req)
                     THEN 'same_series_different_sku'
                   WHEN len(sk) > 0 THEN 'sku_not_found'
                   WHEN len(req) > 0 AND req_hits = len(req)
                     THEN 'all_required_tokens'
                   WHEN req_hits > 0 THEN 'partial_token_match'
                   ELSE 'required_not_found' END AS match_basis
            FROM h2""",
        "match_plausibility": f"""
            WITH b AS ({_id_base_sql}),
            c AS (SELECT id,
                CASE WHEN id % 17 = 0 THEN 'x cm set'
                     ELSE p_name END AS query_text,
                CASE WHEN id % 4 = 0 THEN p_name
                     WHEN id % 4 = 1 THEN w0 || ' thing'
                     WHEN id % 4 = 2 THEN 'different object'
                     ELSE NULL END AS product_name,
                CASE WHEN id % 4 = 3
                     THEN 'https://m.example.com/p/' || w1 || '-deal'
                     ELSE 'https://m.example.com/p/nothing-here'
                END AS product_url
              FROM b),
            p2 AS (SELECT *, {_id_path} AS path FROM c),
            t AS (SELECT id, {_id_mtok('query_text')} AS q,
                         list_sort(list_distinct(
                             {_id_mtok('path')}
                             || {_id_mtok('product_name')})) AS cand
                  FROM p2)
            SELECT id, len(q) AS query_token_count,
                   len(list_intersect(q, cand)) AS overlap_count,
                   CASE WHEN len(q) = 0 THEN true
                        WHEN len(cand) = 0 THEN false
                        ELSE len(list_intersect(q, cand)) / len(q)
                             >= 0.30 END AS plausible
            FROM t""",
        "product_chunk_gate": f"""
            WITH ch AS ({_pd_chunks_sql}),
            base AS (SELECT id, content AS raw, lower(content) AS c
                     FROM ch),
            f AS (SELECT *,
               {_pd_any('c', _pd.PRODUCT_SOFT_KW)} AS soft,
               (contains(c, '×') OR contains(c, 'x ')
                OR contains(c, 'cm') OR contains(c, 'mm')) AS has_dims,
               {_pd_any('c', _pd.PRODUCT_CONTEXT_KW)} AS has_ctx,
               {_pd_any('c', _pd.TECH_SPEC_KW)} AS has_tech,
               {_pd_upper('c', 2)} AS up_ref,
               {_pd_upper('raw', 2)} AS up_fixed,
               len(string_split(c, chr(10))) - 1 > 20 AS many_lines
              FROM base),
            g AS (SELECT *,
               CASE WHEN length(c) < 100 THEN 'short'
                    WHEN {_pd_any('c', _pd.INDEX_KW)} THEN 'index_toc'
                    WHEN {_pd_any('c', _pd.SUSTAIN_KW)} AND NOT soft
                      THEN 'sustainability'
                    WHEN {_pd_any('c', _pd.CERT_KW)} AND NOT soft
                      THEN 'certification'
                    WHEN {_pd_any('c', _pd.TECH_TABLE_KW)}
                         AND (contains(c, '|') OR many_lines)
                      THEN 'tech_table'
                    WHEN {_pd_any('c', _pd.MOOD_KW)}
                         AND NOT (contains(c, '×')
                                  OR contains(c, 'dimensions')
                                  OR contains(c, 'designer')
                                  OR contains(c, 'cm')
                                  OR contains(c, 'mm'))
                      THEN 'moodboard'
                    WHEN {_pd_any('c', _pd.CLEAN_KW)}
                         AND (NOT (contains(c, '×')
                                   OR contains(c, 'cm')
                                   OR contains(c, 'mm'))
                              OR contains(c, 'not applicable')
                              OR contains(c, 'guidance documentation'))
                      THEN 'cleaning'
                    WHEN {_pd_any('c', _pd.GENERIC_KW)}
                         AND length(c) < 200 THEN 'generic'
                    WHEN {_pd_any('c', _pd.BIO_KW)} THEN 'designer_bio'
                    WHEN {_pd_any('c', _pd.FACTORY_KW)} THEN 'factory'
                    WHEN has_tech AND NOT up_fixed THEN 'tech_no_name'
                    WHEN (CAST(up_fixed AS INT) + CAST(has_dims AS INT)
                          + CAST(has_ctx AS INT)) < 3
                      THEN 'insufficient_indicators'
               END AS reject_reason FROM f)
            SELECT id, reject_reason,
                   reject_reason IS NULL AS valid_fixed,
                   (reject_reason IS NULL
                    OR reject_reason = 'insufficient_indicators')
                   AND NOT (length(c) < 100)
                   AND (CAST(up_ref AS INT) + CAST(has_dims AS INT)
                        + CAST(has_ctx AS INT)) >= 3 AS valid_ref
            FROM g""",
        "product_markdown_classify": f"""
            WITH ch AS ({_pd_chunks_sql}),
            base AS (SELECT id, content AS raw, lower(content) AS c
                     FROM ch),
            f AS (SELECT *,
               len(string_split(c, 'page')) - 1 AS page_count,
               {_pd_upper('raw', 1)} AS up_words,
               (contains(raw, '×') OR contains(raw, 'x')
                OR contains(raw, 'cm') OR contains(raw, 'mm'))
                 AS has_dims,
               {_pd_any('c', ['designer', 'collection', 'material',
                              'ceramic', 'porcelain', 'tile'])}
                 AS has_ctx
              FROM base)
            SELECT id,
              CASE WHEN contains(c, 'table of contents')
                        OR (contains(c, 'index') AND page_count > 1)
                        OR contains(c, 'contents')
                        OR page_count > 2
                        OR contains(raw, '...') THEN 'index'
                   WHEN {_pd_any('c', ['sustainability', 'certification',
                                       'environmental', 'eco-friendly',
                                       'carbon footprint', 'recycled',
                                       'leed', 'greenguard'])}
                        AND NOT {_pd_any('c', ['dimensions', 'designer',
                                               'collection'])}
                     THEN 'sustainability'
                   WHEN {_pd_any('c', ['technical characteristics',
                                       'specifications',
                                       'technical data', 'properties',
                                       'fire rating', 'weight per'])}
                        AND (contains(raw, '|')
                             OR contains(c, 'thickness'))
                        AND NOT {_pd_any('c', ['designer',
                                               'collection'])}
                     THEN 'technical'
                   WHEN {_pd_any('c', ['moodboard', 'mood board',
                                       'inspiration',
                                       'collection overview'])}
                        AND NOT {_pd_any('c', ['dimensions',
                                               'designer'])}
                     THEN 'moodboard'
                   WHEN up_words AND has_dims
                        AND (has_ctx OR length(raw) > 200)
                     THEN 'product'
                   ELSE 'unknown' END AS content_class
            FROM f""",
        "product_markdown_mine": f"""
            WITH ch AS ({_pd_chunks_sql}),
            base AS (SELECT id, content AS raw FROM ch),
            m1 AS (SELECT *,
               (regexp_matches(raw, '{_pd_name_re}')
                OR regexp_matches(raw, '{_pd_line_re}')
                OR regexp_matches(raw, '{_pd_any_re}'))
                 AS has_product_name,
               regexp_matches(raw, '{_pd_dims_re}') AS has_dimensions,
               regexp_matches(raw, '{_pd_desg_re}')
                 AS has_designer_attribution,
               (length(raw) > 100 AND regexp_matches(raw,
                   '(?i)material|texture|finish|color|collection'))
                 AS has_product_description,
               coalesce(nullif(regexp_extract(raw, '{_pd_name_g}', 1),
                               ''),
                        nullif(regexp_extract(raw, '{_pd_line_g}', 1),
                               ''),
                        nullif(regexp_extract(raw, '{_pd_any_g}', 1),
                               '')) AS product_name,
               coalesce(array_to_string(regexp_extract_all(raw,
                   '{_pd_dims_re}', 0), '; '), '') AS dimensions,
               trim(CASE
                 WHEN regexp_extract(raw, '{_pd_desg_g}', 1) <> ''
                   THEN regexp_extract(raw, '{_pd_desg_g}', 1)
                 WHEN regexp_extract(raw, '{_pd_desg_g}', 2) <> ''
                   THEN regexp_extract(raw, '{_pd_desg_g}', 2)
               END) AS designer,
               coalesce(array_to_string(list_sort(list_distinct(
                   list_transform(regexp_extract_all(raw,
                       '{_pd_color_re}', 0), x -> lower(x)))), ','),
                   '') AS colors,
               coalesce(array_to_string(list_sort(list_distinct(
                   list_transform(regexp_extract_all(raw,
                       '{_pd_mat_re}', 0), x -> lower(x)))), ','),
                   '') AS materials
              FROM base),
            m2 AS (SELECT *,
               (CASE WHEN has_product_name THEN 0.3 ELSE 0.0 END
                + CASE WHEN has_dimensions THEN 0.25 ELSE 0.0 END
                + CASE WHEN has_designer_attribution THEN 0.2
                       ELSE 0.0 END
                + CASE WHEN has_product_description THEN 0.15
                       ELSE 0.0 END
                + CASE WHEN product_name IS NOT NULL
                            AND length(product_name) > 2 THEN 0.1
                       ELSE 0.0 END
                + CASE WHEN dimensions <> '' THEN 0.1 ELSE 0.0 END
                + CASE WHEN designer IS NOT NULL AND designer <> ''
                       THEN 0.1 ELSE 0.0 END
                + CASE WHEN colors <> '' THEN 0.05 ELSE 0.0 END
                + CASE WHEN materials <> '' THEN 0.05 ELSE 0.0 END)
                 AS s0 FROM m1),
            m3 AS (SELECT *,
               CASE WHEN length(raw) < 100 THEN s0 * 0.5 ELSE s0 END
                 AS s1 FROM m2),
            m4 AS (SELECT *,
               CASE WHEN contains(lower(raw), 'page')
                         AND len(regexp_extract_all(raw, '\\d+', 0)) > 3
                    THEN s1 * 0.3 ELSE s1 END AS s2 FROM m3)
            SELECT id, has_product_name, has_dimensions,
                   has_designer_attribution, has_product_description,
                   product_name, dimensions, designer, colors,
                   materials, least(1.0, s2) AS quality_score
            FROM m4""",
        "dims_parse_first": f"""
            WITH t AS ({_dm_text_sql}),
            p AS (SELECT id, content,
                         regexp_extract(content, '{_dm.P3D}', 0) AS r3,
                         regexp_extract(content, '{_dm.P2D}', 0) AS r2,
                         regexp_extract(content, '{_dm.P1D}', 0) AS r1
                  FROM t)
            SELECT id,
              CASE WHEN r3 <> '' THEN
                     CAST(regexp_extract(content, '{_dm.P3D}', 1)
                          AS DOUBLE)
                   WHEN r2 <> '' THEN
                     CAST(regexp_extract(content, '{_dm.P2D}', 1)
                          AS DOUBLE)
                   WHEN r1 <> '' THEN
                     CAST(regexp_extract(content, '{_dm.P1D}', 1)
                          AS DOUBLE) END AS width,
              CASE WHEN r3 <> '' THEN
                     CAST(regexp_extract(content, '{_dm.P3D}', 2)
                          AS DOUBLE)
                   WHEN r2 <> '' THEN
                     CAST(regexp_extract(content, '{_dm.P2D}', 2)
                          AS DOUBLE) END AS height,
              CASE WHEN r3 <> '' THEN
                     CAST(regexp_extract(content, '{_dm.P3D}', 3)
                          AS DOUBLE) END AS depth,
              CASE WHEN r3 <> '' THEN
                     {_dm_unit(f"regexp_extract(content, '{_dm.P3D}', 4)")}
                   WHEN r2 <> '' THEN
                     {_dm_unit(f"regexp_extract(content, '{_dm.P2D}', 3)")}
                   WHEN r1 <> '' THEN
                     lower(regexp_extract(content, '{_dm.P1D}', 2))
              END AS unit,
              CASE WHEN r3 <> '' THEN r3 WHEN r2 <> '' THEN r2
                   WHEN r1 <> '' THEN r1 END AS raw_text
            FROM p""",
        "dims_extract_all": f"""
            WITH t AS ({_dm_text_sql}),
            u AS ({_dm_tier(_dm.P3D, 3, 0)}
                  UNION ALL
                  {_dm_tier(_dm.P2D, 2, 1)}),
            d AS (SELECT * FROM u
                  QUALIFY row_number() OVER (
                    PARTITION BY id, width, height, depth, unit
                    ORDER BY tier, pos) = 1)
            SELECT id,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY tier, pos) AS seq,
                   width, height, depth, unit, raw_text
            FROM d""",
        # duplicate-detection twin. SequenceMatcher.ratio is computed
        # closed-form: the synthesized name/description/metadata values
        # are prefix+distinct-tail families (tail chars never occur in
        # the base), so the longest matching block IS the common prefix
        # and ratio = 2*prefix_len/(len1+len2). The arithmetic shapes
        # (division order, two-term sums) mirror the Python evaluation
        # exactly so the doubles are bit-identical.
        "dup_detect_scores": """
            WITH p AS (
              SELECT p_partkey AS id, p_partkey % 400 AS g,
                     p_partkey % 3 AS r3, p_partkey % 2 AS r2,
                     p_partkey % 4 AS r4, p_partkey % 8 AS r8,
                     (p_partkey % 5) % 3 AS d3, p_partkey % 11 AS r11,
                     length('collection item '
                            || CAST(p_partkey % 400 AS VARCHAR))
                       AS nb,
                     length('a long description of surface pattern '
                            || 'number '
                            || CAST(p_partkey % 400 AS VARCHAR))
                       AS db
              FROM part),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     'fact' || CAST(a.g AS VARCHAR) AS factory,
                     a.r3 AS a3, b.r3 AS b3, a.r2 AS a2, b.r2 AS b2,
                     a.r4 AS a4, b.r4 AS b4, a.r8 AS a8, b.r8 AS b8,
                     a.d3 AS ad, b.d3 AS bd, a.r11 AS a11, b.r11 AS b11,
                     a.nb AS nb, a.db AS db
              FROM p a JOIN p b ON a.g = b.g AND a.id < b.id),
            s AS (
              SELECT *,
                CASE WHEN a3 = b3 THEN 1.0
                     ELSE 2.0 * (nb + CASE WHEN a3 > 0 AND b3 > 0
                                           THEN 1 ELSE 0 END)
                          / ((nb + CASE WHEN a3 > 0 THEN 2 ELSE 0 END)
                             + (nb + CASE WHEN b3 > 0 THEN 2
                                          ELSE 0 END))
                END AS name_similarity,
                CASE WHEN a11 = 0 OR b11 = 0 THEN 0.0
                     WHEN ad = bd THEN 1.0
                     ELSE 2.0 * (db + CASE WHEN ad > 0 AND bd > 0
                                           THEN 1 ELSE 0 END)
                          / ((db + CASE WHEN ad > 0 THEN 2 ELSE 0 END)
                             + (db + CASE WHEN bd > 0 THEN 2
                                          ELSE 0 END))
                END AS description_similarity,
                -- color ratio when tails differ: 2*10/22 > 0.8 -> +0.8
                -- finish ratio when tails differ: 2*3/8 <= 0.8 -> +0
                CASE
                  WHEN a2 = 1 AND b2 = 1 THEN
                    ((1 / 1) + ((CASE WHEN a4 = b4 THEN 1.0
                                      ELSE 0.8 END) / 1)) / 2
                  WHEN a2 = 0 AND b2 = 0 THEN
                    ((2 / 2) + (((CASE WHEN a4 = b4 THEN 1.0
                                       ELSE 0.8 END)
                                 + (CASE WHEN a8 = b8 THEN 1.0
                                         ELSE 0.0 END)) / 2)) / 2
                  ELSE ((1 / 2) + (0.8 / 2)) / 2
                END AS metadata_similarity
              FROM pairs),
            w AS (
              SELECT *, 0.5 * name_similarity
                        + 0.3 * description_similarity
                        + 0.2 * metadata_similarity AS overall_score
              FROM s)
            SELECT id_a, id_b, factory, name_similarity,
                   description_similarity, metadata_similarity,
                   overall_score,
                   CASE WHEN overall_score >= 0.85 THEN 'high'
                        WHEN overall_score >= 0.70 THEN 'medium'
                        WHEN overall_score >= 0.55 THEN 'low'
                        ELSE 'very_low' END AS confidence
            FROM w""",
        "material_category_norm": f"""
            WITH t AS (SELECT p_partkey AS id,
                              {_mn_raws}[CAST(p_partkey % 16 AS INT) + 1]
                                AS raw
                       FROM part),
            n AS (SELECT *, lower(regexp_replace(raw,
                      '^\\s+|\\s+$', '', 'g')) AS normalized FROM t),
            m AS (SELECT *, {_mn_map_case} AS mapped FROM n),
            b AS (SELECT *,
                    COALESCE(mapped,
                      CASE WHEN contains(normalized, '_')
                                OR normalized IN ({_mn_slugs})
                           THEN normalized
                           ELSE {_mn_title} END) AS base
                  FROM m)
            SELECT id, raw,
                   CASE WHEN raw IS NULL OR raw = '' THEN NULL
                        ELSE base END AS category,
                   CASE WHEN raw IS NULL OR raw = '' THEN NULL
                        WHEN contains(base, 'tile')
                        THEN {_mn_comp_case} END AS composition
            FROM b""",
        "factory_keys_norm": f"""
            WITH t AS (SELECT p_partkey AS id,
                              CAST(p_partkey AS VARCHAR) AS sid
                       FROM part),
            v AS (SELECT id,
                    CASE WHEN id % 4 = 0 THEN 'maker' || sid
                         WHEN id % 4 = 1 THEN 'n/a'
                         WHEN id % 4 = 2 THEN 'Not Found' END AS fn0,
                    CASE WHEN id % 3 = 0 THEN 'mfg' || sid
                         WHEN id % 3 = 1 THEN 'unknown' END AS man,
                    CASE WHEN id % 5 = 0 THEN 'brand' || sid END AS brd,
                    CASE WHEN id % 7 = 0 THEN 'sup' || sid END AS sup,
                    CASE WHEN id % 2 = 0 THEN 'flat' || sid END AS fac,
                    CASE WHEN id % 6 = 0 THEN 'grp' || sid
                         WHEN id % 6 = 1 THEN '-' END AS fg0,
                    CASE WHEN id % 2 = 1 THEN 'fg' || sid END AS fgv,
                    CASE WHEN id % 3 = 2 THEN 'keep' END AS oth
                  FROM t),
            r AS (SELECT *,
                    COALESCE(CASE WHEN NOT {_mn_nf('man')} THEN man END,
                             CASE WHEN NOT {_mn_nf('brd')} THEN brd END,
                             CASE WHEN NOT {_mn_nf('sup')} THEN sup END,
                             CASE WHEN NOT {_mn_nf('fac')} THEN fac END)
                      AS repl_fn,
                    CASE WHEN NOT {_mn_nf('fgv')} THEN fgv END
                      AS repl_fg
                  FROM v)
            SELECT id,
                   CASE WHEN {_mn_nf('fn0')} AND repl_fn IS NOT NULL
                        THEN repl_fn ELSE fn0 END AS factory_name,
                   CASE WHEN {_mn_nf('fg0')} AND repl_fg IS NOT NULL
                        THEN repl_fg ELSE fg0 END AS factory_group_name,
                   COALESCE(CASE WHEN oth IS NOT NULL
                                 THEN 'other=' || oth END, '')
                     AS kept_csv
            FROM r""",
        "commercial_consolidate": """
            WITH t AS (SELECT p_partkey AS id,
                              CAST(p_partkey AS VARCHAR) AS sid
                       FROM part),
            raw AS (SELECT id,
                CASE WHEN id % 7 <> 0
                     THEN 'Pród' || sid END AS pname,
                ['sku_white', 'sku_fold_white', 'sku_tri_fold_blue',
                 'sku_codes', 'sku_PROD' || sid || ' MINT/12X45',
                 'sku_alien_blue_30x60', 'grout_color_code_white_mapei',
                 'grout_color_light_code', 'product_code',
                 'format_code', 'other'] AS ks,
                ['W' || sid,
                 CASE WHEN id % 2 = 0 THEN 'FW' || sid END,
                 CASE WHEN id % 3 = 0 THEN 'B' || sid END,
                 CASE WHEN id % 5 = 0 THEN 'passthru' END,
                 CASE WHEN id % 2 = 1 THEN 'PM' || sid END,
                 CASE WHEN id % 4 = 0 THEN 'AL' || sid END,
                 CASE WHEN id % 3 = 1 THEN 'GW' || sid END,
                 CASE WHEN id % 3 = 2 THEN 'GL' || sid END,
                 'P' || sid,
                 CASE WHEN id % 2 = 0 THEN 'P' || sid
                      ELSE 'Q' || sid END,
                 'o'] AS vs
              FROM t),
            e0 AS (SELECT id, pname,
                          unnest(range(1, length(ks)+1)) AS pos,
                          unnest(ks) AS k, unnest(vs) AS v
                   FROM raw),
            e AS (SELECT * FROM e0 WHERE v IS NOT NULL),
            c AS (SELECT *,
                starts_with(k, 'sku_')
                  AND k NOT IN ('sku_codes', 'sku_variants') AS is_sku,
                starts_with(k, 'grout_color_') AND contains(k, 'code')
                  AS is_grout,
                starts_with(k, 'product_code')
                  OR starts_with(k, 'format_code')
                  OR starts_with(k, 'reference_code') AS is_pcode,
                replace(replace(replace(replace(k, 'sku_', ''),
                    'fold_', ''), 'tri_fold_', ''), 'ona_', '')
                  AS sku_color,
                replace(replace(replace(replace(k, 'grout_color_', ''),
                    '_code', ''), '_mapei', ''), '_kerakoll', '')
                  AS gparts
              FROM e),
            sku0 AS (SELECT id, pname, pos, v, sku_color AS color
                     FROM c WHERE is_sku),
            skuf AS (SELECT * FROM sku0 WHERE pname IS NULL OR (
                CASE WHEN NOT (contains(color, '/') AND
                               contains(string_split(color, '/')[1],
                                        ' '))
                          AND NOT (contains(color, '_') AND
                                   length(string_split(color, '_')[1])
                                     >= 3)
                     THEN TRUE
                     ELSE upper(regexp_replace(strip_accents(
                            CASE WHEN contains(color, '/') AND
                                      contains(string_split(color,
                                               '/')[1], ' ')
                                 THEN string_split(string_split(color,
                                      '/')[1], ' ')[1]
                                 ELSE string_split(color, '_')[1] END),
                            '^\\s+|\\s+$', '', 'g'))
                          = upper(regexp_replace(strip_accents(pname),
                                  '^\\s+|\\s+$', '', 'g'))
                END)),
            sku AS (SELECT * FROM skuf QUALIFY row_number() OVER (
                      PARTITION BY id, color ORDER BY pos DESC) = 1),
            grout0 AS (SELECT id, pos, v,
                         CASE WHEN contains(gparts, '_')
                              THEN string_split(gparts, '_')[1]
                              ELSE gparts END AS color
                       FROM c WHERE is_grout),
            grout AS (SELECT * FROM grout0 QUALIFY row_number() OVER (
                        PARTITION BY id, color ORDER BY pos DESC) = 1),
            pc AS (SELECT id, pos, v FROM c WHERE is_pcode
                   QUALIFY row_number() OVER (
                     PARTITION BY id, v ORDER BY pos) = 1),
            snz AS (SELECT id, count(*) AS n FROM sku GROUP BY id),
            kept AS (SELECT c.id, c.k, c.v FROM c LEFT JOIN snz
                       ON c.id = snz.id
                     WHERE NOT is_sku AND NOT is_grout AND NOT is_pcode
                       AND NOT (c.k = 'sku_codes'
                                AND COALESCE(snz.n, 0) > 0)),
            a_sku AS (SELECT id, string_agg(color || '=' || v, ';'
                        ORDER BY color) AS s FROM sku GROUP BY id),
            a_grout AS (SELECT id, string_agg(color || '=' || v, ';'
                        ORDER BY color) AS s FROM grout GROUP BY id),
            a_pc AS (SELECT id, string_agg(v, ';' ORDER BY pos) AS s
                     FROM pc GROUP BY id),
            a_kept AS (SELECT id, string_agg(k || '=' || v, ';'
                        ORDER BY k || '=' || v) AS s
                       FROM kept GROUP BY id)
            SELECT t.id,
                   COALESCE(a_kept.s, '') AS kept_csv,
                   COALESCE(a_sku.s, '') AS sku_csv,
                   COALESCE(a_grout.s, '') AS grout_csv,
                   COALESCE(a_pc.s, '') AS pcodes_csv
            FROM t LEFT JOIN a_kept ON t.id = a_kept.id
                   LEFT JOIN a_sku ON t.id = a_sku.id
                   LEFT JOIN a_grout ON t.id = a_grout.id
                   LEFT JOIN a_pc ON t.id = a_pc.id""",
        "field_standardize": f"""
            WITH t AS (SELECT p_partkey AS id,
                {_mn_vnames}[CAST(p_partkey % {len(_mn_vocab)} AS INT)
                             + 1] AS field_name,
                {_mn_vcats}[CAST(p_partkey % {len(_mn_vocab)} AS INT)
                            + 1] AS category
              FROM part)
            SELECT id, field_name, category,
                   {_mn_std_case} AS standard_field
            FROM t""",
        "search_merge_gate": f"""
            WITH {_sm_pairs_sql}
            SELECT nid AS new_id, sid AS saved_id, rank,
                   round(sim, 6) AS sim6, can_merge, reason
            FROM vr""",
        "search_find_or_merge": f"""
            WITH {_sm_pairs_sql},
            best AS (SELECT * FROM vr WHERE can_merge
                     QUALIFY row_number() OVER (PARTITION BY nid
                       ORDER BY rank) = 1)
            SELECT n.nid AS new_id,
                   CASE WHEN b.nid IS NULL THEN 'create_new'
                        WHEN b.sim >= 0.95 THEN 'auto_merge'
                        ELSE 'suggest' END AS action,
                   b.sid AS existing_id, round(b.sim, 6) AS sim6,
                   b.reason,
                   CASE WHEN b.nid IS NULL THEN NULL
                        WHEN (CASE WHEN (b.nid // 4) % 2 = 0 THEN 2
                                   ELSE 5 END)
                           > (CASE WHEN b.sid % 2 = 0 THEN 3
                                   ELSE 7 END)
                        THEN b.query_n ELSE b.query_e END
                     AS updated_query,
                   COALESCE(CASE WHEN b.nid IS NULL THEN NULL
                     ELSE array_to_string(list_sort(list_distinct(
                       list_concat(
                         CASE b.fc_e WHEN 0 THEN ['grey', 'white']
                              WHEN 1 THEN ['black']
                              ELSE CAST([] AS VARCHAR[]) END,
                         CASE b.fc_n WHEN 0 THEN ['grey']
                              WHEN 1 THEN ['beige']
                              ELSE CAST([] AS VARCHAR[]) END))), ';')
                     END, '') AS merged_colors_csv,
                   CASE WHEN b.nid IS NULL THEN NULL
                        WHEN b.pr_n IN (1, 3) THEN
                          CASE b.pr_e WHEN 1 THEN 100.0
                               WHEN 3 THEN 5000.0 END
                        ELSE least(
                          CASE b.pr_e WHEN 0 THEN 0.0 WHEN 1 THEN 100.0
                               WHEN 3 THEN 5000.0 END,
                          CASE b.pr_n WHEN 0 THEN 150.0
                               ELSE 20.0 END) END AS merged_lo,
                   CASE WHEN b.nid IS NULL THEN NULL
                        WHEN b.pr_n IN (1, 3) THEN
                          CASE b.pr_e WHEN 1 THEN 200.0
                               WHEN 3 THEN 9000.0 END
                        ELSE greatest(
                          CASE b.pr_e WHEN 0 THEN 10000.0
                               WHEN 1 THEN 200.0
                               WHEN 3 THEN 9000.0 END,
                          CASE b.pr_n WHEN 0 THEN 300.0
                               ELSE 30.0 END) END AS merged_hi
            FROM nw n LEFT JOIN best b ON n.nid = b.nid""",
        # --- AI cost-accounting tier (shared lockstep CTEs from
        #     operators/billing: synth + resolution + costing) ---
        "ai_cost_per_call": f"""
            WITH calls AS ({_ai_calls_sql}),
            {_ai_resolution_ctes},
            {_ai_costed_cte}
            SELECT * FROM costed""",
        "ai_cost_rollup": f"""
            WITH calls AS ({_ai_calls_sql}),
            {_ai_resolution_ctes},
            {_ai_costed_cte},
            dedup AS (SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY task, model, job_id, input_tokens,
                                 output_tokens, latency_ms
                    ORDER BY call_id) AS rn
                FROM costed) WHERE rn = 1)
            SELECT task, model,
                   CAST(count(*) AS BIGINT) AS calls,
                   CAST(sum(CASE WHEN action = 'fallback_to_rules'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS fallback_calls,
                   CAST(sum(input_tokens) AS BIGINT) AS input_tokens,
                   CAST(sum(output_tokens) AS BIGINT) AS output_tokens,
                   CAST(sum(raw_cost_pico) AS BIGINT) AS raw_cost_pico,
                   CAST(sum(billed_cost_pico) AS BIGINT)
                       AS billed_cost_pico,
                   CAST(sum(credits_micro) AS BIGINT) AS credits_micro,
                   CAST(sum(latency_ms) AS BIGINT) AS latency_ms_total
            FROM dedup GROUP BY task, model""",
        "ai_cost_multimodal": f"""
            WITH pc AS ({_ai_pages_sql}),
            b AS (SELECT call_id, image_pixels, text_tokens,
                         CAST(CASE WHEN image_pixels > 0 THEN
                              least(greatest(image_pixels, 50000),
                                    2000000) ELSE 0 END AS BIGINT)
                             AS billable_pixels,
                         CAST(greatest(text_tokens, 0) * 120000
                              AS BIGINT) AS text_cost_pico
                  FROM pc)
            SELECT call_id, image_pixels, text_tokens, billable_pixels,
                   text_cost_pico,
                   CAST(billable_pixels * 600 AS BIGINT)
                       AS pixel_cost_pico,
                   CAST(text_cost_pico + billable_pixels * 600
                        AS BIGINT) AS raw_cost_pico,
                   CAST(((text_cost_pico + billable_pixels * 600)
                         * 150) // 100 AS BIGINT) AS billed_cost_pico
            FROM b""",
        # --- job-listing curation gates (lockstep exprs from
        #     operators/jobs.gate_sql_exprs) ---
        "job_listing_gate": f"""
            WITH listings AS ({_jobs.SYNTH_JOB_LISTINGS_SQL}),
            g AS (SELECT hit_id, url, title, company, source,
                         {_jg['is_serp_url']} AS is_serp_url,
                         {_jg['is_category_url']} AS is_category_url,
                         {_jg['is_category_title']} AS is_category_title,
                         {_jg['is_hallucinated_url']}
                             AS is_hallucinated_url,
                         {_jg['is_aggregator_company']}
                             AS is_aggregator_company,
                         {_jg['is_placeholder_company']}
                             AS is_placeholder_company,
                         {_jg['is_missing_company']}
                             AS is_missing_company,
                         {_jg['canonical_url']} AS _canon,
                         {_jg['company_domain']} AS _dom
                  FROM listings),
            v AS (SELECT *,
                         CASE WHEN url IS NULL OR trim(url) = ''
                                   OR NOT (url LIKE 'http://%'
                                           OR url LIKE 'https://%')
                              THEN 'no_url'
                              WHEN is_serp_url OR is_category_url
                              THEN 'category_serp_url'
                              WHEN is_category_title
                              THEN 'category_title'
                              WHEN is_hallucinated_url
                              THEN 'hallucinated_url'
                              WHEN is_aggregator_company
                              THEN 'aggregator_company'
                              WHEN is_placeholder_company
                              THEN 'placeholder_company'
                              ELSE 'keep' END AS verdict,
                         CASE WHEN is_missing_company THEN NULL
                              ELSE company END AS _cclean
                  FROM g)
            SELECT hit_id, url, title, company, source,
                   is_serp_url, is_category_url, is_category_title,
                   is_hallucinated_url, is_placeholder_company,
                   is_missing_company, verdict,
                   CASE WHEN verdict = 'keep' THEN _cclean END
                       AS company_clean,
                   CASE WHEN verdict = 'keep' THEN _canon END
                       AS canonical_url,
                   CASE WHEN verdict = 'keep' THEN _dom END
                       AS company_domain,
                   CASE WHEN verdict = 'keep' THEN
                       md5(coalesce(_canon, '') || '|'
                           || substring(lower(coalesce(title, '')),
                                        1, 200) || '|'
                           || substring(lower(coalesce(_cclean, '')),
                                        1, 80)) END AS content_key
            FROM v""",
        "job_dedupe_hits": f"""
            WITH h AS ({_jobs.SYNTH_DEDUP_HITS_SQL}),
            p AS (SELECT *, {_job_src_prio} AS priority FROM h)
            SELECT hit_id, source, content_key, priority FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY content_key
                    ORDER BY priority DESC, hit_id ASC) AS rn
                FROM p) WHERE rn = 1""",
        "job_query_variations": f"""
            WITH t AS ({_jobs.SYNTH_TRACKED_KEYWORDS_SQL}),
            x AS (SELECT track_id, keyword, location, remote_only,
                         trim(coalesce(keyword, '')) AS base,
                         CASE WHEN trim(coalesce(location, '')) <> ''
                                   AND lower(trim(coalesce(location,
                                       ''))) NOT IN ('remote',
                                       'anywhere', 'worldwide',
                                       'global', 'any')
                              THEN ' ' || trim(coalesce(location, ''))
                              ELSE '' END AS wp,
                         CASE WHEN remote_only THEN ' remote'
                              ELSE '' END AS rs
                  FROM t WHERE trim(coalesce(keyword, '')) <> '')
            SELECT track_id, keyword, location, remote_only,
                   v.variation_idx,
                   CASE v.variation_idx
                        WHEN 0 THEN base || rs || ' jobs' || wp
                        WHEN 1 THEN base || ' careers page' || wp
                        WHEN 2 THEN base || rs || ' hiring' || wp
                        WHEN 3 THEN base || rs || ' job opening' || wp
                        ELSE base || rs || ' apply' || wp
                   END AS query
            FROM x CROSS JOIN (VALUES (0), (1), (2), (3), (4))
                 v(variation_idx)""",
        "job_posted_at_norm": f"""
            WITH hits AS ({_jref.SYNTH_REFRESH_HITS_SQL})
            SELECT tracked_id, hit_ord, posted_at,
                   {_jref.posted_at_norm_sql('posted_at')} AS posted_norm
            FROM hits""",
        "job_refresh_cascade": _jref.cascade_sql(),
        "job_refresh_plan": _jref.plan_sql(),
        "job_feed_fallback": _jref.fallback_plan_sql(),
        "job_source_report": _jref.source_report_sql(),
        "job_source_curation": _jcur.curation_review_sql(),
        "job_curation_summary": _jcur.curation_summary_sql(),
        "merchant_task_plan":
            _dfs.merchant_task_plan_sql(_dfs.SYNTH_REQUESTS_SQL),
        "merchant_poll_outcome":
            _dfs.merchant_poll_outcome_sql(_dfs.SYNTH_POLLS_SQL),
        "merchant_parse_hits": _dfs.merchant_parse_sql(_dfs.SYNTH_ITEMS_SQL),
        "dfs_envelope_costs": _dfs.dfs_envelope_sql(_dfs.SYNTH_RESULTS_SQL),
        "chunk_quality_metrics": _cq.quality_metrics_sql(),
        "chunk_quality_recs": _cq.quality_recommendations_sql(),
        "ai_track_job_summary": _at.job_summary_sql(),
        "ai_track_stage_details": _at.stage_details_sql(),
        "ai_track_model_stats": _at.model_stats_sql(),
        "interior_gen_plan":
            _ig.select_models_sql(_ig.SYNTH_REQUESTS_SQL),
        "interior_model_inputs":
            _ig.model_inputs_plan_sql(_ig.SYNTH_REQUESTS_SQL),
        "interior_result_shape":
            _ig.model_result_shape_sql(_ig.SYNTH_RESULTS_SQL),
        "job_refresh_outcome": f"""
            WITH casc AS ({_jref.cascade_sql()}),
            verd AS ({_jref.SYNTH_VERDICTS_SQL}),
            j AS (SELECT casc.*, verd.relevance
                  FROM casc LEFT JOIN verd
                    ON verd.tracked_id = casc.tracked_id
                   AND verd.hit_ord = casc.hit_ord)
            SELECT tracked_id,
                   CAST(count(*) AS BIGINT) AS discovered,
                   CAST(sum(CASE WHEN disposition NOT IN
                                 ('url_dup', 'role_dup', 'excluded')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS deduped,
                   CAST(sum(CASE WHEN disposition = 'kept'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS candidates,
                   CAST(sum(CASE WHEN disposition = 'kept'
                                 AND coalesce(relevance, 'unverifiable')
                                     <> 'mismatch'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS persisted,
                   CAST(sum(CASE WHEN disposition = 'kept'
                                 AND relevance = 'match'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS matches
            FROM j GROUP BY tracked_id""",
        "product_field_mine": f"""
            WITH docs AS ({_enrich.SYNTH_CATALOG_SQL})
            {_enrich.mine_sql()}""",
        "vision_rollup": f"""
            WITH vrows AS ({_vision.SYNTH_VISION_SQL}),
            {_vision.rollup_sql()}""",
        "propagate_fields": f"""
            WITH products AS ({_prop.synth_products_sql()}),
            {_prop.propagate_sql()}""",
        "enrich_merge_fields": f"""
            WITH inputs AS ({_emerge.synth_enrich_sql()})
            {_emerge.merge_sql()}""",
        "product_embedding_text_canonical": f"""
            WITH p AS ({_ptext.SYNTH_EMBED_SQL})
            {_ptext.embedding_text_sql()}""",
        "product_default_unit": f"""
            WITH c AS (
                SELECT event_id AS call_id,
                       CASE WHEN event_id % 9 = 0 THEN 'porcelain_tile'
                            WHEN event_id % 9 = 1 THEN 'Mosaics '
                            WHEN event_id % 9 = 2 THEN 'tiles'
                            WHEN event_id % 9 = 3 THEN 'paint_wall'
                            WHEN event_id % 9 = 4 THEN 'xyz_tiles_abc'
                            WHEN event_id % 9 = 5 THEN 'gadgetry'
                            WHEN event_id % 9 = 6 THEN ''
                            WHEN event_id % 9 = 7 THEN ' '
                       END AS category
                FROM events)
            SELECT call_id, category,
                   CASE WHEN category IS NULL OR category = ''
                        THEN 'pcs'
                        ELSE {_ptext.default_unit_sql(
                            "lower(trim(category))")} END AS unit
            FROM c""",
        "product_factory_object": f"""
            WITH rows_ AS (
                SELECT event_id AS product_id,
                       {_pt_layer('ex', 3)} AS existing,
                       {_pt_layer('fl', 4)} AS meta,
                       {_pt_layer('df', 5)} AS dflt
                FROM events)
            SELECT product_id,
                   {_pt_factory_fields()}
            FROM rows_""",
        "discovery_validate": f"""
            WITH items AS ({_disc.SYNTH_ITEMS_SQL})
            {_disc.validate_parse_sql()}""",
        "discovery_page_ranges": f"""
            WITH products AS ({_disc.SYNTH_RANGE_SQL}),
            {_disc.page_ranges_sql()}""",
        "discovery_folio_offset": f"""
            WITH products AS ({_disc.SYNTH_FOLIO_SQL}),
            {_disc.folio_offsets_sql()}""",
        "discovery_page_markers": f"""
            WITH docs AS ({_dpages.SYNTH_MARKER_SQL}),
            {_dpages.page_markers_sql()}""",
        "discovery_sections": f"""
            WITH pages_in AS ({_dpages.SYNTH_SECTION_PAGES_SQL}),
            products_in AS ({_dpages.SYNTH_SECTION_PRODUCTS_SQL}),
            {_dpages.sections_sql()}""",
        "material_props_rules": f"""
            WITH docs AS ({_mprops.SYNTH_PROP_SQL}),
            {_mprops.props_sql()}""",
        "spec_row_parse": f"""
            WITH spans_in AS ({_srows.synth_spec_spans_sql()}),
            targets_in AS ({_srows.SYNTH_SPEC_TARGETS_SQL}),
            {_srows.spec_rows_sql()}""",
        "chunk_boundaries": f"""
            WITH chunks_in AS ({_aival.SYNTH_BOUNDARY_SQL}),
            {_aival.boundaries_sql()}""",
        "boundary_groups": f"""
            WITH chunks_in AS ({_aival.SYNTH_BOUNDARY_SQL}),
            {_aival.boundaries_sql(groups=True)}""",
        "consensus_validate": f"""
            WITH results_in AS ({_aival.SYNTH_CONSENSUS_SQL}),
            {_aival.consensus_sql()}""",
        "classifier_parse": f"""
            WITH rows_in AS ({_aival.SYNTH_CLASSIFIER_SQL}),
            {_aival.classify_parse_sql()}""",
        "product_merge_fields": f"""
            WITH products_in AS ({_pmg.SYNTH_MERGE_PRODUCTS_SQL}),
            meta_in AS ({_pmg.SYNTH_MERGE_META_SQL}),
            plan_in AS ({_pmg.SYNTH_PLAN_SQL}),
            {_pmg.merge_data_sql()}""",
        "merge_transfer_rels": f"""
            WITH assocs_in AS ({_pmg.SYNTH_MERGE_ASSOCS_SQL}),
            plan_in AS ({_pmg.SYNTH_PLAN_SQL}),
            {_pmg.transfer_sql()}""",
        "product_validate": f"""
            WITH chunks_in AS ({_pmg.SYNTH_VALIDATE_CHUNKS_SQL}),
            products_in AS ({_pmg.SYNTH_VALIDATE_PRODUCTS_SQL}),
            {_pmg.validate_sql()}""",
        "search_autocomplete": f"""
            WITH queries_in AS ({_sugg.SYNTH_SUGG_QUERIES_SQL}),
            suggestions_in AS ({_sugg.SYNTH_SUGG_SUGGESTIONS_SQL}),
            trending_in AS ({_sugg.SYNTH_SUGG_TRENDING_SQL}),
            analytics_in AS ({_sugg.SYNTH_SUGG_ANALYTICS_SQL}),
            popular_in AS ({_sugg.SYNTH_SUGG_POPULAR_SQL}),
            products_in AS ({_sugg.SYNTH_SUGG_PRODUCTS_SQL}),
            {_sugg.autocomplete_sql()}""",
        "typo_corrections": f"""
            WITH queries_in AS ({_sugg.SYNTH_TYPO_QUERIES_SQL}),
            corrections_in AS ({_sugg.SYNTH_SUGG_CORRECTIONS_SQL}),
            {_sugg.check_typos_sql()}""",
        "query_expand": f"""
            WITH queries_in AS ({_sugg.SYNTH_SUGG_QUERIES_SQL}),
            analytics_in AS ({_sugg.SYNTH_SUGG_ANALYTICS_SQL}),
            {_sugg.expand_sql()}""",
        "relevancy_page_links": f"""
            WITH products_in AS ({_rel.SYNTH_REL_PRODUCTS_SQL}),
            images_in AS ({_rel.SYNTH_REL_IMAGES_SQL}),
            {_rel.relevancy_sql()}""",
        "timestamp_normalize": f"""
            WITH rows_in AS ({_rel.SYNTH_TS_SQL}),
            {_rel.normalize_ts_sql()}""",
        "catalog_page_classify": f"""
            WITH pages_in AS ({_clay.SYNTH_LAYOUT_PAGES_SQL}),
            names_in AS ({_clay.SYNTH_LAYOUT_NAMES_SQL}),
            {_clay.classify_sql()}""",
        "quality_score_images": f"""
            WITH images_in AS ({_qsc.SYNTH_Q_IMAGES_SQL}),
            {_qsc.score_images_sql()}""",
        "quality_score_chunks": f"""
            WITH chunks_in AS ({_qsc.SYNTH_Q_CHUNKS_SQL}),
            {_qsc.score_chunks_sql()}""",
        "quality_score_products": f"""
            WITH products_in AS ({_qsc.SYNTH_Q_PRODUCTS_SQL}),
            {_qsc.score_products_sql()}""",
        "search_terms_extract": f"""
            WITH queries_in AS ({_qtr.SYNTH_TRACK_QUERIES_SQL}),
            {_qtr.extract_terms_sql()}""",
        "unmatched_term_freq": f"""
            WITH events_in AS ({_qtr.SYNTH_UNMATCHED_SQL})
            {_qtr.unmatched_freq_sql()}""",
        "entity_product_match": f"""
            WITH entities_in AS ({_ematch.SYNTH_MATCH_ENTITIES_SQL}),
            products_in AS ({_ematch.SYNTH_MATCH_PRODUCTS_SQL}),
            {_ematch.match_sql()}""",
        "visual_search_analytics": f"""
            WITH searches_in AS ({_vana.SYNTH_VA_SEARCHES_SQL}),
            results_in AS ({_vana.SYNTH_VA_RESULTS_SQL}),
            {_vana.analytics_sql()}""",
        "image_rerank_7vec": f"""
            WITH images_in AS ({_vana.SYNTH_RR_IMAGES_SQL}),
            assocs_in AS ({_vana.SYNTH_RR_ASSOCS_SQL}),
            {_vana.rerank_sql()}""",
        "product_meta_extract": f"""
            WITH chunks_in AS ({_pex.SYNTH_META_CHUNKS_SQL}),
            {_pex.extract_meta_sql()}""",
        "product_name_extract": f"""
            WITH chunks_in AS ({_pex.SYNTH_NAME_CHUNKS_SQL}),
            {_pex.extract_names_sql()}""",
        "metadata_scope_detect": f"""
            WITH chunks_in AS ({_pex.SYNTH_SCOPE_CHUNKS_SQL}),
            names_in AS ({_pex.SYNTH_SCOPE_NAMES_SQL}),
            {_pex.scope_sql()}""",
        "smart_section_extract": f"""
            WITH docs_in AS ({_pex.SYNTH_SECTION_DOCS_SQL}),
            {_pex.sections_extract_sql(max_chars=1500, head=300,
                                       index_start=300, index_end=900,
                                       around=150, tail=200)}""",
        "price_rule_shortcut": f"""
            WITH cands_in AS ({_ident.SYNTH_PRICE_CANDS_SQL}),
            {_ident.price_shortcut_sql()}""",
        "price_source_merge": f"""
            WITH phits_in AS ({_prices.SYNTH_PHITS_SQL}),
            dhits_in AS ({_prices.SYNTH_DHITS_SQL}),
            {_prices.merge_sources_sql()}""",
        "price_cross_discrepancies": f"""
            WITH phits_in AS ({_prices.SYNTH_PHITS_SQL}),
            dhits_in AS ({_prices.SYNTH_DHITS_SQL}),
            {_prices.discrepancies_sql()}""",
        "price_greek_merge": f"""
            WITH existing_in AS ({_prices.SYNTH_GREEK_EXISTING_SQL}),
            greek_in AS ({_prices.SYNTH_GREEK_HITS_SQL}),
            {_prices.merge_greek_sql()}""",
        "icon_route_split": f"""
            WITH images_in AS ({_icon.SYNTH_ICON_IMAGES_SQL}),
            {_icon.icon_split_sql()}""",
        "vision_json_validate": f"""
            WITH rows_in AS ({_icon.SYNTH_VISION_RAWS_SQL}),
            {_icon.vision_validate_sql()}""",
        "price_source_label": f"""
            WITH hits_in AS ({_prices.SYNTH_SOURCE_HITS_SQL})
            {_prices.source_labels_sql()}""",
        "salary_normalize": f"""
            WITH listings_in AS ({_sal.SYNTH_JOB_LISTINGS_SQL}),
            {_sal.duck_salary_normalize_sql('listings_in')}""",
        "sentiment_fallback": f"""
            WITH feedback_in AS ({_senti.SYNTH_FEEDBACK_SQL}),
            {_senti.duck_sentiment_sql('feedback_in')}""",
        "metadata_consolidate": f"""
            WITH factory_in AS ({_cons.SYNTH_FACTORY_SQL}),
            visual_in AS ({_cons.SYNTH_VISUAL_SQL}),
            ai_in AS ({_cons.SYNTH_AI_SQL})
            {_cons.duck_consolidate_sql()}""",
        "recipe_url_patterns": f"""
            WITH urls_in AS ({_rec.SYNTH_SCRAPE_URLS_SQL})
            {_rec.DUCK_URL_PATTERNS_SQL}""",
        "recipe_ledger": f"""
            WITH recipes_in AS ({_rec.SYNTH_RECIPES_SQL}),
            events_in AS ({_rec.SYNTH_RECIPE_EVENTS_SQL}),
            {_rec.duck_recipe_ledger_sql()}""",
        "recipe_select": f"""
            WITH urls_in AS ({_rec.SYNTH_SCRAPE_URLS_SQL}),
            recipes_in AS ({_rec.SYNTH_RECIPES_SQL}),
            {_rec.duck_select_recipes_sql()}""",
        "source_board_fold": f"""
            WITH listings_in AS ({_scur.SYNTH_JOB_MATCH_LISTINGS_SQL}),
            curated_in AS ({_scur.SYNTH_CURATED_SITES_SQL}),
            board_in AS ({_scur.SYNTH_BOARD_INDEX_SQL}),
            {_scur.duck_fold_board_index_sql()}""",
        "source_site_actions": f"""
            WITH listings_in AS ({_scur.SYNTH_JOB_MATCH_LISTINGS_SQL}),
            curated_in AS ({_scur.SYNTH_CURATED_SITES_SQL}),
            {_scur.duck_site_actions_sql(_scur.RUN_NOW_ISO,
                                         _scur.RUN_CUTOFF_ISO)}""",
        "facet_sweep_plan": f"""
            WITH products_in AS ({_fsw.SYNTH_SWEEP_PRODUCTS_SQL}),
            {_fsw.duck_plan_sweep_sql(_fsw.TARGET_VERSION,
                                      _fsw.MAX_PRODUCTS)}""",
        "facet_sweep_summary": f"""
            WITH products_in AS ({_fsw.SYNTH_SWEEP_PRODUCTS_SQL}),
            {_fsw.duck_sweep_summary_sql(_fsw.TARGET_VERSION,
                                         _fsw.MAX_PRODUCTS)}""",
        "facet_canonicals_view": _fad.canonicals_sql(
            facet_key="color", limit=50),
        "facet_merge_log_view": _fad.merge_log_sql(
            action="embedding_merge", limit=60),
        "facet_lock_outcomes": _fad.lock_outcomes_sql(),
        "doc_entities_admin_query": _dce.admin_query_sql(
            workspace_id=1, entity_type="logo", limit=20, offset=5),
        "doc_entities_for_product": _dce.for_product_sql(
            entity_type="certificate"),
        "doc_entities_by_factory": _dce.by_factory_sql(
            factory_name="Factory 2"),
        "chunk_page_dispatch": _cdsp.page_dispatch_sql(),
        "chunk_dispatch_rollup": _cdsp.doc_rollup_sql(),
        "icon_spec_rollup": _icr.icon_rollup_sql(),
        "icon_unknown_counts": _icr.icon_unknown_sql(),
        "product_body_text": _icr.page_body_sql(),
        "tracked_latest_results": _trk.latest_results_sql(),
        "tracked_results_split": _trk.results_split_sql(),
        "tracked_exclusion_norm": _trk.exclusion_norm_sql(),
        "tracked_due_refresh": _trk.due_for_refresh_sql(limit=300),
        "job_terminal_updates": _jtm.terminal_updates_sql(),
        "job_orphan_sweep": _jtm.orphan_sweep_sql(),
        "job_docs_mirror": _jtm.docs_mirror_sql(),
        "startup_resume_outcomes": _sres.resume_outcomes_sql(),
        "startup_resume_summary": _sres.resume_summary_sql(),
        "rag_jobs_list": _rjr.list_jobs_sql(
            limit=25, offset=10, status_filter="processing",
            sort="progress:ASC"),
        "rag_job_delete_mode": _rjr.delete_mode_sql(),
        "admin_jobs_list": _adj.list_jobs_sql(
            job_type="bulk_processing", page=2, page_size=40),
        "admin_job_distributions": _adj.distributions_sql(),
        "admin_job_scalars": _adj.scalars_sql(),
        "admin_cancel_outcomes": _adj.cancel_sql(),
        "admin_cleanup_scope": _adj.cleanup_scope_sql(days_old=2),
        "google_jobs_parse": _gjp.parse_sql(),
        "kb_chunk_expand": _kbe.expand_sql(expand_n=1),
        "kb_expand_stats": _kbe.stats_sql(expand_n=1),
        "read_section_requests": _rds.resolve_sql(),
        "read_section_pdf": _rds.read_pdf_sql(),
        "temp_sweep_classify": _tsw.classify_sql(),
        "temp_sweep_summary": _tsw.summary_sql(),
        "kb_save_chunk_rows": _kbsv.chunk_rows_sql(),
        "kb_save_image_rows": _kbsv.image_rows_sql(),
        "image_product_assoc": f"""
            WITH images_in AS ({_asc.SYNTH_ASSOC_IMAGES_SQL}),
            products_in AS ({_asc.SYNTH_ASSOC_PRODUCTS_SQL}),
            {_asc.DUCK_SCORE_SQL}""",
        "image_product_assoc_limits": f"""
            WITH RECURSIVE images_in AS ({_asc.SYNTH_ASSOC_IMAGES_SQL}),
            products_in AS ({_asc.SYNTH_ASSOC_PRODUCTS_SQL}),
            {_asc.duck_limits_sql(2, 2)}""",
        "image_product_assoc_stats": f"""
            WITH RECURSIVE images_in AS ({_asc.SYNTH_ASSOC_IMAGES_SQL}),
            products_in AS ({_asc.SYNTH_ASSOC_PRODUCTS_SQL}),
            {_asc.duck_stats_sql(2, 2)}""",
        "job_rule_classify": f"""
            WITH hits_in AS ({_jc.synth_class_hits_sql()}),
            {_jc.duck_classify_sql(_jc.TEST_FACETS)}
            SELECT hit_id, relevance, note FROM verdicts""",
        "job_non_posting": f"""
            WITH hits_in AS ({_jc.synth_non_posting_sql()}),
            {_jc.duck_non_posting_sql()}
            SELECT hit_id, non_posting FROM flags""",
        "serp_blocks_parse": f"""
            WITH items_in AS ({_so.synth_serp_items_sql()}),
            {_so.duck_parse_sql(2)}""",
        "serp_opportunities": f"""
            WITH items_in AS ({_so.synth_serp_items_sql()}),
            subjects_in AS ({_so.SYNTH_SERP_SUBJECTS_SQL}),
            {_so.duck_opps_sql(2)}""",
        "mention_seed_fallback": f"""
            WITH subjects_in AS ({_mc.SYNTH_SEED_SUBJECTS_SQL}),
            {_mc.DUCK_SEEDS_SQL}
            SELECT * FROM seeds""",
        "keyword_opportunity_cards": f"""
            WITH items_in AS ({_mc.SYNTH_KEYWORD_ITEMS_SQL}),
            subjects_in AS ({_mc.SYNTH_CARD_SUBJECTS_SQL}),
            {_mc.duck_keyword_cards_sql(3)}
            SELECT * FROM cards""",
        "llm_visibility_cards": f"""
            WITH snapshots_in AS ({_mc.SYNTH_LLM_SNAPSHOTS_SQL}),
            models_in AS ({_mc.SYNTH_LLM_MODELS_SQL}),
            competitors_in AS ({_mc.SYNTH_LLM_COMPETITORS_SQL}),
            subjects_in AS ({_mc.SYNTH_CARD_SUBJECTS_SQL}),
            {_mc.duck_llm_cards_sql()}
            SELECT * FROM llm_cards""",
        "domain_snapshot_cards": f"""
            WITH metrics_in AS ({_mc.SYNTH_DOMAIN_METRICS_SQL}),
            subjects_in AS ({_mc.SYNTH_CARD_SUBJECTS_SQL}),
            {_mc.duck_domain_cards_sql()}
            SELECT * FROM domain_cards""",
        "mention_url_enrich": f"""
            WITH urls_in AS ({_mcu.SYNTH_MENTION_URLS_SQL}),
            {_mcu.duck_url_enrich_sql(["GR", "DE"])}
            SELECT * FROM enriched""",
        "mention_fanout": f"""
            WITH subjects_in AS ({_mcu.SYNTH_FANOUT_SUBJECTS_SQL}),
            {_mcu.duck_fanout_sql(3)}
            SELECT * FROM fanout""",
        "mention_hits_dedupe": f"""
            WITH RECURSIVE hits_in AS ({_mcu.SYNTH_MENTION_HITS_SQL}),
            {_mcu.duck_dedupe_sql()}
            SELECT * FROM deduped""",
        "mention_summary_30d": f"""
            WITH history_in AS ({_mcu.SYNTH_MENTION_HISTORY_SQL}),
            {_mcu.DUCK_SUMMARY_SQL}
            SELECT * FROM summary""",
        "mention_anomalies": f"""
            WITH rows_in AS ({_mcu.SYNTH_ANOMALY_ROWS_SQL}),
            trailing_in AS ({_mcu.SYNTH_ANOMALY_TRAILING_SQL}),
            {_mcu.DUCK_ANOMALIES_SQL}
            SELECT * FROM anomalies""",
        "mention_velocity": f"""
            WITH stats_in AS ({_mcu.SYNTH_VELOCITY_STATS_SQL}),
            {_mcu.DUCK_VELOCITY_SQL}
            SELECT * FROM velocity""",
        "spec_page_resolve": f"""
            WITH products_in AS ({_sv.SYNTH_SPEC_PRODUCTS_SQL}),
            pages_in AS ({_sv.SYNTH_SPEC_PAGES_SQL}),
            {_sv.duck_page_resolve_sql()}
            SELECT * FROM resolved""",
        "spec_result_merge": f"""
            WITH results_in AS ({_sv.SYNTH_SPEC_RESULTS_SQL}),
            {_sv.DUCK_SPEC_MERGE_SQL}
            SELECT product_id, field, value,
                   array_to_string(merged, '|') AS merged_str
            FROM spec_merge""",
        "spec_metadata_map": f"""
            WITH specs_in AS ({_sv.synth_spec_fields_sql()}),
            {_sv.duck_spec_map_sql()}
            SELECT * FROM mapped""",
        "request_security_gate": f"""
            WITH nodes_in AS ({_vg.SYNTH_JSON_NODES_SQL}),
            {_vg.duck_security_gate_sql()}
            SELECT * FROM gate""",
        "payload_sanitize": f"""
            WITH leaves_in AS ({_vg.SYNTH_STRING_LEAVES_SQL}),
            {_vg.duck_sanitize_sql()}
            SELECT * FROM sanitized""",
        "response_security_flags": f"""
            WITH responses_in AS ({_vg.SYNTH_RESPONSES_SQL}),
            {_vg.duck_response_flags_sql()}
            SELECT * FROM flags""",
        "job_progress_rollup": f"""
            WITH jobs_in AS ({_pg.SYNTH_PROGRESS_JOBS_SQL}),
            events_in AS ({_pg.SYNTH_PROGRESS_EVENTS_SQL}),
            {_pg.DUCK_PROGRESS_ROLLUP_SQL}
            SELECT * FROM rollup""",
        "job_page_statuses": f"""
            WITH jobs_in AS ({_pg.SYNTH_PROGRESS_JOBS_SQL}),
            events_in AS ({_pg.SYNTH_PROGRESS_EVENTS_SQL}),
            {_pg.DUCK_PAGE_STATUS_SQL}
            SELECT * FROM page_statuses""",
        "product_progress_fold": f"""
            WITH events_in AS ({_ppr.SYNTH_PRODUCT_EVENTS_SQL}),
            {_ppr.DUCK_PRODUCT_FOLD_SQL}
            SELECT * FROM folded""",
        "job_product_summary": f"""
            WITH events_in AS ({_ppr.SYNTH_PRODUCT_EVENTS_SQL}),
            {_ppr.DUCK_PRODUCT_FOLD_SQL},
            {_ppr.DUCK_JOB_SUMMARY_SQL}
            SELECT * FROM summary""",
        "catalog_knowledge_pages": f"""
            WITH {_ckb.DUCK_KNOWLEDGE_BASE_SQL},
            {_ckb.DUCK_KNOWLEDGE_PAGES_SQL}
            SELECT * FROM kpages""",
        "catalog_knowledge_certs": f"""
            WITH {_ckb.DUCK_KNOWLEDGE_BASE_SQL},
            {_ckb.DUCK_KNOWLEDGE_CERTS_SQL}
            SELECT * FROM kcerts""",
        "knowledge_cert_propagate": f"""
            WITH {_ckb.DUCK_KNOWLEDGE_BASE_SQL},
            {_ckb.DUCK_KNOWLEDGE_CERTS_SQL},
            {_ckb.DUCK_PRODUCTS_SQL},
            {_ckb.DUCK_KNOWLEDGE_PROP_SQL}
            SELECT * FROM prop1""",
        "catalog_legend_extract": f"""
            WITH {_ckb.DUCK_LEGEND_BASE_SQL}
            SELECT doc AS doc_id, seq, legend_type, page_idx, status,
                   resolved_type, title, content_markdown,
                   applies_globally
            FROM lex""",
        "legend_cert_propagate": f"""
            WITH {_ckb.DUCK_LEGEND_BASE_SQL},
            {_ckb.DUCK_LEGEND_CERTS_SQL},
            {_ckb.DUCK_PRODUCTS_SQL},
            {_ckb.DUCK_LEGEND_PROP_SQL}
            SELECT * FROM prop""",
        "catalog_legend_kb_docs": f"""
            WITH {_ckb.DUCK_LEGEND_BASE_SQL},
            {_ckb.DUCK_LEGEND_KB_SQL}
            SELECT * FROM lkb""",
        "security_scan_violations": f"""
            WITH {_iv.DUCK_SECURITY_STRINGS_SQL},
            {_iv._duck_scan_sql()}
            SELECT * FROM vviol""",
        "security_sanitize": f"""
            WITH {_iv.DUCK_SECURITY_STRINGS_SQL},
            {_iv._duck_sanitize_sql()}
            SELECT * FROM vsan""",
        "json_structure_validate": f"""
            WITH {_iv.DUCK_STRUCTURE_SQL}
            SELECT * FROM vstruct""",
        "schema_registry_lookup": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_iv._duck_registry_sql()}
            SELECT * FROM rlookup""",
        "validation_profiles": """
            SELECT * FROM (VALUES """ + ", ".join(
            f"('{prof}', '{s}', CAST({v} AS DOUBLE))"
            for s, vals in _iv.PROFILE_SETTINGS.items()
            for prof, v in zip(("default", "production",
                                "development"), vals)) + """)
            AS t(profile, setting, value)""",
        "validation_error_responses": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_iv._duck_errors_sql()}
            SELECT * FROM vresp""",
        "perf_retained_window": f"""
            WITH {_pm.DUCK_METRIC_VALUES_SQL},
            {_pm.DUCK_WINDOW_SQL}
            SELECT * FROM pwin""",
        "perf_aggregated_stats": f"""
            WITH {_pm.DUCK_METRIC_VALUES_SQL},
            {_pm.DUCK_STATS_SQL}
            SELECT * FROM pstats""",
        "perf_threshold_alerts": f"""
            WITH RECURSIVE {_pm.DUCK_ALERT_METRICS_SQL},
            {_pm.duck_alerts_sql()}
            SELECT * FROM alerts""",
        "perf_analysis": f"""
            WITH {_pm.DUCK_SNAPSHOT_STATS_SQL},
            {_pm.duck_analysis_sql()}
            SELECT * FROM sanalysis""",
        "perf_slow_operations": f"""
            WITH {_pm.DUCK_METRIC_VALUES_SQL},
            {_pm.DUCK_STATS_SQL},
            {_pm.DUCK_SLOW_OPS_SQL}
            SELECT * FROM sslow""",
        "ocr_attempt_ladder": f"""
            WITH {_oa.DUCK_ATTEMPTS_SQL}
            SELECT * FROM ometrics""",
        "ocr_call_summary": f"""
            WITH {_oa.DUCK_ATTEMPTS_SQL}
            SELECT * FROM osummary""",
        "ocr_gpu_cost": f"""
            WITH {_oa.DUCK_ATTEMPTS_SQL}
            SELECT * FROM ocost""",
        "external_unit_cost": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ub.duck_external_sql()}
            SELECT * FROM extcost""",
        "firecrawl_cost": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ub.DUCK_FIRECRAWL_SQL}
            SELECT * FROM fccost""",
        "replicate_generation_cost": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ub.duck_replicate_sql()}
            SELECT * FROM repcost""",
        "marketplace_adaptive_query": f"""
            WITH {_mf.DUCK_ADAPTIVE_SQL}
            SELECT * FROM aout""",
        "marketplace_facet_match": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_mf.duck_facet_sql()}
            SELECT * FROM ffinal""",
        "skroutz_decision": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_mf.duck_skroutz_sql()}
            SELECT * FROM sdecision""",
        "skroutz_hit_assembly": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_mf.duck_skroutz_sql()}
            SELECT * FROM shits""",
        "search_simple_enhancement": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sp.duck_enhance_sql()}
            SELECT * FROM eout""",
        "search_simple_formatting": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sp.duck_format_sql()}
            SELECT * FROM sfmt""",
        "search_simple_filtering": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sp.duck_filter_sql()}
            SELECT * FROM sfout""",
        "search_llm_reorder": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sp.duck_reorder_sql()}
            SELECT * FROM oout""",
        "search_llm_filter_keep": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sp.duck_keep_sql()}
            SELECT * FROM kout""",
        "search_llm_enrich": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sp.DUCK_ENRICH_SQL}
            SELECT * FROM enout""",
        "mention_call_costs": f"""
            WITH {_mc2.DUCK_CALL_EVENTS_SQL},
            {_mc2.DUCK_CALL_COSTS_SQL}
            SELECT * FROM mcost""",
        "mention_credit_debit": f"""
            WITH {_mc2.DUCK_DEBIT_SQL}
            SELECT * FROM dout""",
        "mention_lifetime_cost": f"""
            WITH {_mc2.DUCK_CALL_EVENTS_SQL},
            {_mc2.DUCK_CALL_COSTS_SQL},
            {_mc2.DUCK_LIFETIME_SQL}
            SELECT * FROM mlife""",
        "segment_zone_parse": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sg.duck_zone_sql()}
            SELECT * FROM zones""",
        "media_type_magic": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sg.duck_media_sql()}
            SELECT * FROM mimg""",
        "product_enrich_properties": f"""
            WITH {_ep.DUCK_ENRICH_SQL}
            SELECT * FROM eprops""",
        "probe_prompts_build": f"""
            WITH {_lp.DUCK_PROBE_SUBJECTS_SQL},
            {_lp.DUCK_PROBE_BUILD_SQL}
            SELECT * FROM pbank""",
        "probe_extract_deterministic": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_lp.duck_probe_extract_sql()}
            SELECT * FROM pextract""",
        "probe_snapshot_models": f"""
            WITH {_lp.DUCK_PROBE_ROWS_SQL},
            {_lp.DUCK_SNAPSHOT_MODELS_SQL}
            SELECT * FROM pmod""",
        "probe_snapshot_run": f"""
            WITH {_lp.DUCK_PROBE_ROWS_SQL},
            {_lp.DUCK_SNAPSHOT_RUN_SQL}
            SELECT * FROM prun""",
        "product_embedding_text": f"""
            WITH {_ep.DUCK_ENRICH_SQL},
            eprod AS (
              SELECT DISTINCT doc % 80 AS product_id FROM docs),
            enamed AS (
              SELECT product_id,
                     'Product ' || CAST(product_id AS VARCHAR)
                       AS name,
                     CASE WHEN product_id % 9 = 0 THEN ''
                          ELSE 'Desc ' || CAST(product_id AS VARCHAR)
                     END AS description
              FROM eprod)
            SELECT n.product_id,
                   coalesce(n.name, 'Unknown') || '. '
                   || coalesce(n.description, '')
                   || '. Materials: '
                   || coalesce(array_to_string(p.materials, ', '),
                               '')
                   || '. Colors: '
                   || coalesce(array_to_string(p.colors, ', '), '')
                     AS embedding_text
            FROM enamed n LEFT JOIN eprops p
              ON n.product_id = p.product_id""",
        "stage3_page_assign": f"""
            WITH {_s3.DUCK_ASSIGN_SQL}
            SELECT * FROM s3assign""",
        "stage3_ocr_gate": f"""
            WITH {_s3.DUCK_OCR_GATE_SQL}
            SELECT * FROM s3out""",
        "stage3_ocr_summary": f"""
            WITH {_s3.DUCK_OCR_GATE_SQL}
            SELECT * FROM s3sum""",
        "catalog_icon_stats": f"""
            WITH {_s3.DUCK_ICON_STATS_SQL}
            SELECT * FROM s3istats""",
        "product_resume_decision": f"""
            WITH {_s4p.DUCK_RESUME_SQL}
            SELECT * FROM s4resume""",
        "stage4_chunk_rollup": f"""
            WITH {_s4p.DUCK_ROLLUP_SQL}
            SELECT product,
                   {_s4p._sj('dimensions')} AS dimensions,
                   {_s4p._sj('available_colors')}
                     AS available_colors,
                   {_s4p._sj('materials_mentioned')}
                     AS materials_mentioned,
                   {_s4p._sj('key_features')} AS key_features,
                   studio_name
            FROM s4rollup""",
        "stage4_metadata_merge": f"""
            WITH {_s4p.DUCK_ROLLUP_SQL},
            {_s4p.DUCK_MERGE_SQL}
            SELECT * FROM s4merge""",
        "product_stage_progress": f"""
            WITH {_s4p.DUCK_PROGRESS_SQL}
            SELECT * FROM s4prog""",
        "va_legacy_coerce": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ve.DUCK_VRAW_SQL},
            {_ve.DUCK_VCOERCE_SQL}
            SELECT doc, rejected, material_type, category,
                   subcategory,
                   CASE WHEN colors IS NOT NULL THEN
                     coalesce(array_to_string(colors, '|'), '') END
                     AS colors,
                   CASE WHEN textures IS NOT NULL THEN
                     coalesce(array_to_string(textures, '|'), '') END
                     AS textures,
                   CASE WHEN applications IS NOT NULL THEN
                     coalesce(array_to_string(applications, '|'), '')
                     END AS applications,
                   CASE WHEN detected_text IS NOT NULL THEN
                     coalesce(array_to_string(detected_text, '|'),
                              '') END AS detected_text,
                   finish, surface_pattern, description, style,
                   confidence
            FROM vcoerced""",
        "va_understanding_text": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ve.DUCK_VRAW_SQL},
            {_ve.DUCK_VCOERCE_SQL},
            {_ve.DUCK_VTEXT_SQL},
            {_ve.DUCK_VUNDER_SQL}
            SELECT * FROM vunder""",
        "va_aspect_texts": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ve.DUCK_VRAW_SQL},
            {_ve.DUCK_VCOERCE_SQL},
            {_ve.DUCK_VASPECT_SQL}
            SELECT * FROM vaspect""",
        "va_embed_slots": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ve.DUCK_VRAW_SQL},
            {_ve.DUCK_VCOERCE_SQL},
            {_ve.DUCK_VASPECT_SQL},
            {_ve.DUCK_VSLOTS_SQL}
            SELECT * FROM vslots""",
        "public_query_hash": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_pt.DUCK_PT_HASH_SQL}
            SELECT * FROM pthash2""",
        "public_quota_check": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_pt.duck_quota_sql(1_700_000_000)}
            SELECT * FROM ptquota""",
        "public_market_stats": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_pt.DUCK_PT_STATS_SQL}
            SELECT * FROM ptstats""",
        "public_scan_ladder": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_pt.DUCK_PT_LADDER_SQL}
            SELECT * FROM ptladder""",
        "mention_facets_build": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_pt.DUCK_PT_FACETS_SQL}
            SELECT * FROM ptfacets""",
        "mention_hit_shape": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_pt.DUCK_PT_HITS_SQL}
            SELECT * FROM pthshape""",
        "mention_top_outlets": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_pt.DUCK_PT_HITS_SQL}
            SELECT * FROM ptoutlets""",
        "vecs_multi_fusion": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_vf.DUCK_VECS_SQL}
            SELECT * FROM vfused""",
        "vecs_collection_stats": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_vf.DUCK_VECS_SQL}
            SELECT * FROM vstats""",
        "image_props_extract": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ia.DUCK_IA_PROPS_SQL}
            SELECT * FROM iaprops""",
        "image_props_vision_only": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ia.DUCK_IA_VISONLY_SQL}
            SELECT * FROM iavo""",
        "image_quality_unified": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_ia.DUCK_IA_QUALITY_SQL}
            SELECT * FROM iaquality""",
        "product_field_coverage": f"""
            WITH products_in AS ({_es.SYNTH_STATUS_PRODUCTS_SQL}),
            entries_in AS ({_es.SYNTH_STATUS_ENTRIES_SQL}),
            {_es.DUCK_PRODUCT_COVERAGE_SQL}
            SELECT * FROM coverage_b""",
        "doc_extraction_status": f"""
            WITH products_in AS ({_es.SYNTH_STATUS_PRODUCTS_SQL}),
            entries_in AS ({_es.SYNTH_STATUS_ENTRIES_SQL}),
            docs_in AS ({_es.SYNTH_STATUS_DOCS_SQL}),
            {_es.DUCK_PRODUCT_COVERAGE_SQL},
            {_es.DUCK_DOC_STATUS_SQL}
            SELECT * FROM doc_status""",
        "stage0_product_ledger": f"""
            WITH discovered_in AS ({_s0.SYNTH_S0_DISCOVERED_SQL}),
            existing_in AS ({_s0.SYNTH_S0_EXISTING_SQL}),
            quotas_in AS ({_s0.SYNTH_S0_QUOTAS_SQL}),
            {_s0.DUCK_S0_LEDGER_SQL}
            SELECT * FROM ledger""",
        "stage0_creation_summary": f"""
            WITH discovered_in AS ({_s0.SYNTH_S0_DISCOVERED_SQL}),
            existing_in AS ({_s0.SYNTH_S0_EXISTING_SQL}),
            quotas_in AS ({_s0.SYNTH_S0_QUOTAS_SQL}),
            {_s0.DUCK_S0_LEDGER_SQL},
            {_s0.DUCK_S0_SUMMARY_SQL}
            SELECT * FROM s0_summary""",
        "stage2_chunk_plan": _s2plan.chunk_plan_sql(),
        "stage2_page_texts": _s2plan.page_texts_sql(),
        "auth_path_gate": _auth.path_gate_sql(),
        "auth_token_resolve": _auth.token_resolve_sql(),
        "auth_workspace_context": _auth.workspace_context_sql(),
        "job_status_admin": _jadmin.status_fold_sql(),
        "job_restart_plan": _jadmin.restart_plan_sql(),
        "job_list_page": _jadmin.list_page_sql(),
        "search_enhance_images": _senh.enhance_images_sql(),
        "rag_ws_authz": _senh.ws_authz_sql(),
        "kb_doc_upsert": _kbd.upsert_plan_sql(),
        "kb_search_validate": _kbd.validate_results_sql(),
        "kb_rpc_args": _kbd.rpc_args_sql(),
        "stage_timeouts": _ogd.stage_timeouts_sql(),
        "retry_schedule": _ogd.retry_schedule_sql(),
        "retry_classify": _ogd.classify_errors_sql(),
        "claude_payload_build": _lpd.payload_build_sql(),
        "claude_response_parse": _lpd.response_parse_sql(),
        "prompt_list": _padm.list_prompts_sql(),
        "prompt_update_resolve": _padm.resolve_updates_sql(),
        "prompt_history_top5": _padm.history_top5_sql(),
        "error_response_build": _etax.build_error_responses_sql(),
        "error_wrap_resolve": _etax.resolve_wraps_sql(),
        "product_fanout_plan": _pfan.fanout_plan_sql(),
        "product_fanout_rollup": _pfan.fanout_rollup_sql(),
        "product_failure_rows": _pfan.failure_rows_sql(),
        "product_progress_ladder": _pfan.progress_ladder_sql(),
        "health_status_rollup": _hlth.health_status_rollup_sql(),
        "health_resource_gate": _hlth.resource_gate_sql(),
        "health_summary_counts": _hlth.summary_counts_sql(),
        "exception_handler_dispatch": _etax.handler_dispatch_sql(),
        "ocr_result_fold": _ocrg.paddle_result_fold_sql(),
        "ocr_blocks_pixels": _ocrg.blocks_pixels_sql(),
        "ocr_confidence_agg": _ocrg.confidence_agg_sql(),
        "ocr_simple_text": _ocrg.simple_text_sql(),
        "ocr_icon_fragments": _ocrg.icon_fragments_sql(),
        "agent_run_gate": _agen.run_gate_sql(),
        "agent_batch_plan": _agen.batch_plan_sql(),
        "agent_fence_strip": _agen.fence_strip_sql(),
        "agent_update_build": _agen.update_build_sql(),
        "agent_run_rollup": _agen.run_rollup_sql(),
        "llm_fence_sanitize": _fnc.fence_sql(),
        "anthropic_error_tags": _erep.classify_sql(),
        "embed_context_build": _erep.embed_context_sql(),
        "embed_response_fold": _erep.embed_response_sql(),
        "queue_job_plan": _qfl.queue_plan_sql(),
        "queue_retry_fold": _qfl.queue_retry_sql(),
        "queue_metrics": _qfl.queue_metrics_sql(),
        "validation_queue_stats": _qfl.validation_stats_sql(),
        "validation_retry_fold": _qfl.validation_retry_sql(),
        "circuit_breaker_replay": f"""
            WITH RECURSIVE cb_events AS ({_cbr.SYNTH_BREAKER_SQL}),
            {_cbr.duck_breaker_sql(3, 120, 3)}
            SELECT breaker, event_ord, t, outcome, state_before,
                   disposition, state_after,
                   CAST(fc AS INT) AS failure_count
            FROM cb_state""",
        "circuit_breaker_stats": f"""
            WITH RECURSIVE cb_events AS ({_cbr.SYNTH_BREAKER_SQL}),
            {_cbr.duck_breaker_sql(3, 120, 3)}
            SELECT breaker,
                   CAST(count(*) AS BIGINT) AS total_calls,
                   CAST(sum(CASE WHEN disposition = 'executed'
                            AND outcome = 'ok' THEN 1 ELSE 0 END)
                        AS BIGINT) AS successful_calls,
                   CAST(sum(CASE WHEN disposition = 'executed'
                            AND outcome = 'err' THEN 1 ELSE 0 END)
                        AS BIGINT) AS failed_calls,
                   CAST(sum(CASE WHEN disposition = 'rejected'
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS rejected_calls,
                   max_by(state_after, event_ord) AS state,
                   CAST(max_by(fc, event_ord) AS INT) AS failure_count,
                   sum(CASE WHEN disposition = 'executed'
                       AND outcome = 'ok' THEN 1 ELSE 0 END) * 100.0
                       / count(*) AS success_rate
            FROM cb_state GROUP BY breaker""",
        "query_metrics_track": _dbm.track_sql(),
        "query_metrics_global": _dbm.global_sql(),
        "query_metrics_tables": _dbm.tables_sql(),
        "query_metrics_recent_slow": _dbm.recent_slow_sql(),
        "resource_lifecycle_replay": f"""
            WITH RECURSIVE res_events AS ({_rlc.SYNTH_RESOURCE_SQL}),
            {_rlc.duck_resources_sql()}
            SELECT resource, event_ord, kind, job, alive, state,
                   CAST(len(user_list) AS INT) AS n_users,
                   coalesce(array_to_string(user_list, ','), '')
                       AS users, cleaned
            FROM res_state""",
        "janitor_sweep": _rlc.janitor_sql(now=1_800_000_000),
        "mem_pressure_tier": _mem.pressure_tier_sql(),
        "mem_batch_size": _mem.batch_size_sql(
            default_batch_size=8, min_batch_size=2, max_batch_size=20,
            memory_per_item_mb=10.0),
        "mem_wait_outcome": _mem.wait_outcome_sql(),
        "credits_ai_debit": _crd.ai_debit_sql(),
        "credits_firecrawl_debit": _crd.firecrawl_debit_sql(),
        "credits_external_debit": _crd.external_debit_sql(),
        "export_rate_replay": _imx.rate_replay_sql(),
        "export_gate": _imx.export_gate_sql(),
        "export_manifest": _imx.export_manifest_sql(fmt="JPEG"),
        "image_reclassify_update": _imx.reclassify_sql(),
        "segment_source_resolve": _imx.segment_source_sql(),
        "save_image_row": _imr.save_image_row_sql(),
        "bbox_validate": _imr.validate_bbox_sql(),
        "template_prompt_resolve": _prs.resolve_sql(),
        "template_response_shape": _prs.template_shape_sql(),
        "desc_chunk_clean": _dsw.clean_chunks_sql(),
        "desc_chunks_assemble": _dsw.assemble_sql(),
        "desc_response_shape": _dsw.shape_response_sql(),
        "prototype_embed_avg": _cpt.embed_avg_sql(),
        "prototype_populate_rollup": _cpt.rollup_sql(),
        "request_log_route": _rql.route_sql(),
        "job_cost_calls": _jcs.cost_calls_sql(),
        "job_credit_gate": _jcs.credit_gate_sql(),
        "agent_run_lifecycle": _arn.run_events_sql(),
        "log_sink_gate": _rql.log_sink_sql(),
        "pagination_derive": _sgt.pagination_sql(),
        "request_validators": _sgt.validation_sql(),
        "db_conn_probe": _dbh2.conn_probe_sql(),
        "logs_admin_query": _lga.logs_query_sql(
            hours=100, level="error", search="failed", page=2,
            page_size=50),
        "logs_clear_scope": _lga.logs_clear_sql(hours=72),
        "log_stats": _lga.log_stats_sql(hours=96),
        "frontend_log_rows": _lga.frontend_rows_sql(),
        "ai_metrics_summary": _aim.summary_sql(),
        "ai_metrics_model_usage": _aim.model_usage_sql(),
        "ai_metrics_confidence_bands": _aim.confidence_bands_sql(),
        "ext_provider_resolve": _aim.ext_resolve_sql(),
        "ext_usage_by_service": _aim.ext_by_service_sql(),
        "bucket_stats_fold": _smn.bucket_stats_sql(),
        "storage_status_fold": _smn.storage_status_sql(),
        "upload_estimate_fold": _smn.upload_estimate_sql(),
        "api_key_gate": _akg.api_key_gate_sql(),
        "detailed_health_rollup": _dbh2.detailed_rollup_sql(),
        "claude_status_ladders": _aival.claude_ladders_sql(),
        "processing_options_validate": _sgt.processing_validate_sql(),
        "import_job_status": _xstg.import_status_sql(),
        "platform_secret_resolve": _ogd.resolve_secrets_sql(),
        "seo_agent_gate": _dfs.seo_gate_sql(),
        "mention_access_gates": _mnt.mention_access_sql(),
        "firecrawl_request_build": _fcs.build_requests_sql(),
        "firecrawl_retry_classify": _fcs.classify_sql(),
        "stage5_result_shape": _ckp.stage5_shape_sql(),
        "stage1_page_validate": _pgs.stage1_validate_sql(),
        "notify_rows": _arn.notify_rows_sql(),
        "manual_debit_plan": _mpr.debit_plan_sql(),
        "manual_passthrough": _mpr.passthrough_sql(),
        "tracked_query_response": _prices.tq_response_sql(),
        "track_credit_outcome": _prices.track_outcome_sql(),
        "dup_check_envelope": _smg2.dup_envelope_sql(),
        "sam_bbox_pixels": _sg.sam_pixels_sql(),
        "project_list_filter": _prj.list_filter_sql(),
        "project_task_rollup": _prj.task_rollup_sql(),
        "task_room_inherit": _prj.room_inherit_sql(),
        "invite_outcome": _prj.invite_outcome_sql(),
        "job_refresh_credit": _jtr.refresh_credit_sql(),
        "job_create_credit": _jtr.create_credit_sql(),
        "regen_keywords_credit": _jtr.regen_credit_sql(),
        "correct_match_note": _jtr.correct_note_sql(),
        "mention_refresh_credit": _mtr.mention_refresh_sql(),
        "mention_create_brand": _mtr.mention_brand_sql(),
        "probe_llm_credit": _mtr.probe_credit_sql(),
        "opportunities_credit": _mtr.opportunities_credit_sql(),
        "endpoint_ready_gate": _epr.ready_gate_sql(),
        "processing_lock_replay": _epr.lock_replay_sql(),
        "ws_reconcile": _dpr.ws_reconcile_sql(),
        "merge_route_envelope": _dpr.merge_envelope_sql(),
        "retry_backoff_plan": _rtl.retry_plan_sql(),
        "vision_concurrency_tier": _rtl.tier_concurrency_sql(),
        "observability_stamp": _obs.observability_stamp_sql(),
        "bestprice_decision": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_bp.duck_bestprice_sql()}
            SELECT * FROM bdecision""",
        "bestprice_hit_assembly": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_bp.duck_bestprice_sql()}
            SELECT * FROM bhits""",
        "shopflix_outcome": f"""
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc
                          FROM documents),
            {_sfx.duck_shopflix_sql()}
            SELECT * FROM fout""",
        "idealo_listing_filter": _idl.idealo_filter_sql(),
        "feedback_submit_fold": _fbr.feedback_submit_sql(),
        "feedback_helpful_fold": _fbr.feedback_helpful_sql(),
        "job_sites_render": _kbs.job_sites_render_sql(),
        "meter_operation_fold": _mtg.meter_fold_sql(),
        "charge_cron_fold": _mtg.charge_cron_sql(),
        "turnstile_verdict": _ts.turnstile_sql(),
        "kb_rechunk_rows": _kbr.kb_rechunk_sql(),
        "endpoint_provider_fold": _epv.provider_fold_sql(),
        "slig_resize_plan": _slc.slig_resize_sql(),
        "slig_backpressure_classify": _slc.slig_backpressure_sql(),
        "slig_mode_route": _slm.slig_mode_sql(),
        "paddle_region_fold": _ppz.paddle_region_sql(),
        "paddle_block_text": _ppz.paddle_block_text_sql(),
        "price_debit_gate": _mtg.price_debit_sql(),
        "extraction_prompt_resolve": _exp.resolve_prompts_sql(),
        "lazy_component_replay": _lzc.lazy_replay_sql(),
        "job_site_normalize": _jsa.site_normalize_sql(),
        "job_sites_bulk_clean": _jsa.bulk_clean_sql(),
        "rasterize_plan": _rz.rasterize_sql(),
        "job_health_dashboard": _jhl.health_dashboard_sql(),
        "ws_room_final": _wsr.ws_room_sql(),
        "report_stage_fold": _srp.report_stage_sql(),
        "internal_access_gate": _srp.internal_access_sql(),
        "tracked_refresh_route": _uor.refresh_route_sql(),
        "extraction_config_resolve": _exc.config_resolve_sql(),
        "trending_searches_fold": _trd.trending_sql(),
        "greek_dedupe_fold": _gks.greek_dedupe_sql(),
        "idealo_locale_route": _idl.locale_route_sql(),
        "module_enabled_fold": _mreg.module_enabled_sql(),
        "auth_dependency_fold": _adp.auth_fold_sql(),
    }
    _wrap_complex_oracles(o)
    return o
