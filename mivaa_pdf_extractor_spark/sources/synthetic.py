"""Deterministic synthetic corpus of interleaved text+media documents.

Implements FIXTURES.md §1-3: 12 document classes over the input schema
``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)`` with
geometry/media attributes packed into the ``kind`` string. Seed-deterministic
(seed 42 by default): the same (n_docs, seed) always yields byte-identical
rows, so the oracle corpus, the Spark input, and the bench corpus agree
without persisting anything.
"""

from __future__ import annotations

import random

from ..core.constants import GLYPH_REPLACEMENTS
from ..core.kinds import make_kind
from ..operators.extract import INPUT_SCHEMA, SPAN_STRUCT  # noqa: F401

_WORDS = (
    "layout page span reading order block heading table figure caption "
    "markdown extraction pipeline partition shuffle lineage checkpoint "
    "resume column cluster grid cell render media document offset kind"
).split()

_GLYPH_SALT = list(GLYPH_REPLACEMENTS.keys())
_LIGATURES = ["a/f_ter", "pa/t_terns", "/a/t_tentive", "cra/f_t", "/f lag"]

CLASSES = [
    "plain", "multi_column", "headings", "glyphs", "tables", "boilerplate",
    "embedded_images", "low_dpi_media", "dup_media", "scanned_like", "empty",
    "spread",
]


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)) + "."


def _span(kind: str, text: str = "", media_ref: str = "", offset: int = 0) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _stamp_offsets(spans: list[dict]) -> list[dict]:
    off = 0
    for s in spans:
        s["offset"] = off
        off += len(s["text"])
    return spans


def _text_page(rng: random.Random, page: int, n: int, x: float = 50.0,
               size: int = 10, y0: float = 80.0) -> list[dict]:
    return [
        _span(make_kind("text", page=page, y=y0 + 40 * i, x=x, size=size),
              _sentence(rng, rng.randint(4, 12)))
        for i in range(n)
    ]


def _make_doc(cls: str, i: int, seed: int) -> dict:
    rng = random.Random((seed, cls, i).__repr__())
    doc_id = f"{cls}-{i:06d}"
    spans: list[dict] = []

    if cls == "plain":
        pages = rng.randint(1, 3)
        spans.append(_span(make_kind("title", page=1, y=40, x=50, size=18),
                           _sentence(rng, 3)))
        for p in range(1, pages + 1):
            spans.extend(_text_page(rng, p, rng.randint(4, 10)))

    elif cls == "multi_column":
        for p in (1, 2):
            left = [_span(make_kind("text", page=p, y=80 + 40 * j, x=60, size=10),
                          _sentence(rng, 6)) for j in range(rng.randint(3, 6))]
            right = [_span(make_kind("text", page=p, y=80 + 40 * j, x=520, size=10),
                           _sentence(rng, 6)) for j in range(rng.randint(3, 6))]
            # interleave in input: correct output is column-by-column
            merged = []
            for a, b in zip(left, right):
                merged.extend([b, a])
            merged.extend(left[len(right):] or right[len(left):])
            spans.extend(merged)

    elif cls == "headings":
        spans.append(_span(make_kind("title", page=1, y=40, x=50, size=18),
                           _sentence(rng, 3)))
        y = 90.0
        for sec in range(rng.randint(2, 4)):
            spans.append(_span(make_kind("text", page=1, y=y, x=50, size=14),
                               _sentence(rng, 4)))
            y += 40
            for _ in range(rng.randint(2, 5)):
                spans.append(_span(make_kind("text", page=1, y=y, x=50, size=10),
                                   _sentence(rng, 8)))
                y += 40

    elif cls == "glyphs":
        salts = rng.sample(_GLYPH_SALT, k=rng.randint(3, 8))
        body = _sentence(rng, 6) + " " + " ".join(salts)
        body += "  double  spaces " + rng.choice(_LIGATURES)
        body += " \ntrailing\n\n\n\nmany newlines"
        spans.append(_span(make_kind("text", page=1, y=80, x=50, size=10), body))
        spans.extend(_text_page(rng, 1, 3, y0=160.0))

    elif cls == "tables":
        spans.append(_span(make_kind("text", page=1, y=40, x=50, size=10),
                           _sentence(rng, 5)))
        headers = ["Formato", "Spessore", "Pz/Scatola"]
        nrows = rng.randint(2, 5)
        for c, h in enumerate(headers):
            spans.append(_span(make_kind("table_cell", page=1, y=100, x=50 + 90 * c,
                                         col=c), h))
        for r in range(nrows):
            for c in range(len(headers)):
                spans.append(_span(
                    make_kind("table_cell", page=1, y=140 + 40 * r,
                              x=50 + 90 * c, col=c),
                    f"{rng.randint(1, 99)}x{rng.randint(1, 99)}"))
        spans.extend(_text_page(rng, 1, 2, y0=600.0))

    elif cls == "boilerplate":
        for p in (1, 2):
            spans.append(_span(make_kind("header", page=p, y=10, x=50),
                               "ACME Catalog 2026"))
            spans.extend(_text_page(rng, p, rng.randint(3, 6)))
            spans.append(_span(make_kind("footer", page=p, y=900, x=50),
                               "confidential"))
            spans.append(_span(make_kind("page_number", page=p, y=920, x=400),
                               str(p)))

    elif cls == "embedded_images":
        spans.extend(_text_page(rng, 1, 2))
        for j in range(rng.randint(1, 3)):
            spans.append(_span(make_kind("image", page=1, y=300 + 120 * j, x=60,
                                         w=200, h=100, edpi=250,
                                         phash=f"{rng.getrandbits(64):016x}")))
        spans.append(_span(make_kind("caption", page=1, y=720, x=60),
                           "Figure: " + _sentence(rng, 4)))
        spans.append(_span(make_kind("figure", page=2, y=100, x=60, w=300, h=200,
                                     edpi=300,
                                     phash=f"{rng.getrandbits(64):016x}")))
        spans.extend(_text_page(rng, 2, 2, y0=400.0))

    elif cls == "low_dpi_media":
        spans.extend(_text_page(rng, 1, 2))
        for j in range(2):
            spans.append(_span(make_kind("image", page=1, y=300 + 100 * j, x=60,
                                         w=100, h=80, edpi=72,
                                         phash=f"{rng.getrandbits(64):016x}")))
        spans.append(_span(make_kind("image", page=2, y=100, x=60, w=200, h=150,
                                     edpi=250,
                                     phash=f"{rng.getrandbits(64):016x}")))
        spans.extend(_text_page(rng, 2, 1, y0=300.0))

    elif cls == "dup_media":
        shared = f"{rng.getrandbits(64):016x}"
        spans.extend(_text_page(rng, 1, 2))
        spans.append(_span(make_kind("image", page=1, y=300, x=60, w=200, h=100,
                                     edpi=200, phash=shared)))
        spans.append(_span(make_kind("image", page=1, y=450, x=60, w=200, h=100,
                                     edpi=200, phash=shared)))
        spans.append(_span(make_kind("image", page=2, y=100, x=60, w=200, h=100,
                                     edpi=200, phash=shared)))
        # same phash in the region layer is NOT a duplicate of the embedded one
        spans.append(_span(make_kind("figure", page=2, y=300, x=60, w=200, h=100,
                                     edpi=200, phash=shared)))

    elif cls == "scanned_like":
        for p in (1, 2):
            spans.append(_span(make_kind("image", page=p, y=50, x=30, w=600,
                                         h=800, edpi=150,
                                         phash=f"{rng.getrandbits(64):016x}")))

    elif cls == "spread":
        # L3/L5 fixtures: sheet 1 is a landscape spread (1200x800, split at
        # x=600), sheet 2 a portrait single; spans include left/right-half
        # text, a gutter straddler, and a straddling image
        sw, sh_, mid = 1200, 800, 600
        for j in range(rng.randint(2, 4)):
            spans.append(_span(
                make_kind("text", page=1, sw=sw, sh=sh_, y=80 + 40 * j,
                          x=rng.choice([60, 80, 100]), w=150, size=10),
                _sentence(rng, 6)))
        for j in range(rng.randint(2, 4)):
            spans.append(_span(
                make_kind("text", page=1, sw=sw, sh=sh_, y=80 + 40 * j,
                          x=mid + rng.choice([60, 80, 100]), w=150, size=10),
                _sentence(rng, 6)))
        spans.append(_span(
            make_kind("text", page=1, sw=sw, sh=sh_, y=400,
                      x=mid - 80, w=160, size=10),
            "gutter " + _sentence(rng, 3)))
        if rng.random() < 0.5:
            spans.append(_span(make_kind(
                "image", page=1, sw=sw, sh=sh_, y=500, x=mid - 100, w=200,
                h=120, edpi=250, phash=f"{rng.getrandbits(64):016x}")))
        spans.append(_span(
            make_kind("title", page=2, sw=595, sh=842, y=40, x=50, size=18),
            _sentence(rng, 3)))
        spans.extend(
            _span(make_kind("text", page=2, sw=595, sh=842, y=100 + 40 * j,
                            x=50, size=10), _sentence(rng, 7))
            for j in range(rng.randint(2, 5)))

    elif cls == "empty":
        spans = []

    elif cls == "giant":
        n_pages = rng.randint(50, 100)
        per_page = rng.randint(60, 90)
        spans.append(_span(make_kind("title", page=1, y=20, x=50, size=18),
                           _sentence(rng, 3)))
        for p in range(1, n_pages + 1):
            spans.append(_span(make_kind("header", page=p, y=5, x=50), "GIANT"))
            for j in range(per_page):
                size = 14 if j % 29 == 0 else 10
                spans.append(_span(
                    make_kind("text", page=p, y=40 + 10 * j, x=50, size=size),
                    _sentence(rng, rng.randint(3, 8))))
            if p % 7 == 0:
                spans.append(_span(make_kind("image", page=p, y=950, x=60, w=200,
                                             h=100, edpi=250,
                                             phash=f"{rng.getrandbits(64):016x}")))

    else:
        raise ValueError(cls)

    return {"doc_id": doc_id, "spans": _stamp_offsets(spans)}


def gen_corpus(n_docs: int, seed: int = 42, giants: int = 1) -> list[dict]:
    """Deterministic corpus: `giants` skew docs, the rest cycling the fixture
    classes. FIXTURES.md §3 sizes: sf0.001→(100,1), sf0.01→(1000,2),
    sf0.1→(10000,4)."""
    docs = [_make_doc("giant", g, seed) for g in range(giants)]
    for i in range(n_docs - giants):
        docs.append(_make_doc(CLASSES[i % len(CLASSES)], i, seed))
    return docs


def corpus_to_spark_df(spark, docs: list[dict]):
    rows = [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                           for s in d["spans"]]) for d in docs]
    return spark.createDataFrame(rows, schema=INPUT_SCHEMA)


SF_SIZES = {0.001: (100, 1), 0.01: (1000, 2), 0.1: (10000, 4)}


def gen_corpus_sf(sf: float, seed: int = 42) -> list[dict]:
    n, g = SF_SIZES[sf]
    return gen_corpus(n, seed=seed, giants=g)
