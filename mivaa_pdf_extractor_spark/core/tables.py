"""Table grid normalization + markdown pipe-table serialization.

Models the reference's grid semantics (SURVEY.md G1/G4 and M3):

- grid normalize — drop all-blank rows, pad ragged rows to a rectangle,
  require >= 2x2 (table_extraction.py:154-166, minimums :32-33);
- pipe-table serialization — GitHub pipe table with a ``| --- |`` alignment
  row after the header, matching the golden-fixture shape the reference pins
  in tests/unit/test_table_extraction.py:61-65.

Pure formatting leaves — shared verbatim by oracle and engine (like the
constant tables, these are data-shaped; the *assembly* of grids from spans is
implemented twice).
"""

from __future__ import annotations

from . import constants as C


def normalize_grid(grid: list[list[str]]) -> list[list[str]] | None:
    """Drop blank rows, pad ragged rows, enforce minimum size.

    Returns None when the grid does not qualify as a table (< 2 rows or
    < 2 cols after normalization) — "None is not an empty table"
    (table_extraction.py:136-151).
    """
    rows = [r for r in grid if any(c.strip() for c in r)]
    if not rows:
        return None
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    if len(rows) < C.TABLE_MIN_ROWS or width < C.TABLE_MIN_COLS:
        return None
    return rows


def grid_to_pipe_table(grid: list[list[str]]) -> str:
    """Serialize a normalized rectangular grid to a GitHub pipe table."""
    def row(cells: list[str]) -> str:
        return "| " + " | ".join(c.strip() for c in cells) + " |"

    header = row(grid[0])
    align = "| " + " | ".join("---" for _ in grid[0]) + " |"
    body = [row(r) for r in grid[1:]]
    return "\n".join([header, align, *body])


# --- G1/G2/G3 table parsing + G5 classify + G6 records -------------------
# Models table_extraction.py: markdown parse (:120-133, alignment-row regex
# :36), HTML parse via stdlib HTMLParser tolerant of unclosed <tr>
# (:66-117), content dispatch "<table/<tr -> html, | -> markdown, else None
# — None is NOT an empty table" (:136-151), multilingual keyword classify
# with fixed priority pricing > dimensions > packaging > specifications >
# comparison > other (:43-63,312-365), and table->record conversion
# (headers = row 0, :267-310).

import re as _re
from html import unescape as _unescape
from html.parser import HTMLParser as _HTMLParser

_ALIGNMENT_ROW_RE = _re.compile(r"^:?-{2,}:?$")


def parse_markdown_table(text: str) -> list[list[str]] | None:
    """G1: split pipe rows, html-unescape cells (the reference's markdown
    comes from VLM output carrying entities, table_extraction.py:127),
    unescape ``\\|``, drop the alignment row."""
    rows: list[list[str]] = []
    for line in text.splitlines():
        line = line.strip()
        if "|" not in line:
            continue
        line = line.strip("|")
        cells = [_unescape(c.strip().replace("\\|", "|"))
                 for c in _re.split(r"(?<!\\)\|", line)]
        if cells and all(_ALIGNMENT_ROW_RE.match(c) for c in cells if c):
            continue
        rows.append(cells)
    return rows or None


class _GridCollector(_HTMLParser):
    """Event-driven ``<tr>``/``<td>``/``<th>`` grid collector (G2 semantics:
    whitespace-collapsed cell text; an opening ``<tr>`` implicitly closes an
    unclosed previous row, and a ``<td>`` before any ``<tr>`` opens one)."""

    def __init__(self) -> None:
        super().__init__()
        self.rows: list[list[str]] = []
        # current row / current cell fragment buffers; None = not open
        self._open: dict[str, list | None] = {"row": None, "cell": None}

    def _finish(self, what: str) -> None:
        if what == "cell" and self._open["cell"] is not None:
            text = _re.sub(r"\s+", " ", "".join(self._open["cell"])).strip()
            self._open["row"].append(text)
            self._open["cell"] = None
        elif what == "row" and self._open["row"] is not None:
            self._finish("cell")
            if self._open["row"]:
                self.rows.append(self._open["row"])
            self._open["row"] = None

    def handle_starttag(self, tag, attrs):
        if tag == "tr":
            self._finish("row")  # tolerate unclosed <tr>
            self._open["row"] = []
        elif tag in ("td", "th"):
            if self._open["row"] is None:
                self._open["row"] = []
            self._open["cell"] = []

    def handle_endtag(self, tag):
        if tag in ("td", "th"):
            self._finish("cell")
        elif tag == "tr":
            self._finish("row")

    def handle_data(self, data):
        if self._open["cell"] is not None:
            self._open["cell"].append(data)

    def close(self):
        super().close()
        self._finish("row")


def parse_html_table(text: str) -> list[list[str]] | None:
    """G2: stdlib-HTMLParser tr/td/th collection, whitespace-collapsed."""
    p = _GridCollector()
    p.feed(text)
    p.close()
    return p.rows or None


def parse_table_content(text: str) -> list[list[str]] | None:
    """G3 dispatch: HTML markers win, then pipes; None means 'no table',
    which is distinct from an empty grid."""
    if text is None:
        return None
    low = text.lower()
    if "<table" in low or "<tr" in low:
        grid = parse_html_table(text)
    elif "|" in text:
        grid = parse_markdown_table(text)
    else:
        return None
    return normalize_grid(grid) if grid else None


# G5 multilingual keyword sets, verbatim from the reference
# (table_extraction.py:43-63 PRICING/DIMENSION/PACKAGING_KEYWORDS and
# :312-365 classify_table_type's inline specification/comparison lists),
# in the reference's fixed priority order: pricing > dimensions >
# packaging > specifications > comparison > other.
TABLE_TYPE_KEYWORDS: list[tuple[str, tuple[str, ...]]] = [
    ("pricing", (
        "price", "prezzo", "precio", "prix", "preis",
        "cost", "costo", "rate", "pricing", "quote", "msrp", "listino",
    )),
    ("dimensions", (
        "dimension", "dimensions", "dimensioni", "dimensione",
        "size", "sizes", "misura", "misure", "medida", "medidas", "taille",
        "format", "formato", "formats", "formati",
        "thickness", "spessore", "espesor", "épaisseur", "epaisseur",
        "stärke", "starke",
        "width", "height", "length", "diameter",
        "larghezza", "altezza", "lunghezza", "ancho", "alto", "largo",
    )),
    ("packaging", (
        "pcs/box", "pcs/", "pieces", "pezzi", "piezas", "pièces",
        "box", "boxes", "carton", "scatola", "scatole", "caja", "cajas",
        "pallet", "bancale", "palet",
        "coverage", "mq", "m2", "m²", "sqm",
        "weight", "peso", "poids", "gewicht", "kg",
    )),
    ("specifications", (
        "specification", "specifiche", "especificacion", "spécification",
        "property", "properties", "proprieta", "proprietà", "propiedad",
        "feature", "caratteristica", "caracteristica",
        "characteristic", "parameter", "parametro", "norm", "norma",
        "standard",
    )),
    ("comparison", (
        "comparison", "versus", "compare", "confronto", "model", "modello",
    )),
]


def classify_table(grid: list[list[str]]) -> str:
    """G5: first matching type in priority order over the lowercased,
    space-joined header row; 'other' when nothing matches."""
    if not grid:
        return "other"
    header = " ".join(grid[0]).lower()
    for table_type, keywords in TABLE_TYPE_KEYWORDS:
        if any(k in header for k in keywords):
            return table_type
    return "other"


def table_to_record(grid: list[list[str]]) -> dict:
    """G6: headers = row 0, rows = rest, with shape counts."""
    headers = grid[0] if grid else []
    rows = grid[1:] if grid else []
    return {"headers": headers, "rows": rows,
            "num_rows": len(rows), "num_cols": len(headers)}
