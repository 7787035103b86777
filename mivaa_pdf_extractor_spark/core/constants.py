"""Pinned behavior tables for the extraction engine.

Every table here reproduces a *behavior* of the reference extractor
(creativeghq/mivaa-pdf-extractor) as documented in SURVEY.md §2; citations are
``reference-file:line`` into /root/reference. The tables are shared between
the pure-Python oracle and the vectorized Spark engine so the two cannot
drift on *data*; the *logic* is implemented twice on purpose (see
tests/test_span_equality.py).
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Glyph-name fixes (T1) — models app/core/extractor.py:30-59.
# Ordered dict: replacements are applied in insertion order, before the
# ligature regex passes, exactly like the reference's first pass
# (extractor.py:61-63).
# ---------------------------------------------------------------------------
GLYPH_REPLACEMENTS: dict[str, str] = {
    # numbers (extractor.py:32-34)
    "/nine.LP": "9", "/eight.LP": "8", "/seven.LP": "7",
    "/six.LP": "6", "/five.LP": "5", "/four.LP": "4",
    "/three.LP": "3", "/two.LP": "2", "/one.LP": "1", "/zero.LP": "0",
    # punctuation (extractor.py:37-41)
    "/emdash.cap": "—", "/threequarteremdash": "—",
    "/percent.LP": "%", "/parenleft.cap": "(", "/parenright.cap": ")",
    "/periodcentered.cap": "·", "/minus.cap": "-",
    "/period.LP": ".", "/comma.LP": ",", "/colon.LP": ":",
    "/semicolon.LP": ";", "/slash.LP": "/", "/backslash.LP": "\\",
    # quotes (extractor.py:44-46)
    '/quotedbl.LP': '"', "/quotesingle.LP": "'",
    "/quotedblleft": "“", "/quotedblright": "”",
    "/quoteleft": "‘", "/quoteright": "’",
    # math (extractor.py:49-50)
    "/plus.LP": "+", "/equal.LP": "=", "/less.LP": "<", "/greater.LP": ">",
    "/multiply": "×", "/divide": "÷",
    # other common glyphs (extractor.py:53-58)
    "/space.LP": " ", "/hyphen.LP": "-", "/underscore.LP": "_",
    "/at.LP": "@", "/numbersign.LP": "#", "/dollar.LP": "$",
    "/ampersand.LP": "&", "/asterisk.LP": "*",
    "/question.LP": "?", "/exclam.LP": "!",
    "/bracketleft.LP": "[", "/bracketright.LP": "]",
    "/braceleft.LP": "{", "/braceright.LP": "}",
}

# Ligature / whitespace regex passes (T1 passes 2-4 + T2), applied *in this
# order* after GLYPH_REPLACEMENTS — order pinned by extractor.py:68-82.
# (pattern, replacement) using Python/Java-compatible regex syntax.
LIGATURE_AND_WS_PASSES: list[tuple[str, str]] = [
    (r"/([a-z])_([a-z]+)", r"\1\2"),        # /f_ter -> fter  (extractor.py:68)
    (r"/([a-z])/([a-z])_([a-z]+)", r"\1\2\3"),  # extractor.py:69
    (r"/([a-z])\b", r"\1"),                  # /f -> f         (extractor.py:73)
    (r"\n{3,}", "\n\n"),                     # extractor.py:76
    (r" +\n", "\n"),                         # extractor.py:79
    (r"  +", " "),                           # extractor.py:82
]

# ---------------------------------------------------------------------------
# Input span-kind vocabulary (FIXTURES.md §1.1) and the label taxonomy (L8,
# models paddleocr_pipeline.py:41-84 collapsed onto the fixture encoding).
# ---------------------------------------------------------------------------
BOILERPLATE_KINDS = frozenset({"header", "footer", "page_number"})
TEXT_LIKE_KINDS = frozenset({"text", "title", "list", "code", "caption"})
MEDIA_KINDS = frozenset({"image", "figure"})
TABLE_CELL_KIND = "table_cell"

# media extraction layers (I1/I4; pdf_processor.py:1032-1045 "embedded",
# region_crop_extractor.py:189-209 "region_crop")
MEDIA_LAYER = {"image": "embedded", "figure": "region"}

# ---------------------------------------------------------------------------
# Output statuses — models retryable-vs-terminal taxonomy
# (stage_1_layout_precompute.py:50-56,320; checkpoint_recovery_service.py:190-200)
# ---------------------------------------------------------------------------
STATUS_COMPLETED = "completed"
STATUS_NO_TEXT = "no_text"              # media-only doc (pdf_worker.py:52-101 path)
STATUS_EMPTY = "empty_doc"              # blank-doc terminal (stage_1:170-195)
STATUS_COMPLETED_EMPTY = "completed_empty"  # everything stripped as boilerplate
STATUS_FAILED = "failed"                # retryable
STATUS_OVERSIZE = "oversize"            # S1 size gate (pdf_processor.py:223)

TERMINAL_STATUSES = frozenset(
    {STATUS_COMPLETED, STATUS_NO_TEXT, STATUS_EMPTY, STATUS_COMPLETED_EMPTY,
     STATUS_OVERSIZE}
)

# ---------------------------------------------------------------------------
# Layout / structure thresholds
# ---------------------------------------------------------------------------
# two-column detection: x-spread and gap in 250-DPI pixels (the reference's
# pixel convention, stage_1_layout_precompute.py:107-121); both engine and
# oracle detect 2 columns when the largest gap between sorted distinct x
# positions of text-like spans is >= MIN_COLUMN_GAP and the overall spread is
# >= MIN_COLUMN_SPREAD with >= 2 spans on each side.
MIN_COLUMN_GAP = 200.0
MIN_COLUMN_SPREAD = 400.0
MIN_SPANS_PER_COLUMN = 2

# spread-sheet geometry (L1/L3/L5; pdf_to_images.py:163-279 aspect gates,
# stage_1_layout_precompute.py:124-141 half-page clip, :198-234 span-in-clip
# with the 250-DPI pixel zoom)
SPREAD_ASPECT = 1.4
SINGLE_ASPECT = 1.2
LAYOUT_RENDER_DPI = 250
PDF_POINTS_TO_PIXEL_ZOOM = LAYOUT_RENDER_DPI / 72.0

# L2 full-spread-image gate (pdf_to_images.py:103-158): a media span
# covering >= 75% of sheet width AND >= 50% of sheet height means the
# spread must NOT be split in half
FULL_SPREAD_WIDTH_FRAC = 0.75
FULL_SPREAD_HEIGHT_FRAC = 0.50

# S1 input size gate (pdf_processor.py:223 max_file_size_mb, default 50):
# documents whose total span-text bytes exceed the cap are rejected with a
# terminal 'oversize' status instead of entering extraction
MAX_DOC_BYTES = 50 * 1024 * 1024

# heading inference (M1): body size = most frequent font size (ties -> the
# *smaller* size is body, so larger sizes become headings — the fixed
# tiebreak of SURVEY.md §7.3); distinct sizes above body map, descending, to
# levels 1..MAX_HEADING_LEVEL.
MAX_HEADING_LEVEL = 6

# list detection (M4): leading bullet or enumerator. The whitespace class
# is written out explicitly (RE2's exact \s set) because Python re's \s
# additionally matches \x1c-\x1f and unicode spaces — the fuzzer caught
# 'text' "*\x1f" classifying as a list in the oracle (Python re) but not
# in the engine (RE2). One explicit class keeps Python re, RE2, Java, and
# the DuckDB twins (whose RE2 \s equals this class) in agreement.
LIST_MARKER_REGEX = r"^[ \t\n\f\r]*([•\-\*]|\d+[.)])[ \t\n\f\r]+"

# table minimums (G4; table_extraction.py:32-33)
TABLE_MIN_ROWS = 2
TABLE_MIN_COLS = 2

# media gates (I2/I5; pdf_processor.py:67-70 eDPI floor, :47 phash threshold;
# we implement the exact-match dedup tier, per (doc, layer) buckets
# per pdf_processor.py:1184-1238)
MIN_EFFECTIVE_DPI = 100

# skew handling: the most input spans one task extracts for one document.
# Larger docs take the per-page salted path, in buckets of at most this many
# spans unless one page is larger (SURVEY.md §7.2 step 8)
DEFAULT_SKEW_THRESHOLD = 8192

# deterministic media_ref patterns — model the reference filename patterns
# page_{p}_image_{i}.{ext} (pdf_processor.py:1023), page_{p}_region_{i}.jpg
# (region_crop_extractor.py:183), page_{p}_full_render.jpg
# (pdf_processor.py:1097)
def media_ref_embedded(doc_id: str, page: int, idx: int) -> str:
    return f"{doc_id}/p{page}/img{idx}"


def media_ref_region(doc_id: str, page: int, idx: int) -> str:
    return f"{doc_id}/p{page}/region{idx}"


def media_ref_full_render(doc_id: str, page: int) -> str:
    return f"{doc_id}/p{page}/full_render"
