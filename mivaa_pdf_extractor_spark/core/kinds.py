"""Input span ``kind`` attribute codec.

FIXTURES.md §1.1 packs the geometry/media attributes the reference derives
from pixels into the raw ``kind`` string: ``base[;k=v;...]`` — e.g.
``text;page=1;y=120;x=40;size=11`` or
``image;page=2;y=300;x=60;w=200;h=100;edpi=250;phash=a1b2c3d4e5f60718``.

Scalar parser here (used by the oracle and by the synthetic generator);
the engine parses the same grammar vectorized with its own attribute table
(operators/extract.py ``parse_attrs``, on both routes: the salted path's
splitter runs it too). tests/test_attr_grammar.py and the property fuzz in
tests/test_property_fuzz.py keep the two in sync.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# THE attr grammar — single source of truth for both parse paths (the
# oracle's parse_kind and the engine's parse_attrs). In both, segment 0 of
# the ';'-split kind is the base, never an attribute, even when it looks
# like ``page=2``. A value is accepted only if the WHOLE value (up to the
# next ';' / end of string) matches; anything else keeps the default.
# Bounded digit counts keep int64/float64 casts exact and identical across
# Python int()/float() and Arrow's cast.
# ---------------------------------------------------------------------------
INT_ATTR_PATTERN = r"-?\d{1,9}"
FLOAT_ATTR_PATTERN = r"-?\d{1,9}(?:\.\d{1,9})?(?:[eE][-+]?\d{1,2})?"
# phash: any value, so its first occurrence wins whatever it holds
ANY_ATTR_PATTERN = r"[^;]*"

_INT_FULL = re.compile(INT_ATTR_PATTERN + r"\Z")
_FLOAT_FULL = re.compile(FLOAT_ATTR_PATTERN + r"\Z")


@dataclass
class SpanAttrs:
    base: str
    page: int = 1
    y: float = 0.0
    x: float = 0.0
    size: float = 10.0
    mono: int = 0
    col: int = 0
    w: float = 0.0
    h: float = 0.0
    sw: float = 0.0   # sheet width  (L3/L5 spread-clip geometry)
    sh: float = 0.0   # sheet height
    edpi: int = 0
    phash: str = ""
    extra: dict = field(default_factory=dict)


_FLOAT_KEYS = {"y", "x", "size", "w", "h", "sw", "sh"}
_INT_KEYS = {"page", "mono", "col", "edpi"}


def parse_kind(kind: str) -> SpanAttrs:
    """Parse ``base;k=v;...``. Lenient: missing attrs keep defaults;
    values that don't fully match the grammar keep defaults (the engine
    treats *None* kind as a document failure, not a bad attribute).

    The FIRST occurrence of each key whose value matches the grammar wins —
    the same semantics as the engines' leftmost regex match (so
    ``y=bad;y=2`` reads 2, but ``y=1;y=2`` reads 1)."""
    parts = kind.split(";")
    attrs = SpanAttrs(base=parts[0])
    seen: set[str] = set()
    for part in parts[1:]:
        if "=" not in part:
            continue
        k, _, v = part.partition("=")
        if k in seen:
            continue
        if k in _FLOAT_KEYS:
            if _FLOAT_FULL.match(v):
                setattr(attrs, k, float(v))
                seen.add(k)
        elif k in _INT_KEYS:
            if _INT_FULL.match(v):
                setattr(attrs, k, int(v))
                seen.add(k)
        elif k == "phash":
            attrs.phash = v
            seen.add(k)
        else:
            if k not in attrs.extra:
                attrs.extra[k] = v
    return attrs


def make_kind(base: str, **attrs) -> str:
    """Inverse of :func:`parse_kind` for the synthetic generator."""
    parts = [base]
    for k, v in attrs.items():
        if isinstance(v, float) and v == int(v):
            v = int(v)
        parts.append(f"{k}={v}")
    return ";".join(parts)
