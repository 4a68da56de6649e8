"""Cell/text predicate kernel (pure Python, no Spark).

Reference-parity semantics:
  * numeric-cell detection — /root/reference/use_marker_converter.py:229-248
  * unit detection         — /root/reference/use_marker_converter.py:251-262
  * match modes + fuzzy    — /root/reference/table_search.py:100-171

The same definitions exist as native Spark Column expressions in
``document_parser_spark.functions.columns`` (no UDF); this module is the
oracle/UDF-side twin.
"""

from __future__ import annotations

import re
from enum import Enum
from functools import lru_cache

UNIT_PATTERNS = (
    # units inside parentheses, e.g. "(mg/kg)" — use_marker_converter.py:254
    re.compile(r"\([^)]*(?:mg|kg|mL|g|L|m|cm|mm|°C|°F|%|ppm|ppb|mol|M)\)", re.IGNORECASE),
    # bare units with optional "/unit" — use_marker_converter.py:255
    re.compile(r"\b(?:mg|kg|mL|g|L|m|cm|mm)(?:/(?:mg|kg|mL|g|L|m|cm|mm))?\b", re.IGNORECASE),
)

FUZZY_THRESHOLD = 0.6  # table_search.py:135

# ASCII digits delete-map: len(text) - len(text.translate(…)) counts ASCII
# digits at C speed; non-ASCII decimal digits (also float()-parseable and
# isdigit()-true) are counted by the slow path below only when present.
_ASCII_DIGIT_DELETE = {ord(d): None for d in "0123456789"}
_FLOAT_WORDS = frozenset(
    s + w for s in ("", "+", "-") for w in ("inf", "infinity", "nan")
)


@lru_cache(maxsize=1 << 17)
def is_numeric_cell(text: str) -> bool:
    """Mostly-numeric test: float-parses after stripping ``,$%``, or more than
    half the non-space characters are digits.  Parity: use_marker_converter.py:229-248.

    float() is only attempted when it can possibly succeed (a digit exists or
    the token is an inf/nan word) — raising ValueError on every plain word is
    the reference's main per-cell cost.
    """
    if not text or not text.strip():
        return False
    bare = text.replace(",", "").replace("$", "").replace("%", "").strip()
    digits = len(text) - len(text.translate(_ASCII_DIGIT_DELETE))
    if not text.isascii():  # unicode decimal digits parse & count too
        digits = sum(ch.isdigit() for ch in text)
    if digits or bare.lower() in _FLOAT_WORDS:
        try:
            float(bare)
            return True
        except ValueError:
            pass
    width = len(text.replace(" ", ""))
    return width > 0 and digits / width > 0.5


def contains_units(text: str) -> bool:
    """Unit-indicator test.  Parity: use_marker_converter.py:251-262."""
    return any(rx.search(text) for rx in UNIT_PATTERNS)


class SearchMode(str, Enum):
    """Match strategies.  Parity: table_search.py:14-21."""

    EXACT = "exact"
    CONTAINS = "contains"
    STARTS_WITH = "starts_with"
    ENDS_WITH = "ends_with"
    REGEX = "regex"
    FUZZY = "fuzzy"


def levenshtein_similarity(query: str, text: str) -> float:
    """``1 - edit_distance / max_len`` in [0, 1]; 0.0 when either side is
    empty.  Parity: table_search.py:143-171 (any correct Levenshtein gives
    the same distance; this one is a standard two-row DP).
    """
    if not query or not text:
        return 0.0
    short, long_ = (query, text) if len(query) <= len(text) else (text, query)
    prev = list(range(len(short) + 1))
    for i, lch in enumerate(long_, start=1):
        cur = [i] + [0] * len(short)
        for j, sch in enumerate(short, start=1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (lch != sch))
        prev = cur
    return 1.0 - prev[-1] / max(len(query), len(text))


def match_text(query: str, text: str, mode: SearchMode, case_sensitive: bool = False):
    """Return ``(matched, score)`` for one query/text pair.

    Parity: table_search.py:100-141 — including the fold-both-sides casing
    rule and the invalid-regex → no-match guard (table_search.py:128-131).
    """
    if not case_sensitive:
        query, text = query.lower(), text.lower()

    if mode == SearchMode.EXACT:
        hit = query == text
    elif mode == SearchMode.CONTAINS:
        hit = query in text
    elif mode == SearchMode.STARTS_WITH:
        hit = text.startswith(query)
    elif mode == SearchMode.ENDS_WITH:
        hit = text.endswith(query)
    elif mode == SearchMode.REGEX:
        try:
            hit = re.search(re.compile(query, 0 if case_sensitive else re.IGNORECASE), text) is not None
        except re.error:
            hit = False
    elif mode == SearchMode.FUZZY:
        score = levenshtein_similarity(query, text)
        return score > FUZZY_THRESHOLD, score
    else:
        hit = False
    return hit, (1.0 if hit else 0.0)
