"""Text-normalization kernel (pure Python, no Spark).

Reference-parity semantics (see /root/reference):
  * superscript/subscript normalization — use_marker_converter.py:19-63
  * cell cleaning v2 (``<br>`` → newline)  — use_marker_converter.py:216-226
  * cell cleaning v0 (``<br>`` → space)    — main.py:151-158

These functions are shared verbatim between the golden-oracle tests and the
vectorized Arrow UDF bodies, so Spark output is byte-equal to the oracle by
construction.  Implementation style is vectorization-friendly: one
``str.translate`` pass instead of the reference's 90 sequential
``str.replace`` calls (same result — the mapped code points are disjoint and
no replacement output contains a mapped code point).
"""

from __future__ import annotations

import re
from functools import lru_cache

# Code-point → "^x"/"_x" marker table.  Source/target strings are index-aligned;
# the pair set matches use_marker_converter.py:25-49 exactly (checked by
# tests/test_reference_parity.py against the reference source itself).
_SUPERSCRIPT_SRC = (
    "⁰¹²³⁴⁵⁶⁷⁸⁹"  # 0-9
    "ᵃᵇᶜᵈᵉᶠᵍʰⁱʲ"  # a-j (no q)
    "ᵏˡᵐⁿᵒᵖʳˢᵗᵘ"  # k-u
    "ᵛʷˣʸᶻ"                                # v-z
    "ᴬᴮᴰᴱᴳᴴᴵᴶᴷᴸ"  # A B D E G H I J K L
    "ᴹᴺᴼᴾᴿᵀᵁⱽᵂ"        # M N O P R T U V W
    "⁺⁻⁼⁽⁾"                                # + - = ( )
)
_SUPERSCRIPT_DST = "0123456789abcdefghijklmnoprstuvwxyzABDEGHIJKLMNOPRTUVW+-=()"

_SUBSCRIPT_SRC = (
    "₀₁₂₃₄₅₆₇₈₉"  # 0-9
    "ₐₑₕᵢⱼₖₗₘₙₒ"  # a e h i j k l m n o
    "ₚᵣₛₜᵤᵥₓ"                    # p r s t u v x
    "₊₋₌₍₎"                                # + - = ( )
)
_SUBSCRIPT_DST = "0123456789aehijklmnoprstuvx+-=()"

_SCRIPT_TRANSLATION = {
    ord(src): "^" + dst for src, dst in zip(_SUPERSCRIPT_SRC, _SUPERSCRIPT_DST)
}
_SCRIPT_TRANSLATION.update(
    {ord(src): "_" + dst for src, dst in zip(_SUBSCRIPT_SRC, _SUBSCRIPT_DST)}
)

# Heuristic rewrite for marker-dropped superscript pairs ("a, b" → "^a, ^b"),
# use_marker_converter.py:59-61.  Non-overlapping re.sub semantics matter
# ("x, y, z" rewrites the *last* two letters — the first match fails its
# lookahead on the trailing comma), so the exact pattern is kept.
_SCRIPT_PAIR_RX = re.compile(r"([a-z]),\s*([a-z])(?=\s|$)")

_BR_TAG_RX = re.compile(r"<br\s*/?>", re.IGNORECASE)
_WS_RUN_RX = re.compile(r"\s+")


def normalize_scripts(text: str) -> str:
    """Map unicode super/subscript chars to ``^x``/``_x`` markers.

    Parity: use_marker_converter.py:19-63 (single-pass translate instead of
    sequential replace; identical output).  Fast paths are sound because
    every mapped code point is non-ASCII (translate is identity on ASCII)
    and the pair-heuristic regex requires a comma.
    """
    if text.isascii():
        if "," not in text:
            return text
        return _SCRIPT_PAIR_RX.sub(r"^\1, ^\2", text)
    return _SCRIPT_PAIR_RX.sub(r"^\1, ^\2", text.translate(_SCRIPT_TRANSLATION))


@lru_cache(maxsize=1 << 17)
def clean_cell(text: str) -> str:
    """Cell cleaning v2: ``<br>`` variants become newlines, whitespace runs
    collapse per line, empty lines drop, scripts normalize.

    Parity: use_marker_converter.py:216-226.  Memoized — tables repeat cell
    values heavily (numbers, units, empty cells), and the function is pure.
    """
    if "<" in text:  # the <br> regex can only match when a '<' exists
        text = _BR_TAG_RX.sub("\n", text)
    if "\n" in text:
        pieces = text.split("\n")
        kept = [p for p in (_WS_RUN_RX.sub(" ", piece).strip() for piece in pieces) if p]
        return normalize_scripts("\n".join(kept))
    return normalize_scripts(_WS_RUN_RX.sub(" ", text).strip())


def clean_cell_basic(text: str) -> str:
    """Cell cleaning v0: ``<br>`` (exact tag) becomes a space, then all
    whitespace runs collapse to single spaces.

    Parity: main.py:151-158.
    """
    return _WS_RUN_RX.sub(" ", text.replace("<br>", " ")).strip()


# C7: sink-side styled-run splitter — convert_table.py:73-92.
_SCRIPT_RUN_RX = re.compile(r"(\^[a-zA-Z0-9]+|_[a-zA-Z0-9]+)")


def split_script_runs(text: str):
    """Split normalized cell text into styled runs for rich sinks (DOCX/PDF):
    ``[(kind, text)]`` with kind ∈ {plain, superscript, subscript, break}.

    Parity: convert_table.py:73-99 — split on ``<br>`` into line parts, then
    on ``^word``/``_word`` marker tokens; empty tokens dropped; a break run
    between parts.
    """
    runs = []
    parts = text.split("<br>")
    for i, part in enumerate(parts):
        for token in _SCRIPT_RUN_RX.split(part):
            if not token:
                continue
            if token.startswith("^"):
                runs.append(("superscript", token[1:]))
            elif token.startswith("_"):
                runs.append(("subscript", token[1:]))
            else:
                runs.append(("plain", token))
        if i < len(parts) - 1:
            runs.append(("break", ""))
    return runs
