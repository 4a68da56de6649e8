"""Marker-pair markdown scanner (pure Python, no Spark).

The reference's core parse loop: a begin-marker is a ``|…|`` line whose next
line is a ``|---|``-style separator; the block extends until the first
non-``|…|`` line.  Parity cites into /root/reference:
  * scan loop            — use_marker_converter.py:66-112
  * row splitter         — use_marker_converter.py:183-191
  * single-table parser  — use_marker_converter.py:194-213
  * title lookback       — use_marker_converter.py:115-180

On top of the reference's tables-only scan, this scanner emits the full
**interleaved span stream** required by the engine's data model
(BASELINE.json input_hint): every content line becomes a
``(kind, text, media_ref, offset)`` span in original document order, with
``kind ∈ {text, heading, table, media, caption, boilerplate}``.  The span
vocabulary and flagging rules are frozen in SURVEY.md §7.0 / H9.

Scan unit = one document; parallelism unit in Spark = documents (the walk is
sequential within a doc, embarrassingly parallel across docs).
"""

from __future__ import annotations

import re
from collections import Counter
from functools import lru_cache
from typing import Any, Dict, List, Optional, Tuple

from .normalize import normalize_scripts

Span = Dict[str, Any]  # {kind, text, media_ref, offset}

_HEADING_RX = re.compile(r"^(#{1,6})\s+(.+)$")
_NUMBERED_RX = re.compile(r"^(\d+(?:\.\d+)*)\s+(.+)$")
_TABLE_LABEL_RX = re.compile(r"^Table\s+\d+[:.]\s*(.*)$", re.IGNORECASE)
_RULE_RX = re.compile(r"^[-=*_]{3,}$")
_MEDIA_RX = re.compile(r"^!\[[^\]]*\]\(([^)]*)\)$")
_NAV_LINK_RX = re.compile(r"^\[[^\]]+\]\([^)]*\)$")

# H9 boilerplate: a short line repeated at least this many times in one doc
# (nav/footer heuristic; germ at use_marker_converter.py:126 which steps over
# image lines and rules during title search).
_REPEAT_MIN = 3
_REPEAT_MAX_LEN = 80

# H9 text-density rule (public Boilerpipe/jusText-style heuristic, frozen
# here): a line whose content is mostly non-alphanumeric "furniture"
# (separators, pipes-less rules, decoration) is boilerplate.  Density =
# alphanumeric chars / non-space chars; prose sits ≈0.8+, decoration ≈0.
_DENSITY_MIN = 0.35


# ASCII bytes whose chr().isalnum() is True — lets the common (ASCII) case
# count alphanumerics with one C-level bytes.translate instead of a per-char
# Python loop (text_density was ~30% of the whole parse kernel).
_ASCII_ALNUM = bytes(i for i in range(128) if chr(i).isalnum())


def text_density(stripped: str) -> float:
    """Alphanumeric density of a line (1.0 for pure prose, 0.0 for pure
    decoration); 0.0 for empty."""
    body = stripped.replace(" ", "")
    if not body:
        return 0.0
    if body.isascii():
        raw = body.encode()
        return (len(raw) - len(raw.translate(None, _ASCII_ALNUM))) / len(raw)
    return sum(ch.isalnum() for ch in body) / len(body)


def is_table_row(stripped: str) -> bool:
    """``|…|`` with at least one interior pipe — use_marker_converter.py:78.
    Ranged find instead of ``"|" in stripped[1:-1]``: this predicate runs
    once per document line, and the slice allocated a copy per call."""
    return (
        stripped.startswith("|")
        and stripped.endswith("|")
        and stripped.find("|", 1, len(stripped) - 1) != -1
    )


def is_separator_row(stripped: str) -> bool:
    """Separator check used by the begin-marker — use_marker_converter.py:86
    (only requires pipes at both ends plus any ``-``)."""
    return stripped.startswith("|") and stripped.endswith("|") and "-" in stripped


@lru_cache(maxsize=1 << 17)
def _norm_cell(cell: str) -> str:
    """strip + script-normalize one raw cell, memoized: table cells repeat
    heavily (numbers, units, empty padding), and a dict probe beats the
    strip+translate pass (r06 — same rationale as the clean_cell cache)."""
    return normalize_scripts(cell.strip())


@lru_cache(maxsize=1 << 16)
def _split_row_cached(line: str) -> tuple:
    body = line.strip()
    if body.startswith("|"):
        body = body[1:]
    if body.endswith("|"):
        body = body[:-1]
    return tuple(map(_norm_cell, body.split("|")))


def split_row(line: str) -> List[str]:
    """``'| a | b |'`` → ``['a', 'b']`` with per-cell script normalization.

    Parity: use_marker_converter.py:183-191.  Memoized on the whole line
    (r06): table rows repeat across a corpus, so one dict probe replaces
    the strip/split/normalize pass; the tuple→list copy keeps callers free
    to own their row lists."""
    return list(_split_row_cached(line))


def parse_table_block(block: List[str]) -> Optional[Dict[str, Any]]:
    """Header line + separator + data rows → ``{headers, rows}`` with each
    data row padded/truncated to header width.

    Parity: use_marker_converter.py:194-213 (incl. the ≥3-line guard).
    """
    if len(block) < 3:
        return None
    headers = split_row(block[0])
    width = len(headers)
    rows = [(split_row(line) + [""] * width)[:width] for line in block[2:]]
    return {"headers": headers, "rows": rows}


def find_table_title(lines: List[str], table_start: int) -> Tuple[str, Optional[int]]:
    """Look back ≤5 lines for the best caption candidate.

    Returns ``(title, line_index)`` — the reference returns only the text
    (use_marker_converter.py:115-180); the index is kept so the span stream
    can re-kind the chosen line as ``caption``.

    Scoring parity (order of checks matters — an ALL-CAPS "TABLE 3: X" line
    scores 8 via the caps rule before the Table-label rule is reached):
    md heading=10 (break), numbered section=9 (break), ALL-CAPS=8 (break),
    ``Table N:``=10 (break), any text len>3 = 5 (keep scanning); winner by
    (priority desc, distance asc).
    """
    candidates: List[Tuple[int, int, str, int]] = []  # (-priority, distance, text, idx)
    lookback = min(5, table_start)
    for idx in range(table_start - 1, table_start - lookback - 1, -1):
        if idx < 0:
            break
        line = lines[idx].strip()
        if not line or line.startswith("![]") or _RULE_RX.match(line):
            continue
        dist = table_start - idx
        m = _HEADING_RX.match(line)
        if m:
            candidates.append((-10, dist, m.group(2).strip(), idx))
            break
        if _NUMBERED_RX.match(line):
            candidates.append((-9, dist, line, idx))
            break
        if line.isupper() and len(line.split()) >= 2:
            candidates.append((-8, dist, line, idx))
            break
        if _TABLE_LABEL_RX.match(line):
            candidates.append((-10, dist, line, idx))
            break
        if len(line) > 3 and not line.startswith("|"):
            candidates.append((-5, dist, line, idx))
    if not candidates:
        return "", None
    best = min(candidates)
    return best[2], best[3]


def repeated_boilerplate_lines(stripped_lines: List[str]) -> frozenset:
    """The doc-global H9 pre-pass: short non-table lines occurring ≥3×.
    Factored out so the segmentation protocol (plans/segmentation.py) can
    compute it over the WHOLE document and hand it to per-segment scans."""
    freq = Counter(
        s
        for s in stripped_lines
        if s and not is_table_row(s) and len(s) <= _REPEAT_MAX_LEN
    )
    return frozenset(s for s, n in freq.items() if n >= _REPEAT_MIN)


def scan_markdown(
    markdown: str,
    repeated_lines: Optional[frozenset] = None,
    offset_base: int = 0,
) -> Tuple[List[Span], List[Dict[str, Any]]]:
    """One walk over a (already script-normalized) markdown string.

    Returns ``(spans, raw_tables)`` where raw_tables carry
    ``{headers, rows, title, line_start, line_end}`` exactly as the
    reference's ``parse_markdown_tables_with_context``
    (use_marker_converter.py:66-112), and spans are the interleaved stream.

    ``repeated_lines``/``offset_base`` support segmented parsing of oversize
    documents: the repeated-line set is doc-global while the scan runs on one
    segment, and all emitted offsets/line numbers shift by ``offset_base``.
    """
    lines = markdown.splitlines()
    stripped = [ln.strip() for ln in lines]

    if repeated_lines is None:
        repeated_lines = repeated_boilerplate_lines(stripped)

    spans: List[Span] = []
    tables: List[Dict[str, Any]] = []
    caption_slots: Dict[int, int] = {}  # line index -> span list position

    i, n = 0, len(lines)
    while i < n:
        line = stripped[i]

        if is_table_row(line):
            if i + 1 < n and is_separator_row(stripped[i + 1]):
                title, title_idx = find_table_title(lines, i)
                block = [line, stripped[i + 1]]
                j = i + 2
                while j < n and is_table_row(stripped[j]):
                    block.append(stripped[j])
                    j += 1
                parsed = parse_table_block(block)
                if parsed and parsed["rows"]:
                    parsed["title"] = title
                    parsed["line_start"] = offset_base + i
                    parsed["line_end"] = offset_base + j - 1
                    tables.append(parsed)
                    if title_idx is not None:
                        pos = caption_slots.get(title_idx)
                        if pos is not None and spans[pos]["kind"] == "text":
                            spans[pos]["kind"] = "caption"
                # A table block is ONE span; text = canonical normalized block.
                spans.append(
                    {"kind": "table", "text": "\n".join(block), "media_ref": None, "offset": offset_base + i}
                )
                i = j
                continue
            # |…| line with no separator below: plain text (reference walks on).

        if not line:
            i += 1
            continue

        media = _MEDIA_RX.match(line)
        if media:
            spans.append(
                {"kind": "media", "text": "", "media_ref": media.group(1), "offset": offset_base + i}
            )
            i += 1
            continue

        heading = _HEADING_RX.match(line)
        if heading:
            spans.append(
                {"kind": "heading", "text": line, "media_ref": None, "offset": offset_base + i}
            )
            i += 1
            continue

        if (
            _RULE_RX.match(line)
            or _NAV_LINK_RX.match(line)
            or line in repeated_lines
            or text_density(line) < _DENSITY_MIN
        ):
            spans.append(
                {"kind": "boilerplate", "text": line, "media_ref": None, "offset": offset_base + i}
            )
            i += 1
            continue

        caption_slots[i] = len(spans)
        spans.append({"kind": "text", "text": line, "media_ref": None, "offset": offset_base + i})
        i += 1

    return spans, tables
