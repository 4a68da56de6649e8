"""Deterministic oversize-document segmentation (SURVEY.md §4.3, §7.3 #2).

A pathologically large document stalls its whole partition: the scan is
sequential per document.  The fix is intra-document parallelism — split the
normalized line stream into segments, scan each independently, reassemble —
**provably** span-equal to the unsegmented scan because splits happen only at
SAFE points:

  * never inside a table block (blocks must stay contiguous);
  * never where a table begins within the next 5 lines (the title lookback
    window, use_marker_converter.py:118-120, must not cross the boundary —
    a begin at j reads lines [j-5, j-1], so a split at i is safe only when
    no begin-marker exists in [i, i+4]);
  * the repeated-line boilerplate set (H9) is doc-global — it is computed
    once over the whole document and handed to every segment scan.

Everything else the scanner does is line-local, so segment scans with
``offset_base`` shifts compose exactly.  tests/test_segmentation.py asserts
byte-equality against the unsegmented oracle on every fixture doc.
"""

from __future__ import annotations

from typing import Any, Dict, List, Tuple

from .normalize import normalize_scripts
from .scanner import (
    is_separator_row,
    is_table_row,
    repeated_boilerplate_lines,
    scan_markdown,
)
from .structure import columns_to_dicts, extract_tables

#: lines a title lookback can reach above a table begin
_LOOKBACK = 5


def _unsafe_mask(stripped: List[str]) -> List[bool]:
    """unsafe[i] = True when splitting BEFORE line i would change scan
    output (inside a block, or a begin-marker lies in [i, i+4])."""
    n = len(stripped)
    begin = [
        is_table_row(stripped[i]) and i + 1 < n and is_separator_row(stripped[i + 1])
        for i in range(n)
    ]
    unsafe = [False] * n

    # In-block lines (replicating the scanner's consume loop).
    i = 0
    while i < n:
        if begin[i]:
            j = i + 2
            while j < n and is_table_row(stripped[j]):
                j += 1
            for k in range(i, j):
                unsafe[k] = True
            i = j
        else:
            i += 1

    # Lookback window: no begin in [i, i+4] ⇒ mark i unsafe when any
    # begin[j] with j - i < LOOKBACK.
    next_begin = n * 2
    for i in range(n - 1, -1, -1):
        if begin[i]:
            next_begin = i
        if next_begin - i < _LOOKBACK:
            unsafe[i] = True
    return unsafe


def plan_segments(stripped: List[str], target_lines: int) -> List[int]:
    """Greedy split plan: segment starts (first is 0); each next split is the
    first safe point at or after the previous start + target_lines."""
    n = len(stripped)
    if n <= target_lines:
        return [0]
    unsafe = _unsafe_mask(stripped)
    starts = [0]
    cursor = target_lines
    while cursor < n:
        while cursor < n and unsafe[cursor]:
            cursor += 1
        if cursor >= n:
            break
        starts.append(cursor)
        cursor += target_lines
    return starts


def segment_document(
    text: str, target_chars: int = 500_000
) -> Tuple[List[Tuple[int, str]], List[str]]:
    """Normalize, then split into ``(line_offset, segment_text)`` pieces plus
    the doc-global repeated-line list.  ``target_chars`` is converted to a
    line budget from the doc's mean line length."""
    from .html import looks_like_html

    if looks_like_html(text):
        # HTML has no safe line-based split points (a cut inside a tag would
        # corrupt the DOM walk) — an oversize HTML doc parses as one segment.
        return [(0, text)], []
    markdown = normalize_scripts(text)
    lines = markdown.splitlines()
    stripped = [ln.strip() for ln in lines]
    repeated = sorted(repeated_boilerplate_lines(stripped))
    if not lines:
        return [(0, markdown)], repeated
    mean_line = max(len(markdown) // max(len(lines), 1), 1)
    target_lines = max(target_chars // mean_line, _LOOKBACK * 2)
    starts = plan_segments(stripped, target_lines)
    bounds = starts + [len(lines)]
    segments = [
        (start, "\n".join(lines[start:end]))
        for start, end in zip(bounds, bounds[1:])
    ]
    return segments, repeated


def scan_segment(
    segment_text: str, line_offset: int, repeated: List[str]
) -> Tuple[List[Dict[str, Any]], List[Dict[str, Any]]]:
    """Scan one segment with global offsets and the doc-global H9 set.
    Input text is already normalized by segment_document (HTML docs arrive
    un-normalized as one whole-document segment — see segment_document)."""
    from .html import looks_like_html, scan_html

    if line_offset == 0 and looks_like_html(segment_text):
        return scan_html(segment_text)
    return scan_markdown(
        segment_text, repeated_lines=frozenset(repeated), offset_base=line_offset
    )


def parse_document_segmented(
    text: str, target_chars: int = 500_000, source: str = "markdown"
) -> Dict[str, Any]:
    """Single-process reference implementation of the segmented parse —
    byte-equal to kernel.parse_document; the Spark twin distributes the
    per-segment scans (plans/segmentation.py)."""
    from .html import looks_like_html

    if looks_like_html(text):
        source = "html"  # parity with parse_document's dispatch
    segments, repeated = segment_document(text, target_chars)
    spans: List[Dict[str, Any]] = []
    raw_tables: List[Dict[str, Any]] = []
    for line_offset, seg_text in segments:
        seg_spans, seg_raw = scan_segment(seg_text, line_offset, repeated)
        spans.extend(seg_spans)
        raw_tables.extend(seg_raw)
    tables = [columns_to_dicts(t) for t in extract_tables(raw_tables, source)]
    return {"spans": spans, "tables": tables}
