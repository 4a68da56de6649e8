"""Per-document parse pipeline (pure Python, no Spark).

One parse route: ``parse_document_columns`` holds the only markdown/HTML
dispatch and builds every table in the columnar form the Arrow batch
builder (operators/extract.py) consumes.  ``parse_document`` is its dict
view (``structure.columns_to_dicts`` per table) — the golden oracle used in
tests and by scripts/build_golden.py.  One shared kernel guarantees
Spark-vs-oracle span-sequence equality by construction (SURVEY.md §5.2
item 1).

Stage order parity with the reference flagship
(/root/reference/use_marker_converter.py:600-648):
  1. whole-document script normalization  (:611)
  2. marker-pair scan + title lookback    (:626)
  3. per-table auto structure extraction  (:632-640)
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional, Tuple

from .normalize import normalize_scripts
from .scanner import scan_markdown
from .structure import columns_to_dicts, extract_tables


def parse_document_columns(text: str, source: str = "markdown") -> Dict[str, Any]:
    """Full per-document parse: ``{"spans", "tables", "markdown"}`` with
    each table's cells as parallel column lists.

    Dispatch: documents that open with a structural HTML tag go through the
    DOM kernel (kernel.html — north-rule HTML main-content extraction with
    tag-depth/link-density/text-density boilerplate); everything else is the
    reference-parity markdown scanner.
    """
    from .html import looks_like_html, parse_html_document

    if looks_like_html(text):
        return parse_html_document(text)
    markdown = normalize_scripts(text)
    spans, raw_tables = scan_markdown(markdown)
    return {"spans": spans, "tables": extract_tables(raw_tables, source), "markdown": markdown}


def parse_document(text: str, source: str = "markdown") -> Dict[str, Any]:
    """Dict view of ``parse_document_columns``: the same parse with each
    table's cells as per-cell dicts (``header_cells`` / ``cells``)."""
    parsed = parse_document_columns(text, source)
    parsed["tables"] = [columns_to_dicts(t) for t in parsed["tables"]]
    return parsed


# --- H7: merged-cell span inference (sink-side) -----------------------------

def infer_merged_spans(matrix: List[List[str]]) -> List[Dict[str, int]]:
    """Empty cells inherit an owner from the cell above, or (row 0 only) from
    the cell to the left; owners aggregate to rectangular extents.

    Parity: /root/reference/convert_table_pdf.py:56-88 (note the ``elif`` —
    merge-left applies only when merge-up is impossible).  Pure-Spark twin:
    per-column forward-fill window, SURVEY.md §2.7 W4.
    """
    owners: Dict[Tuple[int, int], Tuple[int, int]] = {}
    for r, row in enumerate(matrix):
        for c, text in enumerate(row):
            owners[(r, c)] = (r, c)
            if not text:
                if r > 0:
                    owners[(r, c)] = owners[(r - 1, c)]
                elif c > 0:
                    owners[(r, c)] = owners[(r, c - 1)]

    extents: Dict[Tuple[int, int], Dict[str, int]] = {}
    for (r, c), owner in owners.items():
        ext = extents.get(owner)
        if ext is None:
            extents[owner] = {"min_row": r, "max_row": r, "min_col": c, "max_col": c}
        else:
            ext["min_row"] = min(ext["min_row"], r)
            ext["max_row"] = max(ext["max_row"], r)
            ext["min_col"] = min(ext["min_col"], c)
            ext["max_col"] = max(ext["max_col"], c)

    return [
        {"owner_row": orow, "owner_col": ocol, **ext}
        for (orow, ocol), ext in sorted(extents.items())
        if ext["max_row"] > ext["min_row"] or ext["max_col"] > ext["min_col"]
    ]


# --- P6: sink-side table parser (multi-row-header dialect) ------------------

_SINK_SEPARATOR_RX = re.compile(r"^\|?[\s\-:|]+\|?$")


def parse_table_sink_dialect(markdown_table: str) -> Optional[Dict[str, Any]]:
    """The sink-side parsing dialect: every line above the ``---`` separator
    is a header row (vs. the scanner's exactly-one-header rule); rows padded
    to the widest row.

    Parity: /root/reference/convert_table_pdf.py:10-54 (same logic at
    convert_table.py:22-40).  SURVEY.md §7.0 reconciles the two dialects.
    """
    lines = [ln.strip() for ln in markdown_table.strip().split("\n") if ln.strip()]
    if not lines:
        return None

    sep_at = next(
        (i for i, ln in enumerate(lines) if _SINK_SEPARATOR_RX.match(ln) and set(ln) & set("-:")),
        -1,
    )
    if sep_at != -1:
        header_lines = lines[:sep_at]
        data_lines = [ln for ln in lines[sep_at + 1 :] if ln.startswith("|")]
    else:
        header_lines, data_lines = lines[:1], lines[1:]

    def bare_split(line: str) -> List[str]:
        body = line[1:] if line.startswith("|") else line
        body = body[:-1] if body.endswith("|") else body
        return [c.strip() for c in body.split("|")]

    headers = [bare_split(ln) for ln in header_lines]
    data = [bare_split(ln) for ln in data_lines]
    all_rows = headers + data
    if not all_rows:
        return None
    width = max(len(row) for row in all_rows)
    for row in all_rows:
        row += [""] * (width - len(row))
    return {
        "header_rows": all_rows[: len(headers)],
        "data_rows": all_rows[len(headers) :],
        "num_cols": width,
        "merged_spans": infer_merged_spans(all_rows),
    }
