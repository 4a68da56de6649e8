"""Table-structure heuristics (pure Python, no Spark).

Reference-parity semantics (/root/reference/use_marker_converter.py):
  * vertical-vs-horizontal detection (H1) — :265-323
  * multi-row header detection (H2/W2)    — :326-365
  * column header hierarchy (H3)          — :434-472
  * adjacent-column grouping (H4/W3)      — :475-513
  * vertical extraction (H5)              — :368-431
  * horizontal extraction (H6)            — :516-580
  * auto dispatch (H8)                    — :583-597

Each function is a pure function of one raw table, so the whole chain runs
inside the per-document Arrow UDF — one Python call per *batch of documents*,
never per row.

Tables are built in ONE form, columnar: the ``extract_*_columns`` functions
return cells as parallel lists (``cells_cols`` / ``header_cells_cols``), the
shape the Arrow batch builder (operators/extract.py) consumes with no
per-cell Python.  ``extract_tables`` is the single per-document entry (auto
dispatch + line stamps).  The per-cell dict form the oracles compare is a
view derived by ``columns_to_dicts`` (``extract_vertical`` /
``extract_horizontal`` / ``extract_table_auto``), so the reference-parity
decision logic lives exactly once.
"""

from __future__ import annotations

from typing import Any, Dict, List

from .normalize import clean_cell
from .predicates import contains_units, is_numeric_cell

# Keyword lists are order/case-frozen shared constants (SURVEY.md §7.3 item 4).
LABEL_KEYWORDS = (
    "name", "role", "type", "category", "description", "title",
    "director", "assessment", "pathology", "review", "scientist",
)  # use_marker_converter.py:302-303

HEADER_KEYWORDS = (
    "group", "number", "name", "id", "type", "description",
    "date", "time", "status", "dose", "concentration", "volume", "animal",
)  # use_marker_converter.py:350-351


def detect_table_structure(headers: List[str], rows: List[List[str]]) -> str:
    """``"vertical"`` (key-value) or ``"horizontal"``.

    Decision parity with use_marker_converter.py:265-323: first-column
    numeric ratio ≤ 0.5, uniqueness > 0.7 plus a label keyword ⇒ vertical;
    a header cell that looks like data (len>50 / ``@`` / ``Phone:``) ⇒
    vertical; otherwise horizontal.
    """
    if not rows or len(headers) < 2:
        return "horizontal"

    first_col = [row[0] for row in rows if row]
    non_empty = sum(1 for v in first_col if v.strip())
    if non_empty == 0:
        return "horizontal"
    if sum(1 for v in first_col if is_numeric_cell(v)) / non_empty > 0.5:
        return "horizontal"

    unique_ratio = len(set(first_col)) / len(first_col) if first_col else 0.0
    has_labels = any(
        kw in v.lower() for v in first_col if v for kw in LABEL_KEYWORDS
    )
    if unique_ratio > 0.7 and has_labels:
        return "vertical"

    if any(len(h) > 50 or "@" in h or "Phone:" in h for h in headers):
        return "vertical"
    return "horizontal"


def detect_header_rows(all_rows: List[List[str]]) -> int:
    """Count leading header rows of a horizontal table (max 5).

    Parity: use_marker_converter.py:326-365 — a row stays a header row while
    it has units / header keywords / zero numerics / ``^``/``_`` markers;
    the first numeric-majority row ends the scan; all-empty rows are skipped
    without extending the count.
    """
    if not all_rows:
        return 0
    count = 1
    for i in range(min(5, len(all_rows))):
        row = all_rows[i]
        numeric = sum(1 for c in row if is_numeric_cell(c))
        non_empty = sum(1 for c in row if c.strip())
        if non_empty == 0:
            continue
        if numeric / non_empty > 0.5:
            break
        row_lower = [c.lower() for c in row]
        header_like = (
            any(contains_units(c) for c in row)
            or any(kw in c for c in row_lower for kw in HEADER_KEYWORDS)
            or numeric == 0
            or any("^" in c or "_" in c for c in row)
        )
        if header_like:
            count = i + 1
        else:
            break
    return count


def build_header_hierarchy(all_rows: List[List[str]], header_row_count: int) -> List[Dict[str, Any]]:
    """Per-column stack of cleaned header cells, trailing blanks trimmed,
    ``Column_{i}`` fallback, newline-joined full path.

    Parity: use_marker_converter.py:434-472.
    """
    if header_row_count == 0 or not all_rows:
        return []
    out = []
    for col in range(len(all_rows[0])):
        levels = [
            clean_cell(all_rows[r][col]) if r < len(all_rows) and col < len(all_rows[r]) else ""
            for r in range(header_row_count)
        ]
        while levels and not levels[-1]:
            levels.pop()
        if not levels:
            levels = [f"Column_{col}"]
        filled = [lvl for lvl in levels if lvl]
        out.append(
            {
                "col": col,
                "levels": levels,
                "full_path": "\n".join(filled) if filled else f"Column_{col}",
            }
        )
    return out


def detect_column_groups(column_headers: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
    """Adjacent columns sharing a parent (levels[0]) form a group; singleton
    groups are dropped; no grouping unless some column has >1 level.

    Parity: use_marker_converter.py:475-513 (classic sessionization — the
    pure-Spark twin is lag+cumsum, SURVEY.md §2.7 W3).
    """
    if not column_headers:
        return []
    if max(len(ch["levels"]) for ch in column_headers) <= 1:
        return []
    groups: List[Dict[str, Any]] = []
    cur: Dict[str, Any] | None = None
    for ch in column_headers:
        if not ch["levels"]:
            continue
        parent = ch["levels"][0]
        if cur is None or cur["parent"] != parent:
            if cur is not None:
                groups.append(cur)
            cur = {"parent": parent, "start_col": ch["col"], "end_col": ch["col"], "columns": [ch["col"]]}
        else:
            cur["end_col"] = ch["col"]
            cur["columns"].append(ch["col"])
    if cur is not None:
        groups.append(cur)
    return [g for g in groups if len(g["columns"]) > 1]


def extract_vertical_columns(raw: Dict[str, Any], table_index: int, source: str = "markdown", title: str = "") -> Dict[str, Any]:
    """Key-value table: the header row is demoted to data; synthetic column
    names ``Key``/``Value`` (2 cols) or ``Column {i}``.  Cells come back as
    parallel column lists; ``extract_vertical`` is the dict view.

    Parity: use_marker_converter.py:368-431.
    """
    data = [raw["headers"]] + raw["rows"]
    ncols = len(raw["headers"])
    names = ["Key", "Value"] if ncols == 2 else [f"Column {i}" for i in range(ncols)]

    # the reference does NOT truncate vertical rows to the header width —
    # past-the-names columns fall back to "Column {c}"
    maxw = max((len(row) for row in data), default=0)
    eff_names = [names[c] if c < ncols else f"Column {c}" for c in range(maxw)]
    eff_levels = [[nm] for nm in eff_names]

    c_row: List[int] = []
    c_col: List[int] = []
    c_hdr: List[str] = []
    c_lvl: List[List[str]] = []
    c_text: List[str] = []
    c_num: List[bool] = []
    for r, row in enumerate(data):
        k = len(row)
        c_row.extend([r] * k)
        c_col.extend(range(k))
        c_hdr.extend(eff_names[:k])
        c_lvl.extend(eff_levels[:k])
        c_text.extend(map(clean_cell, row))
        c_num.extend(map(is_numeric_cell, row))
    return {
        "index": table_index,
        "source": source,
        "title": title,
        "table_type": "vertical",
        "num_columns": ncols,
        "num_rows": len(data),
        "header_row_count": 0,
        "headers": names,
        "column_headers": [
            {"col": i, "levels": [nm], "full_path": nm} for i, nm in enumerate(names)
        ],
        "column_groups": [],
        "header_cells_cols": ([], [], []),
        "cells_cols": (c_row, c_col, c_hdr, c_lvl, c_text, c_num),
    }


def columns_to_dicts(table: Dict[str, Any]) -> Dict[str, Any]:
    """The dict view of a columnar table: ``header_cells_cols`` and
    ``cells_cols`` become per-cell ``header_cells``/``cells`` dicts in their
    place, every other key keeps its position — the canonical record the
    reference-parity and golden oracles consume."""
    out: Dict[str, Any] = {}
    for key, value in table.items():
        if key == "header_cells_cols":
            out["header_cells"] = [
                {"header_row": r, "col": c, "text": x, "is_header": True}
                for r, c, x in zip(*value)
            ]
        elif key == "cells_cols":
            out["cells"] = [
                {
                    "row": r,
                    "col": c,
                    "header": h,
                    "header_levels": lv,
                    "text": x,
                    "is_numeric": b,
                }
                for r, c, h, lv, x, b in zip(*value)
            ]
        else:
            out[key] = value
    return out


def extract_vertical(raw: Dict[str, Any], table_index: int, source: str = "markdown", title: str = "") -> Dict[str, Any]:
    """Dict view of ``extract_vertical_columns``."""
    return columns_to_dicts(extract_vertical_columns(raw, table_index, source, title))


def extract_horizontal_columns(raw: Dict[str, Any], table_index: int, source: str = "markdown", title: str = "") -> Dict[str, Any]:
    """Standard table: multi-row header detection, hierarchy, groups, data
    cells tagged with full_path/levels/is_numeric, separate header cells.
    The per-cell output is parallel column lists built with C-speed
    ``extend`` over precomputed per-row slices (the per-cell dict literal
    was ~25% of whole-document parse time); ``extract_horizontal`` is the
    dict view.

    Parity: use_marker_converter.py:516-580.
    """
    all_rows = [raw["headers"]] + raw["rows"]
    hrc = detect_header_rows(all_rows)
    column_headers = build_header_hierarchy(all_rows, hrc)
    groups = detect_column_groups(column_headers)
    data_rows = all_rows[hrc:]

    ncol = len(column_headers)
    col_paths = [ch["full_path"] for ch in column_headers]
    col_levels = [ch["levels"] for ch in column_headers]
    col_range = range(ncol)

    c_row: List[int] = []
    c_col: List[int] = []
    c_hdr: List[str] = []
    c_lvl: List[List[str]] = []
    c_text: List[str] = []
    c_num: List[bool] = []
    nd = len(data_rows)
    if all(len(row) == ncol for row in data_rows):
        # uniform-width fast path (the common case — parse_table_block pads
        # data rows to the header width): one C-speed list repetition per
        # column stream instead of 6 extends per row (r06: the per-row
        # extends were ~11% of whole-document parse time)
        from itertools import chain

        col_list = list(col_range)
        c_col = col_list * nd
        c_hdr = col_paths * nd
        c_lvl = col_levels * nd
        c_row = [r for r in range(nd) for _ in col_list]
        flat = list(chain.from_iterable(data_rows))
        c_text = list(map(clean_cell, flat))
        c_num = list(map(is_numeric_cell, flat))
    else:
        for r, row in enumerate(data_rows):
            k = len(row)
            if k > ncol:
                k = ncol
                row = row[:ncol]
            c_row.extend([r] * k)
            c_col.extend(col_range[:k])
            c_hdr.extend(col_paths[:k])
            c_lvl.extend(col_levels[:k])
            c_text.extend(map(clean_cell, row))
            c_num.extend(map(is_numeric_cell, row))

    h_row: List[int] = []
    h_col: List[int] = []
    h_text: List[str] = []
    for r in range(min(hrc, len(all_rows))):
        row = all_rows[r]
        k = len(row)
        if k > ncol:
            k = ncol
            row = row[:ncol]
        h_row.extend([r] * k)
        h_col.extend(col_range[:k])
        h_text.extend(map(clean_cell, row))

    return {
        "index": table_index,
        "source": source,
        "title": title,
        "table_type": "horizontal",
        "num_columns": ncol,
        "num_rows": len(data_rows),
        "header_row_count": hrc,
        "headers": list(col_paths),
        "column_headers": column_headers,
        "column_groups": groups,
        "header_cells_cols": (h_row, h_col, h_text),
        "cells_cols": (c_row, c_col, c_hdr, c_lvl, c_text, c_num),
    }


def extract_horizontal(raw: Dict[str, Any], table_index: int, source: str = "markdown", title: str = "") -> Dict[str, Any]:
    """Dict view of ``extract_horizontal_columns``."""
    return columns_to_dicts(extract_horizontal_columns(raw, table_index, source, title))


def extract_table_auto_columns(raw: Dict[str, Any], table_index: int, source: str = "markdown", title: str = "") -> Dict[str, Any]:
    """Dispatch H1 → H5 or H6.  Parity: use_marker_converter.py:583-597."""
    if detect_table_structure(raw["headers"], raw["rows"]) == "vertical":
        return extract_vertical_columns(raw, table_index, source, title)
    return extract_horizontal_columns(raw, table_index, source, title)


def extract_table_auto(raw: Dict[str, Any], table_index: int, source: str = "markdown", title: str = "") -> Dict[str, Any]:
    """Dict view of ``extract_table_auto_columns``."""
    return columns_to_dicts(extract_table_auto_columns(raw, table_index, source, title))


def extract_tables(raw_tables: List[Dict[str, Any]], source: str) -> List[Dict[str, Any]]:
    """One document's scanned tables (scan_markdown / scan_html order) as
    columnar tables: the auto dispatch per table, indexed in document order,
    stamped with the table's ``line_start``/``line_end``.  Every parse route
    (whole document, segmented, Spark) builds its tables here."""
    tables = []
    for idx, raw in enumerate(raw_tables):
        table = extract_table_auto_columns(raw, idx, source, raw.get("title", ""))
        table["line_start"] = raw["line_start"]
        table["line_end"] = raw["line_end"]
        tables.append(table)
    return tables
