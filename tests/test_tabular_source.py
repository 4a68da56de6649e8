"""CSV/TSV source: delimited files flow through the kernel's structure
heuristics into the same searchable cells surface as markdown tables."""

import shutil
import uuid

from conftest import TMP
from document_parser_spark.operators.extract import cells_output
from document_parser_spark.operators.search import search_by_column, search_by_key_value
from document_parser_spark.sources.tabular import tables_from_delimited


_HORIZONTAL = """Group Number,Dose Level,Number of Animals
1,0,12
2,50,12
3,150,12
"""

# quoted delimiter inside a cell — a naive split would corrupt it.
# (numeric column so H2's multi-row-header scan stops after row 0: an
# all-text table legitimately classifies as all-header, reference parity)
_QUOTED = '''Name,Cases
"Chen, Maria",12
"Wright, James",7
'''

_VERTICAL = """Pathology,Dr. Maria Chen
Clinical Assessment,Dr. James Wright
Study Director,Dr. Priya Natarajan
Data Review,Dr. Ahmed Karim
Contact,Dr. Who Else
"""


def test_csv_tables_structure_and_search(spark):
    workdir = f"{TMP}/csv-{uuid.uuid4().hex[:8]}"
    import os

    os.makedirs(workdir, exist_ok=True)
    try:
        for name, body in [
            ("horizontal.csv", _HORIZONTAL),
            ("quoted.csv", _QUOTED),
            ("vertical.csv", _VERTICAL),
        ]:
            with open(f"{workdir}/{name}", "w") as f:
                f.write(body)

        tables = tables_from_delimited(spark, workdir).cache()
        by_doc = {r["doc_id"]: r for r in tables.collect()}
        assert by_doc["horizontal.csv"]["table_type"] == "horizontal"
        assert by_doc["horizontal.csv"]["num_columns"] == 3
        assert by_doc["vertical.csv"]["table_type"] == "vertical"  # H1 key-value
        # quoting: the comma inside "Chen, Maria" survives as ONE cell
        quoted_cells = [c["text"] for c in by_doc["quoted.csv"]["cells"]]
        assert "Chen, Maria" in quoted_cells

        cells = cells_output(tables)
        hits = search_by_column(cells, "Group Number", "2").collect()
        assert [h["cell_text"] for h in hits] == ["2"]
        kv = search_by_key_value(cells, "Pathology").collect()
        assert [r["cell_text"] for r in kv] == ["Dr. Maria Chen"]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
