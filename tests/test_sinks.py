"""Sinks K1–K7, source S5/S6, C7 styled runs — round-trips and parity."""

import shutil
import uuid

import pytest

from conftest import TMP
from document_parser_spark.corpus import fixture_documents
from document_parser_spark.kernel.normalize import split_script_runs
from document_parser_spark.operators.extract import (
    assemble_document_text,
    cells_output,
    parse_documents,
    tables_output,
)
from document_parser_spark.sources.data import fixture_input_df, markdown_files_df
from document_parser_spark.sources import sinks


@pytest.fixture(scope="module")
def workdir():
    path = f"{TMP}/sinks-{uuid.uuid4().hex[:8]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def frames(spark):
    parsed = parse_documents(assemble_document_text(fixture_input_df(spark))).persist()
    tables = tables_output(parsed).persist()
    return parsed, tables


def test_tables_json_roundtrip(spark, frames, workdir):
    _, tables = frames
    sinks.write_tables_json(tables, f"{workdir}/tables_json")
    back = sinks.read_tables_json(spark, f"{workdir}/tables_json")
    assert back.count() == tables.count()
    a = {(r["doc_id"], r["table_index"]): r["title"] for r in back.collect()}
    b = {(r["doc_id"], r["table_index"]): r["title"] for r in tables.collect()}
    assert a == b


def test_cells_csv(spark, frames, workdir):
    _, tables = frames
    cells = cells_output(tables.filter(tables.doc_id == "fx-md-basic-table"))
    sinks.write_cells_csv(cells, f"{workdir}/cells_csv")
    # cell text legitimately contains newlines (<br> → \n, C2) → multiLine
    back = spark.read.option("header", True).option("multiLine", True).csv(
        f"{workdir}/cells_csv"
    )
    assert back.count() == cells.count()


def test_markdown_sink_and_s5_source(spark, frames, workdir):
    parsed, _ = frames
    sinks.write_markdown(parsed.select("doc_id", "spans"), f"{workdir}/md")
    back = spark.read.json(f"{workdir}/md")
    row = back.filter(back.doc_id == "fx-plain-text").first()
    assert "no tables and no media" in row["markdown"]

    # S5: whole-file markdown source
    import os

    os.makedirs(f"{workdir}/mdfiles", exist_ok=True)
    for d in fixture_documents()[:3]:
        with open(f"{workdir}/mdfiles/{d['doc_id']}.md", "w") as f:
            f.write(d["text"])
    src = markdown_files_df(spark, f"{workdir}/mdfiles")
    rows = {r["doc_id"]: r["text"] for r in src.collect()}
    assert len(rows) == 3
    assert any(v for v in rows.values())


def test_html_column(frames):
    _, tables = frames
    html = sinks.html_table_column(tables.filter(tables.doc_id == "fx-md-basic-table"))
    row = html.first()
    assert row["html"].startswith("<table><caption>")
    assert "<td>" in row["html"]


def test_to_pandas_tables_a5(frames):
    _, tables = frames
    out = sinks.to_pandas_tables(tables, "fx-md-basic-table")
    assert len(out) == 1
    df = out[0]["df"]
    assert df.shape[0] == 4  # four data rows (groups 1-4)
    assert any("Group Number" in c for c in df.columns)
    assert list(df[[c for c in df.columns if "Group" in c][0]]) == ["1", "2", "3", "4"]


def test_split_script_runs_c7():
    # parity with convert_table.py:73-99 semantics
    assert split_script_runs("x^2 plus_3y") == [
        ("plain", "x"), ("superscript", "2"), ("plain", " plus"),
        ("subscript", "3y"),
    ]
    assert split_script_runs("a<br>b") == [("plain", "a"), ("break", ""), ("plain", "b")]
    assert split_script_runs("") == []
    assert split_script_runs("^a") == [("superscript", "a")]


# --- K6/K7 file exporters (round 2: VERDICT item 7) ---------------------------

_EXPERIMENTAL = """\
| Group Number | Dose Level<br>(mg/kg) | Dose Volume (mL/kg) | Number of Animals |
|---|---|---|---|
| 1 | 0 | 10 | 12 |
| 2 | 50 | 10 | 12 |
"""

_MERGED = """\
| Phase | Week | Observation |
|---|---|---|
| Dosing | 1 | Normal |
|  | 2 | Normal |
|  | 3 | Reduced activity |
| Recovery | 4 | Normal |
"""


def test_docx_runs_structure_k6():
    s = sinks.docx_table_runs(_EXPERIMENTAL)
    assert s["num_rows"] == 3 and s["num_cols"] == 4 and s["header_row_count"] == 1
    by_pos = {(c["row"], c["col"]): c for c in s["cells"]}
    # header cell with a <br> break, bold (convert_table.py:70-101 semantics)
    dose = by_pos[(0, 1)]
    assert dose["bold"] is True
    assert dose["runs"] == [
        {"kind": "plain", "text": "Dose Level"},
        {"kind": "break", "text": ""},
        {"kind": "plain", "text": "(mg/kg)"},
    ]
    assert by_pos[(1, 0)]["bold"] is False
    assert by_pos[(1, 0)]["runs"] == [{"kind": "plain", "text": "1"}]


def test_docx_runs_superscript_k6():
    from document_parser_spark.kernel import normalize_scripts

    md = normalize_scripts("| Formula |\n|---|\n| H₂O¹ |")
    s = sinks.docx_table_runs(md)
    cell = [c for c in s["cells"] if c["row"] == 1][0]
    assert cell["runs"] == [
        {"kind": "plain", "text": "H"},
        {"kind": "subscript", "text": "2O"},
        {"kind": "superscript", "text": "1"},
    ]


def test_pdf_commands_k7():
    plan = sinks.pdf_table_commands(_MERGED)
    # the Dosing cell owns rows 1-3 of col 0 (convert_table_pdf.py:56-88)
    assert ("SPAN", (0, 1), (0, 3)) in plan["span_commands"]
    # covered cells are placeholders; owner keeps its text
    assert plan["table_data"][1][0] == "Dosing"
    assert plan["table_data"][2][0] == "" and plan["table_data"][3][0] == ""
    # headers render bold, <br> becomes <br/> (convert_table_pdf.py:100-115)
    assert plan["table_data"][0][0] == "<b>Phase</b>"
    br = sinks.pdf_table_commands(_EXPERIMENTAL)
    assert br["table_data"][0][1] == "<b>Dose Level<br/>(mg/kg)</b>"


def test_file_writers_gated(workdir):
    import os

    os.makedirs(workdir, exist_ok=True)
    for writer, ext in ((sinks.write_docx, "docx"), (sinks.write_pdf, "pdf")):
        mod = "docx" if ext == "docx" else "reportlab"
        try:
            __import__(mod)
            writer(_MERGED, f"{workdir}/out.{ext}")
            assert os.path.getsize(f"{workdir}/out.{ext}") > 0
        except ImportError:
            with pytest.raises(NotImplementedError):
                writer(_MERGED, f"{workdir}/out.{ext}")


def test_export_table_runs_engine_side(spark, frames):
    parsed, _ = frames
    out = sinks.export_table_runs(
        parsed.filter(parsed.doc_id == "fx-md-merged-cells")
    ).collect()
    assert out, "merged-cells fixture has one table span"
    by_pos = {(r["row"], r["col"]): r for r in out}
    owner = by_pos[(1, 0)]
    assert (owner["span_min_row"], owner["span_max_row"]) == (1, 3)
    assert owner["covered"] is False and by_pos[(2, 0)]["covered"] is True
    assert by_pos[(0, 0)]["bold"] is True
    assert [dict(x.asDict()) for x in by_pos[(1, 0)]["runs"]] == [
        {"kind": "plain", "text": "Dosing"}
    ]
