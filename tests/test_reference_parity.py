"""Byte-level parity of the kernel against the reference's own pure functions.

The reference's answers come from one of two sources, chosen by the
``reference`` fixture:

  * live — when the reference checkout (``conftest.REFERENCE_DIR``) is on
    disk, its functions are AST-extracted (conftest.load_reference_functions)
    and run side-by-side with the kernel over the fixture corpus, the
    strongest possible oracle short of running the full reference program;
  * frozen — otherwise, the recorded answers in
    ``tests/parity_vectors/reference_parity.json`` (provenance inside the
    file; ``scripts/freeze_parity_vectors.py`` rewrites it).

Every test runs either way.  A call the frozen vectors do not cover fails
with the call named, so an input that drifts can never pass by omission.
"""

import json
import os

import pytest

from document_parser_spark import kernel
from document_parser_spark.corpus import FIXTURE_CLASSES, fixture_documents
from tests.conftest import load_reference_functions

VECTORS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "parity_vectors", "reference_parity.json"
)


def call_key(args) -> str:
    """Canonical text of one call's arguments (tuples and lists coincide,
    so live arguments and JSON-loaded ones key identically)."""
    return json.dumps(list(args), ensure_ascii=False, sort_keys=True)


def live_reference() -> dict:
    """Reference answers computed by the reference's own functions."""
    umc = load_reference_functions(
        "use_marker_converter.py",
        [
            "normalize_superscript_subscript",
            "parse_markdown_tables_with_context",
            "_extract_table_title",
            "_split_markdown_row",
            "_parse_single_markdown_table",
            "clean_cell_text",
            "is_numeric_cell",
            "contains_units",
            "detect_table_structure",
            "detect_header_rows_horizontal",
            "build_column_header_hierarchy",
            "detect_grouped_columns",
            "extract_vertical_table",
            "extract_horizontal_table",
            "extract_table_auto",
        ],
    )
    search = load_reference_functions(
        "table_search.py", ["SearchMode", "SearchResult", "UnifiedTableSearchEngine"]
    )
    main = load_reference_functions(
        "main.py",
        ["clean_cell_text", "parse_markdown_tables", "_split_markdown_row",
         "_parse_single_markdown_table"],
    )
    engine = search["UnifiedTableSearchEngine"]([])
    modes = {m.value: m for m in search["SearchMode"]}

    def match_text(q, t, mode, cs):
        r = engine._match_text(q, t, modes[mode], cs)
        return {"matched": r["matched"], "score": r["score"]}

    return {
        "normalize": umc["normalize_superscript_subscript"],
        "clean_cell": umc["clean_cell_text"],
        "clean_cell_basic": main["clean_cell_text"],
        "is_numeric": umc["is_numeric_cell"],
        "contains_units": umc["contains_units"],
        "scan_tables": umc["parse_markdown_tables_with_context"],
        "extract_table_auto": lambda table_data, idx, title: umc["extract_table_auto"](
            table_data, idx, source="markdown", title=title
        ),
        "match_text": match_text,
        "fuzzy_score": engine._fuzzy_match_score,
        # main.py records empty tables too (no rows-guard)
        "main_tables": lambda md: [
            t for t in main["parse_markdown_tables"](md) if t and t["rows"]
        ],
    }


def frozen_reference(path: str = VECTORS_PATH) -> dict:
    """Reference answers looked up in the frozen vectors."""
    with open(path, encoding="utf-8") as f:
        calls = json.load(f)["calls"]

    def lookup(name, answers):
        def answer(*args):
            key = call_key(args)
            if key not in answers:
                raise AssertionError(
                    f"{name}{key[:120]} is not in the frozen parity vectors"
                )
            return answers[key]

        return answer

    return {
        name: lookup(name, {call_key(args): out for args, out in recorded})
        for name, recorded in calls.items()
    }


@pytest.fixture(scope="module")
def reference(reference_available):
    return live_reference() if reference_available else frozen_reference()


ALL_MAPPED = (
    "⁰¹²³⁴⁵⁶⁷⁸⁹ᵃᵇᶜᵈᵉᶠᵍʰⁱʲᵏˡᵐⁿᵒᵖʳˢᵗᵘᵛʷˣʸᶻ"
    "ᴬᴮᴰᴱᴳᴴᴵᴶᴷᴸᴹᴺᴼᴾᴿᵀᵁⱽᵂ⁺⁻⁼⁽⁾"
    "₀₁₂₃₄₅₆₇₈₉ₐₑₕᵢⱼₖₗₘₙₒₚᵣₛₜᵤᵥₓ₊₋₌₍₎"
)

NORMALIZE_SAMPLES = [
    ALL_MAPPED,
    "x" + ALL_MAPPED + "y",
    "a, b",
    "x, y, z",
    "a, b.",
    "A, b",
    "a,b",
    "dose^1 and H₂O and E=mc²",
    "notes a, b extra",
    "",
    "plain text with no scripts at all",
]


def test_normalize_scripts_parity(reference):
    for sample in NORMALIZE_SAMPLES + list(FIXTURE_CLASSES.values()):
        assert kernel.normalize_scripts(sample) == reference["normalize"](sample), repr(
            sample[:80]
        )


CELL_SAMPLES = [
    "Day 1<br>Day 8<br/>Day 15",
    "Oral<BR >gavage   dose",
    "a<br></br>b",
    "  spaced    out \t text  ",
    "line1\n\n  line2  ",
    "<br/>leading",
    "trailing<br>",
    "",
    "H₂O<br>x¹",
]


def test_clean_cell_parity(reference):
    for sample in CELL_SAMPLES:
        assert kernel.clean_cell(sample) == reference["clean_cell"](sample), repr(sample)


def test_clean_cell_basic_parity(reference):
    for sample in CELL_SAMPLES:
        assert kernel.clean_cell_basic(sample) == reference["clean_cell_basic"](sample), repr(sample)


NUMERIC_SAMPLES = [
    "1,234", "$5.0", "12%", "3 mg/kg", "AB12CD34", "", "  ", "abc", "1.5e3",
    "7.5e3", "-42", "100", "a1b2c3", "12 34", "N/A", "$ 1,000.00 %", "nan",
    "0.5 mL", "x", "1", "½",
]


def test_numeric_and_units_parity(reference):
    for sample in NUMERIC_SAMPLES:
        assert kernel.is_numeric_cell(sample) == reference["is_numeric"](sample), repr(sample)
        assert kernel.contains_units(sample) == reference["contains_units"](sample), repr(sample)
    unit_samples = ["(mg/kg)", "(x ppm)", "5 kg", "mL/kg", "kilometer", "gram", "°C", "(°F)", "mol", "(3 M)"]
    for sample in unit_samples:
        assert kernel.contains_units(sample) == reference["contains_units"](sample), repr(sample)


def _normalized_docs():
    # Flagship order: whole-document normalization precedes the scan
    # (use_marker_converter.py:611 then :626).
    return [(d["doc_id"], kernel.normalize_scripts(d["text"])) for d in fixture_documents()]


def test_scanner_parity_on_corpus(reference):
    for doc_id, md in _normalized_docs():
        ref_tables = reference["scan_tables"](md)
        _, mine = kernel.scan_markdown(md)
        assert len(mine) == len(ref_tables), doc_id
        for a, b in zip(mine, ref_tables):
            assert a == b, (doc_id, a.get("line_start"), b.get("line_start"))


def test_structure_parity_on_corpus(reference):
    checked = 0
    for doc_id, md in _normalized_docs():
        for idx, raw in enumerate(reference["scan_tables"](md)):
            table_data = {"headers": raw["headers"], "rows": raw["rows"]}
            expected = reference["extract_table_auto"](table_data, idx, raw["title"])
            got = kernel.extract_table_auto(
                table_data, idx, source="markdown", title=raw["title"]
            )
            assert got == expected, (doc_id, idx)
            checked += 1
    assert checked > 120  # pathological doc alone has 120 tables


MATCH_CASES = [
    ("Pathology", "Pathology"),
    ("pathology", "Pathology"),
    ("Path", "Pathology"),
    ("ology", "Pathology"),
    ("mg/kg", "3 mg/kg dose"),
    ("", "anything"),
    ("anything", ""),
    (r"\d+ mg", "take 50 mg now"),
    ("[", "bracket"),              # invalid regex → no match, no raise
    ("kitten", "sitting"),          # classic fuzzy pair (d=3)
    ("abc", "abd"),                 # boundary: 1-1/3 = 0.667 > 0.6
    ("ab", "cd"),
    ("Group Number", "group number"),
]


def test_match_text_parity(reference):
    for q, t in MATCH_CASES:
        for mode in kernel.SearchMode:
            for cs in (False, True):
                expected = reference["match_text"](q, t, mode.value, cs)
                matched, score = kernel.match_text(q, t, mode, cs)
                assert matched == expected["matched"], (q, t, mode, cs)
                assert score == pytest.approx(expected["score"]), (q, t, mode, cs)


def test_fuzzy_similarity_parity(reference):
    for q, t in MATCH_CASES:
        if q and t:
            assert kernel.levenshtein_similarity(q, t) == pytest.approx(
                reference["fuzzy_score"](q, t)
            ), (q, t)


def test_main_scanner_single_header_dialect(reference):
    """main.py's scanner records empty tables too (no rows-guard); our
    scanner follows the flagship variant — verify the shared block parsing
    agrees on the block-splitting level."""
    for _, md in _normalized_docs():
        ref_tables = reference["main_tables"](md)
        _, mine = kernel.scan_markdown(md)
        got = [{"headers": t["headers"], "rows": t["rows"]} for t in mine]
        # main.py does not normalize scripts inside _split_markdown_row; on
        # already-normalized input the outputs must coincide.
        assert got == ref_tables
