"""Q2–Q7 parity: the Spark search operators vs the reference's own
UnifiedTableSearchEngine, run per fixture document over identical extracted
tables.

The reference's answers come from one of two sources, chosen by the
``reference`` fixture:

  * live — when the reference checkout (``conftest.REFERENCE_DIR``) is on
    disk, one AST-exec'd reference engine per fixture document, fed the
    kernel's tables (already proven byte-equal to the reference's own
    extraction);
  * frozen — otherwise, the recorded answers in
    ``tests/parity_vectors/search_parity.json`` (provenance inside the file;
    ``scripts/freeze_parity_vectors.py`` rewrites it).

Every test runs either way.  Answers are compared as the fields ``FIELDS``
names, per document and in result order; a case the frozen vectors do not
cover fails with the case named.

``test_operators_equal_kernel_oracle`` needs no reference at all: it checks
every operator in every mode over a seeded corpus against an evaluation of
``kernel.match_text`` over ``kernel.parse_document``'s own parse.
"""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from document_parser_spark import kernel
from document_parser_spark.corpus import fixture_documents, synthesize_doc
from document_parser_spark.operators import search as S
from document_parser_spark.operators.extract import (
    assemble_document_text,
    cells_output,
    parse_documents,
    tables_output,
)
from document_parser_spark.sources.data import fixture_input_df
from tests.conftest import load_reference_functions

VECTORS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "parity_vectors", "search_parity.json"
)

#: Per engine method, the answer fields the parity tests compare, under the
#: reference's names.
FIELDS = {
    "search_by_key_value": (
        "table_index", "row", "col", "header", "cell_text", "match_score", "context",
    ),
    "search_by_column": ("table_index", "row", "col", "header", "header_levels", "cell_text"),
    "get_row_by_column_value": ("row", "matched_column", "matched_value", "row_data"),
    "search_anywhere": ("table_index", "row", "col", "cell_text", "match_score"),
    "list_all_tables": ("index", "title", "type", "source", "size"),
    "get_table_by_title": ("index", "title"),
}

#: The operators over the tables frame; the others read the cells.
TABLE_METHODS = ("list_all_tables", "get_table_by_title")


def _plain(value):
    if hasattr(value, "asDict"):
        return _plain(value.asDict())
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    if isinstance(value, float):
        return round(value, 9)
    return value


def project(method: str, answers) -> list:
    """One document's answers (reference results or collected Spark rows)
    as JSON-plain dicts of the compared fields, in result order."""
    if answers is None:  # get_table_by_title: no match
        answers = []
    elif not isinstance(answers, list):  # get_table_by_title: the match
        answers = [answers]
    out = []
    for a in answers:
        # dicts and Spark Rows by key (a Row's attribute ``index`` is
        # tuple.index), reference SearchResults by attribute
        keyed = isinstance(a, dict) or hasattr(a, "asDict")
        out.append({f: _plain(a[f] if keyed else getattr(a, f)) for f in FIELDS[method]})
    return json.loads(json.dumps(out))


def case_key(method: str, case: dict) -> str:
    plain = {k: v.value if isinstance(v, kernel.SearchMode) else v for k, v in case.items()}
    return json.dumps([method, plain], ensure_ascii=False, sort_keys=True)


def live_reference():
    """``(method, case) -> {doc_id: answer}`` from the reference engines."""
    ns = load_reference_functions(
        "table_search.py", ["SearchMode", "SearchResult", "UnifiedTableSearchEngine"]
    )
    modes = {m.value: m for m in ns["SearchMode"]}
    engines = {
        d["doc_id"]: ns["UnifiedTableSearchEngine"](kernel.parse_document(d["text"])["tables"])
        for d in fixture_documents()
    }

    def answer(method, case):
        kwargs = {
            k: modes[v.value] if isinstance(v, kernel.SearchMode) else v for k, v in case.items()
        }
        out = {}
        for doc_id, engine in engines.items():
            if method == "get_table_by_title":  # one argument, passed positionally
                got = engine.get_table_by_title(*kwargs.values())
            else:
                got = getattr(engine, method)(**kwargs)
            out[doc_id] = project(method, got)
        return out

    return answer


def frozen_reference(path: str = VECTORS_PATH):
    """``(method, case) -> {doc_id: answer}`` looked up in the frozen vectors."""
    with open(path, encoding="utf-8") as f:
        recorded = json.load(f)["search"]

    def answer(method, case):
        key = case_key(method, case)
        if key not in recorded:
            raise AssertionError(f"{key} is not in the frozen search vectors")
        return recorded[key]

    return answer


def spark_answer(frames, method: str, case: dict) -> dict:
    """``{doc_id: answer}`` of the Spark operator over the fixture frames.
    ``search_anywhere`` and ``get_table_by_title`` run per document, since
    their limit and first-match rule apply per reference engine."""
    tables, cells = frames
    src = tables if method in TABLE_METHODS else cells
    op = getattr(S, method)
    docs = [d["doc_id"] for d in fixture_documents()]
    got: dict = {}
    if method in ("search_anywhere", "get_table_by_title"):
        for doc_id in docs:
            out = op(src.filter(src.doc_id == doc_id), **case)
            if method == "get_table_by_title":
                out = out.withColumnRenamed("table_index", "index")
            got[doc_id] = out.collect()
    else:
        for row in op(src, **case).collect():
            got.setdefault(row["doc_id"], []).append(row)
    return {doc_id: project(method, got.get(doc_id, [])) for doc_id in docs}


@pytest.fixture(scope="module")
def reference(reference_available):
    return live_reference() if reference_available else frozen_reference()


def fixture_frames(spark) -> tuple:
    """(tables, cells) of the fixture corpus, cached."""
    parsed = parse_documents(assemble_document_text(fixture_input_df(spark)))
    tables = tables_output(parsed).cache()
    cells = cells_output(tables).cache()
    cells.count()
    return tables, cells


@pytest.fixture(scope="module")
def frames(spark):
    return fixture_frames(spark)


KEY_VALUE_CASES = [
    dict(key_query="Pathology", table_title="CONTRIBUTING SCIENTISTS"),
    dict(key_query="Pathology"),
    dict(key_query="path", mode=kernel.SearchMode.STARTS_WITH),
    dict(key_query="Review", mode=kernel.SearchMode.CONTAINS, case_sensitive=True),
    dict(key_query="pathology", mode=kernel.SearchMode.EXACT),
    dict(key_query="Patholoy", mode=kernel.SearchMode.FUZZY),
    dict(key_query=r"path.*gy$", mode=kernel.SearchMode.REGEX),
]

COLUMN_CASES = [
    dict(column_name="Group Number"),
    dict(column_name="Group Number", value_query="2"),
    dict(column_name="Dose", value_query="50", table_title="Experimental"),
    dict(column_name="(mg/kg)"),
    dict(column_name="Week 1"),
]

ROW_CASE = dict(column_name="Group Number", value_query="2", table_title="Experimental Design")

ANYWHERE_CASES = [
    dict(query="mg/kg", max_results=10),
    dict(query="mg/kg"),
    dict(query="Normal", table_type="horizontal"),
    dict(query="[", mode=kernel.SearchMode.REGEX),   # invalid regex → empty
    dict(query="Reduced activty", mode=kernel.SearchMode.FUZZY),
    dict(query=r"\d+%", mode=kernel.SearchMode.REGEX),
]

#: Every (method, case) the parity tests ask — what the frozen vectors hold.
PARITY_CALLS = (
    [("search_by_key_value", c) for c in KEY_VALUE_CASES]
    + [("search_by_column", c) for c in COLUMN_CASES]
    + [("get_row_by_column_value", ROW_CASE)]
    + [("search_anywhere", c) for c in ANYWHERE_CASES]
    + [("list_all_tables", {}), ("get_table_by_title", dict(title_query="Experimental"))]
)


def _assert_parity(reference, frames, method, case):
    expected = reference(method, case)
    got = spark_answer(frames, method, case)
    for doc_id, want in expected.items():
        assert got[doc_id] == want, (doc_id, method, case)
    return expected


@pytest.mark.parametrize("case", KEY_VALUE_CASES, ids=lambda c: repr(c)[:40])
def test_search_by_key_value_parity(reference, frames, case):
    _assert_parity(reference, frames, "search_by_key_value", case)


@pytest.mark.parametrize("case", COLUMN_CASES, ids=lambda c: repr(c)[:40])
def test_search_by_column_parity(reference, frames, case):
    _assert_parity(reference, frames, "search_by_column", case)


def test_get_row_by_column_value_parity(reference, frames):
    expected = _assert_parity(reference, frames, "get_row_by_column_value", ROW_CASE)
    # present in both the standalone doc and the composite
    assert sum(len(rows) for rows in expected.values()) >= 2


@pytest.mark.parametrize("case", ANYWHERE_CASES, ids=lambda c: repr(c)[:40])
def test_search_anywhere_parity(reference, frames, case):
    _assert_parity(reference, frames, "search_anywhere", case)


def test_list_all_tables_parity(reference, frames):
    _assert_parity(reference, frames, "list_all_tables", {})


def test_get_table_by_title_parity(reference, frames):
    _assert_parity(reference, frames, "get_table_by_title", dict(title_query="Experimental"))


#: One call per operator, search_anywhere with and without its limit, each
#: with a non-empty answer over the fixtures.
PARTITION_CALLS = [
    ("search_by_key_value", dict(key_query="Pathology")),
    ("search_by_column", dict(column_name="Group Number")),
    ("get_row_by_column_value", dict(column_name="Group Number", value_query="2")),
    ("search_anywhere", dict(query="Normal")),
    ("search_anywhere", dict(query="Normal", max_results=5)),
    ("list_all_tables", {}),
    ("get_table_by_title", dict(title_query="Experimental")),
]


def test_answers_independent_of_cache_partitions(spark):
    """Every operator returns the same rows in the same order whether the
    fixture tables and cells are cached as 1 partition or as 7."""
    parsed = parse_documents(assemble_document_text(fixture_input_df(spark)))
    answers = []
    for n in (1, 7):
        tables = tables_output(parsed).repartition(n).cache()
        cells = cells_output(tables).repartition(n).cache()
        try:
            assert cells.rdd.getNumPartitions() == n
            answers.append([
                getattr(S, method)(tables if method in TABLE_METHODS else cells, **kw).collect()
                for method, kw in PARTITION_CALLS
            ])
        finally:
            tables.unpersist()
            cells.unpersist()
    for (method, kw), one, seven in zip(PARTITION_CALLS, *answers):
        assert one, (method, kw)
        assert one == seven, (method, kw)


# --- seeded equality against the kernel, no reference needed -----------------

SEED = 11
N_SYNTH = 60
ANYWHERE_LIMIT = 20


def _seeded_docs() -> list:
    """``N_SYNTH`` synthetic documents, the first heavy-tail document after
    them (the 1 % class: 40–120 tables, far above the median size) and the
    fixtures, whose vertical tables are the only ones key_value can hit."""
    docs = [synthesize_doc(i, SEED) for i in range(N_SYNTH)]
    i = N_SYNTH
    while len(synthesize_doc(i, SEED)["text"]) <= 40_000:
        i += 1
    return docs + [synthesize_doc(i, SEED)] + fixture_documents()


def _kernel_index(docs) -> tuple:
    cells, tables = [], []
    for d in docs:
        for t in kernel.parse_document(d["text"])["tables"]:
            tables.append({"doc_id": d["doc_id"], **t})
            for c in t["cells"]:
                cells.append({
                    "doc_id": d["doc_id"], "table_index": t["index"], "table_type": t["table_type"],
                    "table_title": t["title"], "row": c["row"], "col": c["col"],
                    "header": c["header"], "header_levels": c["header_levels"] or [],
                    "text": c["text"],
                })
    return cells, tables


def _mode_query(text: str, mode, rng: random.Random) -> str:
    """A query derived from a corpus text, selective or broad by mode.  The
    regex form keeps only ASCII letters, digits and spaces (any other
    character becomes ``.``), so Java's and Python's engines read it alike."""
    M = kernel.SearchMode
    if mode == M.CONTAINS:
        s = rng.randint(0, max(len(text) - 3, 0))
        return text[s:s + 3]
    if mode == M.STARTS_WITH:
        return text[:2]
    if mode == M.ENDS_WITH:
        return text[-2:]
    if mode == M.REGEX:
        body = "".join(ch if ch.isascii() and (ch.isalnum() or ch == " ") else "." for ch in text)
        return "^" + body + "$"
    if mode == M.FUZZY and len(text) >= 4:
        p = rng.randrange(len(text))
        return text[:p] + "x" + text[p + 1:]
    return text


def _schedule(cells, tables) -> list:
    """(op, kwargs) for every operator in every mode, then case-sensitive
    and title-filtered cases; ``list_tables`` takes no query."""
    rng = random.Random(SEED)
    keys = sorted({c["text"] for c in cells
                   if c["table_type"] == "vertical" and c["col"] == 0 and c["text"]})
    by_header: dict = {}
    for c in cells:
        if c["table_type"] == "horizontal" and c["text"]:
            by_header.setdefault(c["header"], []).append(c["text"])
    columns = sorted(by_header)
    texts = sorted({c["text"] for c in cells if c["text"]})
    titles = sorted({t["title"] for t in tables if t["title"] and len(t["title"]) <= 40})
    out = [("list_tables", {})]
    for mode in kernel.SearchMode:
        q = lambda text: _mode_query(text, mode, rng)  # noqa: E731
        col = rng.choice(columns)
        out += [
            ("key_value", dict(key_query=q(rng.choice(keys)), mode=mode)),
            ("by_column", dict(column_name=col, value_query=q(rng.choice(by_header[col])),
                               mode=mode)),
            ("row_by_value", dict(column_name=col, value_query=q(rng.choice(by_header[col])),
                                  mode=mode)),
            ("anywhere", dict(query=q(rng.choice(texts)), mode=mode,
                              max_results=ANYWHERE_LIMIT)),
            ("table_by_title", dict(title_query=q(rng.choice(titles)), mode=mode)),
        ]
    out += [
        ("by_column", dict(column_name="Col1")),
        ("key_value", dict(key_query="Path", case_sensitive=True)),
        ("key_value", dict(key_query="path", case_sensitive=True)),
        ("key_value", dict(key_query="a", table_title="sponsor")),
        ("by_column", dict(column_name="Group Number", value_query="2", case_sensitive=True)),
        ("by_column", dict(column_name="Col2 Name", value_query="1", table_title="Table 1")),
        # "Col" names every synthetic column: rows with several hits, first by col
        ("row_by_value", dict(column_name="Col", value_query="1", table_title="table")),
        ("row_by_value", dict(column_name="Col", value_query="12", case_sensitive=True)),
        ("row_by_value", dict(column_name="Dose", value_query="MG", case_sensitive=True)),
        ("anywhere", dict(query="Normal", case_sensitive=True, table_type="horizontal")),
        ("anywhere", dict(query="5", table_title="Table 2", max_results=ANYWHERE_LIMIT)),
    ]
    return out


def _oracle(op, kw, cells, tables) -> list:
    """The query evaluated with kernel.match_text over the kernel's rows."""
    mode = kw.get("mode", kernel.SearchMode.CONTAINS)
    cs = kw.get("case_sensitive", False)

    def match(text, query):
        hit, score = kernel.match_text(query, text or "", mode, cs)
        return hit, round(score, 9)

    title = kw.get("table_title")
    scope = [c for c in cells
             if title is None or title.lower() in (c["table_title"] or "").lower()]
    pos = lambda c: (c["doc_id"], c["table_index"], c["row"], c["col"])  # noqa: E731
    if op == "list_tables":
        return sorted((t["doc_id"], t["index"], t["title"], t["table_type"], t["source"],
                       f"{t['num_rows']}x{t['num_columns']}") for t in tables)
    if op == "table_by_title":
        hits = sorted((t["doc_id"], t["index"]) for t in tables
                      if kernel.match_text(kw["title_query"], t["title"] or "", mode)[0])
        return hits[:1]
    if op == "key_value":
        keys = {}
        for c in scope:
            if c["table_type"] == "vertical" and c["col"] == 0:
                hit, score = match(c["text"], kw["key_query"])
                if hit:
                    keys[pos(c)[:3]] = (c["text"], c["header"], score)
        return sorted(pos(c) + (c["header"], c["text"], keys[pos(c)[:3]][2],
                                keys[pos(c)[:3]][0], keys[pos(c)[:3]][1], c["header"])
                      for c in scope if c["col"] > 0 and pos(c)[:3] in keys)
    if op in ("by_column", "row_by_value"):
        name = kw["column_name"]
        hits = []
        for c in scope:
            levels = c["header_levels"]
            if c["table_type"] == "horizontal" and (
                    c["header"] == name or name in levels
                    or any(name.lower() in lvl.lower() for lvl in levels)):
                value = kw.get("value_query")
                hit, score = match(c["text"], value) if value is not None else (True, 1.0)
                if hit:
                    hits.append(pos(c) + (c["header"], c["text"], score, c["table_title"]))
        hits.sort()
        if op == "by_column":
            return [h[:7] for h in hits]
        first: dict = {}
        for h in hits:
            first.setdefault(h[:3], h)
        rows: dict = {}
        for c in cells:
            if pos(c)[:3] in first:
                rows.setdefault(pos(c)[:3], {})[c["header"]] = c["text"]
        return [h[:3] + (h[7], h[4], h[5], h[6], tuple(sorted(rows[h[:3]].items())))
                for _, h in sorted(first.items())]
    out = []
    for c in scope:
        if kw.get("table_type") not in (None, c["table_type"]):
            continue
        hit, score = match(c["text"], kw["query"])
        if hit:
            out.append(pos(c) + (c["text"], score))
    out.sort(key=lambda h: (-h[5],) + h[:4])
    return out[:kw["max_results"]] if kw.get("max_results") else out


def _spark_rows(op, kw, cells, tables) -> list:
    r9 = lambda x: round(x, 9)  # noqa: E731
    if op == "list_tables":
        return [(r.doc_id, r["index"], r.title, r.type, r.source, r.size)
                for r in S.list_all_tables(tables).collect()]
    if op == "table_by_title":
        return [(r.doc_id, r.table_index) for r in S.get_table_by_title(tables, **kw).collect()]
    if op == "key_value":
        return [(r.doc_id, r.table_index, r.row, r.col, r.header, r.cell_text, r9(r.match_score),
                 r.context.key, r.context.key_column, r.context.value_column)
                for r in S.search_by_key_value(cells, **kw).collect()]
    if op == "by_column":
        return [(r.doc_id, r.table_index, r.row, r.col, r.header, r.cell_text, r9(r.match_score))
                for r in S.search_by_column(cells, **kw).collect()]
    if op == "row_by_value":
        # a collected MapType is a dict: compare its entries as a set
        return [(r.doc_id, r.table_index, r.row, r.table_title, r.matched_column,
                 r.matched_value, r9(r.match_score), tuple(sorted(r.row_data.items())))
                for r in S.get_row_by_column_value(cells, **kw).collect()]
    return [(r.doc_id, r.table_index, r.row, r.col, r.cell_text, r9(r.match_score))
            for r in S.search_anywhere(cells, **kw).collect()]


def test_operators_equal_kernel_oracle(spark):
    from document_parser_spark.corpus import to_input_rows
    from document_parser_spark.schemas import DOCUMENTS_INPUT

    docs = _seeded_docs()
    k_cells, k_tables = _kernel_index(docs)
    df = spark.createDataFrame(to_input_rows(docs), DOCUMENTS_INPUT)
    tables = tables_output(parse_documents(assemble_document_text(df))).cache()
    cells = cells_output(tables).cache()
    try:
        # the row passes rely on one cell per position
        dup = cells.groupBy(*S._POSITION).count().filter(F.col("count") > 1)
        assert dup.count() == 0
        assert cells.count() == len(k_cells)
        schedule = _schedule(k_cells, k_tables)
        nonempty = 0
        for op, kw in schedule:
            expected = _oracle(op, kw, k_cells, k_tables)
            assert _spark_rows(op, kw, cells, tables) == expected, (op, kw)
            nonempty += bool(expected)
        assert nonempty >= len(schedule) * 3 // 4, nonempty  # the cases select rows
    finally:
        tables.unpersist()
        cells.unpersist()


#: search_anywhere cases the frozen vectors cannot check (their ``max_results``
#: cases have no hits): ``Normal`` has 6 equal-score hits, so the cut keeps the
#: first 4 by position; the fuzzy query's hits score 0.714 and 0.625, so the
#: score sort decides which rows survive the cut.
ANYWHERE_KERNEL_CASES = [
    dict(query="Normal", max_results=4),
    dict(query="Dr. James Chen", mode=kernel.SearchMode.FUZZY, max_results=4),
]


@pytest.mark.parametrize("case", ANYWHERE_KERNEL_CASES, ids=lambda c: repr(c)[:40])
def test_search_anywhere_limit_and_order_equal_kernel(frames, case):
    """search_anywhere's score sort and ``max_results`` cut on real hits:
    rows and their order equal ``kernel.match_text`` evaluated over the
    kernel's own parse of the fixtures."""
    k_cells, k_tables = _kernel_index(fixture_documents())
    uncut = _oracle("anywhere", {k: v for k, v in case.items() if k != "max_results"},
                    k_cells, k_tables)
    assert len(uncut) > case["max_results"]
    if case.get("mode") == kernel.SearchMode.FUZZY:
        assert len({r[5] for r in uncut}) > 1
    tables, cells = frames
    expected = _oracle("anywhere", case, k_cells, k_tables)
    assert _spark_rows("anywhere", case, cells, tables) == expected
