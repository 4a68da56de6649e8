"""table_search — one analyst in a closed loop over the cell-level query engine.

Set-up stages fixtures ∪ ``N_DOCS`` seeded synthetic documents (the
generator's exact class mix), parses them once through the extraction
pipeline and caches the tables and cells frames.  The loop then issues a
seeded query schedule, one client, the next query only after the previous
result is collected.
Each round of the schedule holds one query per operator, all six
SearchModes spread over the operators and shifted by one per round; query strings are
taken from the corpus itself, from full cell texts (selective) to
two- and three-character fragments (broad).

Check: every distinct query's result equals an independent evaluation with
kernel.match_text over kernel.parse_document's own parse of the same
documents, and repeated executions of a query return the same rows.
"""

from __future__ import annotations

import os
import random

from harness import engine_totals, parse_staged, stage_flat, stratified_md_classes

N_DOCS = 200
#: round 0 warms up; the loop takes rounds 1.. in order, whole rounds only.
#: A repeated query reuses Spark's compiled code and cost ~40 % less CPU, so
#: there are enough rounds (about 2 per 5 s run on a 4-core machine) that a
#: much faster program still never repeats one.
ROUNDS = 31
ANYWHERE_LIMIT = 50
OPS = ("key_value", "by_column", "row_by_value", "anywhere", "table_by_title", "list_tables")


def corpus(seed: int) -> list:
    from document_parser_spark.corpus import fixture_documents, synthesize_doc

    idx = sorted(i for cls in stratified_md_classes(seed, N_DOCS) for i in cls)
    return [synthesize_doc(i, seed) for i in idx] + fixture_documents()


def kernel_index(docs) -> tuple:
    """(cells, tables) as plain rows from the kernel's own parse — the
    reference side of the output check and the source of query strings."""
    from document_parser_spark.kernel import parse_document

    cells, tables = [], []
    for d in docs:
        for t in parse_document(d["text"])["tables"]:
            tables.append({"doc_id": d["doc_id"], **{k: t[k] for k in (
                "index", "title", "table_type", "source", "num_rows", "num_columns")}})
            for c in t["cells"]:
                cells.append({"doc_id": d["doc_id"], "table_index": t["index"],
                              "table_type": t["table_type"], **c})
    return cells, tables


def _mode_query(text: str, mode, rng: random.Random) -> str:
    from document_parser_spark.kernel import SearchMode

    n = len(text)
    if mode == SearchMode.CONTAINS:
        s = rng.randint(0, max(n - 3, 0))
        return text[s:s + 3]
    if mode == SearchMode.STARTS_WITH:
        return text[:2]
    if mode == SearchMode.ENDS_WITH:
        return text[-2:]
    if mode == SearchMode.REGEX:
        # the whole text anchored, other than [a-z0-9 ] as ".", the last digit
        # as \d: selective, and read the same by Java's and Python's engines
        chars = [ch if ch.isascii() and (ch.isalnum() or ch == " ") else "." for ch in text.lower()]
        digits = [k for k, ch in enumerate(chars) if ch.isdigit()]
        if digits:
            chars[digits[-1]] = "\\d"
        return "^" + "".join(chars) + "$"
    if mode == SearchMode.FUZZY and n >= 4:
        p = rng.randrange(n)
        return text[:p] + "x" + text[p + 1:]
    return text


def schedule(seed: int, cells: list, tables: list) -> list:
    from document_parser_spark.kernel import SearchMode

    rng = random.Random(seed)
    modes = list(SearchMode)
    keys = sorted({c["text"] for c in cells
                   if c["table_type"] == "vertical" and c["col"] == 0 and c["text"]})
    by_header: dict = {}
    for c in cells:
        if c["table_type"] == "horizontal" and c["text"] and c["header"].startswith("Col"):
            by_header.setdefault(c["header"], []).append(c["text"])
    columns = sorted(by_header)
    texts = [c["text"] for c in cells if c["text"]]
    # short titles only: the title lookback can pick up a whole prose line,
    # and a fuzzy match of a 1000-character query is quadratic on both sides
    titles = sorted({t["title"] for t in tables if t["title"] and 4 <= len(t["title"]) <= 40})
    queries = []
    for r in range(ROUNDS):
        order = list(OPS)
        rng.shuffle(order)
        for op in order:
            mode = modes[(r + OPS.index(op)) % len(modes)]
            q = {"op": op, "mode": mode}
            if op == "key_value":
                q["query"] = _mode_query(rng.choice(keys), mode, rng)
            elif op in ("by_column", "row_by_value"):
                q["column"] = rng.choice(columns)
                q["query"] = _mode_query(rng.choice(by_header[q["column"]]), mode, rng)
            elif op == "anywhere":
                q["query"] = _mode_query(rng.choice(texts), mode, rng)
            elif op == "table_by_title":
                q["query"] = _mode_query(rng.choice(titles), mode, rng)
            queries.append(q)
    return queries


def spark_query(q, cells, tables):
    from document_parser_spark.operators import search as S

    op = q["op"]
    if op == "key_value":
        return S.search_by_key_value(cells, q["query"], mode=q["mode"])
    if op == "by_column":
        return S.search_by_column(cells, q["column"], q["query"], mode=q["mode"])
    if op == "row_by_value":
        return S.get_row_by_column_value(cells, q["column"], q["query"], mode=q["mode"])
    if op == "anywhere":
        return S.search_anywhere(cells, q["query"], mode=q["mode"], max_results=ANYWHERE_LIMIT)
    if op == "table_by_title":
        return S.get_table_by_title(tables, q["query"], mode=q["mode"])
    return S.list_all_tables(tables)


def project(op: str, rows) -> list:
    """The compared columns of a collected Spark result, in result order."""
    if op == "key_value":
        return [(r.doc_id, r.table_index, r.row, r.col, r.cell_text, round(r.match_score, 9),
                 r.context.key) for r in rows]
    if op in ("by_column", "anywhere"):
        return [(r.doc_id, r.table_index, r.row, r.col, r.cell_text, round(r.match_score, 9))
                for r in rows]
    if op == "row_by_value":
        return [(r.doc_id, r.table_index, r.row, r.matched_column, r.matched_value,
                 round(r.match_score, 9), tuple(sorted(r.row_data.items()))) for r in rows]
    if op == "table_by_title":
        return [(r.doc_id, r.table_index) for r in rows]
    return [(r.doc_id, r["index"], r.title, r.type, r.source, r.size) for r in rows]


def oracle(q, cells: list, tables: list) -> list:
    """The same query evaluated with kernel.match_text over the kernel's rows."""
    from document_parser_spark.kernel import FUZZY_THRESHOLD, SearchMode, match_text

    op = q["op"]
    if op == "list_tables":
        return sorted((t["doc_id"], t["index"], t["title"], t["table_type"], t["source"],
                       f"{t['num_rows']}x{t['num_columns']}") for t in tables)

    fuzzy = q["mode"] == SearchMode.FUZZY
    nq = len(q["query"])

    def match(text):
        if text is None:
            return False, 0.0
        # edit distance >= the length difference: such a pair cannot score
        # above the fuzzy threshold, so skip the quadratic distance
        if fuzzy and abs(nq - len(text)) >= (1 - FUZZY_THRESHOLD) * max(nq, len(text)):
            return False, 0.0
        hit, score = match_text(q["query"], text, q["mode"])
        return hit, round(score, 9)

    if op == "table_by_title":
        hits = sorted((t["doc_id"], t["index"]) for t in tables if match(t["title"])[0])
        return hits[:1]
    pos = lambda c: (c["doc_id"], c["table_index"], c["row"], c["col"])  # noqa: E731
    if op == "key_value":
        keys = {}
        for c in cells:
            if c["table_type"] == "vertical" and c["col"] == 0:
                hit, score = match(c["text"])
                if hit:
                    keys[pos(c)[:3]] = (c["text"], score)
        return sorted(pos(c) + (c["text"], keys[pos(c)[:3]][1], keys[pos(c)[:3]][0])
                      for c in cells if c["col"] > 0 and pos(c)[:3] in keys)
    if op in ("by_column", "row_by_value"):
        name = q["column"]
        hits = []  # position + (text, score, header)
        for c in cells:
            levels = c["header_levels"] or []
            if c["table_type"] == "horizontal" and (
                    c["header"] == name or name in levels
                    or any(name.lower() in lvl.lower() for lvl in levels)):
                hit, score = match(c["text"])
                if hit:
                    hits.append(pos(c) + (c["text"], score, c["header"]))
        hits.sort()
        if op == "by_column":
            return [h[:6] for h in hits]
        first: dict = {}
        for h in hits:
            first.setdefault(h[:3], h)
        rows: dict = {}
        for c in sorted(cells, key=lambda c: (pos(c), c["header"], c["text"])):
            if pos(c)[:3] in first:
                rows.setdefault(pos(c)[:3], {})[c["header"]] = c["text"]
        # a collected MapType comes back as a dict in hash order: compare as sets
        return sorted(h[:3] + (h[6], h[4], h[5], tuple(sorted(rows[h[:3]].items())))
                      for h in first.values())
    out = []
    for c in cells:
        hit, score = match(c["text"])
        if hit:
            out.append(pos(c) + (c["text"], score))
    out.sort(key=lambda h: (-h[5],) + h[:4])
    return out[:ANYWHERE_LIMIT]


def inputs(seed: int) -> dict:
    """The documents, the kernel's own parse of them and the query schedule,
    generated here (untimed)."""
    docs = corpus(seed)
    cells, tables = kernel_index(docs)
    return {"docs": docs, "cells": cells, "tables": tables,
            "queries": schedule(seed, cells, tables)}


def set_up(bench, inputs) -> tuple:
    """Stage the corpus, parse it once and cache tables and cells (the
    engine's build-index-once step), then one warm-up query per operator:
    the first query of an operator pays planning-path JIT (measured ~4x)."""
    from pyspark import StorageLevel

    from document_parser_spark.operators.extract import cells_output, tables_output

    path = os.path.join(bench.data, "corpus")
    with bench.setup_step("stage_s"):
        stage_flat(inputs["docs"], path)
    with bench.setup_step("build_s"):
        tables = tables_output(parse_staged(bench.tracer, bench.spark, path))
        tables = tables.persist(StorageLevel.MEMORY_AND_DISK)
        cells = cells_output(tables).persist(StorageLevel.MEMORY_AND_DISK)
        tables.count()
        cells.count()
    infos = bench.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    bench.notes["cache_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)
    with bench.setup_step("warmup_s"):
        for q in inputs["queries"][:len(OPS)]:
            spark_query(q, cells, tables).collect()
    bench.notes["warmup_ops"] = len(OPS)
    return cells, tables


def run_query(bench, q, cells, tables) -> list:
    span = bench.tracer.span
    with span("operators.search.plan", "operators.search"):
        df = spark_query(q, cells, tables)
        if bench.tracer.enabled:
            df._jdf.queryExecution().executedPlan()
    with span("operators.search.collect", "operators.search"):
        return df.collect()


def measure(bench, inputs, state) -> None:
    """Rounds 1.. of the schedule, in order, a cycle per round: every round
    holds each operator and each mode once."""
    cells, tables = state
    queries = inputs["queries"]
    measured = len(queries) - len(OPS)
    results: dict = {}
    for i in bench.loop(cycle=len(OPS)):
        qi = len(OPS) + i % measured
        q = queries[qi]
        for traced in bench.passes():
            with bench.op(q["op"], qi, traced) as rec:
                rows = project(q["op"], run_query(bench, q, cells, tables))
                rec["results"] = len(rows)
            if bench.ops[-1]["ok"]:
                results.setdefault(qi, []).append((len(bench.ops) - 1, rows))
    check(bench, queries, results, inputs["cells"], inputs["tables"])


def items_per_op(op) -> int:
    return 1


def check(bench, queries, results, k_cells, k_tables) -> None:
    for qi, runs in sorted(results.items()):
        q = queries[qi]
        expected = oracle(q, k_cells, k_tables)
        if bench.corrupt and qi == min(results):
            expected = expected[1:] if expected else [("corrupt",)]
        ops = [i for i, _ in runs]
        if any(rows != runs[0][1] for _, rows in runs):
            bench.fail_check(f"query {qi} ({q['op']}): repeated runs disagree", ops)
        elif runs[0][1] != expected:
            bench.fail_check(f"query {qi} ({q['op']}, {q['mode'].value}, {q.get('query')!r}): "
                             f"{len(runs[0][1])} rows, reference {len(expected)}", ops)
    bench.notes["distinct_queries_checked"] = len(results)


def layers(bench, per_span) -> dict:
    traced = [(i, o) for i, o in enumerate(bench.ops) if o["traced"]]
    wall = sum(o["ms"] for _, o in traced) or 1.0
    spans = bench.tracer.spans
    mine = {i for i, _ in traced}
    plan = sum(s["end"] - s["start"] for s in spans
               if s["op"] in mine and s["name"] == "operators.search.plan")
    collect = sum(s["end"] - s["start"] for s in spans
                  if s["op"] in mine and s["name"] == "operators.search.collect")
    eng = engine_totals(per_span, [s["id"] for s in spans if s["op"] in mine])
    results = sum(o.get("results", 0) for _, o in traced)
    out = {f"operators.search.{k}.frac": sum(o["ms"] for _, o in traced if o["kind"] == k) / wall
           for k in OPS}
    out.update({
        "operators.search.plan_frac": plan * 1000.0 / wall,
        "operators.search.exec_frac": collect * 1000.0 / wall,
        "operators.search.jobs_per_query": eng["jobs"] / max(len(traced), 1),
        "operators.search.rows_scanned_per_result": eng["scan_rows"] / max(results, 1),
        "sources.cache_mb": bench.notes["cache_mb"],
    })
    return out
