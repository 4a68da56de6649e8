"""Write EXPLAIN.md: the formatted physical plan of each headline contract
query at sf0.01, with the plan-quality properties the 100 TB checklist cares
about called out per query (pushdown, broadcast vs sort-merge, partial
aggregation, codegen spans, Python stages).

Usage: python scripts/explain_audit.py [QUERY ...] [--out PATH]

Named queries replace the headline list; ``--out`` writes somewhere other
than EXPLAIN.md.  A before/after plan comparison runs the same command in
two checkouts with different ``--out`` files and diffs them.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"

AUDITED = [
    "extract_spans",
    "search_key_value_pathology",
    "tpch_q1",
    "agg_rollup_ops",
    "corpus_profile",
    "topk_per_group",
    "dedup_exact",
    "minhash_family",
    "ngram_jaccard",
    "simhash_docs",
    "language_id",
    "curate_corpus",
    "gopher_gate",
    "curation_assign",
    "ann_baselines",
    "ivf_topk",
    "ann_sketch_topk",
    "simhash_near_pairs",
    "extract_html_spans",
    "embedding_near_dup",
    "decontaminate",
    "doc_containment",
    "repeated_spans",
    "tfidf_topk",
    "quality_signals",
    "doc_chunks",
    "scrub_fingerprints",
]

_CHECKS = [
    ("PushedFilters", lambda p: "PushedFilters: [" in p and not re.search(r"PushedFilters: \[\](?!,)", p)),
    ("BroadcastHashJoin", lambda p: "BroadcastHashJoin" in p),
    ("SortMergeJoin", lambda p: "SortMergeJoin" in p),
    ("partial aggregation", lambda p: "partial_" in p),
    ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
    ("Arrow-vectorized Python", lambda p: any(m in p for m in ("ArrowEvalPython", "MapInArrow", "PythonMapInArrow", "MapInPandas"))),
    ("row-at-a-time Python (BAD)", lambda p: "BatchEvalPython" in p),
    ("CartesianProduct (check)", lambda p: "CartesianProduct" in p),
]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="contract query names (default: headline list)")
    ap.add_argument("--out", default=os.path.join(REPO, "EXPLAIN.md"))
    args = ap.parse_args()
    names = args.queries or AUDITED

    import __spark_entry__ as entry
    from document_parser_spark.sources.session import get_spark

    spark = get_spark(app_name="explain-audit", cpus=8)
    out = [
        "# EXPLAIN audit — headline contract queries at sf0.01",
        "",
        "Generated by `python scripts/explain_audit.py` (re-run after plan-affecting",
        "changes).  Properties flagged per query; full formatted plans follow.",
        "Whole-stage-codegen spans only appear in EXECUTED plans under AQE —",
        "they are gated separately by tests/test_plans.py.",
        "",
    ]
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        props = [label for label, check in _CHECKS if check(plan)]
        out.append(f"## {name}")
        out.append("")
        out.append("Properties: " + (", ".join(props) if props else "(none flagged)"))
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    with open(args.out, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {args.out} ({len(names)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
