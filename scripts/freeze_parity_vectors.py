"""Freeze the reference-parity answers into tests/parity_vectors/.

Two sets of tests compare this package against the reference's own code,
and each gets a file of recorded answers, so the same tests run when the
reference checkout is absent:

  * ``kernel`` — tests/test_reference_parity.py compares the kernel against
    the reference's functions.  Those tests run once against a recording
    oracle, and every (call, answer) pair they asked for goes to
    ``tests/parity_vectors/reference_parity.json``.
  * ``search`` — tests/test_search_spark.py compares the search operators
    against the reference's search engine, and tests/test_presentation.py
    the result formatters against its printers.  Every parity case's
    per-document answers and every printer output go to
    ``tests/parity_vectors/search_parity.json``.

The answers come from the live reference when it is on disk.  Without it
they come from this package itself (the kernel; the Spark search operators
and the formatters), which is only sound at a commit whose code has been
verified equal to the reference; say which commit in ``--provenance``.

Usage: python scripts/freeze_parity_vectors.py [--only kernel|search] [--provenance TEXT]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from document_parser_spark import kernel  # noqa: E402
from tests import test_presentation as presentation  # noqa: E402
from tests import test_reference_parity as parity  # noqa: E402
from tests import test_search_spark as search  # noqa: E402
from tests.conftest import REFERENCE_DIR  # noqa: E402


def kernel_answers() -> dict:
    """The kernel's answers, in the shape of ``parity.live_reference()``."""

    def match_text(q, t, mode, cs):
        matched, score = kernel.match_text(q, t, kernel.SearchMode(mode), cs)
        return {"matched": matched, "score": score}

    return {
        "normalize": kernel.normalize_scripts,
        "clean_cell": kernel.clean_cell,
        "clean_cell_basic": kernel.clean_cell_basic,
        "is_numeric": kernel.is_numeric_cell,
        "contains_units": kernel.contains_units,
        "scan_tables": lambda md: kernel.scan_markdown(md)[1],
        "extract_table_auto": lambda table_data, idx, title: kernel.extract_table_auto(
            table_data, idx, source="markdown", title=title
        ),
        "match_text": match_text,
        "fuzzy_score": kernel.levenshtein_similarity,
        "main_tables": lambda md: [
            {"headers": t["headers"], "rows": t["rows"]} for t in kernel.scan_markdown(md)[1]
        ],
    }


def record(answers: dict) -> dict:
    """Run every parity test against ``answers``; return each distinct call
    it made as ``name -> [[args, answer], ...]`` in first-call order."""
    calls: dict = {name: {} for name in answers}

    def recorder(name, fn):
        def call(*args):
            out = fn(*args)
            # round-trip now so the file holds exactly what later compares
            calls[name].setdefault(parity.call_key(args), json.loads(json.dumps([list(args), out])))
            return out

        return call

    oracle = {name: recorder(name, fn) for name, fn in answers.items()}
    for test in sorted(n for n in dir(parity) if n.startswith("test_")):
        getattr(parity, test)(oracle)
    return {name: list(recorded.values()) for name, recorded in calls.items()}


def search_answers() -> tuple:
    """The Spark search operators' and the formatters' answers, in the shape
    of ``search.live_reference()`` and ``presentation.live_printed()``."""
    from document_parser_spark.sources.session import get_spark

    spark = get_spark(app_name="freeze-parity", cpus=os.cpu_count() or 4)
    frames = search.fixture_frames(spark)

    def answer(method, case):
        return search.spark_answer(frames, method, case)

    return answer, {name: presentation.formatted(name) for name in presentation.PRINTS}


def dumps(obj) -> str:
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))


def freeze_kernel(live: bool, provenance: dict) -> None:
    calls = record(parity.live_reference() if live else kernel_answers())
    # one recorded call per line, so a changed answer diffs as one line
    blocks = [
        f"{dumps(name)}:[\n" + ",\n".join(dumps(c) for c in recorded) + "\n]"
        for name, recorded in calls.items()
    ]
    os.makedirs(os.path.dirname(parity.VECTORS_PATH), exist_ok=True)
    with open(parity.VECTORS_PATH, "w", encoding="utf-8") as f:
        f.write('{"provenance":' + dumps(provenance) + ',\n"calls":{\n')
        f.write(",\n".join(blocks) + "\n}}\n")
    n = sum(len(v) for v in calls.values())
    print(f"{parity.VECTORS_PATH}: {n} calls from {provenance['answers_from']}")


def freeze_search(live: bool, provenance: dict) -> None:
    if live:
        answer, printed = search.live_reference(), presentation.live_printed()
    else:
        answer, printed = search_answers()
    # one parity case (all documents' answers) per line
    cases = [
        f"{dumps(search.case_key(method, case))}:{dumps(answer(method, case))}"
        for method, case in search.PARITY_CALLS
    ]
    with open(search.VECTORS_PATH, "w", encoding="utf-8") as f:
        f.write('{"provenance":' + dumps(provenance) + ',\n"search":{\n')
        f.write(",\n".join(cases) + "\n},\n")
        f.write('"printers":' + json.dumps(printed, ensure_ascii=False, indent=0) + "}\n")
    print(f"{search.VECTORS_PATH}: {len(cases)} cases, {len(printed)} printer outputs "
          f"from {provenance['answers_from']}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", choices=("kernel", "search"),
                    help="rewrite one set of vectors (default: both)")
    ap.add_argument("--provenance", default="", help="where the answers come from")
    args = ap.parse_args()

    live = os.path.isdir(REFERENCE_DIR)
    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    if args.only in (None, "kernel"):
        source = "live reference" if live else f"kernel at commit {sha}"
        freeze_kernel(live, {"answers_from": source, "note": args.provenance})
    if args.only in (None, "search"):
        source = "live reference" if live else (
            f"search operators and formatters at commit {sha}")
        freeze_search(live, {"answers_from": source, "note": args.provenance})


if __name__ == "__main__":
    main()
