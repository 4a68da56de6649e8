"""Deterministic synthetic document corpus (no external data).

Two tiers:
  * ``fixture_documents()`` — the hand-crafted correctness corpus, one or
    more docs per FIXTURES.md §2 class; golden outputs come from the pure
    kernel oracle.
  * ``synthesize_corpus(n_docs)`` — seeded scalable corpus for benchmarks:
    template mix per FIXTURES.md §4 (≈70% prose/basic, 20% table-heavy,
    9% media, 1% pathological), log-normal sizes with a heavy tail so the
    salted-repartition/skew path is actually exercised.

Both produce rows shaped per BASELINE.json ``input_hint``:
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`` where
the raw pre-parse stream is a single ``text`` span holding the markdown plus
``media`` spans for sidecar attachments.
"""

from __future__ import annotations

import random
import re
from typing import Any, Dict, Iterator, List

from .kernel.html import looks_like_html as _looks_like_html

# --- hand-crafted fixture classes (FIXTURES.md §2) ---------------------------

_SCIENTISTS_TABLE = """\
CONTRIBUTING SCIENTISTS AND STUDY PERSONNEL

| Pathology | Dr. Maria Chen |
|---|---|
| Clinical Assessment | Dr. James Wright |
| Study Director | Dr. Priya Natarajan |
| Data Review | Dr. Ahmed Karim |
"""

_EXPERIMENTAL_DESIGN = """\
Table 2: Experimental Design

| Group Number | Dose Level<br>(mg/kg) | Dose Volume (mL/kg) | Number of Animals |
|---|---|---|---|
| 1 | 0 | 10 | 12 |
| 2 | 50 | 10 | 12 |
| 3 | 150 | 10 | 12 |
| 4 | 300 | 10 | 12 |
"""

_MULTIROW_HEADER = """\
## Dosing Summary

| Group | Dose | Concentration | Volume |
|---|---|---|---|
| Number | (mg/kg) | (mg/mL) | (mL/kg) |
| 1 | 0 | 0 | 10 |
| 2 | 50 | 5 | 10 |
| 3 | 150 | 15 | 10 |
"""

_GROUPED_COLUMNS = """\
4.2 Body Weights by Sex

| Animal ID | Week 1 | Week 1 | Week 2 | Week 2 |
|---|---|---|---|---|
| Number | Males | Females | Males | Females |
| 1001 | 25.3 | 21.2 | 26.1 | 21.9 |
| 1002 | 24.8 | 20.9 | 25.7 | 21.4 |
"""

_SUPERSUB = """\
Chemical notation exercises x¹ and H₂O and CO₂ markers.

| Compound | Formula | Notes a, b |
|---|---|---|
| Water | H₂O | stable ¹ |
| Glucose | C₆H₁₂O₆ | energy ² |
"""

_HTML_CELLS = """\
| Parameter | Value |
|---|---|
| Schedule | Day 1<br>Day 8<br/>Day 15 |
| Route | Oral<BR >gavage   dose |
| Notes |    spaced    out    text |
"""

_MEDIA_INTERLEAVED = """\
# Study Figures

Intro paragraph before the first figure.

![](fig_1.png)

| Metric | Value |
|---|---|
| AUC | 123.4 |
| Cmax | 56.7 |

![alt text](fig_2.jpeg)

Closing remarks after the second figure.
"""

_MERGED_CELLS = """\
| Phase | Week | Observation |
|---|---|---|
| Dosing | 1 | Normal |
|  | 2 | Normal |
|  | 3 | Reduced activity |
| Recovery | 4 | Normal |
"""

_NUMERIC_UNITS = """\
| Item | Amount | Share | Cost | Dose | Code |
|---|---|---|---|---|---|
| alpha | 1,234 | 12% | $5.0 | 3 mg/kg | AB12CD34 |
| beta | 7.5e3 | 0.5% | $1,200.00 | 0.5 mL | X9Y8Z7W6 |
"""

_BOILERPLATE = """\
[Home](/home)

Navigation footer line

Actual study content paragraph one with findings.

---

| Key Result | Outcome |
|---|---|
| Survival | 100% |

Navigation footer line

More real prose in the middle of the page.

Navigation footer line
"""

_TITLES_DOC = """\
## Heading Title Table

| A | B |
|---|---|
| 1 | 2 |

Table 3: Labeled Caption

| C | D |
|---|---|
| 3 | 4 |

4.2 Numbered Section Title

| E | F |
|---|---|
| 5 | 6 |

UPPER CASE TITLE LINE

| G | H |
|---|---|
| 7 | 8 |

plain prose caption candidate

![](skip_me.png)

---

| I | J |
|---|---|
| 9 | 10 |
"""

_RAGGED = """\
| Col1 | Col2 | Col3 |
|---|---|---|
| a | b |
| c | d | e | f |
| g | h | i |
"""

_EMPTY_TABLE = """\
Prose above an empty table.

| OnlyHeader | Here |
|---|---|

Prose below it.
"""

_EDGE_TABLES = """\
| AtLineZero | Table |
|---|---|
| v1 | v2 |

Prose between tables. Data cells that contain | pipes inside prose stay prose.

| Second | Table |
|---|---|
| -3 | --- |
| x | y |
"""

_VERTICAL_CONTACT = """\
STUDY SPONSOR CONTACT DETAILS

| Name | Dr. A Very Long Name With Details That Exceed Fifty Characters Easily |
|---|---|
| Email | sponsor@example.org |
| Phone: +1 555 0100 | front desk |
"""

_PLAIN_TEXT = """\
A document with no tables and no media at all.

Just two paragraphs of plain prose, which must come through
as ordered text spans with stable offsets.
"""

# Adversarial edge-case docs: CRLF endings, tabs inside cells, a table as the
# final lines with no trailing newline, separator-ish data rows, regex
# metacharacters in cell text, and a lone header row at EOF (no separator →
# prose, reference behavior at use_marker_converter.py:82-84).
_EDGE_CRLF = "Title line\r\n\r\n| A | B |\r\n|---|---|\r\n| 1 | 2 |\r\n\r\nprose after\r\n"

_EDGE_TABS = "| C1\tname | C2 |\n|---|---|\n| a\tb | c |\n| \t | d |"

_EDGE_EOF_TABLE = "prose before\n\n| X | Y |\n|---|---|\n| 9 | 10 |"

_EDGE_SEPARATORISH = (
    "| Key | Value |\n|---|---|\n| --- | -2 |\n| a-b | c:d |\n\n"
    "| lonely header row at eof |x|"
)

_EDGE_REGEXY = (
    "Table 1: regex (meta) chars\n\n"
    "| p.*n | q[1] |\n|---|---|\n| ^start$ | (group) |\n| a\\\\b | c{2,3} |"
)

# HTML fixture classes (north rule: DOM tokenization + tag-depth/link-density
# boilerplate; semantics frozen by kernel/html.py + tests/test_html_kernel.py).
_HTML_BASIC = """\
<!DOCTYPE html>
<html><head><title>Report 7</title><style>.x{color:red}</style></head>
<body>
<nav><a href="/">Home</a> | <a href="/studies">Studies</a></nav>
<h1>Quarterly Study Report</h1>
<p>Primary findings paragraph with substantive content about dosing.</p>
<img src="fig_html_1.png">
<table><caption>Table 9: Dose Summary</caption>
<tr><th>Group</th><th>Dose (mg/kg)</th></tr>
<tr><td>1</td><td>0</td></tr>
<tr><td>2</td><td>50</td></tr>
</table>
<div><a href="/a">related one</a> <a href="/b">related two</a></div>
<footer>Copyright line in the footer</footer>
</body></html>
"""

_HTML_VERTICAL = """\
<html><body>
<h2>STUDY CONTACTS</h2>
<table>
<tr><td>Pathology</td><td>Dr. Maria Chen</td></tr>
<tr><td>Clinical Assessment</td><td>Dr. James Wright</td></tr>
<tr><td>Study Director</td><td>Dr. Priya Natarajan</td></tr>
</table>
<p>Closing prose after the contacts table.</p>
</body></html>
"""

_HTML_DEEP_BOILER = """\
<html><body>
<p>Real content at sane depth stays text.</p>
<div><div><div><div><div><div><div><div><div><div><div><div><div>
decoration wrapped far too deep to be content
</div></div></div></div></div></div></div></div></div></div></div></div></div>
<p>=== ---- ====</p>
<p>Final real paragraph closes the page.</p>
</body></html>
"""

_HTML_MESSY = """\
<html><body>
<p>first paragraph<div>unclosed block</p></div></span>
<table><tr><th>K</th><th>N</th></tr>
<tr><td>outer key</td><td><table><tr><td>41</td><td>42</td></tr></table></td></tr>
<tr><td>tail</td><td>7</table>
<p>trailing prose survives the mess</p>
</body></html>
"""

# Void-element regression class (ADVICE r02): 14 bare <br>/<hr>/<img> before
# the final paragraphs — void tags must NOT accumulate tag depth, or every
# block after ~12 of them misclassifies as boilerplate.
_HTML_VOID_HEAVY = """\
<html><body>
<p>poem line one<br>line two<br>line three<br>line four<br>line five<br>
line six<br>line seven<br>line eight<br>line nine<br>line ten<br></p>
<hr><hr>
<img src="fig_void_1.png"><img src="fig_void_2.png">
<p>Real prose after many void tags must remain main content.</p>
<p>And a second real paragraph closes the page.</p>
</body></html>
"""

FIXTURE_CLASSES: Dict[str, str] = {
    "html-basic": _HTML_BASIC,
    "html-void-heavy": _HTML_VOID_HEAVY,
    "html-vertical-kv": _HTML_VERTICAL,
    "html-deep-boiler": _HTML_DEEP_BOILER,
    "html-messy": _HTML_MESSY,
    "edge-crlf": _EDGE_CRLF,
    "edge-tabs": _EDGE_TABS,
    "edge-eof-table": _EDGE_EOF_TABLE,
    "edge-separatorish": _EDGE_SEPARATORISH,
    "edge-regexy": _EDGE_REGEXY,
    "md-vertical-kv": _SCIENTISTS_TABLE,
    "md-basic-table": _EXPERIMENTAL_DESIGN,
    "md-multirow-header": _MULTIROW_HEADER,
    "md-grouped-columns": _GROUPED_COLUMNS,
    "md-supersub": _SUPERSUB,
    "html-cells": _HTML_CELLS,
    "md-media-interleaved": _MEDIA_INTERLEAVED,
    "md-merged-cells": _MERGED_CELLS,
    "md-numeric-units": _NUMERIC_UNITS,
    "md-boilerplate": _BOILERPLATE,
    "md-titles": _TITLES_DOC,
    "md-ragged-rows": _RAGGED,
    "md-empty-table": _EMPTY_TABLE,
    "md-multi-table": _EDGE_TABLES,
    "md-vertical-longheader": _VERTICAL_CONTACT,
    "plain-text": _PLAIN_TEXT,
}


def fixture_documents() -> List[Dict[str, Any]]:
    """The correctness corpus: one doc per class plus a composite doc and a
    pathological (skew) doc.  Fully deterministic, no RNG."""
    docs = [
        {"doc_id": f"fx-{name}", "text": text} for name, text in FIXTURE_CLASSES.items()
    ]
    docs.append(
        {
            "doc_id": "fx-composite",
            # markdown classes only: a composite starting with <!DOCTYPE
            # would dispatch the whole doc to the HTML kernel (html-cells
            # stays in — it's markdown with <br> cells, the sniff knows)
            "text": "\n".join(
                text for text in FIXTURE_CLASSES.values()
                if not _looks_like_html(text)
            ),
        }
    )
    # md-pathological: far above median size, 120 tables + long prose runs.
    chunks = []
    for k in range(120):
        chunks.append(f"Section {k} narrative line with enough length to be prose.")
        chunks.append("")
        chunks.append(f"Table {k + 1}: Pathological block {k}")
        chunks.append("")
        chunks.append("| Key | Value | Extra |")
        chunks.append("|---|---|---|")
        for r in range(25):
            chunks.append(f"| item-{k}-{r} | {r * k} | note {r} |")
        chunks.append("")
    docs.append({"doc_id": "fx-pathological", "text": "\n".join(chunks)})
    return docs


# --- scalable seeded corpus ---------------------------------------------------

_PROSE_WORDS = (
    "study dose group animal result observed baseline signal recovery control "
    "sample marker protocol summary finding exposure cohort outcome measure"
).split()


def _prose(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_PROSE_WORDS) for _ in range(n_words))


def _random_table(rng: random.Random, rows: int, cols: int) -> str:
    head = "| " + " | ".join(f"Col{c} Name" for c in range(cols)) + " |"
    sep = "|" + "---|" * cols
    body = [
        "| " + " | ".join(str(rng.randint(0, 9999)) for _ in range(cols)) + " |"
        for _ in range(rows)
    ]
    return "\n".join([head, sep, *body])


def synthesize_doc(i: int, seed: int = 42) -> Dict[str, Any]:
    """One deterministic synthetic document keyed by (seed, i) — safe to call
    from any executor for any index split (the per-doc RNG never leaks state
    across indices)."""
    rng = random.Random((seed << 20) ^ i)
    roll = rng.random()
    parts: List[str] = []
    if roll < 0.70:  # prose + one basic table
        parts.append(_prose(rng, rng.randint(30, 160)))
        if rng.random() < 0.6:
            parts.append(_random_table(rng, rng.randint(2, 8), rng.randint(2, 5)))
        parts.append(_prose(rng, rng.randint(20, 80)))
    elif roll < 0.90:  # table-heavy
        for _ in range(rng.randint(3, 10)):
            parts.append(f"Table {rng.randint(1, 30)}: generated block")
            parts.append(_random_table(rng, rng.randint(3, 15), rng.randint(2, 6)))
            parts.append(_prose(rng, rng.randint(5, 30)))
    elif roll < 0.99:  # media-rich
        for m in range(rng.randint(2, 6)):
            parts.append(_prose(rng, rng.randint(10, 50)))
            parts.append(f"![](fig_{i}_{m}.png)")
    else:  # pathological heavy tail
        for k in range(rng.randint(40, 120)):
            parts.append(_prose(rng, rng.randint(40, 120)))
            parts.append(_random_table(rng, rng.randint(10, 40), rng.randint(3, 8)))
    return {"doc_id": f"doc-{i:09d}", "text": "\n\n".join(parts)}


def synthesize_html_doc(i: int, seed: int = 42) -> Dict[str, Any]:
    """One deterministic synthetic HTML page — the DOM-path bench corpus
    (nav/footer boilerplate, headings, prose blocks, a table, a figure)."""
    rng = random.Random((seed << 21) ^ i)
    parts = [
        "<html><head><title>page</title></head><body>",
        '<nav><a href="/">Home</a> | <a href="/idx">Index</a></nav>',
        f"<h1>Generated page {i}</h1>",
    ]
    for _ in range(rng.randint(2, 8)):
        parts.append(f"<p>{_prose(rng, rng.randint(20, 90))}</p>")
    cols = rng.randint(2, 5)
    parts.append("<table><caption>Table: generated block</caption>")
    parts.append("<tr>" + "".join(f"<th>Col{c} Name</th>" for c in range(cols)) + "</tr>")
    for _ in range(rng.randint(2, 10)):
        parts.append(
            "<tr>" + "".join(f"<td>{rng.randint(0, 9999)}</td>" for _ in range(cols)) + "</tr>"
        )
    parts.append("</table>")
    if rng.random() < 0.3:
        parts.append(f'<img src="fig_{i}.png">')
    parts.append(f"<p>{_prose(rng, rng.randint(10, 40))}</p>")
    parts.append("<footer>generated footer line</footer></body></html>")
    return {"doc_id": f"html-{i:09d}", "text": "\n".join(parts)}


def html_corpus() -> List[Dict[str, Any]]:
    """The HTML-path correctness corpus: every HTML fixture class (clean,
    vertical, deep-boiler, malformed, void-heavy) plus 40 deterministic
    synthetic pages — the north-rule DOM surface, used by the
    ``extract_html_spans`` contract query and its golden-parquet oracle."""
    docs = [
        {"doc_id": f"fx-{name}", "text": text}
        for name, text in FIXTURE_CLASSES.items()
        if _looks_like_html(text)
    ]
    docs += [synthesize_html_doc(i) for i in range(40)]
    return docs


def synthesize_corpus(n_docs: int, seed: int = 42) -> Iterator[Dict[str, Any]]:
    """Seeded bench corpus with the FIXTURES.md §4 class mix and a heavy size
    tail.  Yields ``{"doc_id", "text"}`` rows; deterministic for a given
    (n_docs, seed) regardless of partitioning."""
    for i in range(n_docs):
        yield synthesize_doc(i, seed)


_MD_REF_RX = re.compile(r"!\[[^\]]*\]\(([^)]+)\)")
_IMG_REF_RX = re.compile(r'<img[^>]*\ssrc="([^"]+)"')


def media_refs(text: str) -> List[str]:
    """The distinct media references of a document: markdown ``![](ref)``
    first, then HTML ``<img src="ref">``, deduped in that order — the one
    Python rule (``sources.data.lift_flat_to_input`` is its Spark form)."""
    return list(dict.fromkeys(_MD_REF_RX.findall(text) + _IMG_REF_RX.findall(text)))


def to_input_rows(docs) -> List[Dict[str, Any]]:
    """Shape docs per input_hint: one raw ``text`` span with the markdown at
    offset 0, plus a ``media`` span per distinct ``media_refs`` entry."""
    rows = []
    for d in docs:
        spans = [{"kind": "text", "text": d["text"], "media_ref": None, "offset": 0}]
        for k, ref in enumerate(media_refs(d["text"])):
            spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": k + 1})
        rows.append({"doc_id": d["doc_id"], "spans": spans})
    return rows
