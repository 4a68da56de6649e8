#!/usr/bin/env python
"""Benchmark harness: the repo's one bench, query-timing and plan-audit tool.

Default (driver contract): run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric", "value", "unit": "sec", "queries": {...}, "sf": ...}.

--scaling: additionally run the extraction job at local[nproc/4] and
local[nproc] (N vs 4N cores — this sandbox's proxy for N vs 4N executors) in
separate subprocesses (clean JVM per master) and report throughput at both
plus scaling efficiency  eff = T_N / (4 · T_4N)  =  thr_4N / (4 · thr_N).
--scaling-queries and --curate-scaling run the same N-vs-4N loop over the
query subset and the curation pipeline; --growth runs the near-dup/ANN
family at n and 10n.

--queries A,B: each named contract query's median, best and raw runs
(noop sink, --repeats runs each) over --sf-dir.
--explain [A ...] [--out PATH]: the plan audit — plan-quality properties and
the formatted plan of each named contract query (every one by default),
written to EXPLAIN.md unless --out says otherwise.
--make-sf1like [--docs N]: build the sf1-like tier under .bench_data/sf1like_<N>.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

#: generated corpora, one directory each, reused while its tables' _SUCCESS
#: markers exist
BENCH_DATA = os.path.join(REPO, ".bench_data")
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
#: the real tier the sf1-like tier draws its vocabulary and other tables from
SF01_DIR = "/root/testdata/sf0.1"

#: synthetic extraction corpus size per unit scale factor
DOCS_PER_SF = 200_000


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def extraction_docs(sf: float) -> int:
    return max(200, int(DOCS_PER_SF * sf))


def _cached(name: str, table: str, make) -> str:
    """``.bench_data/<name>``, holding ``<table>.parquet`` written from the
    DataFrame ``make()`` returns unless that table's ``_SUCCESS`` marker
    exists — every generated corpus is built once per size."""
    path = os.path.join(BENCH_DATA, name)
    if not os.path.exists(os.path.join(path, f"{table}.parquet", "_SUCCESS")):
        make().write.mode("overwrite").parquet(os.path.join(path, f"{table}.parquet"))
    return path


def corpus_path(spark, n_docs: int) -> str:
    """Materialize the seeded corpus once per size (cached parquet) so the
    measured pipeline is scan→assemble→parse, not Python corpus generation."""
    from document_parser_spark.sources.data import synthetic_input_df

    path = _cached(f"corpus_{n_docs}", "documents", lambda: synthetic_input_df(spark, n_docs))
    return os.path.join(path, "documents.parquet")


def run_html_extraction(spark, n_docs: int) -> dict:
    """DOM-path throughput: parse a generated HTML corpus end-to-end."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from document_parser_spark.operators.extract import parse_documents

    base = spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism * 2)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from document_parser_spark.corpus import synthesize_html_doc

        for pdf in batches:
            docs = [synthesize_html_doc(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": [d["doc_id"] for d in docs], "text": [d["text"] for d in docs]}
            )

    df = base.mapInPandas(gen, schema="doc_id string, text string")
    parsed = parse_documents(df)

    def run():
        return parsed.agg(
            F.count("*").alias("docs"),
            F.sum(F.size("spans")).alias("spans"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        ).first()

    run()  # warm-up
    t0 = time.monotonic()
    agg = run()
    wall = time.monotonic() - t0
    assert agg["errors"] == 0, f"html parse errors: {agg['errors']}"
    return {"wall_sec": wall, "docs": agg["docs"], "docs_per_sec": agg["docs"] / wall}


def run_extraction(spark, n_docs: int) -> dict:
    """Parse the seeded synthetic corpus end-to-end; returns docs/sec."""
    from pyspark.sql import functions as F

    from document_parser_spark.operators.extract import parse_documents
    from document_parser_spark.plans.partitioning import salted_repartition
    from document_parser_spark.operators.extract import assemble_document_text
    from document_parser_spark.schemas import DOCUMENTS_INPUT

    cpus = spark.sparkContext.defaultParallelism
    df = spark.read.schema(DOCUMENTS_INPUT).parquet(corpus_path(spark, n_docs))
    assembled = assemble_document_text(df)
    parsed = parse_documents(salted_repartition(assembled, cpus * 2))

    def run():
        return parsed.agg(
            F.count("*").alias("docs"),
            F.sum(F.size("spans")).alias("spans"),
            F.sum(F.size("tables")).alias("tables"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        ).first()

    # Warm-up pass: JVM codegen + Python worker pool + shuffle paths.  The
    # measured pass reflects steady-state throughput (what a long-running
    # cluster job sees), not one-off session startup.
    run()
    t0 = time.monotonic()
    agg = run()
    wall = time.monotonic() - t0
    assert agg["errors"] == 0, f"parse errors: {agg['errors']}"
    return {
        "wall_sec": wall,
        "docs": agg["docs"],
        "spans": agg["spans"],
        "tables": agg["tables"],
        "docs_per_sec": agg["docs"] / wall,
    }


def run_span_match(spark) -> dict:
    """North-rule correctness metric (BASELINE.json: "documents/sec AND
    span-sequence exact-match rate"): Spark-parse the golden corpus
    (the contract's extraction corpus, fixtures ∪ sf0.01 documents — the
    corpus scripts/build_golden.py pins) and compare every document's FULL
    ordered span sequence (seq, kind, text, media_ref, offset) against
    golden/sf0.01/spans.parquet with two exceptAll passes (posexplode's seq
    makes multiset equality of these rows sequence equality per doc).
    Pinned to sf0.01 regardless of --sf-dir: the rate is a corpus-pinned
    exactness check, not a throughput row — the throughput rows above scale
    with sf."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from document_parser_spark.operators.extract import (
        assemble_document_text,
        parse_documents,
    )

    golden = os.path.join(REPO, "golden", "sf0.01", "spans.parquet")
    sf_dir = "/root/testdata/sf0.01"
    if not (os.path.exists(golden) and os.path.isdir(sf_dir)):
        return {}
    corpus = entry._extraction_corpus(spark, sf_dir)
    parsed = parse_documents(assemble_document_text(corpus)).persist()
    n_docs = parsed.count()
    mine = parsed.select("doc_id", F.posexplode("spans").alias("seq", "span")).select(
        "doc_id",
        F.col("seq").cast("long").alias("seq"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").cast("long").alias("offset"),
    )
    gold = spark.read.parquet(golden).select(
        "doc_id", "seq", "kind", "text", "media_ref", "offset"
    )
    mismatched_docs = (
        mine.exceptAll(gold)
        .select("doc_id")
        .union(gold.exceptAll(mine).select("doc_id"))
        .distinct()
        .count()
    )
    parsed.unpersist()
    return {
        "span_match_rate": round((n_docs - mismatched_docs) / n_docs, 6),
        "span_match_docs": n_docs,
    }


QUERY_NAMES = [
    # extraction+search over the corpus (the flagship path)
    "search_key_value_pathology",
    # predicates / joins / aggs / windows
    "filter_modes",
    "tpch_q1",
    "key_value_join",
    "semi_join_rows",
    "topk_per_group",
    "sessionize_events",
    # training-data ops
    "dedup_exact",
    "minhash_family",
    "simhash_docs",
    "ngram_jaccard",
    "text_stats",
    "language_id",
    "repetition_stats",
    "scrub_fingerprints",
    "quality_signals",
    "doc_chunks",
    "curate_corpus",
    "embedding_near_dup",
    "simhash_near_pairs",
    "extract_html_spans",
    "decontaminate",
    "repeated_spans",
    "repeated_passages",
    "doc_containment",
    "dedup_clusters",
    "cluster_canonical",
    "tfidf_topk",
    "corpus_profile",
]


def time_query(fn, repeats: int) -> dict:
    """Run the DataFrame ``fn()`` builds ``repeats`` times into the noop sink
    (full execution without driver materialization of wide rows):
    ``{"median", "best", "runs"}`` in seconds."""
    runs = []
    for _ in range(max(repeats, 1)):
        t0 = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        runs.append(round(time.monotonic() - t0, 3))
    return {"median": round(statistics.median(runs), 3), "best": min(runs), "runs": runs}


def time_queries(spark, sf_dir: str, names: list[str], repeats: int) -> dict:
    """``time_query`` of each named contract query over ``sf_dir``."""
    import __spark_entry__ as entry

    qs = entry.queries()
    stats = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench:{name}")
        stats[name] = time_query(lambda: qs[name](spark, sf_dir), repeats)
    spark.sparkContext.setJobDescription(None)
    return stats


def run_queries(spark, sf_dir: str, repeats: int = 3) -> tuple:
    """Times every bench query ``repeats`` times and reports the MEDIAN as
    the headline (plus best + raw runs): single runs on this co-tenant box
    swing 2-3× per query, which kept polluting round-over-round comparison
    (VERDICT r03 item 6).  The shared corpus-parse cache is warmed ONCE
    up front as its own row — previously whichever query ran first silently
    paid the ~5 s parse, coupling its number to registry order."""
    import __spark_entry__ as entry

    t0 = time.monotonic()
    entry._cells(spark, sf_dir).write.format("noop").mode("overwrite").save()
    warm = round(time.monotonic() - t0, 3)
    stats = {"corpus_parse_warm": {"median": warm, "best": warm, "runs": [warm]}}
    stats.update(time_queries(spark, sf_dir, QUERY_NAMES, repeats))
    # similarity: exact brute force, then the ANN paths it is recalled against
    from document_parser_spark.operators import similarity
    from document_parser_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_bucketed_topk,
        sketch_topk,
    )
    from document_parser_spark.sources.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    approximate = [("ann_lsh", lsh_bucketed_topk), ("ann_ivf", ivf_topk), ("ann_sketch", sketch_topk)]
    for name, fn in [("ann_brute_force", brute_force_topk), *approximate]:
        stats[name] = time_query(lambda: fn(emb, q, k=10), repeats)
    # ANN quality: recall@10 of each approximate path vs the exact brute
    # force, with the probed/scored corpus fraction each one pays — the
    # recall-per-fraction trade IS the ANN scale story (VERDICT r02 item 2/3).
    bf = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, q, k=10).collect()}
    extras = {}
    for name, fn in approximate:
        approx = {(r["query_id"], r["vec_id"]) for r in fn(emb, q, k=10).collect()}
        extras[f"{name}_recall_at_10"] = round(len(bf & approx) / max(len(bf), 1), 3)
    n = emb.count()
    nlist = similarity.ivf_nlist(n)
    extras["ann_ivf_probed_fraction"] = round(similarity.ivf_nprobe(nlist) / nlist, 3)
    extras["ann_sketch_scored_fraction"] = similarity.RERANK_FRAC_PCT / 100
    # the scale path: sketch rerank (the measured winner on this corpus);
    # IVF/LSH numbers above are the clustered-corpus paths, not the scale
    # story
    extras["ann_primary"] = "ann_sketch (the scale path; recall/fraction above)"
    times = {name: s["median"] for name, s in stats.items()}
    return times, extras, stats


#: plan-quality properties the audit flags per query
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


def plan_audit(spark, sf_dir: str, names: list[str]) -> str:
    """The plan audit in EXPLAIN.md's format: per named contract query (all
    of ``__spark_entry__.queries()`` when ``names`` is empty) the
    plan-quality properties it shows (pushdown, broadcast vs sort-merge,
    partial aggregation, Python stages) and its ``explain("formatted")``
    plan.  A before/after plan comparison runs the same command in two
    checkouts with different ``--out`` files and diffs them."""
    import __spark_entry__ as entry

    qs = entry.queries()
    command = " ".join(
        ["python bench.py --explain", *names, "--sf-dir", sf_dir,
         "--cpus", str(spark.sparkContext.defaultParallelism)]
    )
    out = [
        f"# EXPLAIN audit — contract queries at {os.path.basename(sf_dir.rstrip('/'))}",
        "",
        f"Generated by `{command}` (re-run after plan-affecting",
        "changes).  Properties flagged per query; full formatted plans follow.",
        "Whole-stage-codegen spans only appear in EXECUTED plans under AQE —",
        "they are gated separately by tests/test_plans.py.",
        "",
    ]
    for name in names or list(qs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, sf_dir).explain("formatted")
        plan = buf.getvalue()
        props = [label for label, check in _CHECKS if check(plan)]
        out += [
            f"## {name}",
            "",
            "Properties: " + (", ".join(props) if props else "(none flagged)"),
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    return "\n".join(out)


def bench_once(
    cpus: int,
    sf_dir: str,
    extract_only: bool = False,
    docs: int | None = None,
    repeats: int = 3,
) -> dict:
    from document_parser_spark.sources.session import get_spark

    spark = get_spark(app_name=f"bench[{cpus}]", cpus=cpus)
    sf = sf_of(sf_dir)
    result: dict = {"sf": sf, "cpus": cpus}
    ext = run_extraction(spark, docs or extraction_docs(sf))
    result["extract"] = ext
    if not extract_only:
        result["html_extract"] = run_html_extraction(spark, max(500, (docs or extraction_docs(sf)) // 4))
        result["span_match"] = run_span_match(spark)
        result["queries"], result["query_extras"], result["query_stats"] = run_queries(
            spark, sf_dir, repeats=repeats
        )
    spark.stop()
    return result


#: fixed single-thread control workload (docs parsed) — small enough to add
#: ~1-2 s per bench run, big enough that its wall time tracks ambient load
HW_CONTROL_DOCS = 300


def _hw_control_sec(n_docs: int = HW_CONTROL_DOCS) -> float:
    """Ambient-load control (VERDICT r04 item 5): a FIXED single-thread
    CPU workload (kernel-parse n synthetic docs, no Spark) timed alongside
    the bench.  Its wall time moves with the box's co-tenant load, so a
    BENCH_rN row can be read relative to the machine's state in that window
    instead of adjudicated by hand — r04's query medians sat 1.5-3× over
    round-close purely by window."""
    _mp_work(range(5))  # warm imports + corpus synth so pre/post compare
    t0 = time.monotonic()
    _mp_work(range(n_docs))
    return round(time.monotonic() - t0, 3)


def _kill_leftovers() -> None:
    """Orphaned pyspark daemons from a previous (timed-out) run poison
    scaling measurements; clear them between runs."""
    subprocess.run(["pkill", "-f", "pyspark.daemon"], capture_output=True)


def _mp_control(n_docs: int, nproc: int) -> float:
    """Hardware control: the same kernel parse under plain multiprocessing —
    no Spark.  Establishes the box's own scaling ceiling (memory bandwidth /
    clock) so the engine's efficiency can be judged against it."""
    import multiprocessing as mp

    chunk = n_docs // nproc
    rngs = [range(i * chunk, (i + 1) * chunk) for i in range(nproc)]
    t0 = time.monotonic()
    with mp.Pool(nproc) as pool:
        pool.map(_mp_work, rngs)
    return (chunk * nproc) / (time.monotonic() - t0)


def _mp_work(rng) -> int:
    from document_parser_spark.corpus import synthesize_doc
    from document_parser_spark.kernel import parse_document

    return sum(len(parse_document(synthesize_doc(i)["text"])["spans"]) for i in rng)


def _scaling_tiers() -> tuple[int, int, int]:
    """(nproc, low, high) for the N vs 4N scaling studies on THIS box: high
    is every core the process may run on, low a quarter of them — fixed
    tiers oversubscribe a smaller box and measure the scheduler instead."""
    nproc = len(os.sched_getaffinity(0))
    return nproc, max(nproc // 4, 1), nproc


def _best_of_tiers(kind: str, docs: int, repeats: int) -> tuple[dict, dict, dict]:
    """The N-vs-4N protocol every scaling study shares: ``--internal kind``
    over ``docs`` documents at the low and the high tier, alternating, one
    fresh subprocess (one master per JVM) per run, ``repeats`` rounds, and
    each tier's fastest run kept — best-of shrugs off co-tenant noise
    (single one-shot spark-submit pairs of one job measured 0.32–0.74
    purely by load window — see BASELINE.md).  Returns the block's tier
    fields and the best low and high runs."""
    nproc, low, high = _scaling_tiers()
    best: dict = {}
    for _ in range(repeats):
        for cpus in (low, high):
            _kill_leftovers()
            proc = subprocess.run(
                [sys.executable, __file__, "--internal", kind,
                 "--cpus", str(cpus), "--docs", str(docs)],
                capture_output=True, text=True, check=True,
            )
            r = json.loads(proc.stdout.strip().splitlines()[-1])
            if cpus not in best or r["wall_sec"] < best[cpus]["wall_sec"]:
                best[cpus] = r
    return {"nproc": nproc, "cores_low": low, "cores_high": high}, best[low], best[high]


def _curate_once(spark, docs: int) -> dict:
    """One run of the curation pipeline (plans/curate.py) over the
    deterministic synthetic corpus — the subprocess unit of
    ``curate_scaling_study``.

    r04 protocol fix (matches jobs/curate_job.py): the corpus is STAGED to
    parquet before the timed pipeline — the pipeline scans its input
    several times and an unpersisted generator frame re-synthesizes on
    every scan (1M docs: 630 s vs 229 s staged), which diluted the
    scaling signal with generator compute.  Earlier curate-scaling rows
    (generation in-loop) are not wall-comparable to staged ones."""
    import shutil
    import tempfile

    from document_parser_spark.plans.curate import (
        run_curation_checkpointed,
        synthetic_curation_corpus,
    )

    out = tempfile.mkdtemp(prefix="curate_bench_")
    try:
        stage = os.path.join(out, "_input")
        synthetic_curation_corpus(spark, docs).write.mode("overwrite").parquet(stage)
        stats = run_curation_checkpointed(
            spark,
            spark.read.parquet(stage),
            out,
            run_id="bench",
            num_buckets=64,
            max_words=512,
            stride=384,
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    wall = stats["wall_ms"] / 1000.0
    return {
        "wall_sec": round(wall, 2),
        "docs": docs,
        "docs_per_sec": round(docs / wall, 1),
        "docs_kept": stats["docs_kept"],
        "chunks_out": stats["chunks_out"],
    }


def curate_scaling_study(repeats: int = 2, docs: int = 50_000) -> dict:
    """North-rule scaling evidence for the curation job: same synthetic
    input, N vs 4N cores (``_best_of_tiers``)."""
    tiers, low, high = _best_of_tiers("curate", docs, repeats)
    factor = tiers["cores_high"] / tiers["cores_low"]
    return {
        **tiers,
        "docs": docs,
        "docs_per_sec_low": low["docs_per_sec"],
        "docs_per_sec_high": high["docs_per_sec"],
        "speedup": round(high["docs_per_sec"] / low["docs_per_sec"], 3),
        "scaling_efficiency": round(high["docs_per_sec"] / (low["docs_per_sec"] * factor), 3),
        "wall_sec_high": high["wall_sec"],
    }


def scaling_study(repeats: int = 3, docs: int = 100_000) -> dict:
    """Same job, same input, two parallelism levels (``_best_of_tiers``),
    plus a no-Spark multiprocessing control that measures the hardware's
    own ceiling (on a 32-core box the control itself scales 8→32 at only
    ~0.55 — BASELINE.md "Measured results")."""
    tiers, low, high = _best_of_tiers("extract", docs, repeats)
    thr_low, thr_high = low["docs_per_sec"], high["docs_per_sec"]
    factor = tiers["cores_high"] / tiers["cores_low"]
    ctl_docs = 20_000
    ctl_low = _mp_control(ctl_docs, tiers["cores_low"])
    ctl_high = _mp_control(ctl_docs, tiers["cores_high"])
    return {
        **tiers,
        "docs_per_sec_low": round(thr_low, 1),
        "docs_per_sec_high": round(thr_high, 1),
        "speedup": round(thr_high / thr_low, 3),
        "scaling_efficiency": round(thr_high / (thr_low * factor), 3),
        "hw_control_docs_per_sec_low": round(ctl_low, 1),
        "hw_control_docs_per_sec_high": round(ctl_high, 1),
        "hw_control_efficiency": round(ctl_high / (ctl_low * factor), 3),
        "efficiency_vs_hw_ceiling": round(
            (thr_high / (thr_low * factor)) / max(ctl_high / (ctl_low * factor), 1e-9), 3
        ),
    }


#: CPU-heavy shuffle/agg queries for the query-side scaling study — all
#: LINEAR per-doc work (fingerprint/simhash/token/repetition aggregations).
#: Pair-emitting dedup queries are deliberately excluded: on the synthetic
#: corpus their OUTPUT grows superlinearly with doc count (near-dup density),
#: so "same work per doc at both cluster sizes" would not hold.
SCALING_QUERY_SUBSET = [
    "scrub_fingerprints",
    "simhash_docs",
    "text_stats",
    "repetition_stats",
]


#: documents for the query scaling corpus — sf0.1's 5k docs can't feed 16
#: cores (task overhead dominates and 16 cores measures SLOWER than 4);
#: 60k docs ≈ 12× gives each core real shuffle/agg work.
QUERY_SCALING_DOCS = 20_000


def _flat_documents(spark, name: str, n_docs: int, doc_of) -> str:
    """``_cached`` flat documents table (doc_id, text, lang, source, n_chars)
    of ``n_docs`` docs, doc ``i`` being ``doc_of(i)`` = (text, lang, source),
    generated on the executors."""
    from typing import Iterator

    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                [(i, *doc_of(i)) for i in map(int, pdf["id"])],
                columns=["doc_id", "text", "lang", "source"],
            )
            out["n_chars"] = out["text"].str.len()
            yield out

    def make():
        base = spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism * 2)
        return base.mapInPandas(
            gen, schema="doc_id long, text string, lang string, source string, n_chars long"
        )

    return _cached(name, "documents", make)


def _scaled_documents_dir(spark, n_docs: int) -> str:
    """Flat synthetic documents at the requested size — cached parquet,
    deterministic."""

    def doc_of(i: int) -> tuple:
        from document_parser_spark.corpus import synthesize_doc

        return synthesize_doc(i)["text"], ("en", "fr", "de", "es")[i % 4], ("web", "pdf")[i % 2]

    return _flat_documents(spark, f"qscale_{n_docs}", n_docs, doc_of)


def _zipf_documents_dir(
    spark, n_docs: int, vocab: int = 20_000, zipf_s: float = 1.1, dup_every: int = 97
) -> str:
    """Adversarial-vocabulary growth corpus (VERDICT r03 item 4): the
    default synthetic docs draw from a ~20-word vocabulary, which makes true
    near-dup pairs quadratically dense — a growth study over them cannot
    distinguish output-bound from candidate-bound growth.  This tier draws
    80-200 words per doc from a 20k-word Zipfian vocabulary (realistic
    head-heavy text), so random docs share only stopword-like heads
    (word-Jaccard ~0.1) and the ONLY near-dups are the planted ones: every
    ``dup_every``-th doc is a 3-token mutation of its predecessor → true
    pairs ≈ n/97, LINEAR in n.  Candidate growth can then be read directly
    against true-pair growth."""
    import numpy as np

    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    probs = 1.0 / ranks**zipf_s
    cum = np.cumsum(probs / probs.sum())

    def zipf_draw(rng, size: int) -> np.ndarray:
        # inverse-CDF sampling: O(size·log vocab), vs rng.choice(p=...)
        # which is O(vocab) PER CALL (4×10^8 ops over a 20k-doc corpus)
        return np.searchsorted(cum, rng.random_sample(size))

    def words_of(i: int) -> list:
        rng = np.random.RandomState(1_000_003 + i)
        n_words = 80 + (i * 37) % 121
        # the bulk draw runs even for planted-dup docs (which discard
        # it): it advances the RNG to the state the mutation draws
        # assume — reordering would change the frozen cached corpus
        words = [f"w{w}" for w in zipf_draw(rng, n_words)]
        if i % dup_every == 0 and i > 0:
            # planted near-dup: predecessor's text with 3 tokens swapped
            words = list(words_of(i - 1))
            pos = rng.choice(len(words), size=3, replace=False)
            for p, r in zip(pos, zipf_draw(rng, 3)):
                words[p] = f"w{r}"
        return words

    # lang/source CONSTANT: ngram_jaccard blocks on (lang, source), and a
    # planted pair (i-1, i) must not be split across blocks
    return _flat_documents(
        spark, f"zscale_{n_docs}", n_docs, lambda i: (" ".join(words_of(i)), "en", "web")
    )


def _embeddings(spark, n_vecs: int, dim: int = 64):
    """Seed-deterministic isotropic unit embeddings in the testdata tiers'
    schema, ``vec_id bigint, embedding array<float>, label int``, with ten
    labels that, as there, carry no cosine signal."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    mat = rng.normal(size=(n_vecs, dim)).astype(np.float32)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(n_vecs, dtype=np.int64)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": list(mat), "label": (ids % 10).astype(np.int32)})
    )


def _scaled_embeddings_dir(spark, n_vecs: int, dim: int = 64) -> str:
    """``_embeddings`` at the requested size, cached — the ANN growth corpus."""
    name = f"escale_{n_vecs}" if dim == 64 else f"escale_{n_vecs}_d{dim}"
    return _cached(name, "embeddings", lambda: _embeddings(spark, n_vecs, dim))


#: documents in the default sf1-like tier: 10× sf0.1's 5,000
SF1LIKE_DOCS = 50_000


def make_sf1like(spark, n_docs: int) -> str:
    """The sf1-like tier, ``.bench_data/sf1like_<n_docs>`` (one directory
    per size, read as sf1 by ``sf_of``): a statistically matched stand-in
    for an sf1 tier (10× the sf0.1 row counts).
    ``n_docs`` documents draw 17–60 words (mean ≈ sf0.1's 38) from the real
    sf0.1 vocabulary and cycle through its (lang, source) blocks;
    ``n_docs·2/5`` embeddings (sf0.1's ratio) come from ``_embeddings``; the
    other sf0.1 tables are linked in, so every contract query resolves.
    Deterministic."""
    import numpy as np
    import pandas as pd

    def documents():
        src = spark.read.parquet(os.path.join(SF01_DIR, "documents.parquet"))
        rows = src.select("text").limit(50).collect()
        vocab = np.array(sorted({w for r in rows for w in r["text"].split()}))
        langs = sorted(r["lang"] for r in src.select("lang").distinct().collect())
        sources = sorted(r["source"] for r in src.select("source").distinct().collect())
        rng = np.random.RandomState(42)
        texts = [
            " ".join(vocab[rng.randint(0, len(vocab), 17 + rng.randint(0, 44))])
            for _ in range(n_docs)
        ]
        pdf = pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": [langs[i % len(langs)] for i in range(n_docs)],
                "source": [sources[(i // len(langs)) % len(sources)] for i in range(n_docs)],
            }
        )
        pdf["n_chars"] = pdf["text"].str.len().astype("int64")
        return spark.createDataFrame(pdf).repartition(64)

    name = f"sf1like_{n_docs}"
    _cached(name, "documents", documents)
    path = _cached(name, "embeddings", lambda: _embeddings(spark, n_docs * 2 // 5))
    for table in os.listdir(SF01_DIR):
        link = os.path.join(path, table)
        if not os.path.exists(link):
            os.symlink(os.path.join(SF01_DIR, table), link)
    return path


def _query_subset_wall(spark, n_docs: int) -> float:
    """Steady-state wall time of the scaling query subset over the
    ``n_docs`` scaled documents."""
    import __spark_entry__ as entry

    data_dir = _scaled_documents_dir(spark, n_docs)
    qs = entry.queries()

    def run() -> float:
        t0 = time.monotonic()
        for name in SCALING_QUERY_SUBSET:
            qs[name](spark, data_dir).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    run()  # warm-up (JVM, Python workers, shuffle paths)
    return run()


def query_scaling_study(repeats: int = 1, n_docs: int = QUERY_SCALING_DOCS) -> dict:
    """The scaling criterion applied to the QUERY surface: the same
    shuffle-heavy dedup/fingerprint queries at N and 4N cores over a corpus
    big enough to feed 4N cores (``_best_of_tiers``).
    eff = T_low / (factor · T_high)."""
    tiers, low, high = _best_of_tiers("queries", n_docs, repeats)
    factor = tiers["cores_high"] / tiers["cores_low"]
    return {
        "queries": SCALING_QUERY_SUBSET,
        "n_docs": n_docs,
        **tiers,
        "sec_low": round(low["wall_sec"], 2),
        "sec_high": round(high["wall_sec"], 2),
        "speedup": round(low["wall_sec"] / high["wall_sec"], 3),
        "scaling_efficiency": round(low["wall_sec"] / (high["wall_sec"] * factor), 3),
    }


def _internal_run(kind: str, cpus: int, docs: int) -> dict:
    """One subprocess unit of ``_best_of_tiers`` on a fresh local[cpus]
    session: the extraction pass, the curation pipeline or the query
    subset over ``docs`` documents, with its ``wall_sec``.

    The query subset lowers maxPartitionBytes so the compact generated
    parquet yields enough input splits to feed 4N cores — at petabyte scale
    splits abound, but a 70 MB local file would otherwise scan as ~1 task
    and measure single-thread time at every core count."""
    from document_parser_spark.sources.session import get_spark

    extra = {"spark.sql.files.maxPartitionBytes": "2m"} if kind == "queries" else None
    spark = get_spark(app_name=f"{kind}[{cpus}]", cpus=cpus, extra=extra)
    try:
        if kind == "extract":
            return run_extraction(spark, docs)
        if kind == "curate":
            return _curate_once(spark, docs)
        return {"wall_sec": _query_subset_wall(spark, docs)}
    finally:
        spark.stop()


def growth_study(sizes=(2_000, 20_000)) -> dict:
    """Sub-quadratic evidence for the whole near-dup/ANN family (VERDICT r02
    item 10): run each operator at n and 10n docs/vectors and report wall
    time, CANDIDATE volume, and verified-output volume.  Quadratic candidate
    generation would grow candidates ~100× when true-pair density doesn't;
    the bucket/prefix/sketch shapes should track the true pairs instead."""
    from pyspark.sql import functions as F

    from document_parser_spark.operators import dedup, similarity
    from document_parser_spark.sources.session import get_spark, load_table

    spark = get_spark(app_name="growth", cpus=DEFAULT_CPUS)
    out: dict = {"sizes": list(sizes), "ops": {}}

    def record(op: str, n: int, wall: float, cand: int, verified: int) -> None:
        out["ops"].setdefault(op, {})[str(n)] = {
            "wall_sec": round(wall, 2), "candidates": cand, "verified": verified,
        }

    def documents(path: str):
        return load_table(spark, path, "documents").select("doc_id", "lang", "source", "text")

    for n in sizes:
        # the synthetic tier, then the sparse-vocab (Zipfian) tier: its true
        # pairs are PLANTED and linear in n (≈ n/97), so candidate growth
        # reads directly against true-pair growth — the degenerate-vocab
        # rows cannot separate output-bound from candidate-bound growth
        # (VERDICT r03 item 4).  On the Zipf tier n-grams run at n=3: the
        # corpus-scale dial on natural vocabulary — single words are
        # candidate-bound there (mid-df words contribute C(df,2) prefix
        # pairs each; measured 37× wall at 10× docs), n-gram tokens are
        # near-unique so candidates track the planted true pairs
        for suffix, d, ngram_n in (
            ("", documents(_scaled_documents_dir(spark, n)), 1),
            ("_zipf", documents(_zipf_documents_dir(spark, n)), 3),
        ):
            t0 = time.monotonic()
            cand = dedup.minhash_candidate_pairs(
                dedup.minhash_signatures(d, shingle_k=5)
            ).count()
            pairs = dedup.minhash_near_dup_pairs(d, shingle_k=5, threshold_pct=50).count()
            record("minhash" + suffix, n, time.monotonic() - t0, cand, pairs)

            t0 = time.monotonic()
            sim = dedup.simhash_arrow(d)
            cand = dedup.simhash_candidate_pairs(sim, max_hamming=3).distinct().count()
            pairs = dedup.simhash_near_pairs(sim, max_hamming=3).count()
            record("simhash" + suffix, n, time.monotonic() - t0, cand, pairs)

            # cand counted OUTSIDE the timed window: the verify pipeline
            # re-executes candidate generation internally, so timing both
            # would double-count it and break comparability with earlier
            # rounds
            cand = dedup.ngram_candidate_pairs(
                dedup.token_sets(d, ngram_n, *dedup.NGRAM_BLOCK_COLS), 50
            ).count()
            t0 = time.monotonic()
            pairs = dedup.ngram_jaccard_pairs(d, threshold_pct=50, ngram_n=ngram_n).count()
            record("ngram_jaccard" + suffix, n, time.monotonic() - t0, cand, pairs)

        edir = _scaled_embeddings_dir(spark, n)
        e = load_table(spark, edir, "embeddings")
        q = e.filter(F.col("vec_id") < 5)
        for op, fn in (("ann_ivf", similarity.ivf_topk), ("ann_sketch", similarity.sketch_topk)):
            t0 = time.monotonic()
            res = fn(e, q, k=10)
            # count() both times AND materializes the result: if a query's
            # probed lists hold fewer than k candidates (small n, skewed
            # quantizer), the real top-k is smaller than 5*k — record the
            # actual output size, not an assumed constant (ADVICE r03)
            n_out = res.count()
            wall = time.monotonic() - t0
            if op == "ann_ivf":
                # MEASURED probed-list population (not the nprobe/nlist
                # closed form): count the actual rows the probe join scores,
                # so a skewed quantizer shows up as superlinear growth here
                nlist = similarity.ivf_nlist(n)
                nprobe = similarity.ivf_nprobe(nlist)
                cids, cmat = similarity.ivf_centroids_kmeans(e, nlist)
                assign = e.select(
                    "vec_id",
                    F.element_at(
                        similarity._probe_udf(cids, cmat, 1)(F.col("embedding")), 1
                    ).alias("cid"),
                )
                probes = q.select(
                    F.col("vec_id").alias("qid"),
                    F.explode(
                        similarity._probe_udf(cids, cmat, nprobe)(F.col("embedding"))
                    ).alias("cid"),
                )
                cand = (
                    probes.join(assign, "cid")
                    .filter(F.col("qid") != F.col("vec_id"))
                    .count()
                )
            else:
                # sketch scores exactly the top rerank-frac by CONSTRUCTION
                cand = max(10, (n * similarity.RERANK_FRAC_PCT + 99) // 100) * 5
            record(op, n, wall, cand, n_out)

        # embedding near-dup (r05 sketch-candidate path): the hamming scan
        # is n²/2 cheap ops BY DESIGN (64-byte sketch rows); the growth
        # signal is the VERIFY bill — candidates (counted from the executed
        # block-pair join, outside the timed window like ngram) must track
        # true pairs, and on isotropic embeddings BOTH grow ~n² (cos≥0.45
        # tail density is size-independent) — output-bound, not a leak
        cand = similarity.sketch_near_dup_candidates(e, threshold=0.45).count()
        t0 = time.monotonic()
        pairs = similarity.cosine_near_dup_pairs(e, threshold=0.45).count()
        record("embedding_near_dup", n, time.monotonic() - t0, cand, pairs)

    lo, hi = (str(s) for s in sizes)
    for op, rows in out["ops"].items():
        # provenance of the candidate counts, so derived numbers can't read
        # as measurements: every op's are counted from executed joins
        # (ngram outside the timed window) except sketch's, which is exact
        # by construction (top rerank-frac)
        rows["candidate_basis"] = "by-construction" if op == "ann_sketch" else "measured"
        if rows[lo]["candidates"] > 0:
            rows["candidate_growth"] = round(rows[hi]["candidates"] / max(rows[lo]["candidates"], 1), 1)
        rows["verified_growth"] = round(rows[hi]["verified"] / max(rows[lo]["verified"], 1), 1)
        rows["wall_growth"] = round(rows[hi]["wall_sec"] / max(rows[lo]["wall_sec"], 1e-9), 1)
    spark.stop()
    return out


def run_tool(args) -> None:
    """--make-sf1like, --explain or --queries on one local[--cpus] session."""
    from document_parser_spark.sources.session import get_spark

    spark = get_spark(app_name="bench-tool", cpus=args.cpus)
    try:
        if args.make_sf1like:
            print(make_sf1like(spark, args.docs or SF1LIKE_DOCS))
        elif args.explain is not None:
            out = args.out or os.path.join(REPO, "EXPLAIN.md")
            text = plan_audit(spark, args.sf_dir, args.explain)
            with open(out, "w") as fh:
                fh.write(text)
            print(f"wrote {out}")
        else:
            names = [n for n in args.queries.split(",") if n]
            stats = time_queries(spark, args.sf_dir, names, args.repeats)
            print(json.dumps({"sf_dir": args.sf_dir, "cpus": args.cpus, "queries": stats}))
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--extract-only", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scaling-queries", action="store_true")
    ap.add_argument("--curate-scaling", action="store_true")
    ap.add_argument("--growth", action="store_true")
    ap.add_argument(
        "--internal",
        choices=("extract", "curate", "queries"),
        help="one subprocess unit of the N-vs-4N scaling loop",
    )
    ap.add_argument("--docs", type=int, default=None)
    ap.add_argument(
        "--repeats",
        type=int,
        default=3,
        help="per-query timing repetitions; headline = median (noise protocol)",
    )
    ap.add_argument("--queries", default="", help="time these contract queries (A,B,...)")
    ap.add_argument("--explain", nargs="*", help="plan audit of these contract queries (all by default)")
    ap.add_argument("--out", default="", help="--explain's output file (default EXPLAIN.md)")
    ap.add_argument("--make-sf1like", action="store_true")
    args = ap.parse_args()

    if args.internal:
        print(json.dumps(_internal_run(args.internal, args.cpus, args.docs)))
        return
    if args.curate_scaling:
        print(json.dumps(
            {"curate_scaling": curate_scaling_study(docs=args.docs or 50_000)}
        ))
        return
    if args.scaling_queries:
        print(json.dumps({"query_scaling": query_scaling_study()}))
        return
    if args.growth:
        print(json.dumps({"growth": growth_study()}))
        return
    if args.make_sf1like or args.explain is not None or args.queries:
        run_tool(args)
        return

    hw_pre = _hw_control_sec()
    result = bench_once(
        args.cpus,
        args.sf_dir,
        extract_only=args.extract_only,
        docs=args.docs,
        repeats=args.repeats,
    )
    hw_post = _hw_control_sec()

    queries = dict(result.get("queries", {}))
    queries["extract_pipeline"] = round(result["extract"]["wall_sec"], 3)
    stats = result.get("query_stats", {})
    # The final stdout line must stay COMPACT (< ~2 KB): the driver captures
    # only the tail of stdout, and r04's stats-laden single line overflowed
    # it — BENCH_r04.json recorded "parsed": null and the machine-readable
    # perf record was lost (VERDICT r04 item 1).  Headline medians + totals
    # go on the line; per-query best/raw-runs, extras, and scaling detail go
    # to the BENCH_STATS.json sidecar next to this script.
    payload = {
        "metric": "total_bench_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "bench_repeats": args.repeats,
        "sf": result["sf"],
        "cpus": result["cpus"],
        "extract_docs_per_sec": round(result["extract"]["docs_per_sec"], 1),
        "extract_docs": result["extract"]["docs"],
        "extract_spans": result["extract"]["spans"],
        # fixed single-thread workload timed before/after the run: read the
        # query rows relative to these (ambient co-tenant load normalizer)
        "hw_control_sec": [hw_pre, hw_post],
    }
    extras = result.get("query_extras", {})
    for key in (
        "ann_lsh_recall_at_10",
        "ann_ivf_recall_at_10",
        "ann_sketch_recall_at_10",
        "ann_ivf_probed_fraction",
        "ann_sketch_scored_fraction",
    ):
        if key in extras:
            payload[key] = extras[key]
    if "html_extract" in result:
        payload["extract_html_docs_per_sec"] = round(
            result["html_extract"]["docs_per_sec"], 1
        )
    # North-rule pair metric: span-sequence exact-match rate vs the golden
    # kernel oracle (corpus-pinned to sf0.01; see run_span_match).
    payload.update(result.get("span_match", {}))
    sidecar = {
        **payload,
        "queries_best": {n: s["best"] for n, s in stats.items()},
        "query_stats": stats,
        **extras,
    }
    sidecar_path = os.path.join(REPO, "BENCH_STATS.json")
    if args.scaling:
        payload["scaling"] = scaling_study()
        sidecar["scaling"] = payload["scaling"]
    else:
        # Carry the last measured scaling block forward (marked as such) so
        # a default run neither clobbers the sidecar's scaling record nor
        # ships a BENCH artifact with no north-rule scaling numbers at all —
        # but only a block measured on a box with this run's core count: a
        # block from another box is not this box's scaling.
        try:
            with open(sidecar_path) as fh:
                prior_scaling = json.load(fh).get("scaling")
        except (OSError, ValueError):
            prior_scaling = None
        if prior_scaling and prior_scaling.get("nproc") == _scaling_tiers()[0]:
            prior_scaling.setdefault("from_prior_scaling_run", True)
            payload["scaling"] = prior_scaling
            sidecar["scaling"] = prior_scaling
        payload["scaling_evidence"] = "BASELINE.md r05 windows / `bench.py --scaling`"
    with open(sidecar_path, "w") as fh:
        json.dump(sidecar, fh, indent=1)
    payload["stats_file"] = "BENCH_STATS.json"
    line = json.dumps(payload)
    # hard guard: the whole point is fitting the driver's tail capture
    assert len(line) < 2800, f"bench stdout line too long ({len(line)} B)"
    print(line)


if __name__ == "__main__":
    main()
