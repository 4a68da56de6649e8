"""extract_batch — the extraction job's shape, as a batch throughput loop.

Set-up stages a seeded corpus as flat (doc_id, text) parquet in ``BATCHES``
measured batches and a warm-up batch, and makes one pass over the warm-up
batch.  Each batch holds ``MD_PER_BATCH`` synthesize_doc markdown documents
in the generator's exact class mix (1 % pathological heavy-tail documents,
so task skew shows) and ``HTML_PER_BATCH`` synthesize_html_doc pages.  One
operation is one pass over one batch:

    scan (sources.data.lift_flat_to_input) → assemble_document_text
    → salted_repartition → parse_documents → spans_output / tables_output /
    cells_output → three parquet writes

The loop cycles through the batches; the output of every batch is checked
after the loop: no parse errors, every document written, and a seeded
sample of written spans equal to kernel.parse_document's.
"""

from __future__ import annotations

import os
import random

from harness import parse_staged, stage_flat, stratified_md_classes

BATCHES = 2
MD_PER_BATCH = 900
HTML_PER_BATCH = 300
SAMPLE_PER_BATCH = 6
#: the warm-up batch, staged beside the measured ones with the same size and
#: mix: after a 200-document warm-up batch the first measured pass still ran
#: ~25 % above the next ones
WARMUP = BATCHES


def corpus_plan(seed: int) -> list:
    """(index, kind, batch) for every staged document; each batch, the
    warm-up batch too, gets the same number of documents of each markdown
    class."""
    n = BATCHES + 1
    rows = []
    for cls in stratified_md_classes(seed, n * MD_PER_BATCH):
        rows += [(i, "md", k % n) for k, i in enumerate(cls)]
    return rows + [(i, "html", i % n) for i in range(n * HTML_PER_BATCH)]


def doc_of(kind: str, i: int, seed: int) -> dict:
    from document_parser_spark.corpus import synthesize_doc, synthesize_html_doc

    return (synthesize_doc if kind == "md" else synthesize_html_doc)(i, seed)


def inputs(seed: int) -> dict:
    """The staged documents of every batch, generated here (untimed)."""
    plan = corpus_plan(seed)
    return {"plan": plan, "batches": {b: [doc_of(k, i, seed) for i, k, bb in plan if bb == b]
                                      for b in range(BATCHES + 1)}}


def extract_pass(bench, corpus: str, out: str, batch) -> None:
    from pyspark import StorageLevel

    from document_parser_spark.operators.extract import cells_output, spans_output, tables_output

    span = bench.tracer.span
    parsed = parse_staged(bench.tracer, bench.spark, os.path.join(corpus, f"batch={batch}"))
    parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        with span("sources.sinks.write_spans", "sources.sinks"):
            spans_output(parsed).write.mode("overwrite").parquet(os.path.join(out, "spans"))
        with span("operators.extract.explode_write", "operators.extract"):
            tables = tables_output(parsed)
            tables.write.mode("overwrite").parquet(os.path.join(out, "tables"))
            cells_output(tables).write.mode("overwrite").parquet(os.path.join(out, "cells"))
    finally:
        parsed.unpersist()


def set_up(bench, inputs) -> str:
    """Stage every batch, then one warm-up pass over the warm-up batch: the
    first pass of a session pays the Python workers' start (~3x a steady
    pass)."""
    corpus = os.path.join(bench.data, "corpus")
    with bench.setup_step("stage_s"):
        for b, docs in inputs["batches"].items():
            stage_flat(docs, os.path.join(corpus, f"batch={b}"))
    with bench.setup_step("warmup_s"):
        extract_pass(bench, corpus, os.path.join(bench.data, "out", "warmup"), WARMUP)
    bench.notes["warmup_ops"] = 1
    return corpus


def measure(bench, inputs, corpus: str) -> None:
    out = os.path.join(bench.data, "out")
    passes_by_batch: dict = {}
    for i in bench.loop(cycle=BATCHES):
        b = i % BATCHES
        for traced in bench.passes():
            with bench.op("extract_pass", b, traced):
                extract_pass(bench, corpus, os.path.join(out, f"b{b}"), b)
            passes_by_batch.setdefault(b, []).append(len(bench.ops) - 1)
    check(bench, inputs["plan"], out, passes_by_batch)


def items_per_op(op) -> int:
    return MD_PER_BATCH + HTML_PER_BATCH


def check(bench, plan, out, passes_by_batch) -> None:
    from pyspark.sql import functions as F

    from document_parser_spark.kernel import parse_document

    spark = bench.spark
    rng = random.Random(bench.seed)
    errors = docs = 0
    for b, ops in sorted(passes_by_batch.items()):
        path = os.path.join(out, f"b{b}", "spans")
        members = [(i, k) for i, k, bb in plan if bb == b]
        sample = rng.sample(members, SAMPLE_PER_BATCH)
        wanted = {d["doc_id"]: d for d in (doc_of(k, i, bench.seed) for i, k in sample)}
        if bench.corrupt and b == min(passes_by_batch):
            corrupt_spans(spark, path, next(iter(wanted)))
        written = spark.read.parquet(path)
        row = written.agg(
            F.count("*").alias("docs"),
            F.sum(F.exists("spans", lambda s: s.kind == "error").cast("int")).alias("errors"),
        ).first()
        docs += row["docs"]
        errors += row["errors"] or 0
        if row["docs"] != len(members) or row["errors"]:
            bench.fail_check(f"batch {b}: {row['docs']} docs written of {len(members)}, "
                             f"{row['errors']} with parse errors", ops)
            continue
        got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
               for r in written.filter(F.col("doc_id").isin(list(wanted))).collect()}
        bad = [d for d, doc in wanted.items() if got.get(d) != parse_document(doc["text"])["spans"]]
        if bad:
            bench.fail_check(f"batch {b}: spans differ from the kernel for {bad}", ops)
    bench.notes["error_frac"] = errors / max(docs, 1)


def corrupt_spans(spark, path: str, doc_id: str) -> None:
    """Self-test: drop the first span of one sampled document in place."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    bad = df.withColumn("spans", F.when(F.col("doc_id") == doc_id, F.slice("spans", 2, 1 << 20))
                        .otherwise(F.col("spans")))
    bad.write.mode("overwrite").parquet(path + ".corrupt")
    spark.read.parquet(path + ".corrupt").write.mode("overwrite").parquet(path)


def layers(bench, per_span) -> dict:
    """Executor-time shares of the extraction layers over the traced passes:
    the shuffle-map stage of the spans write is scan + assemble + the salted
    repartition; the stage that ran Python is the parse (and its spans
    write); the tables and cells writes are the explode from the cache."""
    spans = bench.tracer.spans
    traced = {i for i, o in enumerate(bench.ops) if o["traced"]}
    mine = [s for s in spans if s["op"] in traced]
    scan_ms = parse_ms = explode_ms = total_ms = shuffle_b = out_b = 0
    for s in mine:
        rec = per_span.get(s["id"])
        if rec is None:
            continue
        for tasks in rec["stages"].values():
            run_ms = sum(t["run_ms"] for t in tasks)
            total_ms += run_ms
            out_b += sum(t["out_b"] for t in tasks)
            if s["name"] == "operators.extract.explode_write":
                explode_ms += run_ms
            elif any(t["py_run_ms"] for t in tasks):
                parse_ms += run_ms
            elif any(t["shuffle_write_b"] for t in tasks):
                scan_ms += run_ms
                shuffle_b += sum(t["shuffle_write_b"] for t in tasks)
    in_b = 0
    corpus = os.path.join(bench.data, "corpus")
    for i in traced:
        d = os.path.join(corpus, f"batch={bench.ops[i]['item']}")
        in_b += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    n = max(len(traced), 1)
    total_ms = max(total_ms, 1)
    return {
        "sources.scan_assemble_frac": scan_ms / total_ms,
        "operators.extract.parse_frac": parse_ms / total_ms,
        "operators.extract.explode_frac": explode_ms / total_ms,
        "operators.extract.error_frac": bench.notes["error_frac"],
        "plans.partitioning.shuffle_mb_per_op": shuffle_b / (1024.0 * 1024.0) / n,
        "sources.sinks.out_bytes_per_in_byte": out_b / max(in_b, 1),
    }
