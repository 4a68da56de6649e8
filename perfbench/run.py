#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 5 --trace 0

Runs one seeded workload against the package's public functions on a local
Spark session of ``nproc`` cores, checks the workload's outputs, and prints
one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer ones.  A provenance record (and, traced, the spans) of every
run is written under ``.perfbench_out/records/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import statistics
import sys
import time
import traceback

import harness  # this file's directory is first on sys.path when run as a script

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = harness.ROOT
WORKLOADS = ("extract_batch", "table_search")
TIME_UNITS = {"s", "ms", "us"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output before the checks (self-test only)")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_environment(out_dir: str) -> None:
    """Make the package (and the workload modules, whose functions Spark
    pickles by reference) importable here and in Spark's Python workers, and
    keep every temporary file inside the checkout."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "spark-local")
    sys.path.insert(0, ROOT)


def universal_layers(bench, per_span, kernel, hw) -> dict:
    """Per-layer metrics every workload reports: the kernel probe, Spark's
    executor counters over the traced ops, tracing cost and set-up parts."""
    traced = {i for i, o in enumerate(bench.ops) if o["traced"]}
    spans = bench.tracer.spans
    eng = harness.engine_totals(per_span, [s["id"] for s in spans if s["op"] in traced])
    n = max(len(traced), 1)
    run_ms = max(eng["run_ms"], 1)
    selfs = harness.self_times(spans)
    op_wall = sum(bench.ops[i]["ms"] for i in traced) / 1000.0
    root_self = sum(selfs[bench.ops[i]["span"]] for i in traced)
    # each traced op follows the untraced run of the same item
    ratios = [o["ms"] / prev["ms"] for prev, o in zip(bench.ops, bench.ops[1:])
              if o["traced"] and not prev["traced"] and prev["item"] == o["item"]]
    mb = 1024.0 * 1024.0
    return {
        **kernel,
        "engine.jobs_per_op": eng["jobs"] / n,
        "engine.tasks_per_op": eng["tasks"] / n,
        "engine.gc_frac": eng["gc_ms"] / run_ms,
        "engine.python_frac": eng["py_run_ms"] / run_ms,
        "engine.arrow_sent_mb_per_op": eng["py_sent_b"] / mb / n,
        "engine.arrow_recv_mb_per_op": eng["py_recv_b"] / mb / n,
        "engine.shuffle_write_mb_per_op": eng["shuffle_write_b"] / mb / n,
        "engine.spill_mb_per_op": eng["spill_b"] / mb / n,
        "engine.straggler_ratio": eng["straggler_ratio"],
        "engine.jit_cpu_frac": bench.notes["loop_jit_cpu_s"] / bench.notes["loop_cpu_s"],
        "trace.overhead_frac": statistics.median(ratios) - 1.0 if ratios else 0.0,
        "trace.unaccounted_frac": root_self / op_wall if op_wall else 0.0,
        "hw_control_s": statistics.mean(hw),
        "setup.first_s": bench.setups[0]["total_s"],
        "setup.wall_s": bench.setup_median("total_s"),
        "sources.session_start_s": bench.setup_median("session_start_s"),
        "sources.stage_s": bench.setup_median("stage_s"),
        "setup.warmup_s": bench.setup_median("warmup_s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "document_parser_spark", "__init__.py")):
        print(f"perfbench: no document_parser_spark package under {ROOT}", file=sys.stderr)
        return 2
    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.corrupt)
    prepare_environment(bench.out)
    try:
        return measure(args, load_spec(), bench)
    finally:
        bench.cleanup()


def measure(args, spec, bench) -> int:
    workload = importlib.import_module(args.workload)

    started = time.time()
    load_start = os.getloadavg()
    steal_start = harness.cpu_ticks()
    hw = [harness.hw_control_s()]
    inputs = workload.inputs(args.seed)
    with harness.RssSampler() as rss:
        bench.rss = rss
        try:
            state = bench.set_up(workload.set_up, inputs)
            workload.measure(bench, inputs, state)
        finally:
            bench.stop_session()
    hw.append(harness.hw_control_s())
    steal_end = harness.cpu_ticks()

    attempted = len(bench.ops)
    failed = sum(not o["ok"] for o in bench.ops)
    correct = failed == 0 and not bench.failed_checks
    if args.trace:
        per_span = harness.read_event_log(os.path.join(bench.out, "eventlog"))
        metrics = universal_layers(bench, per_span, harness.kernel_sample(args.seed), hw)
        metrics.update(workload.layers(bench, per_span))
        wanted = spec["per_layer"]
    else:
        metrics = {
            "setup_s": bench.setup_median("cpu_s"),
            "peak_rss_mb": rss.peak / (1024.0 * 1024.0),
            "ok_op_frac": (attempted - failed) / max(attempted, 1),
            **bench.op_stats(workload.items_per_op),
        }
        wanted = spec["end_to_end"]

    out_metrics = {}
    for m in wanted:
        value = metrics.get(m["name"])
        if value is None:
            # a layer this workload does not run did no work here
            if m["unit"] in TIME_UNITS:
                raise RuntimeError(f"time metric {m['name']} not measured on {args.workload}")
            value = 0.0
        out_metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "corrupt": args.corrupt,
        "provenance": {
            "git_sha": harness.git_sha(ROOT),
            "tree_sha256": harness.tree_sha256(ROOT),
            "nproc": harness.nproc(),
            "driver_memory": harness.DRIVER_MEMORY,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "hw_control_s": {"before": hw[0], "after": hw[1]},
            "cpu_steal_frac": (steal_end[0] - steal_start[0]) / max(steal_end[1] - steal_start[1], 1),
            "python": platform.python_version(),
            "started_unix": started,
        },
        "setups_s": bench.setups,
        "warmup_ops": bench.notes.get("warmup_ops"),
        "ops": [{k: o[k] for k in ("kind", "item", "ms", "ok", "traced")} for o in bench.ops],
        "failed_op_frac": failed / max(attempted, 1),
        "failed_checks": bench.failed_checks,
        "op_errors": [o["error"] for o in bench.ops if not o["ok"]][:20],
        "notes": {**bench.notes, "peak_child_processes": rss.peak_procs},
        "metrics": out_metrics,
    }
    rec_dir = os.path.join(ROOT, ".perfbench_out", "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = os.path.join(rec_dir, os.path.basename(bench.out))
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump({"spans": bench.tracer.spans, "ops": bench.ops}, f, default=str)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
