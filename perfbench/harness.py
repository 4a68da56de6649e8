"""Shared machinery for the perfbench workloads.

Everything here is benchmark-side: the Spark session the workloads run on,
the closed-loop timer, the peak-RSS sampler, the span tracer, the event-log
reader that turns Spark's own task counters into per-span numbers, and the
provenance record.  Nothing here reaches into the package under test except
through its public functions.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Rows of the fixed single-thread kernel control (bench.py's hw control
#: shape): its wall time moves with the machine's ambient load, so each
#: record can be read against the state of the box it was taken on.
HW_CONTROL_DOCS = 200
HW_CONTROL_SEED = 42

#: Spark job local property that attributes each job to the innermost span.
SPAN_PROPERTY = "perfbench.span"

#: Set-ups per run.  The first starts the JVM; each later one stops the Spark
#: session and starts a new one in the same JVM (new executors, Python
#: workers and cache) and repeats the workload's set-up steps.  ``setup_s`` is
#: the median of their CPU times, so one set-up slowed by the machine does
#: not move it.
SETUPS = 3

#: local-mode heap.  At 2g, passes over the same seed varied ~25% from run to
#: run (and with peak RSS); at 4g three runs of one seed agreed within 3%.
DRIVER_MEMORY = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


# --- seeded inputs -------------------------------------------------------------

#: synthesize_doc's class cut points (corpus.py): prose+table, table-heavy,
#: media-rich, pathological heavy tail.
MD_CLASS_CUTS = (0.70, 0.90, 0.99, 1.0)


def md_class(i: int, seed: int) -> int:
    """The class synthesize_doc(i, seed) will draw: it is decided by the first
    draw of the per-document RNG, so it can be read without building the doc."""
    roll = random.Random((seed << 20) ^ i).random()
    return next(k for k, cut in enumerate(MD_CLASS_CUTS) if roll < cut)


def stratified_md_classes(seed: int, n: int) -> list:
    """synthesize_doc indices for ``n`` documents whose class mix is exactly the
    generator's design mix (70/20/9/1 %), one list per class, so every seed
    carries the same share of heavy-tail documents and only their content
    varies."""
    quotas = [round(n * (c - p)) for p, c in zip((0.0,) + MD_CLASS_CUTS, MD_CLASS_CUTS)]
    quotas[0] += n - sum(quotas)
    picked = [[] for _ in quotas]
    i = 0
    while any(len(p) < q for p, q in zip(picked, quotas)):
        k = md_class(i, seed)
        if len(picked[k]) < quotas[k]:
            picked[k].append(i)
        i += 1
    return picked


# --- single-thread kernel probes ----------------------------------------------


def hw_control_s() -> float:
    from document_parser_spark.corpus import synthesize_doc
    from document_parser_spark.kernel import parse_document

    texts = [synthesize_doc(i, HW_CONTROL_SEED)["text"] for i in range(HW_CONTROL_DOCS)]
    t0 = time.perf_counter()
    for t in texts:
        parse_document(t)
    return time.perf_counter() - t0


def kernel_sample(seed: int, n_md: int = 100, n_html: int = 40) -> dict:
    """Single-thread kernel.parse_document time on a seeded sample (markdown
    in the design class mix, plus HTML pages), from cold kernel caches, and
    the hit fraction of the kernel's lru_caches over that sample."""
    from document_parser_spark.corpus import synthesize_doc, synthesize_html_doc
    from document_parser_spark.kernel import normalize, parse_document, predicates, scanner

    md = [synthesize_doc(i, seed)["text"] for idx in stratified_md_classes(seed, n_md) for i in idx]
    html = [synthesize_html_doc(i, seed)["text"] for i in range(n_html)]
    caches = [f for f in (normalize.clean_cell, scanner._norm_cell, scanner._split_row_cached,
                          predicates.is_numeric_cell) if hasattr(f, "cache_clear")]
    for f in caches:
        f.cache_clear()
    t0 = time.perf_counter()
    for t in md:
        parse_document(t)
    t1 = time.perf_counter()
    for t in html:
        parse_document(t)
    t2 = time.perf_counter()
    hits = sum(f.cache_info().hits for f in caches)
    misses = sum(f.cache_info().misses for f in caches)
    return {
        "kernel.md_us_per_doc": (t1 - t0) * 1e6 / len(md),
        "kernel.html_us_per_doc": (t2 - t1) * 1e6 / len(html),
        "kernel.cache_hit_frac": hits / max(hits + misses, 1),
    }


# --- process tree: peak RSS and clean shutdown ---------------------------------


def _proc_table() -> dict:
    """pid → (ppid, start time in clock ticks) for every live process."""
    table = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        table[int(stat.split("/")[2])] = (int(fields[1]), int(fields[19]))
    return table


def descendants(pid: int, table=None) -> dict:
    """pid → start time of every live descendant of ``pid``."""
    table = _proc_table() if table is None else table
    kids: dict = {}
    for p, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = {}, [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            if c not in out:
                out[c] = table[c][1]
                todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _exe(pid: int):
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int, kids: dict, table: dict) -> int:
    """Summed RSS of ``root`` and ``kids``, leaving out a child that still
    runs its parent's executable under the JVM: the JVM starts helper
    commands by vfork, and until the exec such a child reports the JVM's
    whole RSS (seen as peaks of twice the real tree)."""
    total = 0
    for pid in [root, *kids]:
        ppid = table.get(pid, (None,))[0]
        exe = _exe(pid)
        if pid != root and exe and exe.endswith("/java") and exe == _exe(ppid):
            continue
        total += _rss_bytes(pid)
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and all its descendants.  Time the hypervisor gives to other guests
    (steal) is not counted, so it measures the work done, not the wait."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s() -> float:
    """CPU seconds (user + system) of the JIT compiler threads of the JVMs
    among this process's descendants.  Spark generates and compiles code for
    every query plan, so JIT work goes on long after warm-up.  A compiler
    thread that exits in between drops out of the count."""
    total = 0
    for pid in descendants(os.getpid()):
        exe = _exe(pid)
        if not (exe and exe.endswith("/java")):
            continue
        for stat in glob.glob(f"/proc/{pid}/task/*/stat"):
            try:
                with open(stat) as f:
                    head, rest = f.read().rsplit(")", 1)
            except (OSError, ValueError):
                continue
            if "Compiler" in head.split("(", 1)[1]:
                fields = rest.split()
                total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers) every ``interval`` seconds.  ``cpu_s``
    is the CPU time the sampling thread itself has used, so a CPU count over
    the process tree can leave it out."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_procs = 0
        self.cpu_s = 0.0
        self.seen: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        table = _proc_table()
        kids = descendants(os.getpid(), table)
        self.seen.update(kids)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid(), kids, table))
        self.peak_procs = max(self.peak_procs, len(kids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
            self.cpu_s = time.thread_time()


def reap(procs: dict, timeout: float = 20.0) -> None:
    """Wait until every process of ``procs`` (pid → start time) has exited;
    SIGTERM, then SIGKILL, stragglers.  The start time guards against a
    recycled pid."""

    def alive():
        table = _proc_table()
        return [p for p, st in procs.items() if p in table and table[p][1] == st]

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in alive():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
        deadline = time.monotonic() + (timeout if sig is None else 5)
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return


# --- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, layer, start, end, parent, op).  While a span is
    open, Spark jobs submitted from this thread carry its id as a local
    property, so the event log attributes executor work to it.  Disabled,
    ``span`` costs one attribute test."""

    def __init__(self):
        self.sc = None
        self.enabled = False
        self.spans: list = []
        self._stack: list = []
        self._op = None

    def _set_property(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "op": self._op, "name": name, "layer": layer, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_property()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_property()


def self_times(spans: list) -> dict:
    """span id → its duration minus the part its child spans cover."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, None
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            start = c["start"] if cur_end is None else max(c["start"], cur_end)
            if c["end"] > start:
                covered += c["end"] - start
                cur_end = c["end"]
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --- Spark event log --------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
SQL_EVENTS = ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
              "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")


def scan_row_accumulators(node: dict) -> set:
    """Accumulator ids of the "number of output rows" SQL metric of every
    cache scan (InMemoryTableScan) a query plan runs; the plan that built a
    cache, shown under its scan, is not run by the query and is skipped."""
    if node["nodeName"] == "InMemoryTableScan":
        return {m["accumulatorId"] for m in node.get("metrics", ())
                if m["name"] == "number of output rows"}
    out: set = set()
    for child in node.get("children", ()):
        out |= scan_row_accumulators(child)
    return out


def read_event_log(log_dir: str) -> dict:
    """Parse the sessions' event logs into per-span executor counters:
    ``{span_id: {"jobs": n, "stages": {stage_id: [task, ...]}}}`` where a task
    is a dict of run time, GC, shuffle, spill, output, Arrow-boundary and
    cache-scan row counters.  Only jobs submitted under a span are kept."""
    per_span: dict = {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    session = None
    for path in files:
        if os.path.dirname(path) != session:
            # one directory per Spark session; stage and accumulator ids restart in each
            session, stage_span, scan_ids = os.path.dirname(path), {}, set()
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind in SQL_EVENTS:
                    scan_ids |= scan_row_accumulators(e["sparkPlanInfo"])
                elif kind == "SparkListenerJobStart":
                    sid = (e.get("Properties") or {}).get(SPAN_PROPERTY)
                    if sid is None:
                        continue
                    sid = int(sid)
                    for st in e.get("Stage IDs", ()):
                        stage_span[st] = sid
                    per_span.setdefault(sid, {"jobs": 0, "stages": {}})["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(e["Stage ID"])
                    if sid is None:
                        continue
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    acc: dict = {}
                    scan_rows = 0
                    for a in info.get("Accumulables", ()):
                        with contextlib.suppress(TypeError, ValueError):
                            acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update", 0))
                            if a.get("ID") in scan_ids:
                                scan_rows += int(a.get("Update", 0))
                    task = {
                        "duration_ms": info["Finish Time"] - info["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "out_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "py_sent_b": acc.get(PY_SENT, 0),
                        "py_recv_b": acc.get(PY_RECV, 0),
                        "py_run_ms": acc.get(PY_RUN, 0),
                        "scan_rows": scan_rows,
                    }
                    per_span.setdefault(sid, {"jobs": 0, "stages": {}})["stages"].setdefault(
                        e["Stage ID"], []).append(task)
    return per_span


def engine_totals(per_span: dict, span_ids) -> dict:
    """Sum the executor counters of the given spans; the straggler ratio is
    max over median task duration of the longest-running stage."""
    jobs = tasks = 0
    sums = dict.fromkeys(("run_ms", "gc_ms", "shuffle_write_b", "spill_b", "out_b",
                          "py_sent_b", "py_recv_b", "py_run_ms", "scan_rows"), 0)
    longest, longest_ms = None, -1
    for sid in span_ids:
        rec = per_span.get(sid)
        if rec is None:
            continue
        jobs += rec["jobs"]
        for st_tasks in rec["stages"].values():
            tasks += len(st_tasks)
            for t in st_tasks:
                for k in sums:
                    sums[k] += t[k]
            total = sum(t["duration_ms"] for t in st_tasks)
            if total > longest_ms:
                longest, longest_ms = st_tasks, total
    ratio = 1.0
    if longest:
        durs = [t["duration_ms"] for t in longest]
        ratio = max(durs) / max(statistics.median(durs), 1)
    return {"jobs": jobs, "tasks": tasks, "straggler_ratio": ratio, **sums}


# --- provenance -------------------------------------------------------------------


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of the machine from /proc/stat: the share of
    time the hypervisor ran someone else on this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def git_sha(root: str):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def tree_sha256(root: str) -> str:
    """Content hash of the package and the benchmark sources — identifies the
    code measured even where the checkout is not a git repository."""
    h = hashlib.sha256()
    for sub in ("document_parser_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(root, sub, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# --- the program's staging and parse pipeline -----------------------------------


def stage_flat(docs: list, path: str) -> None:
    """Write generated documents as flat (doc_id, text) parquet: the program
    receives only the finished files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": [d["doc_id"] for d in docs],
                             "text": [d["text"] for d in docs]}),
                   os.path.join(path, "part-0.parquet"))


#: parse-stage partitions per core, bench.py's extraction shape (8 per core
#: measured ~2x slower per pass: per-task Python and output-file overhead)
PARTITIONS_PER_CORE = 2


def parse_staged(tracer, spark, path: str):
    """scan (sources.data.lift_flat_to_input) → assemble_document_text →
    salted_repartition → parse_documents over staged flat parquet, one span
    per public call."""
    from document_parser_spark.operators.extract import assemble_document_text, parse_documents
    from document_parser_spark.plans.partitioning import salted_repartition
    from document_parser_spark.sources.data import lift_flat_to_input

    with tracer.span("sources.scan", "sources"):
        docs = lift_flat_to_input(spark.read.parquet(path))
    with tracer.span("operators.extract.assemble", "operators.extract"):
        assembled = assemble_document_text(docs)
    with tracer.span("plans.partitioning.salted_repartition", "plans.partitioning"):
        placed = salted_repartition(assembled, PARTITIONS_PER_CORE * nproc())
    with tracer.span("operators.extract.parse", "operators.extract"):
        return parse_documents(placed)


# --- the run ------------------------------------------------------------------------


class Bench:
    """One benchmark run: owns the output directory, the Spark session, the
    tracer, the op counters and the set-up clocks.  The workload's set-up
    runs ``SETUPS`` times through ``set_up`` (its steps timed with
    ``setup_step``); ``op`` wraps each timed operation."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, corrupt: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.corrupt = corrupt  # self-test: the workload corrupts one output before its checks
        self.out = os.path.join(ROOT, ".perfbench_out", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
        self.data = os.path.join(self.out, "data")
        self.tracer = Tracer()
        self.spark = None
        self.rss = None              # the run's RssSampler
        self.setups: list = []       # per set-up: {"total_s", "cpu_s", step name → s}
        self.ops: list = []          # {"kind", "ms", "ok", "traced", "span"}
        self.failed_checks: list = []
        self.notes: dict = {}

    # -- session ------------------------------------------------------------------
    def start_session(self):
        os.makedirs(self.data, exist_ok=True)
        tmp = os.path.join(self.out, "tmp")
        os.makedirs(tmp, exist_ok=True)
        extra = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.out, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.out, "warehouse"),
            # a fixed heap size: a growing heap made peak RSS vary with GC timing
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            log_dir = os.path.join(self.out, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            })
        from document_parser_spark.sources.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cpus=nproc(), extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        return self.spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.rss.sample()
        self.spark.stop()
        with contextlib.suppress(Exception):
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        reap({**self.rss.seen, **descendants(os.getpid())})
        self.spark = None

    # -- set-up and ops ---------------------------------------------------------
    def set_up(self, steps, *args):
        """Run the workload's set-up ``steps(bench, *args)`` ``SETUPS`` times,
        each on a new Spark session, and return the last one's state.  Each
        set-up records its wall time and the CPU time of the process tree."""
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            self.setups.append({})
            t0, cpu0 = time.perf_counter(), self.tree_cpu_s()
            with self.setup_step("session_start_s"):
                self.start_session()
            state = steps(self, *args)
            self.setups[-1]["total_s"] = time.perf_counter() - t0
            self.setups[-1]["cpu_s"] = self.tree_cpu_s() - cpu0
        return state

    @contextlib.contextmanager
    def setup_step(self, name: str):
        """Time one step of the current set-up."""
        t0 = time.perf_counter()
        yield
        self.setups[-1][name] = time.perf_counter() - t0

    def tree_cpu_s(self) -> float:
        """CPU seconds of the process tree, less the RSS sampler's own."""
        return tree_cpu_s() - self.rss.cpu_s

    def setup_median(self, name: str) -> float:
        return statistics.median(s[name] for s in self.setups)

    def passes(self):
        """Untraced runs make the end-to-end numbers.  A traced run runs each
        item twice, untraced then traced, so the pair gives the tracing
        overhead and the traced one the per-layer numbers."""
        return (False, True) if self.trace else (False,)

    def loop(self, cycle: int):
        """Yield op indices for at least ``seconds`` of wall time, stopping
        only after whole cycles of ``cycle`` items, so every run holds the
        same mix of items.  The CPU time of the RSS sampler is left out."""
        t0, cpu0, jit0 = time.perf_counter(), self.tree_cpu_s(), jit_cpu_s()
        i = 0
        while i % cycle or i == 0 or time.perf_counter() - t0 < self.seconds:
            yield i
            i += 1
        self.notes["loop_wall_s"] = time.perf_counter() - t0
        self.notes["loop_cpu_s"] = self.tree_cpu_s() - cpu0
        self.notes["loop_jit_cpu_s"] = jit_cpu_s() - jit0
        self.notes["loop_cycles"] = i // cycle

    @contextlib.contextmanager
    def op(self, kind: str, item, traced: bool = False):
        """Time one operation on ``item``; an exception marks it failed and is
        recorded, never raised, so one failing op cannot stop the run."""
        rec = {"kind": kind, "item": item, "ok": True, "traced": traced, "span": None}
        self.tracer.enabled = self.trace and traced
        self.tracer._op = len(self.ops)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op:" + kind, "workload") as sp:
                rec["span"] = sp["id"] if sp else None
                yield rec
        except Exception as exc:  # a failed op is a measured outcome
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["ms"] = (time.perf_counter() - t0) * 1000
        self.tracer.enabled = False
        self.ops.append(rec)

    def fail_check(self, what: str, op_indices=()) -> None:
        """Record a failed output check; the ops it covers count as failed."""
        self.failed_checks.append(what)
        for i in op_indices:
            self.ops[i]["ok"] = False
            self.ops[i].setdefault("error", "output check: " + what)

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    # -- results ---------------------------------------------------------------------
    def op_stats(self, items_per_op) -> dict:
        ms = [o["ms"] for o in self.ops]
        items = sum(items_per_op(o) for o in self.ops)
        # wall-time figures follow the machine's steal (measured 5-35 % and
        # drifting over minutes, moving wall throughput by ~30 %): recorded,
        # with a tail percentile over too few samples to gate on
        self.notes.update({
            "items_per_s": items / (sum(ms) / 1000.0),
            "op_p50_ms": percentile(ms, 50),
            "op_p95_ms": percentile(ms, 95),
            "op_samples": len(ms),
        })
        return {"cpu_ms_per_item": self.notes["loop_cpu_s"] * 1000.0 / items}
