"""Each operator ships ONE implementation: cross-check twins live in
tests/twins.py, no parameter selects an alternative execution path, and no
defaulted parameter goes unset by every caller."""

import ast
import importlib
import importlib.util
import inspect
import pathlib
import pkgutil

import document_parser_spark.operators as operators
import document_parser_spark.plans as plans
import document_parser_spark.streaming as streaming

ROOT = pathlib.Path(__file__).resolve().parent.parent

MODULES = [
    importlib.import_module(f"{pkg.__name__}.{m.name}")
    for pkg in (operators, plans, streaming)
    for m in pkgutil.iter_modules(pkg.__path__)
]

#: options that selected a twin path or a measured-losing persist, by the
#: function that carried them
REMOVED_OPTIONS = {
    "operators.curation.quality_language_gate": ("use_arrow",),
    "operators.curation.repeated_ngram_spans": ("persist_windows",),
    "operators.dedup.ngram_jaccard_pairs": ("persist_words", "verify"),
    "operators.dedup._verify_jaccard": ("verify",),
    "operators.profile.corpus_profile": ("approx",),
    "operators.similarity.cosine_near_dup_pairs": ("impl", "method", "bands", "rows_per_band"),
    "operators.text.hash_classifier_score": ("weights",),
    "plans.curate.election_frames": ("single_scan", "method"),
    "plans.curate.run_curation_checkpointed": ("single_scan", "election_method"),
    "plans.segmentation.parse_documents_segmented": ("segment_partitions",),
}

#: module attributes whose only job was to pick between implementations
REMOVED_NAMES = {
    "operators.text": ("token_stats", "quality_scores"),
    "operators.similarity": (
        "ann_topk", "ANN_METHODS", "_band_buckets_udf", "_ivf_sketch_from_side",
        "brute_force_topk_exact", "_brute_topk", "cosine", "cosine_exact",
        "_dot", "_norm", "_int_dot", "_int_nsq",
    ),
    "plans.segmentation": ("_parse_segment_udf", "_SEGMENT_PARSE"),
    "plans.ann_index": ("_index_pass", "_has_metrics", "DEFAULT_BUCKETS"),
    "plans.curate": ("DEFAULT_BUCKETS",),
    "operators.dedup": ("_doc_shingles", "_ngram_frames", "_simhash_candidates_raw"),
    "streaming.dedup_stream": ("stream_simhash",),
}


def test_resume_manifest_format_lives_in_resume():
    """The extract, curate and ANN-index builders share one manifest: only
    plans/resume.py frames its rows (``partition_key``) or defines the
    bucket default."""
    pkg = ROOT / "document_parser_spark"
    spelled = sorted(
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if any(w in p.read_text(encoding="utf-8") for w in ("partition_key", "DEFAULT_BUCKETS ="))
    )
    assert spelled == ["plans/resume.py"]


def test_partition_overwrite_lives_in_resume():
    """One partition-overwrite writer, ``resume.overwrite_partitions``: no
    other package module or job spells the dynamic-overwrite option, and
    the table catalog that duplicated it stays deleted."""
    files = [*(ROOT / "document_parser_spark").rglob("*.py"), *(ROOT / "jobs").glob("*.py")]
    spelled = sorted(
        p.relative_to(ROOT).as_posix() for p in files
        if "partitionOverwriteMode" in p.read_text(encoding="utf-8")
    )
    assert spelled == ["document_parser_spark/plans/resume.py"]
    assert importlib.util.find_spec("document_parser_spark.sources.catalog") is None


def test_exact_election_lives_in_dedup():
    """The exact-content election is written once, ``dedup.exact_canonical``:
    no other package module spells its ``first("text")`` aggregate."""
    pkg = ROOT / "document_parser_spark"
    spelled = sorted(
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if 'first("text")' in p.read_text(encoding="utf-8")
    )
    assert spelled == ["operators/dedup.py"]


def test_engine_settings_live_in_session():
    """Every spark-submit job applies ``session.ENGINE_CONF``: no job spells
    a ``spark.sql.`` setting of its own, so their sessions cannot drift."""
    spelled = sorted(
        p.name for p in (ROOT / "jobs").glob("*.py")
        if "spark.sql." in p.read_text(encoding="utf-8")
    )
    assert spelled == []


def test_no_twin_in_package():
    twins = [
        f"{m.__name__}.{name}" for m in MODULES for name in vars(m) if name.endswith("_twin")
    ]
    assert twins == []


def test_removed_options_stay_removed():
    left = []
    for path, options in REMOVED_OPTIONS.items():
        module, fn = path.rsplit(".", 1)
        params = inspect.signature(
            getattr(importlib.import_module(f"document_parser_spark.{module}"), fn)
        ).parameters
        left += [f"{path}({o}=)" for o in options if o in params]
    assert left == []


def test_removed_dispatchers_stay_removed():
    left = [
        f"{module}.{name}"
        for module, names in REMOVED_NAMES.items()
        for name in names
        if hasattr(importlib.import_module(f"document_parser_spark.{module}"), name)
    ]
    assert left == []


#: package paths whose public functions may keep a default only while some
#: call sets it (kernel/ is frozen to the reference's signatures)
DEFAULT_SCOPE = ("operators/", "plans/", "sources/", "streaming/", "corpus.py", "presentation.py")


def _callee_names(f: ast.expr) -> list[str]:
    """Names a call may dispatch to: ``f(...)``, ``m.f(...)``, and both
    branches of ``(f if c else g)(...)``."""
    if isinstance(f, ast.Name):
        return [f.id]
    if isinstance(f, ast.Attribute):
        return [f.attr]
    if isinstance(f, ast.IfExp):
        return _callee_names(f.body) + _callee_names(f.orelse)
    return []


def _dict_keys(node: ast.Dict) -> list[str]:
    return [
        k.value for k in node.keys
        if isinstance(k, ast.Constant) and isinstance(k.value, str)
    ]


def test_every_default_has_a_setter():
    """A defaulted parameter that no call in the repo sets is a
    configuration no test or benchmark runs: it belongs in a module
    constant.  A call sets a parameter by keyword, by position or through
    ``*args``; ``**`` of a dict literal sets that literal's keys, and
    ``**mapping`` sets only the string keys its own file spells in a dict
    display (``{...}`` or ``dict(k=...)``), never every parameter.  Calls
    are matched by function name."""
    files = [
        p for p in ROOT.rglob("*.py")
        if not {".git", "dist", ".tmp"} & set(p.relative_to(ROOT).parts)
    ]
    pkg = ROOT / "document_parser_spark"
    calls: dict[str, list[tuple[ast.Call, set[str]]]] = {}
    public = []
    for path in files:
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        spelled = set()  # the string keys of this file's dict displays
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                spelled.update(_dict_keys(node))
            elif isinstance(node, ast.Call) and _callee_names(node.func) == ["dict"]:
                spelled.update(kw.arg for kw in node.keywords if kw.arg)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                for name in _callee_names(node.func):
                    calls.setdefault(name, []).append((node, spelled))
        rel = path.relative_to(pkg).as_posix() if path.is_relative_to(pkg) else ""
        if rel.startswith(DEFAULT_SCOPE):
            public += [
                (rel, n) for n in tree.body
                if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
            ]
    assert len(public) > 50  # the scope resolved

    unset = []
    for rel, fn in public:
        a = fn.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        defaulted = positional[len(positional) - len(a.defaults):] + [
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        set_somewhere = set()
        for call, spelled in calls.get(fn.name, []):
            if any(isinstance(x, ast.Starred) for x in call.args):
                set_somewhere.update(positional)
            set_somewhere.update(positional[: len(call.args)])
            for kw in call.keywords:
                if kw.arg is not None:
                    set_somewhere.add(kw.arg)
                elif isinstance(kw.value, ast.Dict):
                    set_somewhere.update(_dict_keys(kw.value))
                else:
                    set_somewhere.update(spelled)
        unset += [f"{rel}:{fn.name}({p}=)" for p in defaulted if p not in set_somewhere]
    assert unset == []
