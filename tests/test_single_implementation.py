"""Each operator ships ONE implementation: cross-check twins live in
tests/twins.py, and no parameter selects an alternative execution path."""

import importlib
import inspect
import pkgutil

import document_parser_spark.operators as operators
import document_parser_spark.plans as plans

MODULES = [
    importlib.import_module(f"{pkg.__name__}.{m.name}")
    for pkg in (operators, plans)
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
    "operators.similarity": ("ann_topk", "ANN_METHODS"),
    "plans.segmentation": ("_parse_segment_udf", "_SEGMENT_PARSE"),
}


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
