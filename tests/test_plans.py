"""Physical-plan quality gates (the 100-TB checklist): filters push to the
parquet scan, column pruning reaches ReadSchema, small sides broadcast,
aggregation is partial+final, top-k compiles to TakeOrderedAndProject, and
nothing Python runs before the parse UDF."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
import twins
from document_parser_spark.operators import search
from document_parser_spark.operators.extract import (
    assemble_document_text,
    cells_output,
    parse_documents,
    tables_output,
)
from document_parser_spark.sources.data import fixture_input_df
from document_parser_spark.sources.session import load_table

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_parquet(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = formatted(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan, plan


def test_column_pruning_reaches_scan(spark):
    q = entrymod.queries()["filter_modes"](spark, SF)
    plan = formatted(q)
    # only the two referenced columns are read, not the whole part table
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "p_partkey" in read and "p_name" in read
    assert "p_retailprice" not in read and "p_brand" not in read


def test_tpch_q1_partial_final_agg(spark):
    plan = plan_of(entrymod.queries()["tpch_q1"](spark, SF))
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange") <= 2  # one agg shuffle (+ orderBy range)


def test_dim_join_broadcasts(spark):
    plan = plan_of(entrymod.queries()["agg_rollup_ops"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_semi_join_shape(spark):
    plan = plan_of(entrymod.queries()["semi_join_rows"](spark, SF))
    assert "LeftSemi" in plan


def test_search_operators_single_exchange(spark):
    """Every search operator over the cached cells/tables plans at most ONE
    Exchange above the cache scan, and the row-shaped ones plan no join:
    key_value and row_by_value range-partition by row once, and that one
    exchange both groups each row and orders the result.  (The top-k's
    TakeOrderedAndProject: test_search_anywhere_topk_is_take_ordered.)"""
    parsed = parse_documents(assemble_document_text(fixture_input_df(spark)))
    tables = tables_output(parsed).cache()
    cells = cells_output(tables).cache()
    queries = {
        "key_value": search.search_by_key_value(cells, "Pathology"),
        "by_column": search.search_by_column(cells, "Group Number", "2"),
        "row_by_value": search.get_row_by_column_value(cells, "Group Number", "2"),
        "anywhere": search.search_anywhere(cells, "mg/kg"),
        "anywhere_topk": search.search_anywhere(cells, "mg/kg", max_results=10),
        "table_by_title": search.get_table_by_title(tables, "Experimental"),
        "list_tables": search.list_all_tables(tables),
    }
    try:
        for name, q in queries.items():
            plan = plan_of(q)
            above_cache = plan[: plan.index("InMemoryTableScan")]
            assert above_cache.count("Exchange") <= 1, (name, plan)
            if name in ("key_value", "by_column", "row_by_value"):
                assert "Join" not in plan, (name, plan)
    finally:
        tables.unpersist()
        cells.unpersist()


def test_search_anywhere_topk_is_take_ordered(spark):
    parsed = parse_documents(assemble_document_text(fixture_input_df(spark)))
    cells = cells_output(tables_output(parsed))
    plan = plan_of(search.search_anywhere(cells, "mg/kg", max_results=10))
    assert "TakeOrderedAndProject" in plan


def test_no_python_before_parse_udf(spark):
    """Everything upstream of the parse stage is native Column algebra —
    the UDF is the only Python in the pipeline (SURVEY.md §4.3)."""
    df = assemble_document_text(fixture_input_df(spark))
    plan = plan_of(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonMapInArrow", "MapInArrow"):
        assert marker not in plan, marker


def test_prefilter_reaches_scan_before_udf(spark, tmp_path):
    """Row-level filters must run BEFORE the opaque UDF: a doc_id filter on
    the parse pipeline is pushed into the parquet scan, so the UDF never
    sees filtered-out documents."""
    path = str(tmp_path / "docs")
    fixture_input_df(spark).write.parquet(path)
    from document_parser_spark.schemas import DOCUMENTS_INPUT

    df = spark.read.schema(DOCUMENTS_INPUT).parquet(path)
    q = parse_documents(
        assemble_document_text(df.filter(F.col("doc_id") == "fx-plain-text"))
    )
    plan = formatted(q)
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,fx-plain-text)]" in plan, plan


def test_fuzzy_filter_stays_codegen(spark):
    """F2 fuzzy scoring is built-in levenshtein — whole-stage codegen, no
    Python stage."""
    q = entrymod.queries()["fuzzy_pairs"](spark, SF)
    q.collect()  # AQE: codegen nodes appear in the final executed plan
    plan = plan_of(q)
    assert "EvalPython" not in plan
    # "*(n)" node prefixes mark whole-stage-codegen spans in the plan string
    assert "*(" in plan


def test_curate_corpus_is_join_free(spark):
    """Round-2 fix (VERDICT #7): quality/language are columns on the
    canonical survivors — the only shuffles are the dedup election and the
    final sort, with zero joins.  r04: the election is the skew-proof
    map-side-combined aggregate (partial min/first), not a window."""
    from document_parser_spark.operators.curation import curate_corpus

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(curate_corpus(d, keep_langs=("en", "fr")))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "partial_min" in plan and "partial_first" in plan, plan


def test_canonical_keep_is_aggregate_election(spark):
    """The per-cluster keep/drop election must partially aggregate map-side
    (min_by/max over narrow rows) — never a row_number window that
    co-locates a mega-cluster's whole membership in one task."""
    from document_parser_spark.operators.dedup import (
        canonical_keep,
        duplicate_clusters,
        minhash_near_dup_pairs,
    )

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    pairs = minhash_near_dup_pairs(d, shingle_k=5)
    clusters = duplicate_clusters(pairs)
    docs_sz = d.select("doc_id", F.length("text").cast("long").alias("n_chars"))
    plan = plan_of(canonical_keep(clusters, docs_sz))
    assert "Window" not in plan, plan
    assert "partial_min_by" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The contamination probe must be a broadcast hash join on the (small)
    benchmark shingle set — no shuffle of the corpus shingle stream into a
    sort-merge join, no cartesian fallback."""
    q = entrymod.queries()["decontaminate"](spark, SF)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Expand" not in plan, plan  # rollup counts at the distinct grain


def test_ngram_jaccard_all_equi_joins(spark):
    """Prefix-filtered Jaccard must stay hash-join shaped: no cartesian or
    nested-loop fallback anywhere in candidate generation or verify."""
    from document_parser_spark.operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, SF, "documents").select("doc_id", "lang", "source", "text")
    plan = plan_of(ngram_jaccard_pairs(d, threshold_pct=50))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_mins_combine_map_side(spark):
    """The 8 per-doc minima aggregate partially before the shuffle —
    shuffled bytes are (doc_id, 8×8 chars), never the shingle stream."""
    from document_parser_spark.operators.dedup import (
        minhash_near_dup_pairs,
        minhash_signatures,
    )

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(minhash_signatures(d, shingle_k=5))
    assert "partial_min" in plan
    full = plan_of(minhash_near_dup_pairs(d, shingle_k=5))
    assert "CartesianProduct" not in full
    assert "BroadcastNestedLoopJoin" not in full


def test_lsh_topk_is_bucket_equi_join(spark):
    """ANN candidates come from a (band, bucket) equi-join — the plan must
    contain no cross join; buckets are computed in ONE Arrow stage."""
    from document_parser_spark.operators import similarity

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    plan = plan_of(similarity.lsh_bucketed_topk(e, q, k=10))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan  # vectorized bucket UDF, not per-row


def test_candidate_generation_has_no_midstream_sort(spark):
    """No range-Exchange/Sort inside candidate generation for any near-dup
    family (VERDICT r02 item 4): a global orderBy there buys nothing — the
    consumer is always a hash join that destroys the ordering.  Terminal
    sorts live on the query outputs only."""
    from document_parser_spark.operators import similarity
    from document_parser_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        simhash_arrow,
        simhash_near_pairs,
    )

    d = load_table(spark, SF, "documents").select("doc_id", "lang", "source", "text")
    e = load_table(spark, SF, "embeddings")

    cand = minhash_candidate_pairs(minhash_signatures(d, shingle_k=5))
    plan = plan_of(cand)
    assert "rangepartitioning" not in plan.lower(), plan

    # simhash/ngram/LSH full queries: at most ONE range exchange — the
    # terminal orderBy.  (Spark renders range shuffles as
    # 'Exchange rangepartitioning(...)'.)
    for q in (
        simhash_near_pairs(simhash_arrow(d), max_hamming=1),
        ngram_jaccard_pairs(d, threshold_pct=50),
        similarity.cosine_near_dup_pairs(e, threshold=0.45),
    ):
        p = plan_of(q)
        assert p.lower().count("rangepartitioning") <= 1, p

    # the sketch-candidate near-dup pair enumeration is a block-pair
    # EQUI-join (pk), never a cartesian/nested-loop over the corpus
    p = plan_of(similarity.cosine_near_dup_pairs(e, threshold=0.45))
    assert "CartesianProduct" not in p, p


def test_gopher_gate_single_pass_no_join(spark):
    """gopher_gate is ONE explode → ONE two-level aggregation: no joins, no
    second scan of the text (VERDICT r02 item 6)."""
    from document_parser_spark.operators.curation import gopher_gate

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(gopher_gate(d))
    assert "Join" not in plan, plan
    assert plan.count("Generate explode") == 1, plan


def test_containment_pairs_equi_join_shaped(spark):
    """Containment must stay blocked on the window hash: equi joins only —
    no cartesian/nested-loop pair generation — with a map-side partial agg
    on the shared-count groupBy.  r06: totals is a map-only array size (no
    aggregate at all), and the window-stream self-join is a ShuffledHashJoin
    (two full sorts of the stream bought nothing — guide §3.1)."""
    from document_parser_spark.operators.dedup import containment_pairs

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(containment_pairs(d))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial+final shared count
    assert "ShuffledHashJoin" in plan, plan  # the hinted window-stream join


def test_hash_classifier_default_is_map_only(spark):
    """The (closed-form-weights) classifier score is ONE Arrow map pass: no
    Exchange, no join anywhere in the plan — the zero-shuffle shape the
    docstring promises for a 100 TB curation scan."""
    from document_parser_spark.operators.text import hash_classifier_score

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(hash_classifier_score(d))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_bigram_novelty_no_expand(spark):
    """The novelty rollup must pre-aggregate to the (doc, bigram) grain and
    avoid distinct aggregates: a countDistinct formulation compiles to an
    Expand that triples the exploded bigram stream before partial agg."""
    from document_parser_spark.operators.text import bigram_novelty

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(bigram_novelty(d, common_df=3))
    assert "Expand" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the common-set probe


def test_doc_chunks_is_map_only(spark):
    """Context-window chunking is one Arrow pass + explode: no Exchange, no
    join anywhere before the contract query's final orderBy."""
    from document_parser_spark.operators.curation import chunk_documents

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(chunk_documents(d, max_words=64, stride=48))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" in plan, plan
    assert "Generate" in plan, plan  # the explode


def test_curation_pipeline_stage_shapes(spark):
    """The end-to-end curation job's three pre-write frames keep the shapes
    its docstring promises at 100 TB (plans/curate.py):

    * election + gate: exactly ONE corpus shuffle (the md5 aggregate), zero
      joins, and the only Python is vectorized Arrow (the language/word
      pass) — never row-at-a-time BatchEvalPython;
    * the default two-scan census: map-side partial aggregation at the
      (bucket, md5) grain, no Expand (no distinct aggregates), no joins;
    * chunking over survivors: map-only (covered per-operator by
      test_doc_chunks_is_map_only; here we pin that attaching it to the
      gated frame adds no NEW exchange beyond the election's)."""
    from document_parser_spark.operators.curation import (
        chunk_documents,
        quality_language_gate,
    )
    from document_parser_spark.plans.curate import election_frames, with_content_bucket

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    bucketed = with_content_bucket(d, num_buckets=16)
    canonical, census = election_frames(bucketed)

    gated = quality_language_gate(canonical, keep_langs=("en",))
    plan = plan_of(gated)
    # skew-proof default: the election is ONE map-side-combined aggregate
    # (partial_min/partial_first before the shuffle — each input partition
    # ships at most one row per distinct text, so no partition ever holds
    # a whole duplicate group), same one-exchange shape as the window twin
    assert "partial_min" in plan, plan
    assert "partial_first" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan

    # the window twin (tests/twins.py): ONE corpus shuffle, zero joins
    wplan = plan_of(quality_language_gate(twins.canonical_window(bucketed)))
    assert "Join" not in wplan, wplan
    assert wplan.count("Exchange") == 1, wplan
    assert "hashpartitioning" in wplan, wplan

    cplan = plan_of(census)
    assert "Expand" not in cplan, cplan
    assert "Join" not in cplan, cplan
    assert cplan.count("HashAggregate") == 4, cplan  # partial+final × 2 levels
    assert cplan.count("Exchange") <= 2, cplan  # (bucket,md5) + bucket rollup

    chunked = chunk_documents(
        gated.select("doc_id", "text", "bucket", "n_words"),
        max_words=64,
        stride=48,
        passthrough=("bucket",),
    )
    full = plan_of(chunked)
    # chunking adds NO new shuffle on top of the election's
    assert full.count("Exchange hashpartitioning") == plan.count(
        "Exchange hashpartitioning"
    ), full


def test_tfidf_topk_scalar_attach_is_constant_broadcast(spark):
    """tf-idf's corpus size joins in as a broadcast 1-row aggregate (the
    scalar-attach BroadcastNestedLoopJoin is expected and scale-safe: the
    build side is a global count, constant size at any corpus scale); the
    tf/df joins themselves must be hash joins with partial aggregation."""
    from document_parser_spark.operators.text import tfidf_topk

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = plan_of(tfidf_topk(d))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan  # the 1-row attach only
    assert plan.count("HashAggregate") >= 4, plan
