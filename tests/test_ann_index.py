"""Persisted ANN index (plans/ann_index.py): the *_from_index query paths
must be byte-identical to their inline twins, the build must resume per
bucket against FIXED (reused) centroids, and the from-index query plan must
touch the float vector column exactly once (the rerank join)."""

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import run_counting_jobs
from document_parser_spark.operators import similarity
from document_parser_spark.plans.ann_index import (
    load_ann_index,
    run_index_build_checkpointed,
)
from document_parser_spark.sources.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def built(spark, emb, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ann_index"))
    stats = run_index_build_checkpointed(
        spark, emb, out, run_id="t1", num_buckets=8
    )
    return out, stats


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"]) for r in df.collect()
    )


def test_build_stats_cover_corpus(spark, emb, built):
    out, stats = built
    assert stats["vectors_indexed"] == emb.count()
    assert stats["buckets_done_before"] == 0
    assert not stats["centroids_reused"]
    index, cids, cmat, meta = load_ann_index(spark, out)
    assert index.count() == emb.count()
    assert len(cids) == stats["nlist"] == meta["nlist"]
    assert meta["dim"] == 64


def test_sketch_from_index_equals_inline(spark, emb, built):
    out, _ = built
    index, _, _, _ = load_ann_index(spark, out)
    q = emb.filter(F.col("vec_id") < 5)
    direct = _rows(similarity.sketch_topk(emb, q, k=10))
    stored = _rows(similarity.sketch_topk_from_index(index, emb, q, k=10))
    assert stored == direct


def test_ivf_sketch_from_index_equals_inline(spark, emb, built):
    out, stats = built
    index, cids, cmat, _ = load_ann_index(spark, out)
    q = emb.filter(F.col("vec_id") < 5)
    direct = _rows(similarity.ivf_sketch_topk(emb, q, k=10, nlist=stats["nlist"]))
    stored = _rows(
        similarity.ivf_sketch_topk_from_index(index, cids, cmat, emb, q, k=10)
    )
    assert stored == direct


def test_resume_reuses_centroids_and_matches_single_pass(spark, emb, tmp_path, built):
    single_out, _ = built
    out = str(tmp_path / "resumable")
    first = run_index_build_checkpointed(
        spark, emb, out, run_id="t2", num_buckets=8, max_buckets_this_run=3
    )
    assert first["buckets_done_total"] == 3
    second = run_index_build_checkpointed(
        spark, emb, out, run_id="t2", num_buckets=8
    )
    # the quantizer was fixed by the first (crashed) run and must be reused —
    # recomputing it mid-build would index later buckets against different lists
    assert second["centroids_reused"]
    assert second["buckets_done_before"] == 3
    assert second["buckets_done_total"] == 8
    assert second["vectors_indexed"] == emb.count()

    def index_rows(path):
        return sorted(
            (r["vec_id"], r["cid"], tuple(r["sk"]))
            for r in spark.read.parquet(f"{path}/index").collect()
        )

    assert index_rows(out) == index_rows(single_out)

    # re-submission after completion is a no-op: all buckets resumed away
    third, jobs = run_counting_jobs(
        spark, lambda: run_index_build_checkpointed(spark, emb, out, run_id="t2", num_buckets=8)
    )
    # the finished build returns after its layout guard and manifest
    # lookup: 13 bookkeeping jobs, where the centroid load + sketch pass +
    # index write over zero rows ran 18
    assert jobs <= 13, jobs
    assert third["buckets_done_before"] == 8
    assert third["vectors_indexed"] == emb.count()


def test_incremental_shard_indexes_against_corpus_quantizer(spark, emb, tmp_path, built):
    """centroids_from: a new shard is indexed in its own dir against the
    corpus's FIXED quantizer; the union of the two index frames queries
    byte-identically to an inline ivf_sketch over the union corpus built
    with the same centroids."""
    corpus_out, _ = built
    corpus = emb.filter(F.col("vec_id") < 400)
    shard = emb.filter(F.col("vec_id") >= 400)
    shard_out = str(tmp_path / "shard")
    stats = run_index_build_checkpointed(
        spark, shard, shard_out, run_id="s1", num_buckets=4,
        centroids_from=corpus_out,
    )
    assert stats["centroids_reused"]
    assert stats["vectors_indexed"] == shard.count()

    corpus_index, cids, cmat, corpus_meta = load_ann_index(spark, corpus_out)
    shard_index, s_cids, s_cmat, shard_meta = load_ann_index(spark, shard_out)
    # the shard dir is self-contained and carries the corpus quantizer
    # verbatim (its meta keeps the shard's OWN bucket layout)
    assert (s_cids == cids).all() and (s_cmat == cmat).all()
    for k in ("n", "nlist", "planes", "dim"):
        assert shard_meta[k] == corpus_meta[k]
    assert shard_meta["num_buckets"] == 4

    # NOTE: the corpus index here covers ALL of emb (built over the full
    # fixture), so restrict it to the corpus slice before the union
    union_index = corpus_index.join(
        corpus.select("vec_id"), "vec_id", "left_semi"
    ).unionByName(shard_index)
    q = emb.filter(F.col("vec_id") < 5)
    stored = _rows(
        similarity.ivf_sketch_topk_from_index(union_index, cids, cmat, emb, q, k=10)
    )
    inline = _rows(
        similarity.ivf_sketch_topk_from_index(
            similarity.ann_index_frame(emb, cids, cmat), cids, cmat, emb, q, k=10
        )
    )
    assert stored == inline


def test_layout_change_with_indexed_buckets_refuses(spark, emb, built):
    """A dial change (nlist, planes, num_buckets, corpus size) would
    recompute the quantizer — fatal once any bucket is indexed against the
    old one (done buckets keep old cids/sketches: a silently torn index).
    The build must REFUSE, not recompute."""
    out, stats = built
    for nlist, num_buckets in ((stats["nlist"] + 1, 8), (stats["nlist"], 16)):
        with pytest.raises(ValueError, match="cannot resume"):
            run_index_build_checkpointed(
                spark, emb, out, run_id="t1", num_buckets=num_buckets, nlist=nlist
            )
    # matching dials still resume fine after the refused attempts
    again = run_index_build_checkpointed(spark, emb, out, run_id="t1", num_buckets=8)
    assert again["centroids_reused"] and again["buckets_done_before"] == 8


def test_unreadable_meta_refuses_layout_change(spark, emb, built, tmp_path):
    """A meta table that cannot be read is not "no quantizer yet": with
    buckets already indexed, a dial change must still refuse, and the stored
    centroids must stay the ones those buckets were indexed against."""
    src, stats = built
    out = str(tmp_path / "torn")
    shutil.copytree(src, out)
    for part in glob.glob(f"{out}/meta/*.parquet"):
        with open(part, "wb") as fh:
            fh.write(b"not a parquet file")

    def centroid_rows():
        return sorted(tuple(r) for r in spark.read.parquet(f"{out}/centroids").collect())

    before = centroid_rows()
    with pytest.raises(Exception, match="parquet"):
        run_index_build_checkpointed(
            spark, emb, out, run_id="t1", num_buckets=8, nlist=stats["nlist"] + 1
        )
    assert centroid_rows() == before


def test_index_and_floats_co_bucketed_join_exchange_free(spark, emb, built):
    """The at-rest 100 TB layout: the index table and the float table
    bucketed by vec_id make the rerank fetch (index-selected candidates →
    float rows) a ZERO-exchange co-located join — neither corpus-sized side
    shuffles (same gate as tests/test_bucketing.py)."""
    import uuid

    from conftest import write_bucketed

    out, _ = built
    suffix = uuid.uuid4().hex[:8]
    ti, te = f"annidx_{suffix}", f"annemb_{suffix}"
    try:
        index, _, _, _ = load_ann_index(spark, out)
        write_bucketed(
            index.select("vec_id", "cid", "sk"), ti, ["vec_id"],
            num_buckets=8, sort_cols=["vec_id"],
        )
        write_bucketed(
            emb.select("vec_id", "embedding"), te, ["vec_id"],
            num_buckets=8, sort_cols=["vec_id"],
        )
        joined = spark.table(ti).hint("merge").join(spark.table(te), "vec_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == emb.count()
    finally:
        for t in (ti, te):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_from_index_plan_reads_floats_once(spark, emb, built, tmp_path):
    """The 100 TB contract of the stored index: the full-corpus pass scans
    only the index table; the embeddings parquet (float vectors) appears in
    the plan exactly once — the candidate rerank join.  The inline twin
    necessarily scans it more than once (sketch pass + rerank)."""
    out, _ = built
    index, _, _, _ = load_ann_index(spark, out)
    # fresh (uncached) load: the module fixture is cached, which would hide
    # its parquet scans behind InMemoryTableScan nodes
    emb = load_table(spark, SF, "embeddings")
    qdir = str(tmp_path / "queries")
    emb.filter(F.col("vec_id") < 5).write.parquet(qdir)
    q = spark.read.parquet(qdir)

    def emb_scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sum(
            ("Scan parquet" in line or "FileScan parquet" in line)
            and "embeddings" in line
            for line in plan.splitlines()
        )

    stored = similarity.sketch_topk_from_index(index, emb, q, k=10)
    inline = similarity.sketch_topk(emb, q, k=10)
    assert emb_scans(stored) == 1
    assert emb_scans(inline) >= 2
