"""Similarity-path consistency: the fast native top-k (float math) must agree
with the decimal-exact oracle twin on neighbor sets, and the LSH path must be
a subset-recall approximation of the exact path."""

import pytest
from pyspark.sql import functions as F

import twins
from document_parser_spark.operators import similarity
from document_parser_spark.sources.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def _topk_map(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos_sim"]))
    return {q: sorted(v) for q, v in out.items()}


def test_fast_path_matches_exact_twin(spark, emb):
    q = emb.filter(F.col("vec_id") < 5)
    fast = _topk_map(similarity.brute_force_topk(emb, q, k=10).collect())
    exact = _topk_map(similarity.brute_force_topk_exact(emb, q, k=10).collect())
    assert set(fast) == set(exact)
    for qid in fast:
        assert [v for _, v, _ in fast[qid]] == [v for _, v, _ in exact[qid]], qid
        for (_, _, a), (_, _, b) in zip(fast[qid], exact[qid]):
            assert a == pytest.approx(b, rel=1e-6)


def test_lsh_results_subset_of_exact_candidates(spark, emb):
    """Every LSH neighbor must be a genuinely-scored vector (cos equal to the
    exact pairwise value) — LSH trades recall, never correctness of what it
    does return."""
    q = emb.filter(F.col("vec_id") < 3)
    lsh = similarity.lsh_bucketed_topk(emb, q, k=5).collect()
    assert len(lsh) > 0
    exact_all = {
        (r["query_id"], r["vec_id"]): r["cos_sim"]
        for r in similarity.brute_force_topk(emb, q, k=500).collect()
    }
    for r in lsh:
        key = (r["query_id"], r["vec_id"])
        assert key in exact_all
        assert r["cos_sim"] == pytest.approx(exact_all[key], rel=1e-6)


def test_numpy_buckets_equal_column_buckets(spark, emb):
    """The Arrow/numpy bucket path (production) must equal the pure-Column
    integer formulation bit-for-bit — both mirror the DuckDB oracle."""
    dim = similarity.probe_dim(emb)
    fast = {
        (r["id"], r["band"]): r["bucket"]
        for r in similarity.lsh_band_buckets(emb, dim).collect()
    }
    col_path = emb.select(
        F.col("vec_id").alias("id"),
        F.explode(
            twins.band_buckets(F.col("embedding"), dim)
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    slow = {(r["id"], r["band"]): r["bucket"] for r in col_path.collect()}
    assert fast == slow and len(fast) == emb.count() * similarity.BANDS


def test_near_dup_pairs_verified(spark, emb):
    out = similarity.cosine_near_dup_pairs(emb, threshold=0.3).collect()
    assert all(r["cos_sim"] >= 0.3 and r["id_a"] < r["id_b"] for r in out)
    assert len(out) == len({(r["id_a"], r["id_b"]) for r in out})


def test_near_dup_sketch_blocking_invariant_and_beats_lsh(spark, emb):
    """The block-pair join is a plan detail: the pair set must not depend on
    the block count, and the sketch candidate generator must find at least
    every pair the banded-LSH twin finds (measured at sf0.01: 14/14 exact
    pairs vs LSH's 11/14 — VERDICT r04 item 4)."""
    pairs = lambda rows: {(r["id_a"], r["id_b"]) for r in rows}
    sk1 = pairs(similarity.cosine_near_dup_pairs(emb, threshold=0.3, blocks=1).collect())
    sk8 = pairs(similarity.cosine_near_dup_pairs(emb, threshold=0.3, blocks=8).collect())
    sk3 = pairs(similarity.cosine_near_dup_pairs(emb, threshold=0.3, blocks=3).collect())
    assert sk1 == sk8 == sk3
    # max_hamming=512 admits EVERY pair → exact ground truth for this corpus
    truth = pairs(
        similarity.cosine_near_dup_pairs(
            emb, threshold=0.3, blocks=4, max_hamming=512
        ).collect()
    )
    lsh = pairs(twins.cosine_near_dup_pairs_lsh(emb, threshold=0.3).collect())
    # both generators under-approximate the truth; at the same verify
    # threshold the sketch cutoff must catch at least as many true pairs in
    # aggregate as the ~40%-fraction band join it replaced
    assert sk8 <= truth and lsh <= truth
    assert len(sk8) >= len(lsh)


def test_near_dup_arrow_impl_equals_join_twin(spark, emb):
    """r06: the cogrouped-Arrow pair pass (sketch + GEMM hamming + in-place
    exact verify) must return EXACTLY the join twin's rows — ids AND the
    double cos_sim values, bit-for-bit (same floor/int64/IEEE arithmetic)."""
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["cos_sim"]) for r in rows)
    arrow = key(similarity.cosine_near_dup_pairs(emb, threshold=0.3).collect())
    join = key(twins.cosine_near_dup_pairs_join(emb, threshold=0.3).collect())
    assert arrow == join and len(arrow) > 0


def test_ivf_topk_candidates_from_probed_lists(spark, emb):
    """IVF results must rank correctly within the probed lists and approach
    the exact top-k from below (recall ≤ 1, deterministic)."""
    q = emb.filter(F.col("vec_id") < 5)
    ivf = similarity.ivf_topk(emb, q, k=10, nlist=16, nprobe=4).collect()
    exact = similarity.brute_force_topk_exact(emb, q, k=10).collect()
    assert {r["query_id"] for r in ivf} == {r["query_id"] for r in exact}
    per_q = {}
    for r in ivf:
        per_q.setdefault(r["query_id"], []).append(r)
    for rows in per_q.values():
        ranks = [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranks == list(range(1, len(rows) + 1))
        sims = [r["cos_sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
    # probing every list (nprobe == nlist) must reproduce exact top-k
    full = similarity.ivf_topk(emb, q, k=10, nlist=16, nprobe=16).collect()
    assert {(r["query_id"], r["vec_id"]) for r in full} == {
        (r["query_id"], r["vec_id"]) for r in exact
    }


def test_sketch_topk_recall_and_full_rerank_exactness(spark, emb):
    """Hamming-sketch rerank: (a) at a 100% rerank fraction it IS the exact
    top-k; (b) at the default 10% it keeps high recall (the 512-bit sketch
    separates cos≈0.35 neighbors from the isotropic bulk)."""
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.brute_force_topk_exact(emb, q, k=10).collect()}
    full = {(r["query_id"], r["vec_id"])
            for r in similarity.sketch_topk(emb, q, k=10, rerank_frac_pct=100).collect()}
    assert full == exact
    ten = {(r["query_id"], r["vec_id"])
           for r in similarity.sketch_topk(emb, q, k=10).collect()}
    assert len(ten & exact) / len(exact) >= 0.85


def test_kmeans_centroids_deterministic_and_refine(spark, emb):
    """The integer-exact Lloyd refinement is reproducible run-to-run and
    keeps exactly nlist centroids (empty lists keep their previous value)."""
    import numpy as np

    c1, m1 = similarity.ivf_centroids_kmeans(emb, nlist=8, iters=2)
    c2, m2 = similarity.ivf_centroids_kmeans(emb, nlist=8, iters=2)
    assert np.array_equal(c1, c2) and np.array_equal(m1, m2)
    assert m1.shape[0] == 8 and list(c1) == sorted(c1)


def _clustered_corpus(spark, n=1000, dim=32, n_clusters=10, noise=0.15, seed=7):
    """Deterministic synthetic CLUSTERED embeddings (the sf corpus is
    isotropic by construction, so partition-probing paths need their own
    fixture): unit-norm cluster centers, points = normalize(center + noise)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[np.arange(n) % n_clusters] + noise * rng.standard_normal((n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_sketch_composition_on_clustered_corpus(spark):
    """VERDICT r03 item 8: on a corpus that actually clusters, the
    IVF→sketch→exact composition holds recall ≥0.9 while exactly scoring a
    fraction BELOW either parent's budget (IVF exact-scores every probed
    member ≈ nprobe/nlist; flat sketch exact-scores RERANK_FRAC_PCT of the
    whole corpus and hamming-scans 100% of it)."""
    emb = _clustered_corpus(spark).cache()
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    truth = {}
    for r in similarity.brute_force_topk_exact(emb, q, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    hybrid = similarity.ivf_sketch_topk(emb, q, k=10).collect()
    got = {}
    for r in hybrid:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(truth[qid] & got.get(qid, set())) for qid in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    # cost dials (deterministic by construction, mirrored from the operator)
    nlist = similarity.ivf_nlist(n)
    nprobe = similarity.ivf_nprobe(nlist)
    expected_probed = (n * nprobe) // nlist
    m = max(40, (expected_probed * similarity.RERANK_FRAC_PCT + 99) // 100)
    scored_frac = m / n
    ivf_scored_frac = expected_probed / n          # parent 1 exact budget
    sketch_scored_frac = similarity.RERANK_FRAC_PCT / 100  # parent 2
    assert recall >= 0.9, f"hybrid recall {recall:.3f} on clustered corpus"
    assert scored_frac <= 0.05, scored_frac
    assert scored_frac < ivf_scored_frac
    assert scored_frac < sketch_scored_frac
    # sketch-scan volume: hybrid hamming-ranks only the probed fraction
    assert nprobe / nlist < 1.0


def test_ann_topk_facade_routes_and_validates(spark, emb):
    """ann_topk default == sketch_topk output; unknown methods fail loudly."""
    q = emb.filter(F.col("vec_id") < 3)
    via_facade = {(r["query_id"], r["vec_id"], r["rank"])
                  for r in similarity.ann_topk(emb, q, k=5).collect()}
    direct = {(r["query_id"], r["vec_id"], r["rank"])
              for r in similarity.sketch_topk(emb, q, k=5).collect()}
    assert via_facade == direct
    with pytest.raises(ValueError, match="unknown ANN method"):
        similarity.ann_topk(emb, q, method="hnsw")
