"""Similarity search over an embedding column (array<float>).

Every top-k method scores with one integer-exact arithmetic
(``_int_matrix``/``_int_norms``) and keeps rank ≤ k with ``_rank_topk``.
``brute_force_topk`` scores every corpus vector: the collected query
matrix meets each corpus Arrow batch in one int64 matmul.  The ANN methods
are candidate generators of (query_id, vec_id) pairs feeding one
exact-rerank tail (``_exact_topk``), which joins the float vectors of the
candidates only and scores them with ``cosine_exact_arrow``:

  * ``lsh_bucketed_topk`` — vectors sharing ≥1 of the query's
    BANDS × ROWS_PER_BAND sign-LSH buckets; the buckets are the nibbles of
    the first sign-sketch word (planes 0–31).
  * ``ivf_topk`` — the members of the query's nprobe nearest k-means lists
    (integer-exact Lloyd, nlist ~ √n, nprobe = nlist/8).
  * ``sketch_topk`` — the rerank_frac hamming-nearest 512-bit sign sketches:
    the measured winner on the isotropic sf embeddings (BASELINE.md: 0.995
    recall@10 at 10% scored vs IVF ≤0.63 / LSH 0.78).
  * ``ivf_sketch_topk`` — the same sketch scan over the probed lists only,
    for corpora that cluster.

``sketch_topk_from_index`` / ``ivf_sketch_topk_from_index`` read the
(vec_id, cid, sk) side from the persisted index (plans/ann_index.py); the
inline forms build that side from the embeddings and run the same body.
``cosine_near_dup_pairs`` is the dedup family's embedding near-dup:
sketch-hamming candidates and the exact verify in one cogrouped Arrow pass
over block pairs.

Exactness: components scale to int64 once (``_int_matrix``), projections
and dots are order-independent int64 sums, and only the final cosine
divides in double.  Hyperplane signs are the parity of the first md5 nibble
of "plane:pos" (``plane_signs``), computed driver-side and inlined; the
DuckDB mirrors in __spark_entry__.py replay the same arithmetic, so every
bucket, sketch word and cosine is bit-identical across engines.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

BANDS = 8           # banded LSH: number of bands
ROWS_PER_BAND = 4   # hyperplanes per band (16 buckets each)
# Recall model for sign-LSH: P(candidate) = 1 - (1 - p^r)^b with
# p = 1 - θ/π.  At the corpus' near-neighbor band (cos≈0.45, p≈0.65):
# b=4 ⇒ ~0.55 measured 0.58;  b=8 ⇒ ~0.80 — doubling bands doubles
# candidate volume but keeps per-band selectivity (2^r buckets) unchanged.
# float → int scaling.  Overflow envelope for the int64 dot products (dim 64):
# dim·(|val|·SCALE)² < 2^63 ⇒ |val| ≤ ~3.7 (64·(3.7e8)² ≈ 8.8e18 < 9.22e18).
# Unit-norm embeddings (components ≪ 1) sit far inside; feeding raw
# unnormalized vectors with larger components would wrap silently in numpy.
SCALE = 1e8
LLOYD_ITERS = 2     # IVF: integer-exact k-means refinement rounds


def ivf_nlist(n: int) -> int:
    """IVF inverted-list count scaled ~√n with the corpus (the standard
    IVF-flat sizing): 500 vecs → 22 lists, 10^6 → 1000, 10^9 → 31623.
    Round 2 fixed nlist=16, so nprobe=6 probed 37.5% of ANY corpus
    (VERDICT r02 What's-wrong #2)."""
    return max(4, int(round(n ** 0.5)))


def ivf_nprobe(nlist: int) -> int:
    """Probe nlist/8 lists → ≤12.5% of the corpus scanned per query at any
    scale; recall is bought back by the k-means-refined quantizer (lists
    follow the data's real clusters, so a query's true neighbors concentrate
    in its nearest few lists)."""
    return max(2, nlist // 8)


# --- exact integer arithmetic (oracle-comparable) ----------------------------

def _int_val(x: Column) -> Column:
    return F.floor(x.cast("double") * F.lit(SCALE)).cast("long")


def _int_matrix(vecs) -> np.ndarray:
    """n × dim int64 of floor(v·SCALE): the one float→int step of every Arrow
    UDF here — bit-identical to Spark's floor(double)·cast(long)."""
    return np.floor(
        np.stack([np.asarray(v, dtype=np.float64) for v in vecs]) * SCALE
    ).astype(np.int64)


def _int_norms(m: np.ndarray) -> np.ndarray:
    """Per-row norm of an ``_int_matrix``: the exact int64 sum of squares,
    then one IEEE conversion and sqrt — the SQL mirrors'
    ``sqrt(CAST(sum(val*val) AS DOUBLE))`` bit for bit (a float64 summation
    would round differently above 2^53)."""
    return np.sqrt((m * m).sum(axis=1).astype(np.float64))


@F.pandas_udf(DoubleType())
def cosine_exact_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Cosine of the integer-scaled vectors, row by row: exact int64 dot and
    norms, one double division at the end — bit-identical in any engine
    (integer sums are order-independent, IEEE sqrt/divide correctly
    rounded).  One numpy pass per Arrow batch, no interpreted lambda per
    element."""
    if not len(a):
        return pd.Series([], dtype="float64")
    ia, ib = _int_matrix(a), _int_matrix(b)
    dot = (ia * ib).sum(axis=1).astype(np.float64)
    return pd.Series(dot / (_int_norms(ia) * _int_norms(ib)))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """rank ≤ k per query over (query_id, vec_id, cos_sim); ties → lowest vec_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _exact_topk(
    cand: DataFrame, embeddings: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """The shared exact-rerank tail: (query_id, vec_id) candidates → top-k.
    Float vectors are fetched for candidate rows only, the queries
    broadcast, and ``cosine_exact_arrow`` scores every pair in one Arrow
    pass."""
    e_vec = embeddings.select("vec_id", F.col("embedding").alias("v_vec"))
    q_vec = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        cand.join(e_vec, "vec_id")
        .join(F.broadcast(q_vec), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_exact_arrow(F.col("q_vec"), F.col("v_vec")).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k per query over every corpus vector.  A query set is small
    by contract, so it is collected once into an int64 matrix Q, and each
    corpus Arrow batch is scored with ONE int64 matmul ``V @ Qᵀ`` and one
    IEEE divide by the two norms — ``cosine_exact_arrow``'s arithmetic, so
    every score is bit-identical to the other top-k methods and to the
    DuckDB mirror.  Self-pairs (vec_id == query_id) are dropped; the query
    frame need not be a subset of the corpus.  The corpus streams with no
    shuffle until the top-k window."""
    rows = queries.select("vec_id", "embedding").collect()
    qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    qmat = _int_matrix([r["embedding"] for r in rows]) if rows else None

    def score(batches):
        for pdf in batches:
            if qmat is None or not len(pdf):
                continue
            iv = _int_matrix(pdf["embedding"])
            cos = (iv @ qmat.T).astype(np.float64) / (
                _int_norms(iv)[:, None] * _int_norms(qmat)
            )
            vids = pdf["vec_id"].to_numpy()
            vi, qi = np.nonzero(vids[:, None] != qids)
            yield pd.DataFrame(
                {"query_id": qids[qi], "vec_id": vids[vi], "cos_sim": cos[vi, qi]}
            )

    q_dt = queries.schema["vec_id"].dataType.simpleString()
    v_dt = embeddings.schema["vec_id"].dataType.simpleString()
    scored = embeddings.select("vec_id", "embedding").mapInPandas(
        score, f"query_id {q_dt}, vec_id {v_dt}, cos_sim double"
    )
    return _rank_topk(scored, k)


# --- sign sketch (shared by LSH, the sketch scans and near-dup) --------------

SKETCH_PLANES = 512  # 16 32-bit words per vector (64 bytes)
SKETCH_WORD_BITS = 32  # 32 bits/word: 1<<31 stays far from signed-64 overflow


def plane_signs(plane: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane: parity of the first md5 nibble of
    'plane:pos' — matches the DuckDB mirror
    ``('0x' || substr(md5(plane || ':' || pos), 1, 1))::INT % 2``."""
    return [
        1 if int(hashlib.md5(f"{plane}:{pos}".encode()).hexdigest()[0], 16) % 2 == 1 else -1
        for pos in range(dim)
    ]


def _sign_matrix(dim: int, planes: int) -> np.ndarray:
    """dim × planes int64 matrix of hyperplanes 0..planes-1."""
    return np.array([plane_signs(p, dim) for p in range(planes)], dtype=np.int64).T


def probe_count_dim(df: DataFrame, vec_col: str = "embedding") -> tuple[int, int]:
    """The row count and the (uniform) embedding dimension, in one tiny
    driver-side aggregate; the sign matrix is then inlined as literals —
    zero per-row hashing."""
    row = df.select(
        F.count("*").alias("n"),
        F.min(F.size(vec_col)).alias("lo"),
        F.max(F.size(vec_col)).alias("hi"),
    ).first()
    # an aggregate always returns one row: an empty frame reads lo = hi = None
    if row.hi is None or row.lo != row.hi:
        raise ValueError(f"embedding dimension not uniform or frame empty: {row}")
    return int(row.n), int(row.hi)


def probe_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """The (uniform) embedding dimension of ``df`` (``probe_count_dim``)."""
    return probe_count_dim(df, vec_col)[1]


def _sketch_udf(dim: int, planes: int = SKETCH_PLANES):
    """Arrow-batched sign sketch: ONE int64 matmul per batch against the md5
    sign planes (HOF projections are ~30× slower — they don't codegen).  Bit
    j of word w is ``projection(32w+j) > 0``, packed into ``planes/32`` long
    words of 32 bits each (a 1<<63 top bit would overflow signed int64 in
    numpy AND DuckDB).  Exact in SQL: the projection is an int64 sum, the
    bit decision a comparison, the packing a sum of 1<<j."""
    signs = _sign_matrix(dim, planes)
    weights = np.array([1 << j for j in range(SKETCH_WORD_BITS)], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sketch(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        bits = (_int_matrix(vecs) @ signs) > 0  # n × planes
        words = bits.reshape(len(vecs), planes // SKETCH_WORD_BITS, SKETCH_WORD_BITS) @ weights
        return pd.Series(list(words))

    return sketch


def _hamming_words(a: str, b: str, words: int) -> Column:
    """XOR+POPCNT hamming distance between the packed sketch columns ``a``
    and ``b`` — ``words`` integer ops per pair, all in whole-stage codegen."""
    return sum(
        F.bit_count(F.col(a).getItem(i).bitwiseXOR(F.col(b).getItem(i)))
        for i in range(words)
    )


# --- banded sign-LSH ----------------------------------------------------------

def lsh_band_buckets(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, bucket) — exploded band buckets, ready for the bucket join.
    The BANDS·ROWS_PER_BAND = 32 planes are exactly one sketch word, so band
    b's bucket is bits [b·r, b·r + r) of it; tests/twins.py keeps the
    pure-Column projection form for cross-checking (tests assert equality)."""
    word = _sketch_udf(dim, BANDS * ROWS_PER_BAND)(F.col(vec_col))[0]
    mask = (1 << ROWS_PER_BAND) - 1
    buckets = [
        F.shiftright("w", ROWS_PER_BAND * b).bitwiseAND(mask) for b in range(BANDS)
    ]
    return df.select(F.col(id_col).alias("id"), word.alias("w")).select(
        "id", F.posexplode(F.array(*buckets)).alias("band", "bucket")
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """ANN: candidates share ≥1 of the query's band buckets; exact integer
    cosine ranks them.  The banded join replaces the cross join — candidate
    count drops ~2^r per band while recall stays 1-(1-p^r)^b."""
    dim = probe_dim(embeddings)
    e_b = lsh_band_buckets(embeddings, dim)
    q_b = lsh_band_buckets(queries, dim).select(
        F.col("id").alias("query_id"), "band", "bucket"
    )
    cand = (
        e_b.join(F.broadcast(q_b), on=["band", "bucket"])
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("vec_id"))
        .distinct()
    )
    return _exact_topk(cand, embeddings, queries, k)


# --- IVF-flat (inverted-file) ANN ---------------------------------------------

def ivf_centroids(embeddings: DataFrame, nlist: int) -> DataFrame:
    """Deterministic quantizer INIT: the ``nlist`` corpus vectors with the
    smallest md5(vec_id) (a reproducible uniform sample — no RNG state,
    exactly mirrorable in SQL).  ``ivf_centroids_kmeans`` refines these."""
    return (
        embeddings.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_vec"))
        .orderBy(F.md5(F.col("cid").cast("string")), "cid")
        .limit(nlist)
    )


def _ivec(vec: Column) -> Column:
    """array<long> of the integer-scaled components."""
    return F.transform(vec, _int_val)


def _floor_div_expr(s: str, c: str) -> str:
    """Portable exact floor division for Spark SQL and DuckDB: subtract the
    canonical (non-negative) mod first, so truncating and flooring integer
    division agree — robust to either engine's % / division semantics."""
    return f"({s} - ((({s} % {c}) + {c}) % {c})) DIV {c}"


def _probe_udf(cids: np.ndarray, cmat: np.ndarray, nprobe: int):
    """Arrow-batched nearest-centroid probe: ONE int64 matmul per batch
    against the (nlist × dim) centroid matrix, scored by dot/|centroid|
    (the vector's own norm is a positive per-row constant — it cannot change
    the per-vector ranking, and leaving it out keeps the SQL mirror cheap).
    Ties break to the LOWEST cid: stable argsort on the descending score with
    columns pre-ordered by cid — exactly the SQL's
    ``ORDER BY score DESC, cid ASC``."""
    cn = _int_norms(cmat)

    @F.pandas_udf("array<long>")
    def probe(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        score = (_int_matrix(vecs) @ cmat.T).astype(np.float64) / cn
        order = np.argsort(-score, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([cids[o].tolist() for o in order])

    return probe


def _partial_sums_udf(cids: np.ndarray, cmat: np.ndarray):
    """Fused Lloyd step for one partition: nearest-centroid assignment AND
    per-centroid int64 component partial sums in ONE Arrow pass, emitting at
    most ``nlist`` rows per partition — the shuffle volume is
    O(partitions × nlist × dim), INDEPENDENT of corpus size (the previous
    shape posexploded every vector into ``dim`` rows: an n×dim-row shuffle
    per Lloyd round).  int64 sums are associative, so the merged centroids —
    and the DuckDB oracle that replays the explode+groupBy form — are
    bit-identical.  Scoring/tie-breaking is exactly ``_probe_udf``'s
    (stable argsort on -dot/|centroid|, cids pre-ordered ascending)."""
    cn = _int_norms(cmat)

    def part(batches):
        nlist, dim = cmat.shape
        acc_s = np.zeros((nlist, dim), dtype=np.int64)
        acc_c = np.zeros(nlist, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            iv = _int_matrix(pdf["_v"])
            score = (iv @ cmat.T).astype(np.float64) / cn
            a = np.argsort(-score, axis=1, kind="stable")[:, 0]
            for idx in np.unique(a):
                m = a == idx
                acc_s[idx] += iv[m].sum(axis=0, dtype=np.int64)
                acc_c[idx] += int(m.sum())
        hit = acc_c > 0
        if hit.any():
            yield pd.DataFrame(
                {
                    "cid": cids[hit],
                    "s": [row.tolist() for row in acc_s[hit]],
                    "c": acc_c[hit],
                }
            )

    return part


def ivf_centroids_kmeans(
    embeddings: DataFrame,
    nlist: int,
    iters: int = LLOYD_ITERS,
):
    """K-means-refined coarse quantizer, ALL integer-exact (so the DuckDB
    oracle can replay it bit-for-bit):

      * init = md5-sampled corpus vectors (``ivf_centroids``);
      * assignment = argmax over centroids of dot/|centroid| (int64 dot,
        IEEE double divide; ties → lowest cid);
      * update = per-component FLOOR-mean of the assigned vectors' int64
        components (order-independent integer sums; empty lists keep their
        previous centroid).

    Returns (cids int64[nlist], cmat int64[nlist × dim]) ordered by cid.
    Each round is ONE fused Arrow pass (``_partial_sums_udf``) whose output
    is partitions × nlist partial rows — the per-round merge+collect ships
    only the nlist × dim matrix, tiny relative to the corpus at any scale
    (1000 × dim at 10^6 vectors); measured 6.6 s → ~1 s for 2 rounds at
    sf0.1 vs the posexplode(n×dim) shape."""
    dim = probe_dim(embeddings)
    init = ivf_centroids(embeddings, nlist).select(
        "cid", _ivec(F.col("c_vec")).alias("civ")
    )
    rows = sorted(init.collect(), key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cmat = np.array([r["civ"] for r in rows], dtype=np.int64)

    corpus = embeddings.select(F.col("embedding").alias("_v"))
    for _ in range(iters):
        partials = corpus.mapInPandas(
            _partial_sums_udf(cids, cmat), schema="cid long, s array<long>, c long"
        )
        # merge partials: rows here are O(partitions × nlist), not O(n)
        sums = (
            partials.select("cid", "c", F.posexplode("s").alias("pos", "ps"))
            .groupBy("cid", "pos")
            .agg(F.sum("ps").alias("s"), F.sum("c").alias("c"))
            .withColumn("cval", F.expr(_floor_div_expr("s", "c")))
        )
        got = {}
        for r in sums.collect():
            got.setdefault(int(r["cid"]), {})[int(r["pos"])] = int(r["cval"])
        new = cmat.copy()
        for i, cid in enumerate(cids):
            comp = got.get(int(cid))
            if comp is not None:  # empty lists keep the previous centroid
                new[i] = [comp[p] for p in range(dim)]
        cmat = new
    return cids, cmat


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF-flat ANN: vectors live in their nearest centroid's inverted list;
    a query probes its ``nprobe`` nearest centroids and brute-forces only
    those lists (candidate fraction ≈ nprobe/nlist ≤ 12.5% by default at ANY
    corpus size — nlist scales ~√n, the quantizer is k-means-refined).  All
    arithmetic integer-exact → full DuckDB oracle; recall and probed
    fraction reported by bench.py."""
    if nlist is None:
        nlist = ivf_nlist(embeddings.count())
    if nprobe is None:
        nprobe = ivf_nprobe(nlist)
    cids, cmat = ivf_centroids_kmeans(embeddings, nlist)
    assign_udf = _probe_udf(cids, cmat, 1)
    probe_udf = _probe_udf(cids, cmat, nprobe)
    assign = embeddings.select(
        "vec_id",
        F.element_at(assign_udf(F.col("embedding")), 1).alias("cid"),
    )
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(probe_udf(F.col("embedding"))).alias("cid"),
    )
    cand = (
        probes.join(assign, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    return _exact_topk(cand, embeddings, queries, k)


# --- hamming-sketch rerank ANN --------------------------------------------------
#
# The sf embeddings are ISOTROPIC (measured: same-label mean cos 1.8e-5 vs
# diff-label 1.3e-5; top-10 neighbors at cos≈0.35 over a 0.0 bulk).  On such
# data NO space partitioning reaches high recall at a small probed fraction —
# k-means cells and LSH buckets are nearly independent of who the neighbors
# are (measured: IVF ≤0.63, banded LSH ≤0.78, at ~11% probed).  The design
# that DOES work — and the right 100 TB shape — is sketch-scan + re-rank
# (Charikar sign sketches, public literature): a 512-bit sketch is 64 bytes,
# so the full-corpus pass reads ONLY the sketch column (Parquet column
# pruning keeps the 256-byte float vectors unread), ranks by hamming with 8
# XOR+POPCNTs per pair in whole-stage codegen, and fetches floats for the top
# ``rerank_frac`` only.  Measured at sf0.1: recall@10 = 0.995 at 10%.

RERANK_FRAC_PCT = 10  # % of the corpus exactly re-scored per query


def _sketch_rerank(
    pairs: DataFrame,
    words: int,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    m: int,
) -> DataFrame:
    """Shared sketch-ANN tail over (query_id, vec_id, sk, qsk) pairs: keep the
    ``m`` hamming-nearest candidates per query (ties → lowest vec_id), then
    the exact tail — the only stage that touches the float column."""
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    cand = (
        pairs.filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _hamming_words("sk", "qsk", words).alias("hamming"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= m)
        .select("query_id", "vec_id")
    )
    return _exact_topk(cand, embeddings, queries, k)


def _sketch_scan_topk(
    index: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    planes: int,
    rerank_frac_pct: int,
) -> DataFrame:
    """The flat sketch scan over a (vec_id, sk) side: every corpus sketch is
    hamming-ranked against the broadcast query sketches, and the nearest
    ``rerank_frac_pct``% of the corpus go to the exact tail."""
    m = max(k, (index.count() * rerank_frac_pct + 99) // 100)
    q_sk = queries.select(
        F.col("vec_id").alias("query_id"),
        _sketch_udf(dim, planes)(F.col("embedding")).alias("qsk"),
    )
    pairs = index.select("vec_id", "sk").crossJoin(F.broadcast(q_sk))
    return _sketch_rerank(pairs, planes // SKETCH_WORD_BITS, embeddings, queries, k, m)


def sketch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank_frac_pct: int = RERANK_FRAC_PCT,
) -> DataFrame:
    """ANN by hamming-sketch prefilter + exact integer-cosine re-rank: per
    query, the ``rerank_frac_pct``% of the corpus with the smallest sketch
    hamming distance (ties → lowest vec_id) is exactly re-scored; top-k of
    that.  Fully deterministic and integer/bit-exact → full DuckDB oracle.
    The corpus sketches are computed inline; ``sketch_topk_from_index``
    reads them from the persisted index instead."""
    dim = probe_dim(embeddings)
    index = embeddings.select("vec_id", _sketch_udf(dim)(F.col("embedding")).alias("sk"))
    return _sketch_scan_topk(
        index, embeddings, queries, k, dim, SKETCH_PLANES, rerank_frac_pct
    )


def sketch_topk_from_index(
    index: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = SKETCH_PLANES,
) -> DataFrame:
    """``sketch_topk`` reading its corpus sketches from a PERSISTED index
    table (build-once / query-many — plans/ann_index.py): the full-corpus
    hamming pass scans ONLY the index's (vec_id, sk) columns — at 100 TB of
    256-byte float vectors that is a 64-byte-per-row scan of a separate,
    far smaller table, and the float vectors are read exactly once, for the
    top-m rerank join (plan-gated in tests/test_ann_index.py).  Results are
    byte-identical to ``sketch_topk`` over the same corpus (equality-gated)."""
    return _sketch_scan_topk(
        index, embeddings, queries, k, probe_dim(queries), planes, RERANK_FRAC_PCT
    )


def ann_index_frame(
    embeddings: DataFrame,
    cids: np.ndarray,
    cmat: np.ndarray,
    planes: int = SKETCH_PLANES,
    dim: int | None = None,
) -> DataFrame:
    """The at-rest ANN index row set — (vec_id, cid, sk) — in ONE map-only
    Arrow pass over the embeddings (nearest-list assignment + packed sign
    sketch; no shuffle).  ``ivf_sketch_topk`` builds this frame inline;
    plans/ann_index.py persists it partitioned for the build-once /
    query-many production shape.  Pass ``dim`` explicitly for a STREAMING
    input (probing it would aggregate an unbounded frame)."""
    assign_udf = _probe_udf(cids, cmat, 1)
    if dim is None:
        dim = probe_dim(embeddings)
    sk_udf = _sketch_udf(dim, planes)
    return embeddings.select(
        "vec_id",
        F.element_at(assign_udf(F.col("embedding")), 1).alias("cid"),
        sk_udf(F.col("embedding")).alias("sk"),
    )


def ivf_sketch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int | None = None,
) -> DataFrame:
    """IVF→sketch→exact composition (VERDICT r03 item 8): the clustered-
    corpus scale path.

      1. probe: each query picks its ``nprobe = ivf_nprobe(nlist)`` nearest
         k-means lists — candidates are ONLY the probed lists' members
         (nprobe/nlist of the corpus, ≤12.5%);
      2. sketch: hamming-rank ONLY those candidates' 512-bit sketches
         (vs ``sketch_topk`` which scans every corpus sketch);
      3. exact: integer-cosine re-score only the top ``RERANK_FRAC_PCT``%
         of the probed set (~1.25% of the corpus at defaults).

    Recall inherits IVF's probe ceiling (candidates ⊆ probed lists), so this
    only makes sense where the corpus clusters — there it holds the probe
    recall at an exact-scored fraction ~8× below IVF and a sketch-scan
    volume ~8× below the flat sketch scan.  On isotropic data use
    ``sketch_topk`` (see module docstring).  This is
    ``ivf_sketch_topk_from_index`` over the index frame built inline."""
    if nlist is None:
        nlist = ivf_nlist(embeddings.count())
    cids, cmat = ivf_centroids_kmeans(embeddings, nlist)
    # the centroids already fix the dimension: no second probe of the corpus
    index = ann_index_frame(embeddings, cids, cmat, dim=cmat.shape[1])
    return ivf_sketch_topk_from_index(index, cids, cmat, embeddings, queries, k)


def ivf_sketch_topk_from_index(
    index: DataFrame,
    cids: np.ndarray,
    cmat: np.ndarray,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = SKETCH_PLANES,
) -> DataFrame:
    """``ivf_sketch_topk`` with the (vec_id, cid, sk) side read from a
    PERSISTED index and the quantizer from its stored centroids
    (plans/ann_index.py ``load_ann_index``) — the per-query work is only the
    probe + the probed slice's hamming scan + the exact rerank; nothing
    corpus-sized is recomputed.  Byte-identical to ``ivf_sketch_topk`` built
    with the same centroids (equality-gated in tests/test_ann_index.py)."""
    nlist = len(cids)
    nprobe = ivf_nprobe(nlist)
    probe_udf = _probe_udf(cids, cmat, nprobe)
    sk_udf = _sketch_udf(probe_dim(queries), planes)
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        sk_udf(F.col("embedding")).alias("qsk"),
        F.explode(probe_udf(F.col("embedding"))).alias("cid"),
    )
    # rerank budget: RERANK_FRAC_PCT of the EXPECTED probed-set size
    # (n·nprobe/nlist) — deterministic, so the scored fraction is a design dial, not a
    # data-dependent surprise.  Floored at 4·k: with m == k the sketch
    # ordering would need to be PERFECT (measured: recall 0.74 at m=k vs
    # 0.98 at m≈2.5k on the clustered fixture) — 4·k is the slack that lets
    # hamming misrankings wash out in the exact rerank.
    expected_probed = max(1, (index.count() * nprobe) // nlist)
    m = max(4 * k, (expected_probed * RERANK_FRAC_PCT + 99) // 100)
    pairs = index.select("vec_id", "cid", "sk").join(F.broadcast(probes), "cid")
    return _sketch_rerank(pairs, planes // SKETCH_WORD_BITS, embeddings, queries, k, m)


def sketch_near_dup_max_hamming(threshold: float) -> int:
    """Hamming cutoff for sketch-candidate near-dup generation: the MIDPOINT
    between the expected sketch hamming of a pair exactly AT the cosine
    threshold (planes·acos(t)/π — the hyperplane collision probability) and
    the isotropic-bulk mean (planes/2), at ``SKETCH_PLANES`` planes.  No
    tuned constants: for t=0.45 and
    512 planes this is 217, sitting >2σ above every measured true pair
    (max 194 at sf0.01) while admitting ~5% of the bulk (vs the banded-LSH
    candidate fraction of ~40% this replaced — VERDICT r04 item 4).  The
    same integer is baked into the DuckDB oracle, so the cutoff can never
    drift between engines."""
    import math

    f = math.acos(threshold) / math.pi
    return int(SKETCH_PLANES * (f + 0.5) / 2)


def near_dup_blocks(parallelism: int) -> int:
    """Block count for the cogrouped pair pass: the smallest B whose
    B(B+1)/2 equal-sized block-pair groups are ≥ 8× the session parallelism,
    so the groups pack evenly over the cores (hash placement of G groups
    into the partitions leaves a max-loaded partition ~2× the mean once
    G/partitions ≥ 4 — the balls-in-bins tail).  Scale-adaptive, never a
    constant tuned to one box; the pair SET is provably invariant to B
    (tests/test_similarity.py)."""
    b = 2
    while b * (b + 1) // 2 < 8 * max(parallelism, 1):
        b += 1
    return b


def _block_pair_keys(blocks: int) -> tuple[Column, Column]:
    """Exploded block-pair keys of a row in block ``blk``: the lo side owns
    pairs (blk, j) for j ≥ blk, the hi side (i, blk) for i ≤ blk, so an
    unordered pair of rows in blocks (p, q), p ≤ q, meets in exactly one
    group: pk = p·B + q."""
    blk = F.col("blk")
    lo = F.explode(
        F.transform(F.sequence(blk, F.lit(blocks - 1)), lambda j: blk * blocks + j)
    )
    hi = F.explode(F.transform(F.sequence(F.lit(0), blk), lambda i: i * blocks + blk))
    return lo, hi


def _near_dup_pairs_grouped_arrow(
    embeddings: DataFrame,
    threshold: float,
    blocks: int | None,
    max_hamming: int,
) -> DataFrame:
    """Block-pair near-dup in ONE cogrouped Arrow pass (guide §4.2/§8): the
    shuffle moves each (id, vec) row B times (~0.5 KB·n·B total) and ALL
    pair work — sketching, the n²/2 hamming evaluations, the exact integer
    cosine verify — happens in numpy inside ``applyInPandas``, so no pair
    row is ever materialized in the JVM and no candidate pair ever crosses
    the Python boundary (the r05 equi-join form materialized every pair in the
    SMJ and shipped ~5% of n²/2 candidate rows with BOTH float vectors
    through Arrow for the verify — measured 74.7 s at n=20k vs 4-6 s for
    this pass, OPTIMIZATION_r06.md).

    Hamming via GEMM: h(a,b) = |a| + |b| − 2·(bits_a · bits_b) with the
    512 sketch bits unpacked to float32 — dot products ≤ 512 are exact in
    float32, so the cutoff comparison is integer-exact, identical to the
    XOR+POPCNT join form kept in tests/twins.py (equality-gated in
    tests/test_similarity.py).  The
    exact verify reuses the ``cosine_exact_arrow`` arithmetic verbatim:
    int64 floor-scaled dot/norms, one IEEE double divide.

    Each row lands in block ``xxhash64(id) % B`` and is replicated to its
    ``_block_pair_keys`` groups (shared with ``sketch_near_dup_candidates``).
    An explicit ``repartition(n, pk)`` pins the exchange width: without it
    AQE coalesces the small-byte/huge-compute shuffle to ~2 partitions
    (64 MB advisory) and the pair pass runs nearly serial — the single
    biggest contributor to the r05 sf1 regression."""
    spark = embeddings.sparkSession
    par = spark.sparkContext.defaultParallelism
    if blocks is None:
        blocks = near_dup_blocks(par)
    npart = max(2 * par, 8)
    dim = probe_dim(embeddings)
    signs = _sign_matrix(dim, SKETCH_PLANES)
    B, mh, thr = int(blocks), int(max_hamming), float(threshold)
    id_dt = embeddings.schema["vec_id"].dataType.simpleString()

    base = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(B)).alias("blk"),
    )
    lo_pk, hi_pk = _block_pair_keys(B)
    lo = base.select("id", "vec", lo_pk.alias("pk")).repartition(npart, "pk")
    hi = base.select("id", "vec", hi_pk.alias("pk")).repartition(npart, "pk")

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )

    def pairs_fn(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return _empty()
        pk = int(key[0])
        same_block = (pk // B) == (pk % B)
        ida = left["id"].to_numpy()
        idb = right["id"].to_numpy()
        iva, ivb = _int_matrix(left["vec"]), _int_matrix(right["vec"])
        ba = ((iva @ signs) > 0).astype(np.float32)
        bb = ((ivb @ signs) > 0).astype(np.float32)
        ca = ba.sum(axis=1)
        cb = bb.sum(axis=1)
        na, nb = _int_norms(iva), _int_norms(ivb)
        out_a, out_b, out_c = [], [], []
        # chunk the lo rows so the (chunk × nb) hamming plane stays ~32 MB
        step = max(1, 4_000_000 // max(len(idb), 1))
        for s in range(0, len(ida), step):
            e = s + step
            h = ca[s:e, None] + cb[None, :] - 2.0 * (ba[s:e] @ bb.T)
            m = h <= mh
            if same_block:
                m &= ida[s:e, None] < idb[None, :]
            ii, jj = np.nonzero(m)
            # sub-chunk the verify gather so the (pairs × dim) int64
            # temporaries stay bounded on candidate-dense groups
            for v0 in range(0, len(ii), 1 << 16):
                vi = ii[v0 : v0 + (1 << 16)]
                vj = jj[v0 : v0 + (1 << 16)]
                dot = (iva[s + vi] * ivb[vj]).sum(axis=1).astype(np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / (na[s + vi] * nb[vj])
                # Spark/DuckDB order NaN above every value, so a NaN cosine
                # (zero-norm vector) passes the >= filter in both engines
                keep = (cos >= thr) | np.isnan(cos)
                if keep.any():
                    pa = ida[s + vi[keep]]
                    pb = idb[vj[keep]]
                    flip = pb < pa
                    out_a.append(np.where(flip, pb, pa))
                    out_b.append(np.where(flip, pa, pb))
                    out_c.append(cos[keep])
        if not out_a:
            return _empty()
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_c),
            }
        )

    # No terminal orderBy: the driver canonicalizes (rows sorted) before
    # hashing, and a range sort here SAMPLES its child — re-executing the
    # whole GEMM pair pass a second time (guide §2.4; measured ~2× at n=20k,
    # OPTIMIZATION_r06.md).
    return (
        lo.groupBy("pk")
        .cogroup(hi.groupBy("pk"))
        .applyInPandas(pairs_fn, f"id_a {id_dt}, id_b {id_dt}, cos_sim double")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    blocks: int | None = None,
    max_hamming: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sketch-hamming candidates,
    exact integer cosine verify.

    Candidates are pairs whose 512-bit sign-sketch hamming distance ≤
    ``max_hamming`` (derived from the cosine threshold by
    ``sketch_near_dup_max_hamming`` unless given; VERDICT r04 item 4).  The
    pair definition runs as one cogrouped numpy pass over block-pair groups
    (r06) — sketching, hamming (GEMM) and the exact verify all happen
    in-place; no pair row is materialized JVM-side and no candidate crosses
    the Python boundary.  See ``_near_dup_pairs_grouped_arrow``.
    ``blocks=None`` derives the block count from the session parallelism
    (``near_dup_blocks``).

    tests/twins.py rebuilds the r05 block-pair equi-join (over
    ``sketch_near_dup_candidates``) and the banded-LSH candidate generator
    (over ``lsh_band_buckets``, ~40% candidate fraction on isotropic data)
    as cross-checks; tests/test_similarity.py gates the pair set against
    both."""
    if max_hamming is None:
        max_hamming = sketch_near_dup_max_hamming(threshold)
    return _near_dup_pairs_grouped_arrow(embeddings, threshold, blocks, max_hamming)


def sketch_near_dup_candidates(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
) -> DataFrame:
    """The sketch-hamming candidate pairs (id_a, id_b) that
    ``cosine_near_dup_pairs`` exactly verifies — public so the growth study
    can count the verify bill from the executed join."""
    max_hamming = sketch_near_dup_max_hamming(threshold)
    dim = probe_dim(embeddings, vec_col)
    udf = _sketch_udf(dim)
    words = SKETCH_PLANES // SKETCH_WORD_BITS
    sk = embeddings.select(
        F.col(id_col).alias("id"),
        udf(F.col(vec_col)).alias("sk"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).alias("blk"),
    )
    lo_pk, hi_pk = _block_pair_keys(blocks)
    lo = sk.select(
        F.col("id").alias("id_a"),
        F.col("sk").alias("sk_a"),
        F.col("blk").alias("blk_a"),
        lo_pk.alias("pk"),
    )
    hi = sk.select(
        F.col("id").alias("id_b"),
        F.col("sk").alias("sk_b"),
        F.col("blk").alias("blk_b"),
        hi_pk.alias("pk"),
    )
    return (
        lo.join(hi, "pk")
        # same-block group (pk = (b,b)) holds every ordered pair — halve it;
        # cross-block groups already see each unordered pair exactly once
        .filter((F.col("blk_a") != F.col("blk_b")) | (F.col("id_a") < F.col("id_b")))
        .filter(_hamming_words("sk_a", "sk_b", words) <= F.lit(max_hamming))
        # cross-block pairs carry block order, not id order — normalize
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )
