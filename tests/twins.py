"""Cross-check twins of the package's shipped operators.

Each function here is a second formulation of one package operator: the
pure-Column or explode+groupBy form that an Arrow pass replaced, or the
candidate generator a cogrouped pass replaced.  They exist ONLY so tests
can assert that the shipped path returns identical rows; nothing in the
package imports this module.

Spark's Python workers cannot import the tests directory, so every twin is
built from Column algebra and the package's own UDFs — none defines a
Python UDF of its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from document_parser_spark.operators import similarity, text
from document_parser_spark.operators.dedup import SIMHASH_BITS
from document_parser_spark.operators.text import (
    _CLF_A,
    _CLF_B,
    _CLF_HALF,
    _CLF_M,
    CLF_N_BUCKETS,
    STOPWORDS,
    words,
)

# ---------------------------------------------------------------- text.py


def word_shingles(col: Column, k: int = 3) -> Column:
    """``text.word_shingles`` as Column algebra — O(words²): the HOF
    re-evaluates the word split for every shingle."""
    w = words(col)
    n = F.size(w)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(w, i + 1, k), " "),
        )
    )


def language_best_struct(text_col: Column) -> Column:
    """ONE pass over the word array: a struct accumulator counts stopword
    hits for every language simultaneously; the aggregate's ``finish`` lambda
    does the argmax.  Returns struct<hits:int, lang:string> — max hits, ties
    broken by language code DESCENDING (struct max compares field-by-field)."""
    w = words(F.lower(text_col))
    langs = sorted(STOPWORDS)
    zero = F.struct(*[F.lit(0).alias(lang) for lang in langs])

    def merge(acc: Column, x: Column) -> Column:
        return F.struct(
            *[
                (acc[lang] + F.when(x.isin(*STOPWORDS[lang]), 1).otherwise(0)).alias(lang)
                for lang in langs
            ]
        )

    def finish(acc: Column) -> Column:
        return F.array_max(
            F.array(
                *[
                    F.struct(acc[lang].alias("hits"), F.lit(lang).alias("lang"))
                    for lang in langs
                ]
            )
        )

    return F.aggregate(w, zero, merge, finish)


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``text.language_id`` through the higher-order aggregate."""
    return (
        df.withColumn("_best", language_best_struct(F.col(text_col)))
        .select(
            "doc_id",
            F.when(F.col("_best.hits") > 0, F.col("_best.lang"))
            .otherwise(F.lit("und"))
            .alias("lang_pred"),
            F.col("_best.hits").cast("long").alias("lang_hits"),
        )
    )


def bigram_novelty(
    df: DataFrame, text_col: str = "text", common_df: int = 3
) -> DataFrame:
    """``text.bigram_novelty`` as the exploded stream: explode → (doc,
    bigram) groupBy → common set → probe → rollup."""
    per = (
        df.select(
            "doc_id", F.explode(text.word_shingles(F.col(text_col), 2)).alias("bigram")
        )
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    common = (
        per.groupBy("bigram")
        .agg(F.count("*").alias("dfreq"))
        .filter(F.col("dfreq") >= common_df)
        .select("bigram", F.lit(1).alias("_common"))
    )
    probed = per.join(F.broadcast(common), "bigram", "left")
    return (
        probed.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.count("*").alias("n_distinct"),
            F.sum(F.when(F.col("_common") == 1, F.col("cnt")).otherwise(0)).alias(
                "n_common"
            ),
            F.count(F.when(F.col("_common") == 1, 1)).alias("n_common_distinct"),
        )
    )


def _clf_bucket(x: Column) -> Column:
    """Feature string → bucket id: first 8 md5 hex chars (32 bits, signed-
    int64-portable) mod CLF_N_BUCKETS."""
    return F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long") % CLF_N_BUCKETS


def _clf_weight_of_bucket(b: Column) -> Column:
    return (b * F.lit(_CLF_A).cast("long") + _CLF_B) % _CLF_M - _CLF_HALF


def hash_classifier_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``text.hash_classifier_score`` as codegen md5 + a higher-order
    aggregate over the unigram ∪ bigram features."""
    t = F.col(text_col)
    w = words(t)
    n = F.size(w)
    feats = F.concat(w, word_shingles(t, 2))
    score = F.aggregate(
        F.transform(feats, lambda x: _clf_weight_of_bucket(_clf_bucket(x))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_feats = F.when(n >= 1, n * 2 - 1).otherwise(F.lit(0)).cast("long")
    return df.select(
        "doc_id",
        score.alias("clf_score"),
        n_feats.alias("n_feats"),
    ).withColumn("clf_ok", F.col("clf_score") >= 0)


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``text.repetition_stats`` as two exploded two-level aggregations
    joined back to the documents."""
    t = F.col(text_col)
    unigrams = (
        df.select("doc_id", F.explode(words(t)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count("*").alias("n_distinct_words"),
            F.max("cnt").alias("top_word_count"),
        )
    )
    bigrams = (
        df.select("doc_id", F.explode(text.word_shingles(t, 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_bigram_count"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        df.select("doc_id")
        .join(unigrams, "doc_id", "left")
        .join(bigrams, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", zero).alias("n_words"),
            F.coalesce("n_distinct_words", zero).alias("n_distinct_words"),
            F.coalesce("top_word_count", zero).alias("top_word_count"),
            F.coalesce("n_bigrams", zero).alias("n_bigrams"),
            F.coalesce("top_bigram_count", zero).alias("top_bigram_count"),
        )
    )


# ------------------------------------------------------------ curation.py


def quality_language_gate(
    df: DataFrame,
    text_col: str = "text",
    keep_langs: tuple = ("en",),
    min_words: int = 5,
    min_chars: int = 20,
) -> DataFrame:
    """``curation.quality_language_gate`` (no classifier floor) with the
    word count and language argmax from the higher-order aggregate."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_punct = F.regexp_count(t, F.lit(r"[!-/:-@\[-`{-~]"))
    staged = (
        df.withColumn("n_words", F.size(words(t)).cast("long"))
        .withColumn("_best", language_best_struct(t))
        .withColumn(
            "lang_pred",
            F.when(F.col("_best.hits") > 0, F.col("_best.lang")).otherwise(F.lit("und")),
        )
        .drop("_best")
    )
    quality_ok = (
        (F.col("n_words") >= min_words)
        & (n_chars >= min_chars)
        & (n_punct * 2 < F.greatest(n_chars, F.lit(1)))
    )
    return staged.filter(quality_ok).filter(F.col("lang_pred").isin(*keep_langs))


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    max_words: int = 64,
    stride: int | None = None,
) -> DataFrame:
    """``curation.chunk_documents`` as Column algebra: the HOF slice
    re-evaluates the word split per chunk — quadratic on pathological docs."""
    if stride is None:
        stride = max_words
    w = words(F.col(text_col))
    n = F.size(w)
    starts = F.when(
        n >= 1, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.floor(s / stride).cast("long").alias("chunk_id"),
            s.cast("long").alias("first_word"),
            F.least(F.lit(max_words), n - s).cast("long").alias("n_words"),
            F.array_join(F.slice(w, s + 1, max_words), " ").alias("chunk_text"),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.first_word", "c.n_words", "c.chunk_text")
    )


# --------------------------------------------------------- plans/curate.py


def canonical_window(todo: DataFrame) -> DataFrame:
    """``plans.curate.election_frames``' canonical rows from ONE window over
    md5(text): a single corpus shuffle, but every copy's full text moves
    into its duplicate group's single partition, so the slowest task grows
    with the largest group (planted-skew A/B in BASELINE.md r04)."""
    w = Window.partitionBy(F.md5("text"))
    return (
        todo.withColumn("_canon", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_canon"))
        .drop("_canon")
    )


# --------------------------------------------------------------- dedup.py


def _word_hash60(word: Column) -> Column:
    """First 60 bits of md5 as a long — same in DuckDB via
    ``('0x' || substr(md5(w),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(word), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """``dedup.simhash_arrow`` as explode → groupBy(doc, word) → one
    ``bits``-column aggregate; the ±1 sum is branch-free:
    sum(±cnt) > 0 ⟺ 2·sum(cnt·bit) > sum(cnt).  Docs with no words emit no
    exploded row and so drop out."""
    word_counts = (
        df.select("doc_id", F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", _word_hash60(F.col("w")))
    )
    bit_sums = word_counts.groupBy("doc_id").agg(
        *[
            F.sum(F.col("cnt") * F.expr(f"shiftright(h, {b}) & 1")).alias(f"s{b}")
            for b in range(bits)
        ],
        F.sum("cnt").alias("tot"),
    )
    fingerprint = None
    for b in range(bits):
        term = F.when(
            2 * F.col(f"s{b}") > F.col("tot"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select("doc_id", fingerprint.alias("simhash"))


def verify_jaccard(cand: DataFrame, sets: DataFrame, threshold_pct: int) -> DataFrame:
    """``dedup._verify_jaccard`` as the exploded candidate×token join +
    groupBy over the same ``dedup.token_sets`` frame."""
    dw = sets.select("doc_id", F.explode("ws").alias("w"))
    sizes = sets.select("doc_id", F.size("ws").cast("long").alias("n"))
    inter = (
        cand.join(dw.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(dw.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .filter(F.lit(100) * F.col("n_inter") >= F.lit(threshold_pct) * F.col("n_union"))
        .select("doc_a", "doc_b", "n_inter", "n_union")
    )


# ---------------------------------------------------------- similarity.py


def _int_dot(a: Column, b: Column) -> Column:
    """Σ floor(aᵢ·1e8)·floor(bᵢ·1e8) in int64 — order-independent, exact."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: similarity._int_val(x) * similarity._int_val(y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_nsq(a: Column) -> Column:
    return F.aggregate(
        a,
        F.lit(0).cast("long"),
        lambda acc, x: acc + similarity._int_val(x) * similarity._int_val(x),
    )


def cosine_exact(a: Column, b: Column) -> Column:
    """``similarity.cosine_exact_arrow`` as Column algebra (interpreted
    HOFs): exact int64 dot and norms, one double division at the end."""
    return _int_dot(a, b).cast("double") / (
        F.sqrt(_int_nsq(a).cast("double")) * F.sqrt(_int_nsq(b).cast("double"))
    )


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """``similarity.brute_force_topk`` as a broadcast cross join scored
    in-line by ``cosine_exact``, self-pairs dropped."""
    q_vec = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        embeddings.select("vec_id", F.col("embedding").alias("v_vec"))
        .crossJoin(F.broadcast(q_vec))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_exact(F.col("q_vec"), F.col("v_vec")).alias("cos_sim"),
        )
    )
    return similarity._rank_topk(scored, k)


def band_buckets(
    vec: Column,
    dim: int,
    bands: int = similarity.BANDS,
    rows_per_band: int = similarity.ROWS_PER_BAND,
) -> Column:
    """``similarity.lsh_band_buckets``' buckets as Column algebra:
    array<struct<band:int, bucket:long>>, one bucket id per band.
    Projection p = Σᵢ floor(vecᵢ·1e8)·signs(p)ᵢ is exact int64; bucket bit j
    of band b is (projection(b·r+j) > 0)."""

    def proj(p: int) -> Column:
        signs = F.array(*[F.lit(s) for s in similarity.plane_signs(p, dim)])
        return F.aggregate(
            F.zip_with(vec, signs, lambda x, s: similarity._int_val(x) * s.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    structs = []
    for b in range(bands):
        bucket = F.lit(0).cast("long")
        for j in range(rows_per_band):
            bucket = bucket + F.when(
                proj(b * rows_per_band + j) > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        structs.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return F.array(*structs)


def verify_pairs_exact(
    cand: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup tail of the join forms: fetch float vectors for CANDIDATE
    rows only, exact integer-cosine score, keep pairs ≥ threshold."""
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            similarity.cosine_exact_arrow(F.col("vec_a"), F.col("vec_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def cosine_near_dup_pairs_join(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
) -> DataFrame:
    """``similarity.cosine_near_dup_pairs`` as the r05 block-pair equi-join:
    sketch-hamming candidates materialized as rows, float vectors re-joined
    for the exact verify."""
    cand = similarity.sketch_near_dup_candidates(
        embeddings, threshold, id_col, vec_col, blocks
    )
    return verify_pairs_exact(cand, embeddings, threshold, id_col, vec_col)


def cosine_near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs from banded sign-LSH candidates (pairs
    sharing ≥1 band bucket; b=8/r=4 → ~40% candidate fraction on isotropic
    data), exact integer cosine verify."""
    dim = similarity.probe_dim(embeddings, vec_col)
    bb = similarity.lsh_band_buckets(embeddings, dim, id_col, vec_col)
    a = bb.select(F.col("id").alias("id_a"), "band", "bucket")
    b = bb.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return verify_pairs_exact(cand, embeddings, threshold, id_col, vec_col)
