"""Text-analysis operators over a flat documents table
(doc_id, text, …) — the training-data-pipeline layer: token counting,
quality scoring, language ID, fingerprinting.

All pure Column algebra (whole-stage codegen; no Python in the hot path).
Counts and ratios are emitted as exact integers wherever possible so the
DuckDB oracle comparison is hash-stable; ratios derived from them are
double divisions of identical integers (bit-identical across engines).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Frozen stopword lists for the n-gram/stopword language heuristic.  These are
# deliberately tiny — the heuristic's value is its shape (per-language hit
# counting + deterministic argmax), not lexical coverage.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "with"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "des", "est", "un", "une", "pour", "dans"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "por", "para"),
}

_WORD_SPLIT = r"\s+"
#: BPE-ish tokenizer regex: word pieces, numbers, or single non-space symbols.
BPE_ISH_TOKEN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(col: Column) -> Column:
    """Whitespace word split with empty-string guard (split of '' yields [''])."""
    return F.filter(F.split(F.trim(col), _WORD_SPLIT), lambda w: w != "")


# Java-regex \s as an explicit class: Python's \s is unicode-wide (NBSP
# etc.) while Spark's and DuckDB's are ASCII — the Arrow UDFs must split
# EXACTLY like words()/the SQL oracles do.
_JAVA_WS_RX = re.compile("[ \t\n\x0b\f\r]+")


def java_words(text: str | None) -> list[str]:
    """The Python twin of ``words`` for the Arrow UDFs: ``text`` split on
    Java-regex whitespace runs, empty pieces dropped (None reads as "")."""
    return [w for w in _JAVA_WS_RX.split(text or "") if w]


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish token counts, char count, mean word length ×100
    as exact integer arithmetic."""
    t = F.col(text_col)
    w = words(t)
    return df.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_exact"),
        F.size(w).cast("long").alias("n_words"),
        F.regexp_count(t, F.lit(BPE_ISH_TOKEN)).cast("long").alias("n_tokens_bpeish"),
        F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).alias(
            "sum_word_len"
        ),
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / digit signals per document.

    Counts are exact longs; `quality_ok` is the boolean headline gate a
    training pipeline would filter on."""
    t = F.col(text_col)
    w = words(t)
    n_words = F.size(w)
    stop_hits = F.size(F.filter(w, lambda x: F.lower(x).isin(*STOPWORDS["en"])))
    # regexp_count, not length(regexp_replace(...)): identical integers,
    # but the replace materializes a stripped copy of every document
    # (measured r04: +18.9 s vs +0.7 s over 45k docs at 16 cores)
    n_punct = F.regexp_count(t, F.lit(r"[!-/:-@\[-`{-~]"))
    n_digits = F.regexp_count(t, F.lit(r"[0-9]"))
    n_chars = F.length(t)
    return df.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_exact"),
        n_words.cast("long").alias("n_words"),
        stop_hits.cast("long").alias("stopword_hits"),
        n_punct.cast("long").alias("punct_chars"),
        n_digits.cast("long").alias("digit_chars"),
        (
            (n_words >= 5)
            & (n_chars >= 20)
            & (n_punct * 2 < F.greatest(n_chars, F.lit(1)))
        ).alias("quality_ok"),
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """token_stats ∪ quality_scores in ONE map-only projection.

    The two families share the word split and char count; computing all
    eight signals in a single Project keeps one pass over the text (no join,
    no shuffle) — the shape a 100 TB curation scan actually wants.  Kept as
    the contract-query surface (`text_stats`); the narrower ``token_stats``/
    ``quality_scores`` remain for callers that want one family."""
    t = F.col(text_col)
    w = words(t)
    n_words = F.size(w)
    n_chars = F.length(t)
    stop_hits = F.size(F.filter(w, lambda x: F.lower(x).isin(*STOPWORDS["en"])))
    # regexp_count, not length(regexp_replace(...)): identical integers,
    # but the replace materializes a stripped copy of every document
    # (measured r04: +18.9 s vs +0.7 s over 45k docs at 16 cores)
    n_punct = F.regexp_count(t, F.lit(r"[!-/:-@\[-`{-~]"))
    n_digits = F.regexp_count(t, F.lit(r"[0-9]"))
    return df.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_exact"),
        n_words.cast("long").alias("n_words"),
        F.regexp_count(t, F.lit(BPE_ISH_TOKEN)).cast("long").alias("n_tokens_bpeish"),
        F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).alias(
            "sum_word_len"
        ),
        stop_hits.cast("long").alias("stopword_hits"),
        n_punct.cast("long").alias("punct_chars"),
        n_digits.cast("long").alias("digit_chars"),
        (
            (n_words >= 5)
            & (n_chars >= 20)
            & (n_punct * 2 < F.greatest(n_chars, F.lit(1)))
        ).alias("quality_ok"),
    )


def language_best_struct(text_col: Column) -> Column:
    """ONE pass over the word array: a struct accumulator counts stopword
    hits for every language simultaneously; the aggregate's ``finish`` lambda
    does the argmax, so the word split is evaluated exactly once per row
    (round 1 inlined the split into 4 per-language structs — ~4× the regex
    work, VERDICT.md What's-wrong #6).

    Returns struct<hits:int, lang:string> — max hits, ties broken by language
    code DESCENDING (struct max compares field-by-field)."""
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


_LANG_WORDS_UDF = None


def language_words_arrow(col: Column) -> Column:
    """Arrow-batched twin of ``language_best_struct`` PLUS the word count,
    in one pass: struct<hits:int, lang:string, n_words:long>.

    Measured r04 (16 cores, 45k ~850-word docs): the interpreted
    higher-order aggregate adds +11.2 s to the stage, this twin +1.8 s with
    the word count included.  It lowers the text once (C-speed), splits on
    the Java-``\\s`` class, folds the split through a ``Counter`` so each
    DISTINCT word pays ONE dict probe against a word→language-indices
    table, and argmaxes with the identical (hits, lang) struct-max
    tie-break (greatest hits, then greatest language code).  Byte-equal to
    the Column form on every corpus — equality-gated in
    tests/test_curate_run.py; the Column twin stays the oracled
    ``language_id`` query's form."""
    global _LANG_WORDS_UDF
    if _LANG_WORDS_UDF is None:
        from collections import Counter

        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        langs = sorted(STOPWORDS)
        word_langs: dict = {}
        for li, lang in enumerate(langs):
            for sw in STOPWORDS[lang]:
                word_langs.setdefault(sw, []).append(li)
        out_type = StructType(
            [
                StructField("hits", IntegerType()),
                StructField("lang", StringType()),
                StructField("n_words", LongType()),
            ]
        )
        get = word_langs.get
        nlang = len(langs)

        @F.pandas_udf(out_type)
        def lang_udf(texts: pd.Series) -> pd.DataFrame:
            hits_col, lang_col, n_col = [], [], []
            for t in texts:
                counts = Counter(java_words((t or "").lower()))
                per_lang = [0] * nlang
                for w, c in counts.items():
                    lis = get(w)
                    if lis is not None:
                        for li in lis:
                            per_lang[li] += c
                best_hits, best_lang = max(zip(per_lang, langs))
                hits_col.append(best_hits)
                lang_col.append(best_lang)
                n_col.append(sum(counts.values()))
            return pd.DataFrame(
                {
                    "hits": pd.Series(hits_col, dtype="int32"),
                    "lang": lang_col,
                    "n_words": pd.Series(n_col, dtype="int64"),
                }
            )

        _LANG_WORDS_UDF = lang_udf
    return _LANG_WORDS_UDF(col)


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic with deterministic argmax
    (max hits; ties broken by language code DESCENDING; 'und' when no hits).
    The SQL mirror is ``ORDER BY hits DESC, lang DESC LIMIT 1`` per doc.

    r06: scores through ``language_words_arrow`` (the byte-equal Arrow
    twin — the interpreted higher-order aggregate measured +11.2 s vs
    +1.8 s over 45k docs at 16 cores, r04) instead of the Column
    aggregate; ``language_id_column_twin`` keeps the HOF form for
    cross-checking."""
    return (
        df.withColumn("_best", language_words_arrow(F.col(text_col)))
        .select(
            "doc_id",
            F.when(F.col("_best.hits") > 0, F.col("_best.lang"))
            .otherwise(F.lit("und"))
            .alias("lang_pred"),
            F.col("_best.hits").cast("long").alias("lang_hits"),
        )
    )


def language_id_column_twin(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The interpreted higher-order-aggregate form — kept ONLY as the
    equality cross-check for the Arrow scoring pass."""
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


def fingerprints(df: DataFrame, text_col: str = "text", shingle_words: int = 3) -> DataFrame:
    """Document fingerprints: full-text md5 plus a rolling min-hash over word
    shingles (the winnowing-style representative hash).

    Explode + partial-aggregated groupBy instead of array expressions: the
    shingle array is materialized once (array exprs re-evaluate per consumer),
    and the min/count combine map-side — the 100 TB-friendly shape."""
    t = F.col(text_col)
    exploded = df.select(
        "doc_id",
        F.md5(t).alias("md5_full"),
        F.explode_outer(word_shingles(t, shingle_words)).alias("shingle"),
    )
    return exploded.groupBy("doc_id", "md5_full").agg(
        F.min(F.md5("shingle")).alias("min_shingle_md5"),
        F.count("shingle").alias("n_shingles"),
    ).select(
        "doc_id",
        "md5_full",
        F.substring("md5_full", 1, 8).alias("fp8"),
        "min_shingle_md5",
        "n_shingles",
    )


def bigram_novelty(
    df: DataFrame, text_col: str = "text", common_df: int = 3
) -> DataFrame:
    """Corpus-statistics quality proxy (the integer-exact analogue of the
    CCNet/RedPajama perplexity filter, public pipeline family): per document,
    how much of its word-bigram stream is CORPUS-COMMON vs novel.  A high
    common fraction reads like templated/boilerplate text (low LM
    perplexity); a low one like novel — or noisy — text (high perplexity).
    All outputs are integer counts (n_bigrams / n_distinct / n_common /
    n_common_distinct), so the filter ratio ``100·n_common ≥ pct·n_bigrams``
    is bit-identical in any engine.

    Scale shape: one bigram explode → ONE (doc, bigram) pre-aggregation that
    everything downstream reuses: document frequency is a plain ``count``
    over that distinct grain (no ``countDistinct``), the common set (df ≥
    ``common_df``) is the Zipf HEAD — few distinct TYPES even at corpus
    scale — so it BROADCASTS to a map-side probe of the (doc, bigram) pairs,
    and the per-doc rollup needs no distinct aggregates at all (``n_distinct``
    = row count at the pre-aggregated grain).  The naive formulation — two
    ``countDistinct`` in the doc rollup — compiles to an Expand that triples
    the exploded bigram stream before partial aggregation; this shape
    shuffles the distinct pairs once instead.  Docs with fewer than two
    words have no bigrams and drop out, exactly like the SQL mirror's
    generate_series producing no rows."""
    # r06: ONE Arrow pass (per-doc Counter) emits the (bigram, cnt) pairs at
    # the distinct grain map-side — the pre-aggregation that used to shuffle
    # the full exploded bigram stream.  Both consumers (common-set count and
    # the broadcast probe + per-doc rollup) read that map-only stream, and
    # every output falls out of the ONE rollup (n_bigrams = Σcnt,
    # n_distinct = row count at the distinct grain), so there is no second
    # rollup and no doc_id join.  The exploded-join formulation stays as
    # ``bigram_novelty_exploded_twin`` (equality test in tests/test_dedup.py).
    per = df.select(
        "doc_id", F.explode(_bigram_counts_arrow(F.col(text_col))).alias("bc")
    ).select("doc_id", F.col("bc.bg").alias("bigram"), F.col("bc.cnt").alias("cnt"))
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


_BIGRAM_COUNTS_UDF = None


def _bigram_counts_arrow(col: Column) -> Column:
    """array<struct<bg:string, cnt:long>> — the doc's DISTINCT word bigrams
    with their occurrence counts, one linear pass (byte-identical Java-\\s
    split twin; bigram text joined by a single space exactly like
    word_shingles(k=2)).  Empty array when the doc has < 2 words."""
    global _BIGRAM_COUNTS_UDF
    if _BIGRAM_COUNTS_UDF is None:
        from collections import Counter

        from pyspark.sql.types import (
            ArrayType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        out_type = ArrayType(
            StructType(
                [StructField("bg", StringType()), StructField("cnt", LongType())]
            )
        )

        @F.pandas_udf(out_type)
        def bigram_counts_udf(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                ws = java_words(t)
                if len(ws) < 2:
                    out.append([])
                    continue
                c = Counter(
                    a + " " + b for a, b in zip(ws, ws[1:])
                )
                out.append(list(c.items()))
            return pd.Series(out)

        _BIGRAM_COUNTS_UDF = bigram_counts_udf
    return _BIGRAM_COUNTS_UDF(col)


def bigram_novelty_exploded_twin(
    df: DataFrame, text_col: str = "text", common_df: int = 3
) -> DataFrame:
    """The exploded-stream formulation (explode → (doc, bigram) groupBy →
    common set → probe → rollup) — kept ONLY as the equality cross-check
    for the Arrow-counted pass."""
    per = (
        df.select(
            "doc_id", F.explode(word_shingles(F.col(text_col), 2)).alias("bigram")
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


#: Hashing-trick classifier dials (frozen — part of the oracle surface).
#: 2^18 feature buckets; weights in [-10, 10] via a Knuth multiplicative mix.
CLF_N_BUCKETS = 1 << 18
_CLF_A = 2654435761  # Knuth's 2^32 / phi multiplier (public constant)
_CLF_B = 97
_CLF_M = 21
_CLF_HALF = 10  # (M-1)/2 → weights centered on 0

_CLF_UDF = None


def _clf_bucket(x: Column) -> Column:
    """Feature string → bucket id: first 8 md5 hex chars (32 bits, signed-
    int64-portable per the repo-wide cap) mod CLF_N_BUCKETS."""
    return (
        F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long") % CLF_N_BUCKETS
    )


def _clf_weight_of_bucket(b: Column) -> Column:
    return (b * F.lit(_CLF_A).cast("long") + _CLF_B) % _CLF_M - _CLF_HALF


def synthetic_weight_table(spark, n_buckets: int = CLF_N_BUCKETS) -> DataFrame:
    """The deterministic default weight table as a (bucket, weight) frame —
    what a TRAINED fastText-style model would be loaded as.  2^18 rows ≈ 2 MB:
    broadcast-sized at any corpus scale."""
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        _clf_weight_of_bucket(F.col("id")).cast("long").alias("weight"),
    )


def hash_classifier_score(
    df: DataFrame, text_col: str = "text", weights: DataFrame | None = None
) -> DataFrame:
    """fastText-style hashing-trick linear classifier score per document —
    the architecture of the public LLM-pipeline quality filters (Joulin et
    al. 2016 "Bag of Tricks for Efficient Text Classification"; hashed
    features per Weinberger et al. 2009; the Wikipedia-vs-CommonCrawl
    quality-filter family): features are unigrams ∪ word bigrams, hashed
    into ``CLF_N_BUCKETS`` buckets; ``clf_score = Σ_features
    weight(bucket(f))`` counted WITH multiplicity; ``clf_ok = score ≥ 0``.
    All integer arithmetic (weights are ints in [-10, 10]), so the DuckDB
    oracle is hash-exact.

    Two plan shapes:

    - ``weights=None`` (default): the weight is a closed-form integer mix of
      the bucket id (the deterministic stand-in for a trained model), so the
      WHOLE score folds into one Arrow map pass — zero shuffle, zero join;
      the scale shape a 100 TB curation scan wants.  A pure-Column twin
      (``hash_classifier_score_column_twin``) is equality-gated in tests.
    - ``weights=`` a (bucket, weight) frame: explode features → broadcast
      hash join on bucket → one per-doc sum.  The weight table is ≤ 2 MB at
      2^18 buckets — always broadcast, so the only shuffle is the final
      doc_id aggregation.  This is the production seam for real trained
      weights; with the synthetic table it is equality-tested against the
      closed form.

    Docs with zero words score 0 on the map path and DROP on the join path
    (no feature rows) — the contract query consumes the ≥1-bigram grain
    where both agree."""
    t = F.col(text_col)
    n = F.size(words(t))
    n_feats = F.when(n >= 1, n * 2 - 1).otherwise(F.lit(0)).cast("long")
    if weights is None:
        return df.select(
            "doc_id",
            _clf_score_arrow(t).alias("clf_score"),
            n_feats.alias("n_feats"),
        ).withColumn("clf_ok", F.col("clf_score") >= 0)
    feats = df.select(
        "doc_id",
        F.explode(
            F.concat(words(t), word_shingles(t, 2))
        ).alias("f"),
    )
    scored = feats.select("doc_id", _clf_bucket(F.col("f")).alias("bucket")).join(
        F.broadcast(weights), "bucket", "left"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.coalesce("weight", F.lit(0))).cast("long").alias("clf_score"),
            F.count("*").alias("n_feats"),
        )
        .withColumn("clf_ok", F.col("clf_score") >= 0)
    )


def _clf_score_arrow(col: Column) -> Column:
    """Arrow-batched score: one linear pass per doc with a batch-level
    feature→weight cache (Zipfian token streams repeat heavily — the simhash
    batch-cache precedent).  md5 of the UTF-8 bytes matches Spark/DuckDB
    ``md5()`` exactly."""
    global _CLF_UDF
    if _CLF_UDF is None:
        import hashlib

        from pyspark.sql.types import LongType

        nb, a, b, m, half = CLF_N_BUCKETS, _CLF_A, _CLF_B, _CLF_M, _CLF_HALF

        @F.pandas_udf(LongType())
        def clf_udf(texts: pd.Series) -> pd.Series:
            cache: dict = {}

            def wgt(f):
                v = cache.get(f)
                if v is None:
                    h = int(hashlib.md5(f.encode("utf-8")).hexdigest()[:8], 16) % nb
                    v = (h * a + b) % m - half
                    cache[f] = v
                return v

            out = []
            for t in texts:
                ws = java_words(t)
                s = 0
                for x in ws:
                    s += wgt(x)
                for i in range(len(ws) - 1):
                    s += wgt(ws[i] + " " + ws[i + 1])
                out.append(s)
            return pd.Series(out, dtype="int64")

        _CLF_UDF = clf_udf
    return _CLF_UDF(col)


def hash_classifier_score_column_twin(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Pure-Column closed-form twin (codegen md5 + higher-order aggregate) —
    kept as the equality cross-check for the Arrow path, per the repo
    convention (interpreted HOF lambdas cost ~µs/element; the Arrow pass is
    the shipped default)."""
    t = F.col(text_col)
    w = words(t)
    n = F.size(w)
    feats = F.concat(w, word_shingles_column_twin(t, 2))
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


_REP_STATS_UDF = None


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: top-word fraction and
    top-bigram fraction as exact integers (numerator/denominator pairs — the
    training pipeline filters on e.g. ``top_word_count * 10 > n_words * 3``).

    r06: every output is derivable from the doc's own token stream, so the
    whole operator is ONE Arrow map pass (per-doc Counter — the pinned
    "per-document computations beat explode+groupBy" lesson): zero
    shuffles, no joins, where the explode twin paid two exploded
    two-level aggregations plus two left joins.  The split is the
    byte-identical Java-\\s twin used by word_shingles; the exploded shape
    stays as ``repetition_stats_column_twin`` with an equality gate in
    tests/test_dedup.py."""
    global _REP_STATS_UDF
    if _REP_STATS_UDF is None:
        from collections import Counter

        from pyspark.sql.types import LongType, StructField, StructType

        fields = [
            "n_words",
            "n_distinct_words",
            "top_word_count",
            "n_bigrams",
            "top_bigram_count",
        ]

        @F.pandas_udf(StructType([StructField(f, LongType()) for f in fields]))
        def rep_udf(texts: pd.Series) -> pd.DataFrame:
            rows = []
            for t in texts:
                ws = java_words(t)
                if not ws:
                    rows.append((0, 0, 0, 0, 0))
                    continue
                wc = Counter(ws)
                if len(ws) > 1:
                    bc = Counter(zip(ws, ws[1:]))
                    nb, tb = len(ws) - 1, max(bc.values())
                else:
                    nb, tb = 0, 0
                rows.append((len(ws), len(wc), max(wc.values()), nb, tb))
            return pd.DataFrame(rows, columns=fields)

        _REP_STATS_UDF = rep_udf
    return df.select("doc_id", _REP_STATS_UDF(F.col(text_col)).alias("_r")).select(
        "doc_id", "_r.*"
    )


def repetition_stats_column_twin(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The exploded two-level-aggregation formulation — kept ONLY as the
    equality cross-check for the Arrow pass (zero-shuffle map pass above)."""
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
        df.select("doc_id", F.explode(word_shingles(t, 2)).alias("bg"))
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


#: PII patterns kept to the Java-regex ∩ RE2 common subset so the DuckDB
#: oracle is byte-identical.  URLs scrub FIRST (an URL userinfo section
#: would otherwise leave an email-shaped remnant).
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RX = r"https?://[^\s]+"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails and URLs with typed placeholders; report match counts.
    Pure Column regex — codegen, no UDF."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, URL_RX, "<URL>"), EMAIL_RX, "<EMAIL>"
    )
    return df.select(
        "doc_id",
        F.regexp_count(t, F.lit(URL_RX)).cast("long").alias("n_urls"),
        F.regexp_count(t, F.lit(EMAIL_RX)).cast("long").alias("n_emails"),
        scrubbed.alias("scrubbed"),
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Integer-exact tf-idf keyword extraction: the top-``k`` most salient
    terms per document by ``score = tf * ((N * scale) DIV df)`` — term
    frequency times a floor-scaled inverse document frequency, all BIGINT
    (the classic log-idf is float-unstable across engines; a scaled
    reciprocal preserves the ranking semantics salience needs while keeping
    the DuckDB oracle hash-exact).  Ties break by term ascending so the
    rank is deterministic.

    Scale shape: one word explode feeds BOTH the per-(doc, term) tf groupBy
    and the per-term distinct-doc df groupBy (map-side combined); the corpus
    size joins in as a broadcast 1-row aggregate (no driver-side count
    action); the final per-doc top-k is a rank window partitioned by
    doc_id — no pair joins anywhere, every shuffle keyed and combinable.
    """
    from pyspark.sql import Window

    # r06: document frequency from the map-side-distinct per-doc word set
    # (explode of array_distinct — no dedup shuffle, plain count instead of
    # a two-phase countDistinct over the full token stream).
    wa = df.select("doc_id", words(F.col(text_col)).alias("wa"))
    w = wa.select("doc_id", F.explode("wa").alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = (
        wa.select(F.explode(F.array_distinct("wa")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    total = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .join(F.broadcast(total))
        .withColumn("score", F.expr(f"tf * ((n_docs * {int(scale)}) div df)"))
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


_SHINGLE_UDFS: dict = {}


def word_shingles(col: Column, k: int = 3) -> Column:
    """Consecutive k-word shingles joined by a single space (empty array when
    the doc has fewer than k words).

    Arrow-batched: the obvious Column formulation
    (``transform(sequence(0, n-k), i -> array_join(slice(w, i+1, k)))``)
    re-evaluates the WHOLE word split for every element — higher-order
    lambdas don't share subexpressions — making shingling O(words²) per
    document.  Harmless at 200 words, a stall at 50k (pathological web
    docs).  The UDF is one linear pass per doc; outputs are byte-identical
    (ASCII-whitespace split, exactly Spark's ``split(trim(x), '\\s+')``) —
    tests/test_dedup.py asserts equality against the Column twin."""
    if k not in _SHINGLE_UDFS:
        from pyspark.sql.types import ArrayType, StringType

        def make(kk: int):
            @F.pandas_udf(ArrayType(StringType()))
            def shingle_udf(texts: pd.Series) -> pd.Series:
                out = []
                for t in texts:
                    ws = java_words(t)
                    if len(ws) < kk:
                        out.append([])
                    else:
                        out.append(
                            [" ".join(ws[i : i + kk]) for i in range(len(ws) - kk + 1)]
                        )
                return pd.Series(out)

            return shingle_udf

        _SHINGLE_UDFS[k] = make(k)
    return _SHINGLE_UDFS[k](col)


def word_shingles_column_twin(col: Column, k: int = 3) -> Column:
    """The pure-Column formulation — O(words²), kept ONLY as the equality
    cross-check for the Arrow path (and for plans that must stay UDF-free
    on provably small text)."""
    w = words(col)
    n = F.size(w)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(w, i + 1, k), " "),
        )
    )
