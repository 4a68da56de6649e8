"""Text-analysis operators over a flat documents table
(doc_id, text, …) — the training-data-pipeline layer: token counting,
quality scoring, language ID, fingerprinting.

Column algebra (whole-stage codegen) wherever a Column form is cheap; the
per-document token passes an interpreted higher-order lambda would make
slow run as one Arrow pandas_udf each (their Column forms are kept in
tests/twins.py for cross-checking).  Counts and ratios are emitted as exact integers wherever possible so the
DuckDB oracle comparison is hash-stable; ratios derived from them are
double divisions of identical integers (bit-identical across engines).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

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


#: ASCII punctuation class counted by the quality rule.  regexp_count, not
#: length(regexp_replace(...)): identical integers, but the replace
#: materializes a stripped copy of every document (measured r04: +18.9 s vs
#: +0.7 s over 45k docs at 16 cores)
PUNCT_RX = r"[!-/:-@\[-`{-~]"


def quality_ok(n_words: Column, n_chars: Column, n_punct: Column) -> Column:
    """The one document quality rule shared by ``text_stats`` and the
    curation gate: at least 5 words, at least 20 chars, and punctuation under
    half of the chars."""
    return (n_words >= 5) & (n_chars >= 20) & (n_punct * 2 < F.greatest(n_chars, F.lit(1)))


def text_stats(df: DataFrame) -> DataFrame:
    """Token counts and quality signals in ONE map-only projection.

    The token and quality families share the word split and char count;
    computing all eight signals in a single Project keeps one pass over the
    text (no join, no shuffle) — the shape a 100 TB curation scan actually
    wants.  `quality_ok` is the boolean headline gate a training pipeline
    would filter on."""
    t = F.col("text")
    w = words(t)
    n_words = F.size(w)
    n_chars = F.length(t)
    stop_hits = F.size(F.filter(w, lambda x: F.lower(x).isin(*STOPWORDS["en"])))
    n_punct = F.regexp_count(t, F.lit(PUNCT_RX))
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
        quality_ok(n_words, n_chars, n_punct).alias("quality_ok"),
    )


_LANGS = sorted(STOPWORDS)
# word → indices of the languages whose stopword list holds it
_WORD_LANGS = {
    w: [li for li, lang in enumerate(_LANGS) if w in STOPWORDS[lang]]
    for ws in STOPWORDS.values()
    for w in ws
}


@F.pandas_udf(
    StructType(
        [
            StructField("hits", IntegerType()),
            StructField("lang", StringType()),
            StructField("n_words", LongType()),
        ]
    )
)
def language_words_arrow(texts: pd.Series) -> pd.DataFrame:
    """Stopword-hit language argmax PLUS the word count, in one Arrow pass:
    struct<hits:int, lang:string, n_words:long>.

    Measured r04 (16 cores, 45k ~850-word docs): an interpreted
    higher-order aggregate over the word array adds +11.2 s to the stage,
    this pass +1.8 s with the word count included.  It lowers the text once
    (C-speed), splits on the Java-``\\s`` class, folds the split through a
    ``Counter`` so each DISTINCT word pays ONE dict probe against a
    word→language-indices table, and argmaxes with a (hits, lang) struct-max
    tie-break (greatest hits, then greatest language code).  Byte-equal to
    the Column-aggregate form in tests/twins.py — equality-gated in
    tests/test_curate_run.py."""
    hits_col, lang_col, n_col = [], [], []
    for t in texts:
        counts = Counter(java_words((t or "").lower()))
        per_lang = [0] * len(_LANGS)
        for w, c in counts.items():
            lis = _WORD_LANGS.get(w)
            if lis is not None:
                for li in lis:
                    per_lang[li] += c
        best_hits, best_lang = max(zip(per_lang, _LANGS))
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


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-hit language heuristic with deterministic argmax
    (max hits; ties broken by language code DESCENDING; 'und' when no hits).
    The SQL mirror is ``ORDER BY hits DESC, lang DESC LIMIT 1`` per doc.

    r06: scores through ``language_words_arrow`` (the interpreted
    higher-order aggregate measured +11.2 s vs +1.8 s over 45k docs at 16
    cores, r04); the HOF form is kept in tests/twins.py for
    cross-checking."""
    return (
        df.withColumn("_best", language_words_arrow(F.col("text")))
        .select(
            "doc_id",
            F.when(F.col("_best.hits") > 0, F.col("_best.lang"))
            .otherwise(F.lit("und"))
            .alias("lang_pred"),
            F.col("_best.hits").cast("long").alias("lang_hits"),
        )
    )


def fingerprints(df: DataFrame, shingle_words: int = 3) -> DataFrame:
    """Document fingerprints: full-text md5 plus a rolling min-hash over word
    shingles (the winnowing-style representative hash).

    Explode + partial-aggregated groupBy instead of array expressions: the
    shingle array is materialized once (array exprs re-evaluate per consumer),
    and the min/count combine map-side — the 100 TB-friendly shape."""
    t = F.col("text")
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


def bigram_novelty(df: DataFrame, common_df: int = 3) -> DataFrame:
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
    # rollup and no doc_id join.  The exploded-join formulation is kept in
    # tests/twins.py (equality test in tests/test_dedup.py).
    per = df.select(
        "doc_id", F.explode(_bigram_counts_arrow(F.col("text"))).alias("bc")
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


@F.pandas_udf(
    ArrayType(StructType([StructField("bg", StringType()), StructField("cnt", LongType())]))
)
def _bigram_counts_arrow(texts: pd.Series) -> pd.Series:
    """array<struct<bg:string, cnt:long>> — the doc's DISTINCT word bigrams
    with their occurrence counts, one linear pass (byte-identical Java-\\s
    split; bigram text joined by a single space exactly like
    word_shingles(k=2)).  Empty array when the doc has < 2 words."""
    out = []
    for t in texts:
        ws = java_words(t)
        if len(ws) < 2:
            out.append([])
            continue
        out.append(list(Counter(a + " " + b for a, b in zip(ws, ws[1:])).items()))
    return pd.Series(out)


#: Hashing-trick classifier dials (frozen — part of the oracle surface).
#: 2^18 feature buckets; weights in [-10, 10] via a Knuth multiplicative mix.
CLF_N_BUCKETS = 1 << 18
_CLF_A = 2654435761  # Knuth's 2^32 / phi multiplier (public constant)
_CLF_B = 97
_CLF_M = 21
_CLF_HALF = 10  # (M-1)/2 → weights centered on 0


def hash_classifier_score(df: DataFrame) -> DataFrame:
    """fastText-style hashing-trick linear classifier score per document —
    the architecture of the public LLM-pipeline quality filters (Joulin et
    al. 2016 "Bag of Tricks for Efficient Text Classification"; hashed
    features per Weinberger et al. 2009; the Wikipedia-vs-CommonCrawl
    quality-filter family): features are unigrams ∪ word bigrams, hashed
    into ``CLF_N_BUCKETS`` buckets; ``clf_score = Σ_features
    weight(bucket(f))`` counted WITH multiplicity; ``clf_ok = score ≥ 0``.
    All integer arithmetic (weights are ints in [-10, 10]), so the DuckDB
    oracle is hash-exact.

    The weight is a closed-form integer mix of the bucket id (the
    deterministic stand-in for a trained model), so the WHOLE score folds
    into one Arrow map pass — zero shuffle, zero join; the scale shape a
    100 TB curation scan wants.  A pure-Column twin in tests/twins.py is
    equality-gated in tests/test_dedup.py.  Docs with zero words score 0."""
    t = F.col("text")
    n = F.size(words(t))
    n_feats = F.when(n >= 1, n * 2 - 1).otherwise(F.lit(0)).cast("long")
    return df.select(
        "doc_id",
        _clf_score_arrow(t).alias("clf_score"),
        n_feats.alias("n_feats"),
    ).withColumn("clf_ok", F.col("clf_score") >= 0)


@F.pandas_udf(LongType())
def _clf_score_arrow(texts: pd.Series) -> pd.Series:
    """Arrow-batched score: one linear pass per doc with a batch-level
    feature→weight cache (Zipfian token streams repeat heavily — the simhash
    batch-cache precedent).  md5 of the UTF-8 bytes matches Spark/DuckDB
    ``md5()`` exactly."""
    cache: dict = {}

    def wgt(f):
        v = cache.get(f)
        if v is None:
            h = int(hashlib.md5(f.encode("utf-8")).hexdigest()[:8], 16) % CLF_N_BUCKETS
            v = (h * _CLF_A + _CLF_B) % _CLF_M - _CLF_HALF
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


_REP_FIELDS = ["n_words", "n_distinct_words", "top_word_count", "n_bigrams", "top_bigram_count"]


@F.pandas_udf(StructType([StructField(f, LongType()) for f in _REP_FIELDS]))
def _rep_stats_udf(texts: pd.Series) -> pd.DataFrame:
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
    return pd.DataFrame(rows, columns=_REP_FIELDS)


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: top-word fraction and
    top-bigram fraction as exact integers (numerator/denominator pairs — the
    training pipeline filters on e.g. ``top_word_count * 10 > n_words * 3``).

    r06: every output is derivable from the doc's own token stream, so the
    whole operator is ONE Arrow map pass (per-doc Counter — the pinned
    "per-document computations beat explode+groupBy" lesson): zero
    shuffles, no joins, where the explode form paid two exploded
    two-level aggregations plus two left joins.  The split is the
    byte-identical Java-\\s one used by word_shingles; the exploded shape
    is kept in tests/twins.py with an equality gate in
    tests/test_dedup.py."""
    return df.select("doc_id", _rep_stats_udf(F.col("text")).alias("_r")).select(
        "doc_id", "_r.*"
    )


#: PII patterns kept to the Java-regex ∩ RE2 common subset so the DuckDB
#: oracle is byte-identical.  URLs scrub FIRST (an URL userinfo section
#: would otherwise leave an email-shaped remnant).
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RX = r"https?://[^\s]+"


def scrub_pii(df: DataFrame) -> DataFrame:
    """Mask emails and URLs with typed placeholders; report match counts.
    Pure Column regex — codegen, no UDF."""
    t = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, URL_RX, "<URL>"), EMAIL_RX, "<EMAIL>"
    )
    return df.select(
        "doc_id",
        F.regexp_count(t, F.lit(URL_RX)).cast("long").alias("n_urls"),
        F.regexp_count(t, F.lit(EMAIL_RX)).cast("long").alias("n_emails"),
        scrubbed.alias("scrubbed"),
    )


def tfidf_topk(df: DataFrame, k: int = 5, scale: int = 1_000_000) -> DataFrame:
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
    wa = df.select("doc_id", words(F.col("text")).alias("wa"))
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
    tests/test_dedup.py asserts equality against the Column form kept in
    tests/twins.py."""
    if k not in _SHINGLE_UDFS:

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
