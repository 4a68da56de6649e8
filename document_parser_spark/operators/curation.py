"""End-to-end corpus curation: the composed training-data pipeline a 100 TB
pretraining job runs — exact dedup → quality gate → language gate — as one
DataFrame chain.

Shuffle budget: ONE (the dedup window on md5(text)).  Quality and language
are pure row-wise projections, so they are computed as columns on the
canonical survivors directly — round 1 joined the quality/language
outputs back on doc_id, paying two needless shuffle joins (VERDICT.md
What's-wrong #7)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import exact_canonical
from .text import PUNCT_RX, STOPWORDS, java_words, language_words_arrow, quality_ok, words


def gopher_gate(df: DataFrame) -> DataFrame:
    """Gopher-style document quality gate (public heuristic family): keep a
    document iff word count, mean word length, stopword evidence, and
    top-word repetition all sit in the healthy band — 25 ≤ n ≤ 100,000
    words, mean word length in [3, 10], ≥ 2 stopword hits, top word ≤ 10 %
    of the words.  All comparisons are integer cross-multiplications
    (``3·n ≤ Σlen ≤ 10·n``, ``100·top ≤ 10·n``) so the gate is bit-identical
    in any engine.

    Shape: ONE explode → (doc, word) counts → ONE partial-aggregated groupBy
    computing every signal as a count-weighted sum — zero joins, one scan of
    the text (round 2 re-split the words row-wise for Σlen/stopwords while
    repetition_stats exploded the same words, paying a second full pass plus
    a join — VERDICT r02 What's-wrong #4).  Docs with zero words vanish in
    the explode, which the ``n_words ≥ 25`` gate implies anyway."""
    stats = (
        df.select("doc_id", F.explode(words(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.length("w")).alias("sum_word_len"),
            F.sum(
                F.when(F.lower(F.col("w")).isin(*STOPWORDS["en"]), F.col("cnt"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("stopword_hits"),
            F.max("cnt").alias("top_word_count"),
        )
    )
    n = F.col("n_words")
    keep = (
        (n >= 25)
        & (n <= 100_000)
        & (F.col("sum_word_len") >= 3 * n)
        & (F.col("sum_word_len") <= 10 * n)
        & (F.col("stopword_hits") >= 2)
        & (F.lit(100) * F.col("top_word_count") <= 10 * n)
    )
    return stats.filter(keep).select(
        "doc_id", "n_words", "sum_word_len", "stopword_hits", "top_word_count"
    )


def stratified_sample(
    df: DataFrame,
    rates_pct: dict,
    default_pct: int = 100,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash sampling per ``lang`` stratum: keep a document iff
    ``md5(salt:doc_id) % 100 < rate_pct(lang)``.

    Hash-based (not rand()) so the sample is REPRODUCIBLE across runs,
    partitionings, and engines — resampling a petabyte corpus must not
    depend on task scheduling.  The per-stratum rate is how a pretraining
    mix downweights over-represented languages/sources.  Pure row-wise
    filter: no shuffle, pushes below later stages."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(salt), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = F.lit(default_pct)
    for stratum, pct in sorted(rates_pct.items()):
        rate = F.when(F.col("lang") == stratum, F.lit(pct)).otherwise(rate)
    return df.withColumn("_bucket", bucket).filter(F.col("_bucket") < rate).drop("_bucket")


def pack_shards(df: DataFrame, budget_tokens: int, bucket_width: int = 4096) -> DataFrame:
    """Greedy sequential shard packing: within each ``lang`` class, walk
    documents in deterministic ``doc_id`` order and assign each to the
    shard where its first token lands (``floor(exclusive_cumsum / budget)``)
    — the sequence-packing step that turns a curated corpus into
    fixed-token-budget training shards.

    Scale shape: a naive ``Window.partitionBy(lang)`` cumsum puts an entire
    language through ONE reducer — a scale-killer when one class is most of
    the corpus.  This computes the exclusive cumulative sum in TWO levels:
    (1) intra-bucket window over (class, order_bucket) where
    ``order_bucket = doc_id div bucket_width`` (order-preserving), and
    (2) per-bucket totals rolled into bucket offsets by a window over the
    tiny (class, bucket) frame.  Both levels are exact integer arithmetic —
    the result is identical to the single-window formulation
    (tests/test_dedup.py asserts it) while the big window parallelizes
    across ~corpus/bucket_width reducers.  ``doc_id`` must cast to long
    (dense ids; for arbitrary keys range-partition first)."""
    base = df.select(
        "lang",
        F.col("doc_id").alias("_ord"),
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    ).withColumn("_bucket", F.floor(F.col("_ord").cast("long") / bucket_width))

    intra = (
        Window.partitionBy("lang", "_bucket")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = base.withColumn(
        "_before_in_bucket", F.coalesce(F.sum("n_tokens").over(intra), F.lit(0).cast("long"))
    )

    bucket_totals = base.groupBy("lang", "_bucket").agg(
        F.sum("n_tokens").alias("_bucket_total")
    )
    offs = (
        Window.partitionBy("lang")
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_offsets = bucket_totals.withColumn(
        "_offset", F.coalesce(F.sum("_bucket_total").over(offs), F.lit(0).cast("long"))
    ).select("lang", "_bucket", "_offset")

    cum_before = F.col("_offset") + F.col("_before_in_bucket")
    return (
        staged.join(bucket_offsets, on=["lang", "_bucket"])
        .withColumn("shard_id", F.floor(cum_before / budget_tokens).cast("long"))
        .select("lang", F.col("_ord").alias("doc_id"), "n_tokens", "shard_id")
    )


def curate_corpus(df: DataFrame, keep_langs: tuple = ("en",)) -> DataFrame:
    """(doc_id, text, …) → surviving docs with their curation signals.

    Keep a document iff it is (a) the canonical (min doc_id) copy of its
    exact-content group, (b) passes ``quality_language_gate`` with
    ``keep_langs``.  Signals match operators.text.text_stats / language_id
    exactly (same expressions, same oracle SQL).

    The election is ``dedup.exact_canonical``: one map-side-combined
    aggregate per md5, so viral duplicate groups never co-locate."""
    return quality_language_gate(exact_canonical(df), keep_langs=keep_langs).select(
        "doc_id", "n_words", "lang_pred"
    )


def decontamination_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    shingle_k: int = 5,
) -> DataFrame:
    """Benchmark decontamination scan (the standard pretraining gate — flag
    training documents sharing verbatim n-gram shingles with an eval set, as
    in the Gopher / GPT-3 contamination methodology, public papers):

      * benchmark shingles are DISTINCT and **broadcast** — eval sets are
        thousands-to-millions of shingles, tiny next to a 100 TB corpus, so
        the contamination probe is a map-side broadcast hash join per corpus
        shingle; the corpus is scanned ONCE, and the only corpus-sized
        shuffle is the (doc, shingle) dedup — the per-doc rollup then counts
        plain rows at that distinct grain (a countDistinct formulation
        compiles to an Expand that doubles the shingle stream before partial
        aggregation, and would probe the broadcast per occurrence instead of
        per distinct pair);
      * training docs already in the benchmark are excluded by anti-join on
        doc_id (they are contaminated by definition, not findings);
      * output is integer-exact: per flagged doc, the count of its DISTINCT
        shingles that appear anywhere in the benchmark, plus its own
        distinct-shingle total, so callers threshold on the exact ratio
        100*n_overlap >= pct*n_shingles downstream.

    Only docs with ≥1 overlapping shingle are returned (the contaminated
    set a pipeline quarantines)."""
    from .text import word_shingles

    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col("text"), shingle_k)).alias("shingle")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    bench_ids = benchmark.select("doc_id").distinct()
    # r06: the distinct (doc, shingle) grain via per-doc array_distinct —
    # deduped map-side inside each row, so the corpus shingle stream is
    # never shuffled; the only corpus-sized shuffle left is the per-doc
    # rollup, which partial-aggregates to ~a row per doc first.
    per = docs.join(bench_ids, "doc_id", "left_anti").select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), shingle_k))).alias(
            "shingle"
        ),
    )
    probed = per.join(F.broadcast(bench_sh), "shingle", "left")
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("_hit") == 1, 1)).alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)
        .select("doc_id", "n_shingles", "n_overlap")
    )


def repeated_ngram_spans(docs: DataFrame, window_k: int = 10, min_docs: int = 2) -> DataFrame:
    """Corpus-internal verbatim-passage detection (the exact-substring dedup
    germ, Lee et al. "Deduplicating Training Data Makes Language Models
    Better", public paper): every ``window_k``-word window whose content
    appears in ≥ ``min_docs`` DISTINCT documents is emitted with its 1-based
    word position — the span list a curation pipeline scrubs (boilerplate
    passages, licence blocks, templated text), complementary to whole-doc
    near-dup (a doc can be unique overall yet carry a viral paragraph).

    Scale shape: shingle explode → groupBy(window-md5) distinct-doc count
    (map-side combined) → equi join back on the hash — no pair join, no
    cross product.  The window frame feeds BOTH the count and the join
    side, so the explode subtree runs twice; caching it was measured at
    sf0.1 and is a wash warm (1.6 s both ways — the same verdict as the
    ngram (doc, word) persist A/B), so it is not cached.  The join side's
    physical strategy is left to AQE: broadcast when the repeated-hash set
    is small, shuffle hash join when a viral corpus makes it huge.  md5 window hashing keeps the DuckDB oracle exact."""
    from .text import word_shingles

    # r06: hash the window stream ONCE per doc into an array column; the
    # position stream (posexplode) and the per-doc DISTINCT window stream
    # (explode of array_distinct — map-side dedup) both fall out of it as
    # map-only passes, so the repeated-set aggregation needs a plain count
    # over the distinct (doc, window) grain instead of a two-phase
    # countDistinct over the full positional stream.
    warr = docs.select(
        "doc_id",
        F.transform(word_shingles(F.col("text"), window_k), F.md5).alias("warr"),
    )
    sh = warr.select(
        "doc_id",
        F.posexplode("warr").alias("pos0", "window_md5"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        "window_md5",
    )
    rep = (
        warr.select("doc_id", F.explode(F.array_distinct("warr")).alias("window_md5"))
        .groupBy("window_md5")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("window_md5")
    )
    return (
        sh.join(rep, "window_md5")
        .select("doc_id", "pos", "window_md5")
    )


def quality_language_gate(
    df: DataFrame, keep_langs: tuple = ("en",), clf_min: int | None = None
) -> DataFrame:
    """Map-only keep/drop gate shared by the batch curation pipeline
    (plans/curate.py) and its streaming twin (streaming/curate_stream.py):
    the ``text.quality_ok`` length + punctuation-density rule, n-gram
    language argmax
    (0 hits → "und"), and — when ``clf_min`` is set — the hashing-trick
    classifier score floor.  Pure projections and filters, no
    joins/windows/aggregates, so the SAME function is legal on a batch
    frame and on an unbounded streaming frame, and batch/stream outputs are
    byte-identical by construction (equality-gated in
    tests/test_streaming_curate.py).  Adds ``n_words`` (long) and
    ``lang_pred`` to the surviving rows.

    Language+word-count come from the one-pass Arrow
    ``text.language_words_arrow`` — measured r04 at 16 cores over 45k
    ~850-word docs, the interpreted higher-order aggregate adds +11.2 s
    where the Arrow pass adds +1.8 s (6×, word count included).  The
    pure-Column form is kept in tests/twins.py and equality-gated in
    tests/test_curate_run.py.  The punct count is ``regexp_count`` of
    ``text.PUNCT_RX`` (why not ``regexp_replace``: see there)."""
    t = F.col("text")
    staged = (
        df.withColumn("_lw", language_words_arrow(t))
        .withColumn("n_words", F.col("_lw.n_words"))
        .withColumn(
            "lang_pred",
            F.when(F.col("_lw.hits") > 0, F.col("_lw.lang")).otherwise(F.lit("und")),
        )
        .drop("_lw")
    )
    keep = quality_ok(F.col("n_words"), F.length(t), F.regexp_count(t, F.lit(PUNCT_RX)))
    gated = staged.filter(keep).filter(F.col("lang_pred").isin(*keep_langs))
    if clf_min is not None:
        from .text import _clf_score_arrow

        gated = gated.withColumn("_clf", _clf_score_arrow(t)).filter(
            F.col("_clf") >= clf_min
        ).drop("_clf")
    return gated


_CHUNK_UDFS: dict = {}


def chunk_documents(
    docs: DataFrame,
    max_words: int = 64,
    stride: int | None = None,
    passthrough: tuple = (),
) -> DataFrame:
    """Context-window chunking — the training-prep step that splits each
    document's word stream into model-window-sized pieces: chunk ``i`` covers
    words ``[i·stride, min(i·stride + max_words, n))`` (0-based).  The
    default ``stride = max_words`` gives disjoint chunks; ``stride <
    max_words`` gives the overlapping-window shape LLM pretraining uses so
    no context is lost at chunk boundaries.  Starts run while ``start < n``,
    so every word lands in ≥1 chunk and zero-word docs emit nothing.

    Output: one row per (doc, chunk): ``chunk_id`` (= start div stride),
    ``first_word`` (0-based), ``n_words`` (≤ max_words), ``chunk_text``,
    plus any ``passthrough`` input columns carried onto every chunk row
    (cheaper than a join back for partition keys etc.).  All integer
    arithmetic — oracle-exact.

    Scale shape: map-only — one Arrow pass builds the chunk array per doc
    (the pure-Column ``transform(sequence(...), slice(...))`` form in
    tests/twins.py is the cross-check, but HOF ``slice`` re-evaluates the
    word split per chunk: O(n²/stride) per doc — the word_shingles
    precedent) and ``explode`` flattens it; no shuffle, no join, and chunk
    rows inherit the input partitioning (downstream shard packing does its
    own keyed cumsum)."""
    if stride is None:
        stride = max_words
    if stride < 1 or max_words < 1:
        raise ValueError("max_words and stride must be >= 1")
    key = (max_words, stride)
    if key not in _CHUNK_UDFS:
        from pyspark.sql.types import (
            ArrayType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        mw, st = max_words, stride

        @F.pandas_udf(
            ArrayType(
                StructType(
                    [
                        StructField("chunk_id", LongType()),
                        StructField("first_word", LongType()),
                        StructField("n_words", LongType()),
                        StructField("chunk_text", StringType()),
                    ]
                )
            )
        )
        def chunk_udf(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                ws = java_words(t)
                n = len(ws)
                rows = []
                for i, s in enumerate(range(0, n, st)):
                    piece = ws[s : s + mw]
                    rows.append((i, s, len(piece), " ".join(piece)))
                out.append(rows)
            return pd.Series(out)

        _CHUNK_UDFS[key] = chunk_udf
    return (
        docs.select(
            "doc_id",
            *passthrough,
            F.explode(_CHUNK_UDFS[key](F.col("text"))).alias("c"),
        )
        .select(
            "doc_id",
            *passthrough,
            "c.chunk_id",
            "c.first_word",
            "c.n_words",
            "c.chunk_text",
        )
    )


def repeated_passage_intervals(
    docs: DataFrame, window_k: int = 10, min_docs: int = 2
) -> DataFrame:
    """MAXIMAL repeated passages: merge the per-position hits of
    ``repeated_ngram_spans`` into maximal word intervals per document — the
    actual scrub unit a curation pipeline cuts (a 60-word licence block is
    one interval, not 51 overlapping 10-word windows).  Classic
    gaps-and-islands: consecutive repeated window positions share the island
    key ``pos - row_number()``; each island is one maximal passage.

    Output per (doc, island): ``start_pos``/``end_pos`` (1-based positions
    of the first/last repeated window), ``n_windows`` (island size), and
    ``span_words = end_pos - start_pos + window_k`` (the passage length in
    words, since the last window covers ``end_pos .. end_pos+k-1``).  All
    integer arithmetic — oracle-exact in any engine.

    Scale shape: inherits the no-pair-join shape of ``repeated_ngram_spans``
    (explode → hash groupBy → equi join back), then ONE window partitioned
    by doc_id ordered by pos — per-document state only, no cross-document
    shuffle beyond the repartition the window itself needs.  Repeated-hit
    rows are a small fraction of the corpus (only windows shared across
    docs survive), so the window input is the scrub list, not the corpus."""
    spans = repeated_ngram_spans(docs, window_k=window_k, min_docs=min_docs).select(
        "doc_id", "pos"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = spans.withColumn(
        "island", F.col("pos") - F.row_number().over(w).cast("long")
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("start_pos"),
            F.max("pos").alias("end_pos"),
            F.count("*").alias("n_windows"),
        )
        .select(
            "doc_id",
            "start_pos",
            "end_pos",
            "n_windows",
            (F.col("end_pos") - F.col("start_pos") + F.lit(window_k).cast("long")).alias(
                "span_words"
            ),
        )
    )
