"""Dedup-operator semantics: prefix-filtered n-gram Jaccard must equal the
exhaustive definition exactly; banded MinHash must find verified near-dups
with exact integer set arithmetic."""

import itertools

import pytest
from pyspark.sql import functions as F

import twins
from document_parser_spark.operators import dedup

DOCS = [
    # (doc_id, lang, source, text)
    (1, "en", "web", "alpha beta gamma delta epsilon zeta"),
    (2, "en", "web", "alpha beta gamma delta epsilon eta"),      # ~0.71 vs 1
    (3, "en", "web", "the the the the completely different words here"),
    (4, "en", "web", "the unrelated body of text with shared stopword only"),
    (5, "en", "web", "alpha beta gamma delta epsilon zeta"),     # exact dup of 1
    (6, "fr", "web", "alpha beta gamma delta epsilon zeta"),     # other block
    (7, "en", "pdf", "alpha beta gamma delta epsilon zeta"),     # other block
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, lang string, source string, text string")


def _exhaustive_pairs(threshold_pct):
    """Brute-force oracle: distinct-word Jaccard within (lang, source) blocks."""
    out = []
    for (ida, la, sa, ta), (idb, lb, sb, tb) in itertools.combinations(DOCS, 2):
        if (la, sa) != (lb, sb):
            continue
        a, b = set(ta.split()), set(tb.split())
        inter, union = len(a & b), len(a | b)
        if 100 * inter >= threshold_pct * union:
            lo, hi = min(ida, idb), max(ida, idb)
            out.append((lo, hi, inter, union))
    return sorted(out)


@pytest.mark.parametrize("threshold", [50, 80])
def test_prefix_filter_equals_exhaustive(docs, threshold):
    got = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"], r["n_union"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold_pct=threshold).collect()
    )
    assert got == _exhaustive_pairs(threshold)


@pytest.mark.parametrize("ngram_n", [1, 3])
def test_array_verify_equals_explode_twin(docs, ngram_n):
    """r06: the array_intersect verify (one row per doc, broadcastable token
    table, single-reference filter) must return EXACTLY the exploded
    candidate×token join's rows (tests/twins.py) — same pairs, same
    n_inter/n_union."""
    key = lambda rows: sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"], r["n_union"]) for r in rows
    )
    arr = key(
        dedup.ngram_jaccard_pairs(docs, threshold_pct=50, ngram_n=ngram_n).collect()
    )
    exp = key(
        twins.ngram_jaccard_pairs(docs, threshold_pct=50, ngram_n=ngram_n).collect()
    )
    assert arr == exp


def test_repetition_stats_arrow_equals_column_twin(spark):
    """r06: the one-pass Arrow repetition stats must equal the exploded
    two-level-aggregation twin, including 0-word/1-word/null-text edges."""
    from document_parser_spark.operators import text as text_ops
    from document_parser_spark.sources.session import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(text_ops.repetition_stats(d)) == key(
        twins.repetition_stats(d)
    )
    edges = spark.createDataFrame(
        [(1, ""), (2, None), (3, "one"), (4, "a a b"), (5, "  x \t y\ny  x x  ")],
        "doc_id long, text string",
    )
    assert key(text_ops.repetition_stats(edges)) == key(
        twins.repetition_stats(edges)
    )


def test_bigram_novelty_arrow_equals_exploded_twin(spark):
    """r06: the Arrow-counted (bigram, cnt) novelty pass must equal the
    exploded-stream twin, including <2-word and null-text drop-outs."""
    from document_parser_spark.operators import text as text_ops
    from document_parser_spark.sources.session import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(text_ops.bigram_novelty(d, common_df=3)) == key(
        twins.bigram_novelty(d, common_df=3)
    )
    edges = spark.createDataFrame(
        [(1, ""), (2, None), (3, "one"), (4, "a b a b a"), (5, " x  y\tx y ")],
        "doc_id long, text string",
    )
    assert key(text_ops.bigram_novelty(edges, common_df=2)) == key(
        twins.bigram_novelty(edges, common_df=2)
    )


def test_minhash_verify_array_equals_explode_twin(spark):
    """r06: the shared shingle-Jaccard verify behind minhash_near_dup_pairs
    must give identical rows through the array_intersect path and the
    exploded candidate×shingle join."""
    from document_parser_spark.sources.session import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    cand = dedup.minhash_candidate_pairs(dedup.minhash_signatures(d, shingle_k=5))
    key = lambda df: sorted(tuple(r) for r in df.collect())
    arr = key(dedup._verify_jaccard(cand, d, "text", 5, 50))
    exp = key(twins.verify_jaccard(cand, d, "text", 5, 50))
    assert arr == exp and len(arr) > 0


def test_hot_word_only_pairs_below_threshold_excluded(docs):
    """Docs 3 and 4 share only 'the' (J well under 50%) — must not pair,
    and exact dup (1,5) must pair with J=1."""
    pairs = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold_pct=50).collect()
    }
    assert (3, 4) not in pairs
    assert pairs[(1, 5)][0] == pairs[(1, 5)][1]  # identical word sets


def test_minhash_near_dup_verified(spark):
    base = "one two three four five six seven eight nine ten"
    rows = [
        (10, base),
        (11, base),                                  # exact dup → J=1
        (12, base + " eleven"),                      # near dup (8/9 shingles k=3)
        (13, "totally different content with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.minhash_near_dup_pairs(df, shingle_k=3, threshold_pct=50).collect()
    }
    assert (10, 11) in out and out[(10, 11)][0] == out[(10, 11)][1]
    assert (10, 12) in out  # 8 shared shingles of 9 → J = 8/10 ≥ 0.5
    assert all(13 not in pair for pair in out)
    # every emitted pair satisfies the integer threshold by construction
    assert all(100 * i >= 50 * u for i, u in out.values())


def test_minhash_signature_shape(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df, shingle_k=3).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r["doc_id"], {})[r["band"]] = r["sig"]
    assert set(by_doc[1]) == {0, 1, 2, 3}  # 8 hashes / r=2 → 4 bands
    assert by_doc[1] == by_doc[2]  # identical text → identical band sigs


def test_duplicate_clusters_chain(spark):
    """A 4-node chain needs multiple propagation rounds to reach the global
    min label; two disjoint components must keep separate labels."""
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_simhash_arrow_equals_column_twin(spark):
    """The zero-shuffle Arrow fingerprint must be byte-identical to the
    explode+aggregate column path, including dropping docs with no words
    (empty / whitespace-only text) exactly like the explode does."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),
            (4, "   \t\n  "),
            (5, "unicode wörds détente naïve unicode wörds"),
            (6, "one"),
        ],
        "doc_id long, text string",
    )
    col = {r["doc_id"]: r["simhash"] for r in twins.simhash(df).collect()}
    arr = {r["doc_id"]: r["simhash"] for r in dedup.simhash_arrow(df).collect()}
    assert col == arr
    assert 3 not in arr and 4 not in arr  # wordless docs dropped by BOTH paths
    assert set(arr) == {1, 2, 5, 6}


def _union_find_labels(edges):
    """Pure-Python ground truth: every node of an edge list labeled with the
    minimum node of its connected component."""
    parent = {n: n for e in edges for n in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_duplicate_clusters_star_equals_propagation(spark):
    """The large/small-star labeling must equal the pure-Python union-find
    ground truth on a multi-component graph with shared-node merges (1-2-3
    joins 3-7, star center 20, plus an isolated pair)."""
    edges = [(1, 2), (2, 3), (7, 3), (20, 21), (20, 22), (20, 23), (40, 41)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert star == _union_find_labels(edges)
    assert star[7] == 1 and star[23] == 20 and star[41] == 40


def test_duplicate_clusters_deep_chain_beyond_diameter_bound(spark):
    """A 64-node chain (diameter 63) would need 63 per-hop label-propagation
    rounds, but the alternating star rounds converge in O(log n): the star
    variant labels the whole chain with the global min."""
    chain = [(i, i + 1) for i in range(1, 64)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {i: 1 for i in range(1, 65)}


def test_duplicate_clusters_random_graph_vs_reference(spark):
    """Seeded random graph: star labeling must equal a pure-Python
    union-find ground truth."""
    import random

    rng = random.Random(42)
    nodes = list(range(100))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert star == _union_find_labels(edges)


def test_pack_shards_budget_property(spark):
    """Greedy packing: a shard only exceeds the budget by its LAST document
    (each doc goes to the shard where its first token lands), and shard ids
    are contiguous from 0 within each partition class."""
    from document_parser_spark.operators.curation import pack_shards

    rows = [(i, "en", "w " * (50 + i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = pack_shards(df, budget_tokens=300).collect()
    shards = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        shards.setdefault(r["shard_id"], []).append(r["n_tokens"])
    assert sorted(shards) == list(range(len(shards)))
    for toks in shards.values():
        assert sum(toks) - toks[-1] < 300  # without its last doc, under budget


def test_stratified_sample_deterministic(spark):
    from document_parser_spark.operators.curation import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(200)], "doc_id long, lang string"
    )
    a = {r["doc_id"] for r in stratified_sample(df, {"en": 50}, default_pct=10).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, {"en": 50}, default_pct=10).collect()}
    assert a == b and 0 < len(a) < 200
    c = {r["doc_id"] for r in stratified_sample(df, {"en": 50}, default_pct=10, salt="other").collect()}
    assert c != a  # different salt, different (still deterministic) sample


def test_pack_shards_two_level_equals_single_window(spark):
    """The bucketed two-level cumsum must reproduce the naive one-window
    formulation exactly (small bucket width forces many buckets)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from document_parser_spark.operators.curation import pack_shards
    from document_parser_spark.operators.text import words

    rows = [(i, "en" if i % 3 else "fr", "tok " * (11 + (i * 7) % 90)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    got = {
        (r["lang"], r["doc_id"]): (r["n_tokens"], r["shard_id"])
        for r in pack_shards(df, budget_tokens=500, bucket_width=16).collect()
    }
    w = (
        Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = (
        df.withColumn("n_tokens", F.size(words(F.col("text"))).cast("long"))
        .withColumn(
            "shard_id",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")) / 500
            ).cast("long"),
        )
    )
    want = {
        (r["lang"], r["doc_id"]): (r["n_tokens"], r["shard_id"]) for r in naive.collect()
    }
    assert got == want


def test_word_shingles_arrow_equals_column_twin(spark):
    """The linear Arrow shingle path must equal the O(n²) Column formulation
    byte-for-byte (incl. tabs/CRLF/unicode-ish whitespace edge docs)."""
    from document_parser_spark.operators.text import word_shingles

    rows = [
        (1, "one two three four five"),
        (2, "short"),
        (3, ""),
        (4, "  padded   with\tmixed\nwhitespace runs  "),
        (5, "a b c d"),  # NBSP is NOT a separator for Java/RE2 \s
        (6, "x " * 3000),     # wide doc: linear path must stay fast
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["s"] for r in df.select("doc_id", word_shingles(F.col("text"), 3).alias("s")).collect()}
    want = {r["doc_id"]: r["s"] for r in df.select("doc_id", twins.word_shingles(F.col("text"), 3).alias("s")).collect()}
    assert got == want
    assert got[5] == ["a b c d"][0:0] + ["a b c d"] if False else got[5] == want[5]
    assert len(got[6]) == 2998


def test_decontamination_overlap_semantics(spark):
    """Docs sharing a 3-gram with the benchmark are flagged with exact
    distinct-shingle counts; benchmark members and clean docs are absent."""
    from document_parser_spark.operators.curation import decontamination_overlap

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "a1 b1 the quick brown fox c1"),   # shares 2 shingles
            (2, "totally unrelated words here now"),
            (3, "the quick brown"),                 # shares exactly 1
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"])
        for r in decontamination_overlap(train, bench, shingle_k=3).collect()
    }
    # doc 1: shingles of 7 words = 5 distinct; overlaps 'the quick brown' and
    # 'quick brown fox'.  doc 3: 1 shingle, 1 overlap.  doc 2: clean, absent.
    assert rows == {1: (5, 2), 3: (1, 1)}


def _incremental_frames(spark):
    """(new shard, corpus) with disjoint doc_ids: one old x old near-dup
    (20, 21) and one new x old near-dup (30 vs 20/21)."""
    base = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(20, base), (21, base), (22, "nothing in common with anything else at all")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(30, base + " eleven"), (31, "fresh content unlike every other document here")],
        "doc_id long, text string",
    )
    return new, corpus


def _incremental_pairs(new, corpus):
    return {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.minhash_incremental_pairs(
            new, corpus, shingle_k=3, threshold_pct=50
        ).collect()
    }


def test_minhash_incremental_equals_filtered_full(spark):
    """Incremental shard-vs-corpus pairs = the full-corpus pair set filtered
    to >=1 new-side doc; old x old near-dups (20,21) are NOT regenerated."""
    new, corpus = _incremental_frames(spark)
    inc = _incremental_pairs(new, corpus)
    full = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.minhash_near_dup_pairs(
            corpus.union(new), shingle_k=3, threshold_pct=50
        ).collect()
    }
    new_ids = {30, 31}
    expected = {p: v for p, v in full.items() if p[0] in new_ids or p[1] in new_ids}
    assert inc == expected
    assert (20, 21) in full and (20, 21) not in inc  # old x old stays untouched
    assert any(30 in p for p in inc)  # the new near-dup IS found


def test_minhash_incremental_debug_overlap_check(spark, monkeypatch):
    """SPARK_GRAFT_DEBUG_CHECKS turns the disjoint-doc_id contract into an
    explicit error on overlap, and changes nothing on disjoint inputs."""
    new, corpus = _incremental_frames(spark)
    unchecked = _incremental_pairs(new, corpus)
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_CHECKS", "1")
    assert _incremental_pairs(new, corpus) == unchecked and unchecked
    with pytest.raises(AssertionError, match="share doc_ids"):
        dedup.minhash_incremental_pairs(
            new.unionByName(corpus.filter(F.col("doc_id") == 20)), corpus,
            shingle_k=3, threshold_pct=50,
        )


def test_duplicate_clusters_empty_and_self_pair_edges(spark):
    """Empty pair frames converge immediately to empty output; a pure
    self-pair labels itself."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.duplicate_clusters(empty).collect() == []
    one = spark.createDataFrame([(7, 7)], "doc_a long, doc_b long")
    got = [(r["doc_id"], r["cluster_id"]) for r in dedup.duplicate_clusters(one).collect()]
    assert got == [(7, 7)]


def test_repeated_ngram_spans_semantics(spark):
    """A 3-word window shared verbatim by two docs is flagged at the right
    1-based positions in BOTH docs; unique windows are silent."""
    from document_parser_spark.operators.curation import repeated_ngram_spans

    df = spark.createDataFrame(
        [
            (1, "viral passage here plus unique tail one"),
            (2, "prefix words then viral passage here ending"),
            (3, "completely different text with nothing shared"),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["pos"])
        for r in repeated_ngram_spans(df, window_k=3, min_docs=2).collect()
    )
    # 'viral passage here' is window 1 of doc 1 and window 4 of doc 2
    # (row order is the caller's job since r06 — sorted() here)
    assert rows == [(1, 1), (2, 4)]


def test_repeated_passage_intervals_merge(spark):
    """Consecutive repeated windows merge into ONE maximal interval per run;
    two disjoint shared passages in the same doc stay two islands."""
    from document_parser_spark.operators.curation import repeated_passage_intervals

    df = spark.createDataFrame(
        [
            (1, "a b c d e X p q r s t"),
            (2, "a b c d e Y p q r s t"),
            (3, "nothing shared with the others at all here"),
        ],
        "doc_id long, text string",
    )
    rows = [
        (r["doc_id"], r["start_pos"], r["end_pos"], r["n_windows"], r["span_words"])
        for r in repeated_passage_intervals(df, window_k=3, min_docs=2).collect()
    ]
    # 'a b c d e' → windows at pos 1-3; 'p q r s t' → windows at pos 7-9;
    # the single-word mutation at pos 6 (X/Y) splits the islands.
    assert rows == [
        (1, 1, 3, 3, 5),
        (1, 7, 9, 3, 5),
        (2, 1, 3, 3, 5),
        (2, 7, 9, 3, 5),
    ]


def test_canonical_keep_election(spark):
    """Largest n_chars wins; ties break to the smallest doc_id; membership
    accounting is exact."""
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (5, 7), (6, 7), (9, 999)],
        "doc_id long, n_chars long",
    )
    rows = [
        (r["cluster_id"], r["keep_doc"], r["keep_chars"], r["n_members"], r["n_dropped"])
        for r in dedup.canonical_keep(clusters, docs).collect()
    ]
    assert rows == [(1, 2, 50, 3, 2), (5, 5, 7, 2, 1)]


def test_bigram_novelty_counts(spark):
    """Common = bigram in >= common_df distinct docs; counts are exact
    integers; docs with <2 words drop out."""
    from document_parser_spark.operators.text import bigram_novelty

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),          # bigrams: 'the cat', 'cat sat'
            (2, "the cat ran"),          # 'the cat', 'cat ran'
            (3, "the cat ate"),          # 'the cat', 'cat ate'
            (4, "totally novel words"),  # no common bigrams
            (5, "single"),               # no bigrams -> dropped
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_bigrams"], r["n_distinct"], r["n_common"], r["n_common_distinct"])
        for r in bigram_novelty(df, common_df=3).collect()
    }
    # 'the cat' appears in docs 1,2,3 (df=3 >= 3) -> the only common bigram
    assert rows == {
        1: (2, 2, 1, 1),
        2: (2, 2, 1, 1),
        3: (2, 2, 1, 1),
        4: (2, 2, 0, 0),
    }


def test_chunk_documents_overlap_and_twin(spark):
    """Chunk geometry (overlap, tail truncation, empty-doc drop) is exact,
    and the Arrow pass equals the pure-Column twin across stride configs."""
    from document_parser_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(150))),
            (2, ""),          # zero words -> no chunks
            (3, "a b c"),     # shorter than one window -> one chunk
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["first_word"], r["n_words"], r["chunk_text"])
        for r in chunk_documents(df, max_words=64, stride=48).collect()
    }
    # doc 1: starts at 0,48,96,144; windows truncate at word 150
    assert {k: v[:2] for k, v in got.items()} == {
        (1, 0): (0, 64),
        (1, 1): (48, 64),
        (1, 2): (96, 54),
        (1, 3): (144, 6),
        (3, 0): (0, 3),
    }
    assert got[(1, 3)][2] == "w144 w145 w146 w147 w148 w149"
    assert got[(3, 0)][2] == "a b c"
    for mw, st in [(64, 48), (10, 10), (5, 2)]:
        a = sorted(
            tuple(r) for r in chunk_documents(df, max_words=mw, stride=st).collect()
        )
        b = sorted(
            tuple(r)
            for r in twins.chunk_documents(df, max_words=mw, stride=st).collect()
        )
        assert a == b, (mw, st)


def test_hash_classifier_paths_agree(spark):
    """Arrow map pass == pure-Column twin, and the score is the
    hand-computed md5-bucket arithmetic."""
    import hashlib

    from document_parser_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, ""),                        # no words: score 0
            (3, "one"),                     # single unigram feature
            (4, "  spaced   out   words  "),
            (5, "naïve café résumé naïve café"),  # UTF-8 md5 agreement
        ],
        "doc_id long, text string",
    )
    arrow = {
        r["doc_id"]: (r["clf_score"], r["n_feats"], r["clf_ok"])
        for r in T.hash_classifier_score(df).collect()
    }
    twin = {
        r["doc_id"]: (r["clf_score"], r["n_feats"], r["clf_ok"])
        for r in twins.hash_classifier_score(df).collect()
    }
    assert arrow == twin
    assert arrow[2] == (0, 0, True)
    h = int(hashlib.md5(b"one").hexdigest()[:8], 16) % T.CLF_N_BUCKETS
    assert arrow[3] == ((h * 2654435761 + 97) % 21 - 10, 1, arrow[3][0] >= 0)


def test_containment_pairs_detects_embedded_doc(spark):
    """A short doc embedded verbatim in a longer page: 100% containment one
    way, below-threshold the other; unrelated docs never pair; docs shorter
    than the window are excluded from both sides."""
    from document_parser_spark.operators.dedup import containment_pairs

    inner = " ".join(f"w{i}" for i in range(12))  # 12 words -> 9 windows at k=4
    outer = "pre1 pre2 " + inner + " post1 post2 post3 post4 post5 post6 post7 post8"
    other = " ".join(f"x{i}" for i in range(20))
    tiny = "a b"  # < window_k words: no windows
    df = spark.createDataFrame(
        [(1, inner), (2, outer), (3, other), (4, tiny)],
        "doc_id long, text string",
    )
    rows = {
        (r["inner_id"], r["outer_id"]): (
            r["shared_windows"],
            r["inner_windows"],
            r["containment_pct"],
        )
        for r in containment_pairs(df, window_k=4, min_pct=80).collect()
    }
    # doc 1 has 9 distinct 4-word windows, all present in doc 2
    assert rows == {(1, 2): (9, 9, 100)}


def test_containment_pairs_threshold_floor(spark):
    """Floor-percent semantics: 7 of 8 windows shared = 87% (floor of 87.5),
    kept at min_pct=80, dropped at min_pct=88."""
    from document_parser_spark.operators.dedup import containment_pairs

    inner = " ".join(f"w{i}" for i in range(11))      # 8 windows at k=4
    # outer carries windows w0..w9 (7 of inner's 8) but not the last one
    outer = " ".join(f"w{i}" for i in range(10)) + " z1 z2 z3 z4"
    df = spark.createDataFrame([(1, inner), (2, outer)], "doc_id long, text string")
    kept = containment_pairs(df, window_k=4, min_pct=80).collect()
    pair = [(r["inner_id"], r["outer_id"], r["containment_pct"]) for r in kept]
    assert (1, 2, 87) in pair
    strict = containment_pairs(df, window_k=4, min_pct=88).collect()
    assert all((r["inner_id"], r["outer_id"]) != (1, 2) for r in strict)


def test_tfidf_topk_ranks_rare_terms_first(spark):
    """score = tf * ((N*scale) div df): a rare term outranks a ubiquitous
    one at equal tf; ties break by term ascending; k truncates per doc."""
    from document_parser_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "common rare common"),
            (2, "common other"),
            (3, "common other"),
        ],
        "doc_id long, text string",
    )
    rows = [
        (r["doc_id"], r["word"], r["tf"], r["df"], r["score"], r["rank"])
        for r in tfidf_topk(df, k=2, scale=100).collect()
    ]
    # N=3. doc 1: rare tf=1 df=1 score=300; common tf=2 df=3 score=2*100=200
    assert rows[:2] == [(1, "rare", 1, 1, 300, 1), (1, "common", 2, 3, 200, 2)]
    # docs 2/3: common (100) vs other df=2 score=150 -> other first
    assert (2, "other", 1, 2, 150, 1) in rows and (2, "common", 1, 3, 100, 2) in rows


def test_tfidf_topk_drops_wordless_docs(spark):
    from document_parser_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "   "), (3, "")], "doc_id long, text string"
    )
    got = tfidf_topk(df, k=3).collect()
    assert {r["doc_id"] for r in got} == {1}
