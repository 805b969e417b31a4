"""BPE tokenizer training: hand-verifiable merges on the classic
corpus, segmentation inverse property, single-char/empty edges."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_bpe_train_classic_corpus(spark):
    """Sennrich et al.'s running example: 'low' x5 + 'lower' x2 +
    'newest' x6 + 'widest' x3. Most frequent first pair is (e, s)
    from newest/widest (9), then (es, t) (9)."""
    from external_benchmarks_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(" ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3),)],
        "text string",
    )
    merges = bpe_train(docs, n_merges=4).collect()
    assert [(m.lhs, m.rhs, m.merged) for m in merges[:2]] == [
        ("e", "s", "es"),
        ("es", "t", "est"),
    ]
    assert [m.pair_count for m in merges[:2]] == [9, 9]
    assert [m.step for m in merges] == [1, 2, 3, 4]


def test_bpe_train_overlap_greedy(spark):
    """'aaa' counts the (a,a) pair twice but greedy left-to-right
    merging produces [aa, a] — symbol-level semantics both engines
    share."""
    from external_benchmarks_spark.operators.bpe import bpe_segment, bpe_train

    docs = spark.createDataFrame([("aaa aaa bb",)], "text string")
    merges = bpe_train(docs, n_merges=1).collect()
    assert (merges[0].lhs, merges[0].rhs) == ("a", "a")
    assert merges[0].pair_count == 4  # two overlapping pairs x two words
    seg = bpe_segment(
        docs, [(m.lhs, m.rhs) for m in merges]
    ).collect()[0].bpe_tokens
    assert seg == ["aa", "a", "aa", "a", "b", "b"]


def test_bpe_consecutive_occurrences_merge(spark):
    """Consecutive occurrences of the winning pair share a delimiter
    space in the spaced form; a naive string replace skips every other
    one ('banana' -> b an a n a). Symbol-level greedy must catch both
    (Sennrich semantics)."""
    from external_benchmarks_spark.operators.bpe import bpe_segment

    docs = spark.createDataFrame([("banana",)], "text string")
    seg = bpe_segment(docs, [("a", "n")]).collect()[0].bpe_tokens
    assert seg == ["b", "an", "an", "a"]


def test_bpe_identical_symbol_run(spark):
    """Runs of >=5 identical symbols are where even a fixpoint string
    replace mis-orders the output (aa, a, aa): symbol-level greedy
    left-to-right gives [aa, aa, a]."""
    from external_benchmarks_spark.operators.bpe import bpe_segment

    docs = spark.createDataFrame([("aaaaa",)], "text string")
    seg = bpe_segment(docs, [("a", "a")]).collect()[0].bpe_tokens
    assert seg == ["aa", "aa", "a"]


def test_bpe_local_and_distributed_paths_agree(spark):
    """The driver-side fast path (word table under the bounded-collect
    limit) and the distributed aggregate-HOF loop are the same
    algorithm at different execution sites — byte-identical merges."""
    from external_benchmarks_spark.operators.bpe import bpe_train

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["banana"] * 4 + ["aaaaa"] * 3
    )
    docs = spark.createDataFrame([(corpus,)], "text string")
    local = [tuple(r) for r in bpe_train(docs, n_merges=6).collect()]
    dist = [
        tuple(r)
        for r in bpe_train(docs, n_merges=6, local_word_limit=0).collect()
    ]
    assert local == dist
    assert len(local) == 6


def test_bpe_segment_distinct_equals_per_occurrence(spark, sf_dir):
    """r15 optimization contract: the distinct-word segmentation form
    must produce token-for-token the same output as the per-occurrence
    merge chain (merges are a pure function of the word; position join
    reassembles word order), including wordless documents."""
    import pyspark.sql.functions as F

    from external_benchmarks_spark.operators.bpe import (
        bpe_segment,
        bpe_segment_distinct,
        bpe_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    merges = [
        (m["lhs"], m["rhs"]) for m in bpe_train(docs, n_merges=8).collect()
    ]
    base = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_segment(docs, merges).select(
            "doc_id", "bpe_tokens"
        ).collect()
    }
    dis = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_segment_distinct(docs, merges).collect()
    }
    assert dis == base


def test_bpe_segment_reconstructs_words(spark, sf_dir):
    """Segmentation is lossless: concatenating each word's subword
    tokens reproduces the alphanumeric word stream."""
    from external_benchmarks_spark.catalog import Catalog
    from external_benchmarks_spark.operators.bpe import bpe_segment, bpe_train

    docs = Catalog(spark, sf_dir).documents.limit(50)
    merges = [(m.lhs, m.rhs) for m in bpe_train(docs, n_merges=6).collect()]
    assert len(merges) == 6
    out = bpe_segment(docs, merges).select("doc_id", "text", "bpe_tokens").collect()
    import re

    for r in out:
        words = [
            w for w in re.split(r"\s+", r.text.lower()) if re.fullmatch(r"[a-z0-9]+", w)
        ]
        assert "".join(r.bpe_tokens) == "".join(words), r.doc_id


def test_bpe_single_char_and_empty(spark):
    from external_benchmarks_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([("a b c",), ("",)], "text string")
    merges = bpe_train(docs, n_merges=3).collect()
    assert merges == []  # no adjacent pairs anywhere -> no rules


def test_bpe_distributed_path_reuses_word_table_cache(spark):
    """The fast-path probe executes the full tokenize+groupBy corpus
    pass; when the probe overflows into the distributed loop, that
    aggregation must be served from cache (InMemoryTableScan in the
    first pair-count plan), not recomputed — the corpus is touched
    exactly once either way."""
    from external_benchmarks_spark.operators.bpe import (
        _char_spaced,
        word_frequencies,
    )
    import pyspark.sql.functions as F

    docs = spark.createDataFrame([("low lower newest",)], "text string")
    wf = word_frequencies(docs).cache()
    try:
        wf.limit(3).collect()  # the probe materializes the cache
        words = wf.select(_char_spaced(F.col("word")).alias("s"), "cnt")
        plan = words._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan[:800]
    finally:
        wf.unpersist()


def test_shared_tokenize_arc_matches_default_paths(spark):
    """r16: the one-corpus-tokenize composition — word_freqs derived
    from a checkpointed word_positions fed into the trainer, the same
    wpos fed into the segmenter — produces byte-identical merges and
    token streams to the default (re-tokenizing) paths, for all three
    tokenizer families."""
    from external_benchmarks_spark.operators.bpe import (
        bpe_segment_distinct,
        bpe_train,
        word_positions,
    )
    from external_benchmarks_spark.operators.unigram import (
        unigram_segment,
        unigram_train,
    )
    from external_benchmarks_spark.operators.wordpiece import (
        wordpiece_segment,
        wordpiece_train,
        wordpiece_vocab,
    )

    docs = spark.createDataFrame(
        [
            (1, "low lower newest newest widest"),
            (2, "the quick brown fox the lazy dog"),
            (3, None),
            (4, "aaa bb aaa unseen99 bb"),
        ],
        "doc_id bigint, text string",
    )
    wpos = word_positions(docs).localCheckpoint(eager=False)
    wf = wpos.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))

    m_a = bpe_train(docs, n_merges=4).collect()
    m_b = bpe_train(docs, n_merges=4, word_freqs=wf).collect()
    assert [tuple(r) for r in m_a] == [tuple(r) for r in m_b]
    merges = [(m["lhs"], m["rhs"]) for m in m_b]
    seg_a = sorted(
        (r["doc_id"], tuple(r["bpe_tokens"]))
        for r in bpe_segment_distinct(docs, merges).collect()
    )
    seg_b = sorted(
        (r["doc_id"], tuple(r["bpe_tokens"]))
        for r in bpe_segment_distinct(docs, merges, wpos=wpos).collect()
    )
    assert seg_a == seg_b

    wm_a = wordpiece_train(docs, n_merges=4).collect()
    wm_b = wordpiece_train(docs, n_merges=4, word_freqs=wf).collect()
    assert [tuple(r) for r in wm_a] == [tuple(r) for r in wm_b]
    v_a = wordpiece_vocab(docs, wordpiece_train(docs, n_merges=4))
    v_b = wordpiece_vocab(
        docs,
        wordpiece_train(docs, n_merges=4, word_freqs=wf),
        words=wpos.select("word").distinct(),
    )
    assert v_a == v_b
    ws_a = sorted(
        (r["doc_id"], tuple(r["wp_tokens"]))
        for r in wordpiece_segment(docs, v_a).collect()
    )
    ws_b = sorted(
        (r["doc_id"], tuple(r["wp_tokens"]))
        for r in wordpiece_segment(docs, v_b, wpos=wpos).collect()
    )
    assert ws_a == ws_b

    c_a = {
        r["piece"]: int(r["cost_q16"])
        for r in unigram_train(docs).collect()
    }
    c_b = {
        r["piece"]: int(r["cost_q16"])
        for r in unigram_train(docs, word_freqs=wf).collect()
    }
    assert c_a == c_b
    us_a = sorted(
        (r["doc_id"], tuple(r["unigram_tokens"]))
        for r in unigram_segment(docs, c_a).collect()
    )
    us_b = sorted(
        (r["doc_id"], tuple(r["unigram_tokens"]))
        for r in unigram_segment(docs, c_b, wpos=wpos).collect()
    )
    assert us_a == us_b


def test_trainers_leave_caller_cache_state_alone(spark):
    """A trainer caches and unpersists only a word table it cached
    itself: a caller-cached word_freqs stays cached after training, and
    an uncached one is left uncached."""
    from pyspark import StorageLevel

    from external_benchmarks_spark.operators.bpe import bpe_train, word_frequencies
    from external_benchmarks_spark.operators.unigram import unigram_train
    from external_benchmarks_spark.operators.wordpiece import wordpiece_train

    docs = spark.createDataFrame(
        [("low lower newest newest widest",)], "text string"
    )
    for train in (bpe_train, unigram_train, wordpiece_train):
        wf = word_frequencies(docs).cache()
        try:
            wf.count()
            train(docs, word_freqs=wf).collect()
            assert wf.storageLevel != StorageLevel.NONE, train.__name__
        finally:
            wf.unpersist()
        fresh = word_frequencies(docs)
        train(docs, word_freqs=fresh).collect()
        assert fresh.storageLevel == StorageLevel.NONE, train.__name__
