"""Distributed BPE tokenizer training (Sennrich, Haddow & Birch,
"Neural Machine Translation of Rare Words with Subword Units", ACL
2016) — the tokenizer-construction half of a training-data pipeline,
next to the encoding side (textprep.vocab_encode / bpe_token_count).

Scale shape — the classic trick that makes BPE tractable on a corpus:
merges depend only on WORD FREQUENCIES, so the corpus is touched
exactly once (tokenize -> groupBy word -> count: one shuffle, output
bounded by vocabulary size, not corpus size). Every merge iteration
then runs over that small word table. When the distinct-word table
fits a bounded collect (``local_word_limit``, default 100k rows —
vocabulary-bounded by contract, NOT corpus-sized), the merge loop runs
driver-side in one Spark job instead of k sequential tiny jobs; above
the threshold the loop stays distributed: adjacent-pair counts are a
groupBy over exploded pairs weighted by word count, the winning pair
is a 1-row TakeOrderedAndProject collect, and the merge applies as a
single ``aggregate`` higher-order function over the symbol array.
k merges = k tiny jobs after the one corpus pass; at 100 TB the corpus
cost is the word count, the training loop is O(vocab) per step
regardless of corpus size.

Merge semantics — greedy left-to-right non-overlapping over SYMBOL
pairs, exactly the cited algorithm: scan symbols once, holding the
previous unconsumed symbol; when (prev, cur) equals the winning pair,
emit the merged symbol and mark prev consumed. A naive
``replace(' a b ', ' ab ')`` over the space-delimited form diverges:
consecutive occurrences share a delimiter space, so the scan skips
every other one ('banana' with rule (a,n) would segment to
[b, an, a, n, a] instead of [b, an, an, a]), and even a fixpoint
replace mis-orders runs of five-plus identical symbols ('aaaaa' with
rule (a,a) must give [aa, aa, a], not [aa, a, aa]). The lazy-emit
aggregate below is implemented identically in the driver-side fast
path (plain Python), the distributed path (Spark ``aggregate`` HOF),
and the DuckDB oracle (``list_reduce`` with a packed "acc|prev"
state string), keeping the whole training run hash-oracle-able.

Determinism: ties on pair count break by (left symbol, right symbol)
ascending; words are restricted to ^[a-z0-9]+$ (BPE pretokenization
conventionally splits punctuation off), so symbols never collide with
the space delimiter or SQL quoting.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Word tables up to this many distinct rows run the merge loop on the
# driver (one Spark job total). Bounded by contract: the collect is
# LIMIT local_word_limit + 1, never corpus-sized.
BPE_LOCAL_WORD_LIMIT = 100_000


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """ONE corpus pass: lowercase whitespace tokens filtered to
    alphanumeric words, counted. Output is vocabulary-bounded."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: (F.length(t) > 0) & t.rlike("^[a-z0-9]+$"),
    )
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def word_positions(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, word): the corpus tokenize every segmentation arc
    shares — identical token rule to :func:`word_frequencies` (null
    text contributes nothing either way), with word positions kept for
    the join-back side. A train+segment composition can run THIS once
    (lazily localCheckpointed), derive word frequencies from it
    (``groupBy(word).count`` — the same multiset), and feed both the
    trainer and the segmenter: one corpus tokenize for the whole arc
    (guide §1.2; r16)."""
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: (F.length(t) > 0) & t.rlike("^[a-z0-9]+$"),
    )
    return df.select(F.col(id_col), F.posexplode(toks).alias("pos", "word"))


def _char_spaced(col):
    """'hello' -> ' h e l l o ' (space-delimited symbols, sentinel
    spaces at both ends so the format is uniform across merge steps)."""
    return F.concat(F.lit(" "), F.regexp_replace(col, "(.)", "$1 "))


def _apply_merge(s: Column, a: str, b: str, merged: str | None = None) -> Column:
    """Apply one merge rule (a, b) to a space-delimited symbol string:
    greedy left-to-right non-overlapping at the SYMBOL level, as a
    single Catalyst ``aggregate`` — no UDF. State is (acc, prev) where
    prev is the held unconsumed symbol ('' = none; symbols are
    non-empty so the sentinel cannot collide). ``merged`` overrides the
    emitted symbol (default ``a + b``; WordPiece emits ``a`` plus ``b``
    with its ``##`` continuation marker stripped)."""
    if merged is None:
        merged = a + b
    return F.aggregate(
        F.split(F.trim(s), " "),
        F.struct(F.lit("").alias("acc"), F.lit("").alias("prev")),
        lambda st, x: (
            F.when(
                (st["prev"] == a) & (x == b),
                F.struct(
                    F.concat(st["acc"], F.lit(" " + merged)).alias("acc"),
                    F.lit("").alias("prev"),
                ),
            )
            .when(
                st["prev"] == "",
                F.struct(st["acc"].alias("acc"), x.alias("prev")),
            )
            .otherwise(
                F.struct(
                    F.concat(st["acc"], F.lit(" "), st["prev"]).alias("acc"),
                    x.alias("prev"),
                )
            )
        ),
        lambda st: F.when(
            st["prev"] == "", F.concat(st["acc"], F.lit(" "))
        ).otherwise(F.concat(st["acc"], F.lit(" "), st["prev"], F.lit(" "))),
    )


def _merge_word(
    syms: list[str], a: str, b: str, merged: str | None = None
) -> list[str]:
    """Driver-side twin of :func:`_apply_merge` over a symbol list."""
    if merged is None:
        merged = a + b
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_local(
    word_rows: list, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Merge loop over a collected word table: identical pair counting
    ((count desc, lhs, rhs) tie rule) and identical greedy merge as the
    distributed path — only the execution site differs."""
    words = [(list(r["word"]), int(r["cnt"])) for r in word_rows]
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, a, b, a + b, c))
        words = [(_merge_word(syms, a, b), cnt) for syms, cnt in words]
    return merges


@contextmanager
def _cached_word_table(
    docs: DataFrame, text_col: str, word_freqs: DataFrame | None
) -> Iterator[DataFrame]:
    """The (word, cnt) table a trainer reads, cached for the trainer's
    lifetime: ``word_freqs`` when the caller supplies it, else
    :func:`word_frequencies` of ``docs``. A frame that is already
    cached belongs to whoever cached it and is left exactly as it was;
    only a frame cached here is unpersisted here."""
    wf = word_freqs if word_freqs is not None else word_frequencies(docs, text_col)
    owned = wf.storageLevel == StorageLevel.NONE
    if owned:
        wf.cache()
    try:
        yield wf
    finally:
        if owned:
            wf.unpersist()


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    local_word_limit: int = BPE_LOCAL_WORD_LIMIT,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules; returns a DataFrame
    (step, lhs, rhs, merged, pair_count) with step 1..n_merges in learn
    order. pair_count is the winning pair's corpus-weighted frequency
    at the time it was chosen.

    The word table is computed once. If it fits ``local_word_limit``
    rows the loop runs driver-side (one Spark job; the collect is
    bounded by the limit, not the corpus). Otherwise each iteration is
    a pair-count groupBy plus a 1-row collect, with lineage growing by
    one ``aggregate`` per step; for very large n_merges, checkpoint
    the word table periodically.

    ``word_freqs`` (r16): a caller that already holds the (word, cnt)
    table — e.g. derived from a checkpointed :func:`word_positions`
    tokenize shared with the segmenter — passes it here and the
    trainer skips its own corpus pass. Results are identical: training
    is a pure function of the word-frequency multiset.
    """
    spark: SparkSession = docs.sparkSession
    # Cache the word table BEFORE the fast-path probe: the probe's
    # bounded collect executes the full tokenize+groupBy corpus pass,
    # and when the table exceeds the limit (exactly the large-corpus
    # case) the distributed loop below must reuse that aggregation —
    # without the cache the corpus would be scanned twice, violating
    # the "corpus is touched exactly once" contract where it matters.
    schema = "step bigint, lhs string, rhs string, merged string, pair_count bigint"

    merges: list[tuple[int, str, str, str, int]] = []
    with _cached_word_table(docs, text_col, word_freqs) as wf:
        if local_word_limit > 0:
            probe = wf.limit(local_word_limit + 1).collect()
            if len(probe) <= local_word_limit:
                return spark.createDataFrame(
                    _train_local(probe, n_merges), schema
                ).orderBy("step")

        words = wf.select(_char_spaced(F.col("word")).alias("s"), "cnt")
        for step in range(1, n_merges + 1):
            # sequence(1, size) then filter i < size: single-symbol words
            # yield no pairs (sequence(1, 0) would run DESCENDING and
            # index out of bounds under ANSI mode).
            pairs = F.expr(
                "transform(filter(sequence(1, size(split(trim(s), ' '))), "
                "i -> i < size(split(trim(s), ' '))), "
                "i -> struct(split(trim(s), ' ')[i - 1] AS a, "
                "split(trim(s), ' ')[i] AS b))"
            )
            best = (
                words.select(F.explode(pairs).alias("p"), "cnt")
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["c"] is None:
                break
            a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
            merges.append((step, a, b, a + b, c))
            words = words.select(
                _apply_merge(F.col("s"), a, b).alias("s"), "cnt"
            )
    return spark.createDataFrame(merges, schema).orderBy("step")


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply learned merges to segment text: per word, start from
    characters and apply each rule in learn order (the standard BPE
    inference), entirely as Catalyst aggregate/transform chains over
    the space-delimited form — no UDF."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: (F.length(t) > 0) & t.rlike("^[a-z0-9]+$"),
    )
    col = F.transform(toks, lambda w: _char_spaced(w))

    def _step(a: str, b: str):
        # no default-arg capture: pyspark inspects lambda arity, and
        # extra defaulted params would read as a 3-arg HOF lambda
        return lambda s: _apply_merge(s, a, b)

    for a, b in merges:
        col = F.transform(col, _step(a, b))
    out = F.flatten(F.transform(col, lambda s: F.split(F.trim(s), " ")))
    return df.withColumn(out_col, out)


def bpe_segment_distinct(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    wpos: DataFrame | None = None,
) -> DataFrame:
    """``bpe_segment`` through the distinct-word device (r15; the shape
    ``unigram_segment`` already uses): the k-level merge chain — the
    expensive part, k string scans per word — runs once per DISTINCT
    word instead of once per occurrence, and the per-word piece lists
    join back to documents and reassemble in word order. Token output
    is IDENTICAL (merges are a pure function of the word; tested equal
    to ``bpe_segment``); the trade is two token-shuffles for a
    duplication-factor reduction in merge-chain CPU — the win grows
    with corpus size since vocabulary grows sublinearly. Returns
    (id_col, out_col) only.

    ``wpos`` (r16): a caller that already materialized the
    :func:`word_positions` tokenize (e.g. shared with the trainer)
    passes it here; it must be checkpointed/cached so both consumers
    below read one pass."""
    # wpos feeds both the distinct-word side and the join-back side;
    # their projections differ, so the two subtrees never canonicalize
    # equal and the corpus would tokenize twice. Lazy localCheckpoint =
    # one tokenize pass, both consumers read the materialized word
    # positions (the span_dedup trade, r15).
    if wpos is None:
        wpos = word_positions(df, id_col, text_col).localCheckpoint(
            eager=False
        )
    col = _char_spaced(F.col("word"))
    for a, b in merges:
        col = _apply_merge(col, a, b)
    wseg = (
        wpos.select("word")
        .distinct()
        .select("word", F.split(F.trim(col), " ").alias("pieces"))
    )
    agg = (
        wpos.join(wseg, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                    lambda s: s["pieces"],
                )
            ).alias(out_col)
        )
    )
    # wordless documents segment to the empty list, not a dropped row
    return df.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col(out_col), F.array().cast("array<string>")).alias(
            out_col
        ),
    )
