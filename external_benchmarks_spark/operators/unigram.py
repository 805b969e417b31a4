"""Unigram-LM (SentencePiece-style) tokenizer training — the second
tokenizer family next to BPE (operators/bpe.py), per Kudo, "Subword
Regularization: Improving Neural Network Translation Models with
Multiple Subword Candidates" (ACL 2018). Reference parity: the
reference's embedding tier ships a WordPiece-adjacent tokenizer
(README.md:52-55); a training-data pipeline offers unigram-LM as the
standard alternative to BPE, trained here under the same hash-oracle
discipline.

Algorithm (hard-EM / Viterbi-EM variant of Kudo's pruning loop, the
standard deterministic approximation): seed a candidate vocabulary
with every word substring up to ``MAX_PIECE`` chars (all single chars
are always kept — full coverage), then run prune rounds: segment every
word by Viterbi under the current piece costs, count piece usage
(corpus-weighted), keep the top-K multi-char pieces by usage, and
re-estimate costs from smoothed usage (f = usage + 1). Soft-EM's
expected counts are replaced by Viterbi counts, which keeps every
quantity an exact integer — the property that makes the whole training
run replayable bit-for-bit by a SQL oracle.

Cross-engine exactness: piece costs are FIXED-POINT INTEGER negative
log-probabilities at q16 — ``cost(f) = ilog2_q16(T) - ilog2_q16(f)``
where :func:`ilog2_q16` is a pure-integer log2 (floor exponent from
the binary length, 16 mantissa bits by iterated squaring of a 30-bit
fixed-point mantissa). No float ``ln``/``log`` ever runs (libm is not
correctly-rounded and differs across engines); the identical shift/
multiply/divide sequence is implemented in Python (driver fast path),
and replayed by DuckDB ``list_reduce`` in the oracle. Viterbi DP
values pack ``(total_cost, last_piece_len)`` into one BIGINT
(``tot * 64 + len``) so the argmin is a plain integer MIN — ties break
to the lower total cost, then the SHORTER last piece — and the
backtrack reads the chosen length from ``dp % 64``.

Scale shape: the corpus is touched ONCE (``bpe.word_frequencies`` —
one shuffle, output vocabulary-bounded); candidate generation and each
prune round are distributed jobs over that word table (Catalyst
``aggregate``/``transform`` HOFs, no UDF); the vocabulary itself is
bounded by contract (``seed_multi`` + alphabet), so per-round cost
re-estimation is a bounded collect + broadcast literal map, exactly
the bounded-collect device bpe_train uses for its winning pair. When
the word table fits ``local_word_limit`` the whole loop runs
driver-side in one Spark job (property-tested byte-identical to the
distributed path). Segmentation runs the DP once per DISTINCT word
and joins pieces back to documents — at 100 TB the DP cost is
word-table-bounded, not corpus-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from external_benchmarks_spark.operators.bpe import (
    _cached_word_table,
    word_positions,
)

MAX_PIECE = 4
UNK_COST = 1 << 40
SEED_MULTI = 120
KEEP_SCHEDULE = (60, 32)
UNIGRAM_LOCAL_WORD_LIMIT = 100_000

_VOCAB_SCHEMA = "piece string, freq bigint, cost_q16 bigint"


def ilog2_q16(x: int) -> int:
    """floor(log2(x) * 2^16) by pure integer arithmetic: exponent from
    the bit length, 16 fraction bits by iterated squaring of a 30-bit
    mantissa. Engine-exact: the same shifts/divides replay in DuckDB
    (see __spark_entry__._ilog2_sql)."""
    if x < 1:
        raise ValueError("ilog2_q16 requires x >= 1")
    e = x.bit_length() - 1
    m = (x << (30 - e)) if e <= 30 else (x >> (e - 30))
    acc = 0
    for _ in range(16):
        m = (m * m) >> 30
        if m >= 1 << 31:
            acc = acc * 2 + 1
            m >>= 1
        else:
            acc *= 2
    return (e << 16) + acc


def piece_costs(freqs: dict[str, int]) -> dict[str, int]:
    """q16 integer cost per piece: ilog2(T) - ilog2(f), T = sum f."""
    t = ilog2_q16(sum(freqs.values()))
    return {p: t - ilog2_q16(f) for p, f in freqs.items()}


def viterbi_word(w: str, costs: dict[str, int]) -> list[str]:
    """Driver-side twin of the Catalyst DP (packed tot*64+len values,
    min = lowest cost then shortest last piece; unknown chars cost
    UNK_COST so segmentation is total)."""
    n = len(w)
    dp = [0]
    for j in range(1, n + 1):
        best = None
        for l in range(1, min(MAX_PIECE, j) + 1):
            c = costs.get(w[j - l : j])
            if c is None:
                if l != 1:
                    continue  # UNK fallback covers single chars only
                c = UNK_COST
            cand = ((dp[j - l] >> 6) + c) * 64 + l
            if best is None or cand < best:
                best = cand
        dp.append(best)
    toks: list[str] = []
    pos = n
    while pos > 0:
        l = dp[pos] & 63
        toks.append(w[pos - l : pos])
        pos -= l
    toks.reverse()
    return toks


def _viterbi_toks_expr(word_col: str, vm_col: str) -> str:
    """SQL expression (Catalyst HOFs, no UDF) computing the Viterbi
    piece list for ``word_col`` under the literal cost map ``vm_col``.
    Forward DP packs (tot, len) as tot*64+len; backtrack prepends
    pieces walking dp from the end. Identical semantics to
    :func:`viterbi_word`."""
    dp = f"""aggregate(sequence(1, length({word_col})), array(cast(0 as bigint)),
      (dp, j) -> array_append(dp, array_min(filter(transform(sequence(1, {MAX_PIECE}), l ->
        CASE WHEN l <= j THEN
          CASE WHEN element_at({vm_col}, substring({word_col}, cast(j - l + 1 as int), cast(l as int))) IS NOT NULL THEN
            (element_at(dp, cast(j - l + 1 as int)) div 64
             + element_at({vm_col}, substring({word_col}, cast(j - l + 1 as int), cast(l as int)))) * 64 + l
          WHEN l = 1 THEN
            (element_at(dp, cast(j - l + 1 as int)) div 64
             + cast({UNK_COST} as bigint)) * 64 + 1
          END
        END), x -> x is not null))))"""
    return f"""aggregate(sequence(1, length({word_col})),
      named_struct('pos', length({word_col}), 'dp', {dp},
                   'toks', cast(array() as array<string>)),
      (st, z) -> if(st.pos <= 0, st, named_struct(
        'pos', st.pos - cast(element_at(st.dp, st.pos + 1) % 64 as int),
        'dp', st.dp,
        'toks', concat(array(substring({word_col},
                    st.pos - cast(element_at(st.dp, st.pos + 1) % 64 as int) + 1,
                    cast(element_at(st.dp, st.pos + 1) % 64 as int))), st.toks))),
      st -> st.toks)"""


def _cost_map_col(costs: dict[str, int]):
    # map_from_arrays over two list literals: 3 py4j calls total where
    # create_map(*2N lits) cost two driver round-trips per piece;
    # ConstantFolding collapses it to the same literal map.
    keys = sorted(costs)
    return F.map_from_arrays(
        F.lit(keys).cast("array<string>"),
        F.lit([int(costs[p]) for p in keys]).cast("array<bigint>"),
    )


def candidate_pieces(wf: DataFrame) -> DataFrame:
    """(piece, f): every substring of length 1..MAX_PIECE of every
    word, corpus-weighted (each occurrence inside a word counts).
    Distributed explode over the vocabulary-bounded word table."""
    pieces = F.expr(
        f"""flatten(transform(sequence(1, length(word)), s ->
          transform(sequence(0, least({MAX_PIECE - 1}, length(word) - s)), d ->
            substring(word, s, d + 1))))"""
    )
    return (
        wf.select(F.explode(pieces).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("f"))
    )


def _segment_words(wf: DataFrame, costs: dict[str, int]) -> DataFrame:
    """(word, cnt, pieces): Viterbi segmentation of each distinct word
    under a bounded literal cost map — one distributed pass, no UDF."""
    return wf.withColumn("_vm", _cost_map_col(costs)).select(
        "word", "cnt", F.expr(_viterbi_toks_expr("word", "_vm")).alias("pieces")
    )


def _train_local(
    word_rows: list,
    seed_multi: int,
    keep_schedule: tuple[int, ...],
) -> list[tuple[str, int, int]]:
    """Driver fast path: the identical seed/prune/cost loop over a
    collected word table — only the execution site differs from the
    distributed path (property-tested equal)."""
    words = [(r["word"], int(r["cnt"])) for r in word_rows]
    cand: dict[str, int] = {}
    for w, c in words:
        n = len(w)
        for s in range(n):
            for l in range(1, min(MAX_PIECE, n - s) + 1):
                p = w[s : s + l]
                cand[p] = cand.get(p, 0) + c
    if not cand:
        return []
    singles = sorted(p for p in cand if len(p) == 1)
    multi = sorted((p for p in cand if len(p) > 1), key=lambda p: (-cand[p], p))
    vocab = {p: cand[p] for p in singles + multi[:seed_multi]}
    for k in keep_schedule:
        cm = piece_costs(vocab)
        usage: dict[str, int] = {}
        for w, c in words:
            for p in viterbi_word(w, cm):
                usage[p] = usage.get(p, 0) + c
        new_vocab = {s: usage.get(s, 0) + 1 for s in singles}
        kept = sorted(
            (p for p in vocab if len(p) > 1 and usage.get(p, 0) > 0),
            key=lambda p: (-usage[p], p),
        )[:k]
        for p in kept:
            new_vocab[p] = usage[p] + 1
        vocab = new_vocab
    cm = piece_costs(vocab)
    return [(p, vocab[p], cm[p]) for p in sorted(vocab)]


def unigram_train(
    docs: DataFrame,
    text_col: str = "text",
    seed_multi: int = SEED_MULTI,
    keep_schedule: tuple[int, ...] = KEEP_SCHEDULE,
    local_word_limit: int = UNIGRAM_LOCAL_WORD_LIMIT,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Train a unigram-LM piece vocabulary; returns (piece, freq,
    cost_q16) — freq is the smoothed final usage (usage + 1; raw
    candidate frequency for pieces never re-estimated), cost_q16 the
    final q16 integer cost. Single chars are always kept; multi-char
    pieces survive ``len(keep_schedule)`` Viterbi-usage prune rounds
    keeping the top ``keep_schedule[r]`` per round.

    The corpus is touched once (word_frequencies, cached across the
    fast-path probe exactly like bpe_train); every other distributed
    job runs over the word table; all collects are vocabulary- or
    alphabet-bounded by contract. ``word_freqs`` (r16): caller-supplied
    (word, cnt) table — e.g. derived from a shared checkpointed
    ``word_positions`` tokenize — replaces the trainer's own corpus
    pass; training is a pure function of that multiset."""
    spark: SparkSession = docs.sparkSession
    with _cached_word_table(docs, text_col, word_freqs) as wf:
        if local_word_limit > 0:
            probe = wf.limit(local_word_limit + 1).collect()
            if len(probe) <= local_word_limit:
                return spark.createDataFrame(
                    _train_local(probe, seed_multi, keep_schedule),
                    _VOCAB_SCHEMA,
                )

        cand = candidate_pieces(wf)
        singles_rows = cand.filter(F.length("piece") == 1).collect()
        multi_rows = (
            cand.filter(F.length("piece") > 1)
            .orderBy(F.desc("f"), F.asc("piece"))
            .limit(seed_multi)
            .collect()
        )
        if not singles_rows and not multi_rows:
            return spark.createDataFrame([], _VOCAB_SCHEMA)
        singles = sorted(r["piece"] for r in singles_rows)
        vocab = {r["piece"]: int(r["f"]) for r in singles_rows + multi_rows}
        for k in keep_schedule:
            cm = piece_costs(vocab)
            seg = _segment_words(wf, cm)
            usage_df = (
                seg.select(F.explode("pieces").alias("piece"), "cnt")
                .groupBy("piece")
                .agg(F.sum("cnt").alias("usage"))
            )
            # bounded collects: alphabet-sized singles + top-k multi
            singles_usage = {
                r["piece"]: int(r["usage"])
                for r in usage_df.filter(F.length("piece") == 1).collect()
            }
            kept = (
                usage_df.filter(F.length("piece") > 1)
                .orderBy(F.desc("usage"), F.asc("piece"))
                .limit(k)
                .collect()
            )
            vocab = {s: singles_usage.get(s, 0) + 1 for s in singles}
            for r in kept:
                vocab[r["piece"]] = int(r["usage"]) + 1
        cm = piece_costs(vocab)
        return spark.createDataFrame(
            [(p, vocab[p], cm[p]) for p in sorted(vocab)], _VOCAB_SCHEMA
        )


def unigram_segment(
    df: DataFrame,
    costs: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "unigram_tokens",
    wpos: DataFrame | None = None,
) -> DataFrame:
    """Segment each document with a trained vocabulary (piece -> cost
    map, e.g. ``{r.piece: r.cost_q16 for r in unigram_train(...)}``).
    The DP runs once per DISTINCT word; pieces join back to documents
    and reassemble in word order — (id_col, out_col). ``wpos`` (r16):
    a caller that already materialized the shared ``word_positions``
    tokenize passes it here (must be checkpointed/cached)."""
    # one tokenize pass for both consumers (distinct side + join-back
    # side) — the bpe_segment_distinct/span_dedup trade (r15)
    if wpos is None:
        wpos = word_positions(df, id_col, text_col).localCheckpoint(
            eager=False
        )
    distinct_words = wpos.select("word").distinct().withColumn("cnt", F.lit(1))
    wseg = _segment_words(distinct_words, costs).select("word", "pieces")
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
        F.coalesce(F.col(out_col), F.array().cast("array<string>")).alias(out_col),
    )
