"""Distributed WordPiece tokenizer training + greedy segmentation —
the THIRD tokenizer family next to BPE (operators/bpe.py) and
unigram-LM (operators/unigram.py), per Schuster & Nakajima, "Japanese
and Korean Voice Search" (ICASSP 2012) and the BERT tokenizer (Devlin
et al. 2019). Reference parity: the reference's embedding tier ships
`BAAI/bge-small-en-v1.5`, whose tokenizer IS a BERT WordPiece
(/root/reference/README.md:52-55) — this module trains and applies
that family under the same hash-oracle discipline as the other two.

Algorithm — BPE's loop with a different objective: symbols carry the
BERT continuation marker (``hello`` char-splits to
``h ##e ##l ##l ##o``; ``l`` word-initial and ``##l`` are DISTINCT
symbols with distinct counts, exactly the original formulation), and
each round merges the pair maximizing the likelihood-gain score
``count(ab) / (count(a) * count(b))`` — not the raw pair count. The
merged symbol is ``a`` plus ``b`` with its ``##`` stripped
(``h + ##e -> he``, ``##l + ##o -> ##lo``), so pieces keep their
positional identity. Merge application (greedy left-to-right
non-overlapping at the symbol level) is shared with BPE
(`bpe._apply_merge`), with the merged literal overridden.

Cross-engine exactness: the score is a FIXED-POINT INTEGER quotient,
``score_q36 = (count(ab) << 36) div (count(a) * count(b))`` — both
engines truncate integer division toward zero, so the quantized score
is bit-identical; ties (including pairs collapsed into one q36 cell)
break by (lhs, rhs) ascending. BIGINT bounds: safe while
``count(ab) < 2^27`` (~134M) and ``count(a) * count(b) < 2^63``;
a 100 TB corpus shape casts the two products to DECIMAL(38,0)
(Spark) / HUGEINT (DuckDB), both exact — the q36 quotient itself
still fits BIGINT because score <= 1 for any real pair.

Segmentation is the standard BERT greedy longest-match-first: at the
word start take the longest vocabulary piece that prefixes the word,
after it the longest ``##``-continuation piece, and a position with
no match makes the whole word ``[UNK]``. Implemented UDF-free as (1) a
per-position best-match-length array (one Catalyst ``transform`` probing
a bounded literal vocab map — no join), then (2) a chain-following
``aggregate`` that jumps ``pos += best_len[pos]`` emitting pieces.
The DP runs once per DISTINCT word and joins back in word order
(unigram_segment's shape).

Scale shape — identical to the other two trainers: the corpus is
touched ONCE (`bpe.word_frequencies`, cached across the fast-path
probe); every merge round is two vocabulary-bounded groupBys (pair
counts + symbol counts) joined and reduced by a 1-row
TakeOrderedAndProject collect; the vocabulary is bounded by contract
(alphabet + n_merges), so segmentation's literal map and max-piece
probe are driver-side constants, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from external_benchmarks_spark.operators.bpe import (
    _apply_merge,
    _cached_word_table,
    _merge_word,
    word_frequencies,
    word_positions,
)

WP_LOCAL_WORD_LIMIT = 100_000
SCORE_SHIFT = 36  # q36 fixed-point likelihood-gain score
UNK_TOKEN = "[UNK]"

_MERGES_SCHEMA = (
    "step bigint, lhs string, rhs string, merged string, "
    "pair_count bigint, score_q36 bigint"
)


def _strip_cont(sym: str) -> str:
    """Drop the ## continuation marker (symbols are [a-z0-9]+ so the
    marker is exactly a literal '##' prefix)."""
    return sym[2:] if sym.startswith("##") else sym


def _wp_spaced_expr(word_col: str) -> str:
    """'hello' -> ' h ##e ##l ##l ##o ' — BERT char split: the first
    char plain, every continuation char ##-marked; sentinel spaces at
    both ends keep the format uniform across merge steps. SQL
    expression form (substring takes the loop variable)."""
    return (
        f"concat(' ', array_join(transform(sequence(1, length({word_col})), "
        f"k -> concat(CASE WHEN k = 1 THEN '' ELSE '##' END, "
        f"substring({word_col}, k, 1))), ' '), ' ')"
    )


def _pair_counts(syms: list[str]) -> list[tuple[str, str]]:
    return [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]


def _train_local(
    word_rows: list, n_merges: int
) -> list[tuple[int, str, str, str, int, int]]:
    """Driver fast path: identical scoring ((score_q36 desc, lhs, rhs)
    tie rule) and identical greedy merge as the distributed path."""
    words: list[tuple[list[str], int]] = []
    for r in word_rows:
        w = r["word"]
        syms = [w[0]] + ["##" + c for c in w[1:]]
        words.append((syms, int(r["cnt"])))
    merges: list[tuple[int, str, str, str, int, int]] = []
    for step in range(1, n_merges + 1):
        pair_cnt: dict[tuple[str, str], int] = {}
        sym_cnt: dict[str, int] = {}
        for syms, cnt in words:
            for s in syms:
                sym_cnt[s] = sym_cnt.get(s, 0) + cnt
            for p in _pair_counts(syms):
                pair_cnt[p] = pair_cnt.get(p, 0) + cnt
        if not pair_cnt:
            break
        scored = {
            p: (c << SCORE_SHIFT) // (sym_cnt[p[0]] * sym_cnt[p[1]])
            for p, c in pair_cnt.items()
        }
        (a, b), sc = min(
            scored.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = a + _strip_cont(b)
        merges.append((step, a, b, merged, pair_cnt[(a, b)], sc))
        words = [(_merge_word(syms, a, b, merged), cnt) for syms, cnt in words]
    return merges


def wordpiece_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    local_word_limit: int = WP_LOCAL_WORD_LIMIT,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Learn ``n_merges`` WordPiece merge rules; returns (step, lhs,
    rhs, merged, pair_count, score_q36) in learn order. The corpus is
    touched once; each round is two word-table groupBys + a 1-row
    collect (see module docstring for the scale contract).
    ``word_freqs`` (r16): caller-supplied (word, cnt) table — e.g.
    derived from a shared checkpointed ``word_positions`` tokenize —
    replaces the trainer's own corpus pass; training is a pure
    function of that multiset."""
    spark: SparkSession = docs.sparkSession
    merges: list[tuple[int, str, str, str, int, int]] = []
    with _cached_word_table(docs, text_col, word_freqs) as wf:
        if local_word_limit > 0:
            probe = wf.limit(local_word_limit + 1).collect()
            if len(probe) <= local_word_limit:
                return spark.createDataFrame(
                    _train_local(probe, n_merges), _MERGES_SCHEMA
                ).orderBy("step")

        words = wf.select(F.expr(_wp_spaced_expr("word")).alias("s"), "cnt")
        for step in range(1, n_merges + 1):
            pairs = F.expr(
                "transform(filter(sequence(1, size(split(trim(s), ' '))), "
                "i -> i < size(split(trim(s), ' '))), "
                "i -> struct(split(trim(s), ' ')[i - 1] AS a, "
                "split(trim(s), ' ')[i] AS b))"
            )
            pc = (
                words.select(F.explode(pairs).alias("p"), "cnt")
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("cnt").alias("c"))
            )
            sc = (
                words.select(
                    F.explode(F.split(F.trim("s"), " ")).alias("sym"), "cnt"
                )
                .groupBy("sym")
                .agg(F.sum("cnt").alias("f"))
            )
            best = (
                pc.join(F.broadcast(sc.alias("sa")), F.col("a") == F.col("sa.sym"))
                .join(F.broadcast(sc.alias("sb")), F.col("b") == F.col("sb.sym"))
                .select(
                    "a",
                    "b",
                    "c",
                    F.expr(
                        f"(c * cast({1 << SCORE_SHIFT} as bigint)) "
                        f"div (sa.f * sb.f)"
                    ).alias("sc"),
                )
                .orderBy(F.desc("sc"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["c"] is None:
                break
            a, b = best[0]["a"], best[0]["b"]
            c, scq = int(best[0]["c"]), int(best[0]["sc"])
            merged = a + _strip_cont(b)
            merges.append((step, a, b, merged, c, scq))
            words = words.select(
                _apply_merge(F.col("s"), a, b, merged).alias("s"), "cnt"
            )
    return spark.createDataFrame(merges, _MERGES_SCHEMA).orderBy("step")


def alphabet_from_words(words: DataFrame) -> list[str]:
    """The base vocabulary off an existing (word, ...) frame: every
    positional char symbol ('x' word-initial, '##x' continuation).
    Alphabet-bounded collect (<= 72 symbols for [a-z0-9]). The
    positional-char set of the word multiset only depends on the
    DISTINCT words, so any frame with the corpus word set works — a
    caller sharing one checkpointed ``word_positions`` tokenize passes
    its distinct words here instead of paying a fresh corpus pass
    (r16)."""
    rows = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word)), "
                "k -> concat(CASE WHEN k = 1 THEN '' ELSE '##' END, "
                "substring(word, k, 1)))"
            )
        ).alias("piece")
    ).distinct().collect()
    return sorted(r["piece"] for r in rows)


def alphabet_pieces(docs: DataFrame, text_col: str = "text") -> list[str]:
    """:func:`alphabet_from_words` over the corpus word table."""
    return alphabet_from_words(word_frequencies(docs, text_col))


def greedy_word(w: str, vocab: set[str], max_len: int) -> list[str]:
    """Driver-side twin of the Catalyst greedy longest-match chain."""
    toks: list[str] = []
    pos, n = 0, len(w)
    while pos < n:
        ln = 0
        for cand_len in range(min(max_len, n - pos), 0, -1):
            piece = ("##" if pos else "") + w[pos : pos + cand_len]
            if piece in vocab:
                ln = cand_len
                break
        if ln == 0:
            return [UNK_TOKEN]
        toks.append(("##" if pos else "") + w[pos : pos + ln])
        pos += ln
    return toks


def _greedy_toks_expr(word_col: str, vm_col: str, max_len: int) -> str:
    """Catalyst HOFs (no UDF) computing the greedy longest-match piece
    list under the literal vocab map ``vm_col`` (piece -> 1): a
    per-position best-length array, then a chain-following aggregate —
    each step consumes >= 1 char so length(word) iterations suffice.
    Identical semantics to :func:`greedy_word`."""
    lens = f"""transform(sequence(1, length({word_col})), p ->
      coalesce(array_max(filter(transform(sequence(1, {max_len}), l ->
        CASE WHEN p + l - 1 <= length({word_col})
                  AND element_at({vm_col},
                        concat(CASE WHEN p = 1 THEN '' ELSE '##' END,
                               substring({word_col}, p, l))) IS NOT NULL
             THEN l END), x -> x is not null)), 0))"""
    return f"""aggregate(sequence(1, length({word_col})),
      named_struct('pos', 1, 'ls', {lens},
                   'toks', cast(array() as array<string>)),
      (st, z) -> CASE
        WHEN st.pos > length({word_col}) THEN st
        WHEN element_at(st.ls, st.pos) = 0 THEN named_struct(
          'pos', length({word_col}) + 1, 'ls', st.ls,
          'toks', array('{UNK_TOKEN}'))
        ELSE named_struct(
          'pos', st.pos + element_at(st.ls, st.pos), 'ls', st.ls,
          'toks', array_append(st.toks,
            concat(CASE WHEN st.pos = 1 THEN '' ELSE '##' END,
                   substring({word_col}, st.pos,
                             element_at(st.ls, st.pos))))) END,
      st -> st.toks)"""


def wordpiece_vocab(
    docs: DataFrame,
    merges_df: DataFrame,
    text_col: str = "text",
    words: DataFrame | None = None,
) -> list[str]:
    """Full segmentation vocabulary: positional alphabet + every merge
    output. Both parts bounded (alphabet + n_merges rows). ``words``
    (r16): a caller holding the corpus word set (e.g. the distinct
    words of a shared checkpointed tokenize) passes it here and the
    alphabet job reads that instead of re-scanning the corpus."""
    merged = [r["merged"] for r in merges_df.select("merged").collect()]
    alphabet = (
        alphabet_from_words(words)
        if words is not None
        else alphabet_pieces(docs, text_col)
    )
    return sorted(set(alphabet) | set(merged))


def wordpiece_segment(
    df: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "wp_tokens",
    wpos: DataFrame | None = None,
) -> DataFrame:
    """Greedy longest-match segmentation of each document under a
    trained vocabulary. The chain DP runs once per DISTINCT word;
    pieces join back to documents in word order — (id_col, out_col).
    Wordless documents keep a row with the empty list. ``wpos`` (r16):
    a caller that already materialized the shared ``word_positions``
    tokenize passes it here (must be checkpointed/cached)."""
    vocab_set = sorted(set(vocab))
    max_len = max((len(_strip_cont(p)) for p in vocab_set), default=1)
    # map_from_arrays over two list literals: 3 py4j calls where
    # create_map(*2N lits) cost two driver round-trips per piece.
    vm = (
        F.map_from_arrays(
            F.lit(vocab_set).cast("array<string>"),
            F.lit([1] * len(vocab_set)).cast("array<int>"),
        )
        if vocab_set
        else F.create_map().cast("map<string,int>")
    )
    # one tokenize pass for both consumers (distinct side + join-back
    # side) — the bpe_segment_distinct/span_dedup trade (r15)
    if wpos is None:
        wpos = word_positions(df, id_col, text_col).localCheckpoint(
            eager=False
        )
    distinct_words = wpos.select("word").distinct()
    wseg = distinct_words.withColumn("_vm", vm).select(
        "word",
        F.expr(_greedy_toks_expr("word", "_vm", max_len)).alias("pieces"),
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
    return df.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col(out_col), F.array().cast("array<string>")).alias(
            out_col
        ),
    )
