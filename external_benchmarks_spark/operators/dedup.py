"""Deduplication operators for large-scale training-data pipelines.

Five families (BASELINE.json north star), all shuffle-bounded and
driver-free so they scale to 100 TB:

- exact          : md5(content) groupBy — one shuffle on a 16-byte key.
- minhash + LSH  : shingle -> k minhashes -> b bands -> bucket self-join.
                   Candidate pairs only ever materialize per-bucket, so the
                   quadratic blowup is bounded by bucket size, not table
                   size.
- simhash        : 32-bit weighted-majority fingerprint; near-dups share
                   the fingerprint (or a band of it).
- n-gram Jaccard : exact verification on candidate pairs (or blocked pairs).
- embedding      : cosine >= tau within blocking key (see similarity.py for
                   the ANN variant).

Hashing uses the md5-based cross-engine hash (functions/hashing.py) so all
integer outputs hash-match the DuckDB oracle exactly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from external_benchmarks_spark.functions.hashing import (
    MERSENNE_61,
    md5_hash64,
    minhash_params,
)
from external_benchmarks_spark.functions.text import tokens
from external_benchmarks_spark.functions.vector import (
    _sort_keys,
    arrow_rows,
    threshold_pairs,
)


def exact_dedup_groups(
    df: DataFrame, content_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups: (content hash, keeper id, dup count).

    groupBy on md5(content) — the canonical exact-dedup at any scale; the
    shuffle key is the 32-char digest, not the (possibly huge) content.
    """
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("text_hash"))
        .agg(
            F.min(key_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def keep_best(
    df: DataFrame,
    group: Column,
    score: Column,
    key_col: str = "doc_id",
) -> DataFrame:
    """One representative per group: highest score, key as tiebreak.

    The canonical post-clustering step — after exact hashing, MinHash
    bands, or connected components assign a group, keep the
    highest-quality member instead of the arbitrary minimum id. One
    shuffle (both window functions share the partition spec).
    """
    from pyspark.sql.window import Window

    base = df.select(F.col(key_col), group.alias("grp"), score.alias("score"))
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc(key_col))
    wg = Window.partitionBy("grp")
    return (
        base.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wg))
        .filter(F.col("rn") == 1)
        .select(
            F.col("grp").alias("group_key"),
            F.col(key_col).alias("keeper_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("score").alias("keeper_score"),
        )
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings ('w1 w2 w3')."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.size(toks) - n)  # empty when size < n
    return F.when(
        F.size(toks) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    key_col: str = "doc_id",
    content_col: str = "text",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Pairwise n-gram-set Jaccard within a blocking key.

    Blocking (same ``block_col``) keeps the self-join linear-ish: pairs
    explode only within blocks. At 100 TB the block key is an LSH band
    (see minhash_lsh_candidates) instead of a metadata column.
    """
    sh = F.array_distinct(word_shingles(content_col, n))
    left = df.select(
        F.col(key_col).alias("id_a"),
        F.col(block_col).alias("_blk"),
        sh.alias("sh_a"),
    ).filter(F.size("sh_a") > 0)
    right = df.select(
        F.col(key_col).alias("id_b"),
        F.col(block_col).alias("_blk"),
        sh.alias("sh_b"),
    ).filter(F.size("sh_b") > 0)
    pairs = left.join(right, "_blk").filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # Raw double output: inter/union are exact ints, so the division is
    # bit-identical in any IEEE engine — rounding would only introduce
    # engine-specific half-way behavior (SURVEY.md §5.3).
    jac = inter.cast("double") / union.cast("double")
    return (
        pairs.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature(
    df: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    seed: int = 42,
    elements: Column | None = None,
) -> DataFrame:
    """MinHash signature columns mh0..mh{k-1} per document.

    h_j(doc) = min over elements t of (a_j * H(t) + b_j) mod p, with H
    the cross-engine 32-bit md5 hash — integer-exact, oracle-matchable.
    Computed as array HOFs over the element list: no explode, no
    shuffle, and ONE traversal of the array carrying the whole k-wide
    running-minimum vector (not k separate array_min passes).

    ``elements`` overrides the hashed set: pass an ``array<string>``
    column (e.g. word shingles from :func:`word_shingles`) to minhash
    that set instead of the default whitespace tokens of
    ``content_col`` (the delta-dedup store signs SHINGLE sets so its
    signatures measure the same Jaccard its verifier computes).
    """
    toks = (
        F.array_distinct(elements)
        if elements is not None
        else F.array_distinct(tokens(F.col(content_col)))
    )
    token_hash = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )
    # Two-stage select: the (expensive) md5 token-hash array materializes
    # ONCE per row — Catalyst's CollapseProject refuses to inline non-cheap
    # expressions referenced downstream, so the aggregate shares it.
    hashed = df.select(F.col(key_col), token_hash.alias("_th"))

    params = minhash_params(num_hashes, seed)
    params_sql = ", ".join(
        f"named_struct('a', CAST({a} AS BIGINT), 'b', CAST({b} AS BIGINT))"
        for a, b in params
    )
    # acc starts at p (> any (a*h+b) mod p), zip_with folds each token's
    # k permuted hashes into the running minima. a < 2^30 and h < 2^32
    # keep a*h+b < 2^63: no BIGINT overflow (functions/hashing.py).
    mins = F.expr(
        f"""aggregate(
              _th,
              array_repeat(CAST({MERSENNE_61} AS BIGINT), {num_hashes}),
              (acc, h) -> zip_with(
                  acc,
                  transform(array({params_sql}),
                            p -> (p.a * h + p.b) % {MERSENNE_61}),
                  (x, y) -> least(x, y)))"""
    )
    cols = [F.col(key_col)]
    for j in range(num_hashes):
        # Empty token list -> NULL (array_min semantics of the k-pass form).
        cols.append(
            F.when(F.size("_th") > 0, F.element_at("_mins", j + 1))
            .otherwise(F.lit(None).cast("bigint"))
            .alias(f"mh{j}")
        )
    return hashed.select(F.col(key_col), mins.alias("_mins"), F.col("_th")).select(*cols)


def minhash_lsh_candidates(
    df: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >= 1 LSH band.

    Signature -> b bands of r=k/b minhashes -> band-value equality
    self-join -> distinct pairs. The join key is (band_idx, band hash), so
    the shuffle is uniform and the pair explosion is bounded per bucket —
    the standard web-scale MinHash-LSH layout.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature(df, key_col, content_col, num_hashes, seed)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[p.cast("string") for p in parts])).alias("bh"),
            )
        )
    exploded = sig.select(
        F.col(key_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(key_col, "bb.band", "bb.bh")
    a = exploded.select(
        F.col(key_col).alias("id_a"), "band", "bh"
    )
    b_side = exploded.select(F.col(key_col).alias("id_b"), "band", "bh")
    return (
        a.join(b_side, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(
    df: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over token hashes.

    For each bit i, sum +1/-1 over tokens by whether bit i of H(token) is
    set; fingerprint bit i = (sum > 0). All array HOFs — no explode —
    and integer-exact for the oracle.
    """
    toks = F.array_distinct(tokens(F.col(content_col)))
    token_hash = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )
    # Materialize token hashes once (same CollapseProject reasoning as
    # minhash_signature) so the vote aggregate shares them.
    hashed = df.select(F.col(key_col), token_hash.alias("_th"))
    # SINGLE pass over the token array: the accumulator is the whole
    # per-bit vote vector (zip_with against the token's ±1 bit signs),
    # not `bits` separate traversals — 32x less work per row, same
    # integer-exact result. SQL-expr form because variable-distance
    # shiftright is expressible in SQL lambdas but not via F.shiftright.
    votes = F.expr(
        f"""aggregate(
              _th,
              array_repeat(CAST(0 AS BIGINT), {bits}),
              (acc, h) -> zip_with(
                  acc,
                  transform(sequence(0, {bits - 1}),
                            i -> CASE WHEN shiftright(h, i) % 2 = 1
                                      THEN CAST(1 AS BIGINT)
                                      ELSE CAST(-1 AS BIGINT) END),
                  (a, b) -> a + b))"""
    )
    fp = F.expr(
        f"""aggregate(
              sequence(0, {bits - 1}),
              CAST(0 AS BIGINT),
              (acc, i) -> acc + CASE WHEN element_at(_votes, i + 1) > 0
                                     THEN shiftleft(CAST(1 AS BIGINT), i)
                                     ELSE CAST(0 AS BIGINT) END)"""
    )
    return (
        hashed.select(F.col(key_col), votes.alias("_votes"))
        .select(F.col(key_col), fp.alias("simhash"))
    )


def _subblock_key(
    df: DataFrame,
    block_col: str,
    emb_col: str,
    max_block_rows: int,
    key_col: str = "vec_id",
    n_bits: int = 4,
    seed: int = 1717,
) -> DataFrame:
    """Refine the blocking key for oversized blocks, bounding pair fan-out.

    Two levels, both deterministic:

    1. **Sign-LSH band** (similarity-preserving): blocks whose row count
       exceeds ``max_block_rows`` get their key suffixed with an
       ``n_bits``-bit hyperplane-sign band (seeded planes drawn for each
       vector length, as ``_block_pairs`` pairs rows only within one
       length), splitting the block into up to 2^n_bits sub-blocks.
       Near-duplicates land in the same sub-block with probability
       (1 - theta/pi)^n_bits — high for cosine near 1 — so this level
       rarely costs real pairs. A null vector or a null element has no
       band (NULL): its key stays the block's own, and it pairs with
       nothing anyway.
    2. **Hash-salt fallback** (hard bound): a sub-block STILL over the
       cap after banding — the adversarial case of a giant block of
       near-identical vectors, which no similarity-preserving split can
       separate — is salted by ``xxhash64(key) % ceil(n/cap)``, giving
       expected sub-block size ~cap regardless of geometry.

    Pairs are then mined only WITHIN a sub-block: the approximation only
    ever DROPS candidate pairs (drop-only), never invents them, and
    blocks at or under the cap are untouched (exact). Level 2 drops
    cross-salt pairs indiscriminately — the documented price of a hard
    memory/fan-out bound, the same trade MinHash-LSH banding makes.

    Shape: two groupBy(count)+join rounds on the (sub-)block key — the
    second reuses the first's partitioning — plus one ``arrow_udf``
    matmul per vector length of a batch for the band (rows read by
    ``functions/vector.arrow_rows``). Opt-in via ``max_block_rows``.
    """

    @F.arrow_udf("bigint")
    def band(emb: pa.Array) -> pa.Array:
        lens = pc.fill_null(pc.list_value_length(emb), -1).to_numpy()
        out, ok = np.zeros(len(emb), np.int64), np.zeros(len(emb), bool)
        for d in np.unique(lens[lens >= 0]):
            m, valid = arrow_rows(emb, d)
            bits = (m @ np.random.RandomState(seed).randn(d, n_bits)) > 0
            out = np.where(valid, bits @ (1 << np.arange(n_bits)), out)
            ok |= valid
        return pa.array(out, mask=~ok)

    sizes = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("_blk_n"))
    banded = (
        df.join(sizes, on=block_col)
        .withColumn(
            "_blk",
            F.when(
                F.col("_blk_n") > max_block_rows,
                F.concat_ws(
                    "#",
                    F.col(block_col).cast("string"),
                    band(F.col(emb_col)).cast("string"),
                ),
            ).otherwise(F.col(block_col).cast("string")),
        )
        .drop("_blk_n")
    )
    sub_sizes = banded.groupBy("_blk").agg(F.count(F.lit(1)).alias("_sub_n"))
    n_salt = F.ceil(F.col("_sub_n") / F.lit(max_block_rows)).cast("bigint")
    salt = F.pmod(F.xxhash64(F.col(key_col).cast("string")), n_salt)
    return (
        banded.join(sub_sizes, on="_blk")
        .withColumn(
            "_blk",
            F.when(
                F.col("_sub_n") > max_block_rows,
                F.concat_ws("@", F.col("_blk"), salt.cast("string")),
            ).otherwise(F.col("_blk")),
        )
        .drop("_sub_n")
    )


def _blocked(
    df: DataFrame,
    block_col: str,
    key_col: str,
    emb_col: str,
    max_block_rows: int | None,
    subblock_bits: int = 2,
) -> DataFrame:
    """``df`` with its pair-mining block key in ``_blk``: ``block_col``
    itself, or its ``_subblock_key`` refinement under a cap."""
    if max_block_rows is None:
        return df.withColumn("_blk", F.col(block_col))
    return _subblock_key(
        df, block_col, emb_col, max_block_rows, key_col, n_bits=subblock_bits
    )


def _block_pairs(
    tbl: pa.Table, key_col: str, emb_col: str, threshold: float, ansi: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block's near-dup pairs as (i, j, cosine): row indices of
    ``tbl`` with key(i) < key(j), and the Catalyst pair join's cosine
    bits (functions/vector.threshold_pairs).

    Rows pair only with rows of their own vector length, as ``zip_with``
    pads the shorter one with nulls; a null key, a null vector or a null
    element pairs with nothing. A zero-norm row divides by zero against
    every valid partner: with ``ansi`` that raises DIVIDE_BY_ZERO, as
    the Catalyst division does, and otherwise the row pairs with
    nothing."""
    keys = tbl.column(key_col).combine_chunks()
    emb = tbl.column(emb_col).combine_chunks()
    rows = np.flatnonzero(keys.is_valid().to_numpy(zero_copy_only=False))
    sk = _sort_keys(keys.take(rows))
    order = np.argsort(sk, kind="stable")
    rows, sk = rows[order], sk[order]
    lens = pc.fill_null(pc.list_value_length(emb.take(rows)), -1).to_numpy()
    out = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
    for d in np.unique(lens[lens >= 0]):
        grp = np.flatnonzero(lens == d)
        mat, ok = arrow_rows(emb.take(rows[grp]), d)
        grp, mat = grp[ok], mat[ok]
        zero = np.einsum("ij,ij->i", mat, mat) == 0.0
        if ansi and zero.any() and len(np.unique(sk[grp])) > 1:
            raise ArithmeticError(
                f"[DIVIDE_BY_ZERO] Division by zero: a zero-norm {emb_col} "
                "row has no cosine"
            )
        grp, mat = grp[~zero], mat[~zero]
        i, j, cos = threshold_pairs(mat, threshold)
        i, j = grp[i], grp[j]
        distinct = sk[i] != sk[j]
        out.append((rows[i[distinct]], rows[j[distinct]], cos[distinct]))
    return tuple(np.concatenate(parts) for parts in zip(*out))


def embedding_neardup_pairs(
    df: DataFrame,
    block_col: str,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    max_block_rows: int | None = None,
    subblock_bits: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key:
    (id_a, id_b, cosine) with id_a < id_b and cosine >= ``threshold``.

    Exact within-block verification; at 100 TB the block key comes from an
    LSH/IVF assignment (similarity.py) rather than a metadata column.

    One hash shuffle on the block key into one grouped Arrow call per
    block (``_block_pairs``): a BLAS Gram ranks the block's pairs and the
    exact left-to-right fold decides every pair that could reach the
    threshold, so the edges and cosine bits are those of the Catalyst
    ``dot_product / (l2_norm * l2_norm)`` pair join (and of DuckDB's
    ``list_dot_product`` chain). Rows the fold scores null (null or
    wrong-length vectors, null elements) pair with nothing; a zero-norm
    row raises DIVIDE_BY_ZERO under ``spark.sql.ansi.enabled``. ``id_a``
    and ``id_b`` keep the key column's type.

    ``max_block_rows`` caps pair fan-out for degenerate giant blocks by
    sub-blocking them with a secondary sign-LSH band (_subblock_key) —
    approximate (drop-only) above the cap, exact at or below it.
    ``subblock_bits`` is the band width: each extra bit halves the
    expected sub-block size but multiplies the chance a true pair is
    split across sub-blocks. Defaults are picked from the measured
    sweep in tools/neardup_knobs.py (SCALE.md round-8 table).
    """
    key = df.schema[key_col]
    schema = StructType(
        [
            StructField("id_a", key.dataType),
            StructField("id_b", key.dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    ansi = df.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"

    def score(tbl: pa.Table) -> pa.Table:
        i, j, cos = _block_pairs(tbl, key_col, emb_col, threshold, ansi)
        keys = tbl.column(key_col)
        return pa.Table.from_arrays(
            [keys.take(i), keys.take(j), pa.array(cos)], names=schema.names
        )

    return (
        _blocked(df, block_col, key_col, emb_col, max_block_rows, subblock_bits)
        .select(key_col, "_blk", emb_col)
        .groupBy("_blk")
        .applyInArrow(score, schema)
    )


def dup_span_stats(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_repeat: int = 2,
) -> DataFrame:
    """Exact substring-duplication signal per document (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of a doc's n-token spans that occur elsewhere in the corpus.

    Where the paper builds a corpus suffix array (a single-machine
    construction), the distributed equivalent is span fingerprinting:
    every n-token window is hashed, hashes are counted corpus-wide, and
    each occurrence learns whether its span repeats. Same signal —
    "how much of this doc is duplicated text" — with only keyed shuffles.

    Returns (doc_id, n_spans, n_dup_spans, n_cross_doc_spans, dup_frac):
    - n_dup_spans: spans occurring >= min_repeat times corpus-wide
      (within-doc repeats count).
    - n_cross_doc_spans: spans present in >= 2 distinct docs.
    - dup_frac: n_dup_spans / n_spans — one exact integer division, so
      the oracle hash-matches without rounding.

    Scale shape: explode (x ~doc_len rows), one groupBy on a 60-bit span
    hash (uniform key — no skew unless the corpus shares one span
    pathologically, which the dedup itself is about to remove), one
    many-to-one join back, one integer-sum groupBy(doc_id). Shuffle
    payload is (hash, doc_id) — never the text. Docs shorter than n
    tokens surface with zero counts via the final left join.
    """
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, n)).alias("sh"),
    ).select("doc_id", md5_hash64("sh").alias("h"))
    counts = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("c_tot"),
        F.count_distinct("doc_id").alias("c_docs"),
    )
    per = (
        occ.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("c_tot") >= min_repeat, 1).otherwise(0)
            ).alias("n_dup_spans"),
            F.sum(F.when(F.col("c_docs") >= 2, 1).otherwise(0)).alias(
                "n_cross_doc_spans"
            ),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("n_cross_doc_spans", F.lit(0))
            .cast("long")
            .alias("n_cross_doc_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.col("n_dup_spans").cast("double")
                / F.col("n_spans").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )
