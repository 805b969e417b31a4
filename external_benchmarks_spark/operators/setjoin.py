"""EXACT set-similarity self-join via prefix filtering — the AllPairs /
PPJoin family (Bayardo et al., "Scaling Up All Pairs Similarity
Search", WWW'07; Xiao et al., "Efficient Similarity Joins for Near
Duplicate Detection", WWW'08). Complements the dedup suite's two
existing pair generators, which each trade something away:

    ngram_jaccard_pairs   needs a metadata blocking column (misses
                          cross-block pairs entirely)
    minhash_lsh_candidates is probabilistic (false negatives by design)

Prefix filtering is COMPLETE: every pair with Jaccard >= t is
guaranteed to be produced, with no metadata block and no probability
of a miss. The principle (PPJoin Lemma 1): order every record's
shingle set by one global canonical order (ascending document
frequency, rarest first — ties broken by the shingle string); if
J(x, y) >= t then |x ∩ y| >= ceil(t·|x|), and two ordered sets with
overlap >= a must share an element within their first |x| - a + 1
elements. So records whose prefixes

    p(x) = |x| - ceil(t·|x|) + 1

share no token cannot qualify, and the candidate join is an inverted-
index join on prefix tokens only — the rarest tokens of each record,
which is what keeps posting lists (and the candidate volume
sum_w c(w)^2) small. A length filter (t·|a| <= |b| and t·|b| <= |a|)
prunes further before verification.

Cross-engine exactness: NO floating point anywhere in the decision
path. Thresholds are ppm integers; ceil(t·|x|) is the integer device
(t_ppm·sz + 999999) div 1e6, and the final acceptance test is the
cross-multiplication inter·1e6 >= t_ppm·union — so the reported pair
set is bit-reproducible and the brute-force DuckDB oracle replays it
with the same integer comparisons. (A float ceil(0.6·5) can land on
either side of 3 depending on rounding; the integer form cannot.)

100 TB shape: one corpus scan builds the shingle table (persisted —
it is reused by the frequency count, the prefix build, and both
verify joins); the token-frequency join and the prefix inverted-index
join shuffle on token; the verify step joins the candidate pairs
(bounded by the prefix blocking) back to the shingle arrays. No
cartesian, no LSH tuning, no block key. Skew note: a token's posting
list is its document frequency, and prefixes keep only each record's
rarest ceil((1-t)·|x|)+1 tokens, so high thresholds keep buckets
small; very low thresholds (t -> 0) degenerate toward all-pairs by
construction, which is the honest cost of exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from external_benchmarks_spark.operators.dedup import word_shingles

PPM = 1_000_000


def shingle_docs(
    df: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(_id, _sh): distinct shingle arrays, empty docs dropped."""
    sh = F.array_distinct(word_shingles(content_col, n))
    return (
        df.select(F.col(key_col).alias("_id"), sh.alias("_sh"))
        .filter(F.size("_sh") > 0)
    )


def prefix_candidates(docs: DataFrame, threshold_ppm: int) -> DataFrame:
    """Candidate pairs (id_a < id_b) from the prefix inverted-index join
    + length filter — a guaranteed superset of the qualifying pairs
    (PPJoin Lemma 1). Exposed separately so scale tooling can price the
    candidate stage against the verified result."""
    toks = docs.select("_id", F.size("_sh").alias("_sz"), F.explode("_sh").alias("_t"))
    freq = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    # canonical order: ascending (document frequency, shingle) — a
    # total order, so every record's sorted array is deterministic
    ordered = (
        toks.join(freq, "_t")
        .groupBy("_id", "_sz")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_t"))).alias("_o"))
        .select(
            "_id",
            "_sz",
            F.expr("transform(_o, s -> s._t)").alias("_ord"),
        )
    )
    # prefix length p = sz - ceil(t*sz) + 1 (integer ceil: no FP)
    pref = ordered.select(
        "_id",
        "_sz",
        F.explode(
            F.expr(
                f"slice(_ord, 1, _sz - CAST(({threshold_ppm} * _sz + {PPM - 1}) "
                f"div {PPM} AS INT) + 1)"
            )
        ).alias("_t"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, "_t")
        .filter(
            (F.col("a._id") < F.col("b._id"))
            # length filter: t*|a| <= |b| and t*|b| <= |a|, in ppm
            & (F.col("b._sz") * PPM >= F.col("a._sz") * threshold_ppm)
            & (F.col("a._sz") * PPM >= F.col("b._sz") * threshold_ppm)
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return cand


def allpairs_jaccard_join(
    df: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
    n: int = 3,
    threshold_ppm: int = 600_000,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= threshold —
    exact and complete. Output: (id_a, id_b, inter, un, jaccard)."""
    # one corpus scan feeds the frequency count, the prefix build and
    # both verify joins: a lazy local checkpoint, owned by this call
    docs = shingle_docs(df, key_col, content_col, n).localCheckpoint(eager=False)
    cand = prefix_candidates(docs, threshold_ppm)
    va = docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    vb = docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    un = F.size(F.array_union("_sha", "_shb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.cast("bigint").alias("inter"),
            un.cast("bigint").alias("un"),
        )
        # exact acceptance: integer cross-multiplication, no division
        .filter(F.col("inter") * PPM >= F.lit(threshold_ppm) * F.col("un"))
        .withColumn(
            "jaccard", F.col("inter").cast("double") / F.col("un").cast("double")
        )
    )


def hash_sample_docs(
    df: DataFrame, key_col: str = "doc_id", n_docs: int = 300
) -> DataFrame:
    """Deterministic md5 hash-sample of n_docs rows — the house device
    for data-derived bounded subsets (TakeOrderedAndProject, no single-
    partition shuffle)."""
    return df.orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    ).limit(n_docs)
