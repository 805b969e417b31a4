"""The reference's core benchmark query: filtered vector top-k.

Reference README.md:72-83 defines it:

    candidates = products WHERE <metadata predicate>
    scored     = dot(candidates.embedding, qvec)
    return top-k(scored, k=100) -> key

Physical shape we want (and get — verified via .explain("formatted")):

  Parquet scan with PushedFilters (the metadata predicate) and ReadSchema
  pruned to {key, filter cols, embedding}  ->  per-batch scoring
  ->  TakeOrderedAndProject (per-partition top-k, single merge; never a
  full sort).

At 100 TB the scan dominates; the predicate prunes row groups via
min/max stats and — with the index layout in pipeline/index.py —
whole partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from external_benchmarks_spark.functions.vector import batch_topk, collect_queries


def filtered_vector_topk(
    df: DataFrame,
    qvec: Sequence[float],
    predicate: Column | None,
    k: int = 100,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Reference README.md:73-75: predicate -> dot score -> top-k -> key.

    Each Arrow batch keeps its own exact top k (functions/vector.
    batch_topk: BLAS ranks, the left-to-right fold scores, so the score
    bits equal ``dot_product_literal``'s at any width). Ties broken by
    key for deterministic output (SURVEY.md §5.3).
    """
    out = df if predicate is None else df.filter(predicate)
    out = batch_topk(out, [qvec], k, key_col, emb_col, keep=extra_cols)
    # orderBy+limit plans as TakeOrderedAndProject: per-partition heap top-k
    # then one merge — no global sort, no shuffle of the full table.
    return out.orderBy(F.desc("score"), F.asc(key_col)).limit(k)


def per_query_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 100,
    item_key: str = "vec_id",
    item_emb: str = "embedding",
    query_key: str = "query_id",
    query_emb: str = "qvec",
) -> DataFrame:
    """Batch-of-queries top-k (reference README.md:73 'rotate query vectors').

    The (small) query set is collected once; each Arrow batch of the
    (huge) item table keeps its exact top k per query (one BLAS product
    against all queries, then the fold on the survivors), and a window
    ranks only those n_batches * n_queries * k survivors — the one
    genuine window-function use in the workload (SURVEY.md §2.5). Scores
    are ``dot_product``'s bits; ties break by item key.
    """
    qfield, qids, qmat = collect_queries(queries, query_key, query_emb)
    survivors = batch_topk(items, qmat, k, item_key, item_emb, qids=(qfield, qids))
    w = Window.partitionBy(query_key).orderBy(F.desc("score"), F.asc(item_key))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, item_key, "score", "rank")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, query_key: str, item_key: str) -> DataFrame:
    """Recall of an approximate top-k vs the exact oracle, per query.

    Reference README.md:76 (>90% average recall requirement). left-semi
    join keyed on (query, item); both sides are top-k result sets (small),
    so this broadcasts.
    """
    hits = approx.join(
        F.broadcast(exact.select(query_key, item_key)), [query_key, item_key], "left_semi"
    )
    per_query_hits = hits.groupBy(query_key).agg(F.count("*").alias("hits"))
    totals = exact.groupBy(query_key).agg(F.count("*").alias("total"))
    return per_query_hits.join(totals, query_key).select(
        query_key, (F.col("hits") / F.col("total")).alias("recall")
    )

def _rrf_contrib(rank_col: str, c: int):
    """The one copy of the RRF contribution: 1/(c + rank), 0 when the
    item is absent from that list."""
    return F.coalesce(F.lit(1.0) / (F.lit(c) + F.col(rank_col)), F.lit(0.0))


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    key_col: str = "id",
    rank_a_col: str = "rank_a",
    rank_b_col: str = "rank_b",
    k: int = 20,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists (Cormack,
    Clarke & Buettcher, SIGIR 2009): score = sum over lists of
    1/(c + rank), absent list contributing 0 — the standard hybrid
    lexical+dense retrieval merge.

    Inputs are (key, rank) DataFrames (rank 1-based). Both lists are
    top-m bounded by construction, so the FULL OUTER join is two tiny
    inputs regardless of corpus size — at 100 TB the expensive part is
    producing the lists (BM25 index read, ANN probe), never the fusion.
    1/(c+rank) is an exact-double of integers, evaluated in fixed
    operand order, so fused scores hash-match a SQL oracle bit-for-bit.
    """
    a = ranked_a.select(F.col(key_col), F.col(rank_a_col))
    b = ranked_b.select(F.col(key_col), F.col(rank_b_col))
    j = a.join(b, key_col, "full_outer")
    return (
        j.select(
            F.col(key_col),
            (_rrf_contrib(rank_a_col, c) + _rrf_contrib(rank_b_col, c)).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc(key_col))
        .limit(k)
    )

def rrf_fuse_per_query(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "query_id",
    key_col: str = "id",
    rank_a_col: str = "rank_a",
    rank_b_col: str = "rank_b",
    k: int = 20,
    c: int = 60,
) -> DataFrame:
    """Per-query reciprocal-rank fusion: rrf_fuse generalized to a BATCH
    of queries (the serving shape — fuse bm25_batch's lexical rankings
    with per_query_topk's dense rankings in one pass). The full-outer
    merge joins on (query, key); both inputs are top-m-per-query
    bounded, so the join is O(Q * m); ranking is a per-query
    row_number window over that bounded set.
    """
    from pyspark.sql.window import Window

    a = ranked_a.select(query_col, key_col, rank_a_col)
    b = ranked_b.select(query_col, key_col, rank_b_col)
    j = a.join(b, [query_col, key_col], "full_outer")
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf"), F.asc(key_col)
    )
    return (
        j.select(
            F.col(query_col),
            F.col(key_col),
            (_rrf_contrib(rank_a_col, c) + _rrf_contrib(rank_b_col, c)).alias("rrf"),
        )
        .withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("fused_rank") <= k)
        .select(query_col, key_col, "rrf", "fused_rank")
    )

def rrf_fuse_many(
    ranked: "list[tuple[DataFrame, str]]",
    key_col: str = "id",
    k: int = 20,
    c: int = 60,
) -> DataFrame:
    """N-way reciprocal-rank fusion: fold any number of (DataFrame,
    rank_col) ranked lists into one RRF score — real stacks fuse three
    or more rankers (lexical, dense, recency, popularity). Same
    contribution helper as the 2-way forms; the fold is a chain of
    full-outer joins over top-m bounded inputs, so cost is
    O(sum of list sizes) regardless of corpus size.

    Each list's rank column is renamed to a positional internal name
    (``_rank_{i}``) inside the fold, so any number of lists may share a
    rank column name (the natural case — every list built with
    ``row_number().alias("rank")``) without ambiguous-column errors or
    silent double counting.
    """
    if not ranked:
        raise ValueError("ranked must contain at least one (df, rank_col)")
    acc = None
    for i, (df, rank_col) in enumerate(ranked):
        cur = df.select(F.col(key_col), F.col(rank_col).alias(f"_rank_{i}"))
        acc = cur if acc is None else acc.join(cur, key_col, "full_outer")
    total = None
    for i in range(len(ranked)):
        contrib = _rrf_contrib(f"_rank_{i}", c)
        total = contrib if total is None else total + contrib
    return (
        acc.select(F.col(key_col), total.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc(key_col))
        .limit(k)
    )


def score_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    key_col: str = "id",
    score_a_col: str = "score_a",
    score_b_col: str = "score_b",
    alpha: float = 0.5,
    k: int = 20,
) -> DataFrame:
    """Score-based hybrid fusion (the other standard merge next to RRF):
    min-max normalize each list's scores to [0, 1], then a convex
    combination ``alpha * norm_a + (1 - alpha) * norm_b`` with absent
    lists contributing 0.

    The per-list min/max are computed over the top-m bounded inputs
    (tiny aggregates, broadcast back); the fused score is rounded to
    1e-6 fixed point so ranking and values hash-match a SQL oracle.
    A constant-score list (max == min) normalizes to 1.0 for every
    member — presence is still signal.
    """
    def _norm(df: DataFrame, score_col: str, out: str) -> DataFrame:
        stats = df.agg(
            F.min(score_col).alias("lo"), F.max(score_col).alias("hi")
        )
        return (
            df.crossJoin(F.broadcast(stats))
            .select(
                F.col(key_col),
                F.when(F.col("hi") == F.col("lo"), F.lit(1.0))
                .otherwise(
                    (F.col(score_col) - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                )
                .alias(out),
            )
        )

    a = _norm(ranked_a, score_a_col, "na")
    b = _norm(ranked_b, score_b_col, "nb")
    fused = (
        F.lit(alpha) * F.coalesce(F.col("na"), F.lit(0.0))
        + F.lit(1.0 - alpha) * F.coalesce(F.col("nb"), F.lit(0.0))
    )
    fp = F.round(fused * 1_000_000.0, 0).cast("bigint")
    return (
        a.join(b, key_col, "full_outer")
        .select(
            F.col(key_col),
            (fp.cast("double") / 1_000_000.0).alias("fused"),
        )
        .orderBy(F.desc("fused"), F.asc(key_col))
        .limit(k)
    )
