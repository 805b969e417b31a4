"""The exact top-k kernel (functions/vector.exact_topk and its Spark
wrapper batch_topk): BLAS ranks, the left-to-right fold decides.

The numpy tests need no Spark: ids and score bits must equal a literal
Python fold sorted by (-score, key). The Spark tests pin the key
tie-break and the null / zero-norm semantics against the Catalyst
column functions the oracles replay."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
import pyspark.sql.functions as F

from external_benchmarks_spark.functions.vector import exact_topk


def _fold(u, v):
    acc = 0.0
    for x, y in zip(u, v):
        acc += x * y
    return acc


def _corpus(d, n=240, n_dup=60, seed=0):
    """float32 rows (as float64) with one row repeated ``n_dup`` times,
    shuffled keys."""
    rng = np.random.default_rng(seed + d)
    mat = rng.standard_normal((n, d)).astype(np.float32).astype(np.float64)
    mat[n - n_dup :] = mat[3]
    keys = rng.permutation(n).astype(np.int64) * 7 + 5
    return mat, keys


@pytest.mark.parametrize("d", [64, 2688])
def test_kernel_matches_literal_fold(d):
    """Dot and cosine, Q = 1 (a corpus row as the query) and Q = 16, with
    and without a cell mask, k below and above the batch size."""
    mat, keys = _corpus(d)
    n = len(mat)
    rng = np.random.default_rng(d)
    q16 = np.vstack(
        [mat[3], mat[10]]
        + [rng.standard_normal(d).astype(np.float32).astype(np.float64) for _ in range(14)]
    )
    rows = [r.tolist() for r in mat]
    dots = [[_fold(r, q.tolist()) for q in q16] for r in rows]
    norms = [math.sqrt(_fold(r, r)) for r in rows]
    qnorms = np.asarray([math.sqrt(_fold(q.tolist(), q.tolist())) for q in q16])
    mask = rng.random((n, 16)) < 0.5

    def want(j, k, cosine, use_mask):
        scored = [
            (dots[i][j] / (norms[i] * qnorms[j]) if cosine else dots[i][j], int(keys[i]))
            for i in range(n)
            if not use_mask or mask[i, j]
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        return [(key, s.hex()) for s, key in scored[:k]]

    for cosine in (False, True):
        for use_mask in (False, True):
            for k in (100, 300):
                for queries, cols in ((q16[:1], [0]), (q16, range(16))):
                    got = exact_topk(
                        mat, keys, queries, k,
                        qnorms=qnorms[list(cols)] if cosine else None,
                        mask=mask[:, list(cols)] if use_mask else None,
                    )
                    for (idx, scores), j in zip(got, cols):
                        assert [
                            (int(keys[i]), float(s).hex()) for i, s in zip(idx, scores)
                        ] == want(j, k, cosine, use_mask), (d, cosine, use_mask, k, j)


def test_kernel_ties_break_by_key_and_nan_ranks_first():
    mat = np.ones((7, 4))
    keys = np.array([9, 7, 5, 3, 1, 8, 6])
    idx, scores = exact_topk(mat, keys, np.ones((1, 4)), 2)[0]
    assert keys[idx].tolist() == [1, 3]
    assert scores.tolist() == [4.0, 4.0]
    mat[5, 0] = np.nan  # Spark orders NaN above every number
    idx, _ = exact_topk(mat, keys, np.ones((1, 4)), 2)[0]
    assert keys[idx].tolist() == [8, 1]


TIE_KEYS = (9, 7, 5, 3, 1, 8, 6)


def _tie_items(spark):
    return spark.createDataFrame(
        [(k, [0.5, 0.25, -1.0]) for k in TIE_KEYS], "vec_id bigint, embedding array<float>"
    ).coalesce(1)


def _queries(spark):
    return spark.createDataFrame(
        [(0, [1.0, 1.0, 0.5]), (1, [-2.0, 0.0, 1.0])], "query_id bigint, qvec array<float>"
    )


def _keys(df):
    out = {}
    for r in sorted(df.collect(), key=lambda r: (r.query_id, r["rank"])):
        out.setdefault(r.query_id, []).append(r.vec_id)
    return out


def test_per_query_topk_breaks_ties_by_key(spark):
    """Seven rows share one embedding in one partition: k = 2 keeps the
    two smallest keys for every query."""
    from external_benchmarks_spark.operators.topk import per_query_topk

    got = _keys(per_query_topk(_tie_items(spark), _queries(spark), k=2))
    assert got == {0: [1, 3], 1: [1, 3]}


def test_per_query_ivf_topk_breaks_ties_by_key(spark):
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        per_query_ivf_topk,
    )

    cents = np.eye(3)
    for metric in ("cosine", "dot"):
        got = per_query_ivf_topk(
            ivf_assign(_tie_items(spark), cents), cents, _queries(spark),
            k=2, nprobe=3, metric=metric,
        )
        assert _keys(got) == {0: [1, 3], 1: [1, 3]}, metric


def _odd_rows(spark):
    """Null vector, null element, wrong length and zero-norm rows next
    to ordinary ones."""
    return spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0]),
            (2, [1.0, 2.0, 3.0]),
            (3, None),
            (4, [3.0, 1.0, -1.0]),
            (5, [1.0, None, 2.0]),
            (6, [1.0, 2.0]),
            (7, [-0.5, 0.25, 4.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )


def test_null_and_zero_norm_rows_score_as_the_catalyst_fold(spark):
    """Null, null-element and wrong-length rows score null and rank last
    by key; a zero-norm row scores 0.0 under dot — exactly the Catalyst
    ``dot_product`` pair fold."""
    from pyspark.sql.window import Window

    from external_benchmarks_spark.functions.vector import dot_product
    from external_benchmarks_spark.operators.topk import per_query_topk

    items, queries = _odd_rows(spark), _queries(spark)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    want = {
        (r.query_id, r["rank"], r.vec_id, r.score)
        for r in items.crossJoin(queries)
        .withColumn("score", dot_product("embedding", "qvec"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 6)
        .collect()
    }
    got = {
        (r.query_id, r["rank"], r.vec_id, r.score)
        for r in per_query_topk(items, queries, k=6).collect()
    }
    assert got == want
    assert {(q, r) for q, r, _v, s in got if s is None} == {(0, 5), (0, 6), (1, 5), (1, 6)}


def test_zero_norm_row_under_cosine_raises_like_catalyst(spark):
    """Under ANSI the Catalyst cosine divides by zero and raises; the
    kernel raises the same error class instead of inventing a score."""
    from external_benchmarks_spark.functions.vector import cosine_similarity_literal
    from external_benchmarks_spark.operators.similarity import bruteforce_topk

    items = _odd_rows(spark).filter(F.col("vec_id") <= 2)
    q = [1.0, 1.0, 0.5]
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        items.select(cosine_similarity_literal("embedding", q)).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        bruteforce_topk(items, q, k=5).collect()


def test_filtered_topk_string_keys_and_extra_cols(spark):
    """Tie-break on a string key follows Spark's string order, and extra
    columns ride along with their own types."""
    from external_benchmarks_spark.operators.topk import filtered_vector_topk

    rnd = random.Random(3)
    keys = ["b", "a", "ab", "B", "é", "aa"]
    df = spark.createDataFrame(
        [(k, i, [1.0, 2.0]) for i, k in enumerate(keys)]
        + [(f"x{i}", 100 + i, [rnd.uniform(-1, 0), rnd.uniform(-1, 0)]) for i in range(20)],
        "doc string, n int, embedding array<double>",
    )
    got = filtered_vector_topk(df, [1.0, 1.0], None, k=4, key_col="doc", extra_cols=["n"])
    assert [(r.doc, r.n, r.score) for r in got.collect()] == [
        ("B", 3, 3.0), ("a", 1, 3.0), ("aa", 5, 3.0), ("ab", 2, 3.0)
    ]


def test_round_half_up_is_spark_round():
    """``round_half_up`` equals ``BigDecimal(repr(v))`` HALF_UP, Spark's
    ``round(v, 0)`` on a double: random values, every x.5 in [-50, 50)
    and its two float neighbours, and the values where ``floor(v + 0.5)``
    goes wrong."""
    from decimal import ROUND_HALF_UP, Decimal

    from external_benchmarks_spark.functions.vector import round_half_up

    rng = np.random.default_rng(0)
    halves = np.arange(-50, 50) + 0.5
    vals = np.concatenate(
        [
            rng.normal(0, 1e3, 200_000),
            halves,
            np.nextafter(halves, np.inf),
            np.nextafter(halves, -np.inf),
            [0.49999999999999994, -0.49999999999999994, 2.0**52 + 1, -(2.0**53), 0.0, -0.0],
        ]
    )
    got = round_half_up(vals)
    want = [Decimal(repr(float(v))).quantize(Decimal(1), rounding=ROUND_HALF_UP) for v in vals]
    assert all(Decimal(float(g)) == w for g, w in zip(got, want))
    assert not np.signbit(got[-1])  # -0.0 rounds to 0, as BigDecimal has no -0
