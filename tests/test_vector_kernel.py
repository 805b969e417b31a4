"""The exact top-k kernel (functions/vector.exact_topk and its Spark
wrapper batch_topk): BLAS ranks, the left-to-right fold decides.

The numpy tests need no Spark: ids and score bits must equal a literal
Python fold sorted by (-score, key). The Spark tests pin the key
tie-break and the null / zero-norm semantics against the Catalyst
column functions the oracles replay."""

from __future__ import annotations

import ast
import math
import os
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


# ---------------------------------------------------------------------------
# The row contract of every reader built on arrow_rows: rows 3 (null
# vector), 5 (null element) and 6 (wrong length) of ``_odd_rows`` have
# no vector. Each case runs with all rows in one Arrow batch and spread
# over eight partitions, and must give the same rows both ways.
# ---------------------------------------------------------------------------

NO_VECTOR = {3, 5, 6}


def _whole_rows(df):
    return {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in df.collect() if r.vec_id not in NO_VECTOR}


@pytest.mark.parametrize("parts", [1, 8])
def test_cell_and_bucket_readers_give_null_for_rows_with_no_vector(spark, parts):
    """``ivf_assign``, the LSH bucket and the delta-dedup cell assignment
    give NULL for a row with no vector and the numpy formula's value
    for every other row."""
    from external_benchmarks_spark.operators.deltadedup import _assign_cells_vectorized
    from external_benchmarks_spark.operators.similarity import (
        hyperplanes,
        ivf_assign,
        lsh_bucket_udf,
    )

    df = _odd_rows(spark).repartition(parts)
    cents = np.array([[1.0, 0.0, 0.0], [0.0, 0.6, 0.8], [0.0, 0.0, -1.0]])
    planes = hyperplanes(3, 8, 42)
    out = ivf_assign(df, cents).select(
        "vec_id", "centroid_id", lsh_bucket_udf(planes)(F.col("embedding")).alias("bucket")
    )
    got = {r.vec_id: (r.centroid_id, r.bucket) for r in out.collect()}
    cells = {r.vec_id: r.cell for r in _assign_cells_vectorized(df, cents).collect()}
    want, want_cells = dict.fromkeys(NO_VECTOR, (None, None)), dict.fromkeys(NO_VECTOR)
    for key, v in _whole_rows(df).items():
        unit = v / (np.linalg.norm(v) or 1.0)
        cell = int(np.argmin((cents * cents).sum(1) - 2.0 * (cents @ unit)))
        bits = (planes @ v) > 0
        want[key] = (cell, int(bits @ (1 << np.arange(8))))
        want_cells[key] = int(np.argmax(cents @ v))
    assert got == want
    assert cells == want_cells


@pytest.mark.parametrize("parts", [1, 8])
def test_group_stats_leave_out_rows_with_no_vector(spark, parts):
    """Rows with no vector are skipped by every statistic, as SQL
    aggregates skip NULL; a group with none left has NULL statistics."""
    from external_benchmarks_spark.operators.grouped import group_embedding_stats

    df = _odd_rows(spark).withColumn("label", (F.col("vec_id") == 3).cast("int"))
    got = sorted(tuple(r) for r in group_embedding_stats(df.repartition(parts)).collect())
    whole = _whole_rows(df)
    mat = np.vstack([whole[k] for k in sorted(whole)])
    centroid = mat.mean(axis=0)
    assert got == [
        (0, len(mat), float(np.linalg.norm(centroid)),
         float(np.linalg.norm(mat, axis=1).mean()),
         float(np.linalg.norm(mat - centroid, axis=1).mean())),
        (1, 0, None, None, None),
    ]


@pytest.mark.parametrize("parts", [1, 8])
def test_pq_encode_and_hash_sample_refuse_rows_with_no_vector(spark, parts):
    """An index has no code for a row with no vector: ``pq_encode`` (with
    1-dim subspaces, where a null row could pass for code 0) and
    ``hash_sample`` raise ValueError naming the column."""
    from external_benchmarks_spark.functions.vector import hash_sample
    from external_benchmarks_spark.operators.quantize import pq_encode

    df = _odd_rows(spark).repartition(parts)
    cb = np.arange(12, dtype=np.float64).reshape(3, 4, 1)
    with pytest.raises(Exception, match="ValueError: pq_encode: every embedding must be "
                       "a non-null vector of 3 numbers"):
        pq_encode(df, cb).collect()
    with pytest.raises(ValueError, match="every embedding must be a non-null vector"):
        hash_sample(df, 7, "vec_id", "embedding")
    whole = df.filter(~F.col("vec_id").isin(*NO_VECTOR))
    codes = {r.vec_id: r.pq_codes for r in pq_encode(whole, cb).collect()}
    keys, mat = hash_sample(whole, 7, "vec_id", "embedding")
    assert sorted(codes) == sorted(keys) == [1, 2, 4, 7]
    rows = _whole_rows(df)
    assert all((mat[i] == rows[k]).all() for i, k in enumerate(keys))


def _guarded_calls(path):
    """(line, what) for each pandas conversion of a vector column or
    row-wise build of a batch: an ``np.vstack`` whose argument calls
    ``.to_numpy(``, a ``mapInPandas`` / ``pandas_udf`` /
    ``applyInPandas`` / ``DataFrame`` / ``Series`` / ``parallelize``
    call, or a ``.values`` read off ``.combine_chunks()`` (a list
    column's flat values, blind to its offsets and nulls)."""
    tree = ast.parse(open(path).read(), path)
    hits = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "values"
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Attribute)
            and node.value.func.attr == "combine_chunks"
        ):
            hits.append((node.lineno, ".combine_chunks().values"))
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in GUARDED_CALLS:
            hits.append((node.lineno, name))
        elif name == "vstack" and any(
            isinstance(sub, ast.Call)
            and isinstance(sub.func, ast.Attribute)
            and sub.func.attr == "to_numpy"
            for arg in node.args
            for sub in ast.walk(arg)
        ):
            hits.append((node.lineno, "np.vstack(... .to_numpy() ...)"))
    return sorted(hits)


GUARDED_CALLS = {
    "mapInPandas", "pandas_udf", "applyInPandas", "DataFrame", "Series", "parallelize",
}
VECTOR_MODULES = [
    "operators/quantize.py", "operators/similarity.py", "operators/dedup.py",
    "operators/deltadedup.py", "operators/grouped.py", "operators/projection.py",
    "serving.py", "streaming/upsert.py", "pipeline/embedding.py",
]


def test_vector_modules_read_vectors_only_through_arrow_rows():
    """The vector operators and the serving tier read a vector column
    only through functions/vector.arrow_rows and its wrappers, the
    upsert batch stays one Arrow table, and the encoder UDF takes and
    returns Arrow arrays: no pandas conversion or row-wise batch build
    is left in them."""
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "external_benchmarks_spark")
    found = {
        m: hits for m in VECTOR_MODULES
        if (hits := _guarded_calls(os.path.join(root, m)))
    }
    assert found == {}


def test_guard_sees_each_pandas_form():
    src = (
        "m = np.vstack(emb.to_numpy()).astype(float)\n"
        "m = np.vstack(list(pdf[c].to_numpy()))\n"
        "df.mapInPandas(f, s)\n"
        "F.pandas_udf('long')\n"
        "@pandas_udf('long')\ndef g(x): return x\n"
        "df.groupBy('a').applyInPandas(f, s)\n"
        "ok = np.vstack([a, b])\n"
        "df.mapInArrow(f, s)\n"
        "pdf = pd.DataFrame(rows, columns=cols)\n"
        "return pd.Series(list(mat))\n"
        "rdd = spark.sparkContext.parallelize(rows, 1)\n"
        "v = tbl.column(c).combine_chunks().values.to_numpy()\n"
        "ok = spark.createDataFrame(tbl, schema=s)\n"
    )
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as fh:
        fh.write(src)
    try:
        assert [what for _, what in _guarded_calls(fh.name)] == [
            "np.vstack(... .to_numpy() ...)", "np.vstack(... .to_numpy() ...)",
            "mapInPandas", "pandas_udf", "pandas_udf", "applyInPandas",
            "DataFrame", "Series", "parallelize", ".combine_chunks().values",
        ]
    finally:
        os.remove(fh.name)
