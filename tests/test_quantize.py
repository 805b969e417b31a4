"""Semantic checks for operators/quantize.py (oracle parity is covered by
test_oracle_queries.py)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.functions.vector import dot_product_literal
from external_benchmarks_spark.operators.quantize import (
    quantization_report,
    quantize_embeddings,
    quantize_vector,
    quantized_dot_topk,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
QVEC_DIM = 64
QVEC = [float((i * 37) % 13 - 6) for i in range(QVEC_DIM)]


def _emb(spark):
    return Catalog(spark, SF_DIR).embeddings


def test_quantized_values_in_range(spark):
    q = quantize_embeddings(_emb(spark))
    bad = q.select(
        F.array_max(F.transform("qvec", F.abs)).alias("m")
    ).filter(F.col("m") > 127).count()
    assert bad == 0


def test_reconstruction_error_bound(spark):
    # per-dim error <= scale/2 (round-to-nearest), so summed error over
    # 64 dims <= 32.0000001 * scale
    rep = quantization_report(_emb(spark))
    viol = rep.filter(F.col("recon_err") > 32.001 * F.col("scale")).count()
    assert viol == 0


def test_quantized_topk_recall_vs_exact(spark):
    emb = _emb(spark)
    k = 50
    exact = [
        r.vec_id
        for r in emb.select(
            "vec_id", dot_product_literal("embedding", QVEC).alias("s")
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]
    quant = [r.vec_id for r in quantized_dot_topk(emb, QVEC, k=k).collect()]
    overlap = len(set(exact) & set(quant)) / k
    # Uniform random test vectors are the flat-score worst case (see
    # MEMORY: IVF needed nprobe=12/16 for 0.9 there too): int8 rounding
    # swaps near-boundary ranks. 0.88 measured at sf0.01; real embedding
    # distributions separate scores far more.
    assert overlap >= 0.85, overlap


def test_quantize_vector_roundtrip():
    q, scale = quantize_vector([1.0, -2.0, 0.5, 4.0])
    assert max(abs(v) for v in q) == 127
    assert all(abs(v * scale - x) <= scale / 2 + 1e-12
               for v, x in zip(q, [1.0, -2.0, 0.5, 4.0]))


def _catalyst_quantized_topk(df, query, k):
    """Reference: Catalyst ``quantize_embeddings`` plus a BIGINT fold of
    the quantized products, ranked by (-score_q, key)."""
    from pyspark.sql import functions as F

    from external_benchmarks_spark.operators.quantize import (
        quantize_embeddings,
        quantize_vector,
    )

    qq, qscale = quantize_vector(query)
    score_q = F.aggregate(
        F.zip_with("qvec", F.lit(qq), lambda a, b: a.cast("bigint") * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return [
        tuple(r)
        for r in quantize_embeddings(df, "embedding", "vec_id")
        .select(
            "vec_id",
            score_q.alias("score_q"),
            (score_q.cast("double") * F.col("scale") * F.lit(qscale)).alias(
                "approx_score"
            ),
        )
        .orderBy(F.desc("score_q"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def test_quantized_topk_fast_path_bit_identical(spark, sf_dir):
    """Arrow int64-matmul scoring must equal the Catalyst quantizer and
    BIGINT fold row-for-row, score bits included: integer sums are
    order-exact and quantization boundaries re-derive Spark's HALF_UP."""
    import __spark_entry__ as entry_mod
    from external_benchmarks_spark.catalog import Catalog
    from external_benchmarks_spark.operators.quantize import quantized_dot_topk

    e = Catalog(spark, sf_dir).embeddings
    got = [tuple(r) for r in quantized_dot_topk(e, entry_mod.QVEC, k=50).collect()]
    assert got == _catalyst_quantized_topk(e, entry_mod.QVEC, 50)


def test_quantization_half_up_boundary():
    """A vector engineered so x/scale lands exactly on .5 must round away
    from zero as Spark's round does (BigDecimal HALF_UP)."""
    import pandas as pd

    from external_benchmarks_spark.operators.quantize import quantized_dot_topk
    from external_benchmarks_spark.session import get_spark

    # amax = 127 -> scale = 1.0 -> v == x exactly; 2.5 and -2.5 are ties
    vec = [127.0, 2.5, -2.5, 0.5]
    spark = get_spark("tests", shuffle_partitions=8)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [vec]}),
        schema="vec_id bigint, embedding array<double>",
    )
    qv = [1.0, 1.0, 1.0, 1.0]
    got = quantized_dot_topk(df, qv, k=1).collect()[0]
    # HALF_UP: 2.5 -> 3, -2.5 -> -3, 0.5 -> 1 ... query quantizes too
    assert [tuple(got)] == _catalyst_quantized_topk(df, qv, 1)


def test_quantized_topk_keeps_key_type(spark):
    """A string key comes back as a string, ranked like the bigint form."""
    from external_benchmarks_spark.operators.quantize import quantized_dot_topk

    rows = [(i, [float((i * 7) % 5 - 2), float(i % 3), 1.0]) for i in range(12)]
    by_int = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    by_str = spark.createDataFrame(
        [(f"k{i:02d}", e) for i, e in rows], "vec_id string, embedding array<double>"
    )
    q = [1.0, -1.0, 0.5]
    ints = [(f"k{r.vec_id:02d}", r.score_q) for r in quantized_dot_topk(by_int, q, k=5).collect()]
    strs = [(r.vec_id, r.score_q) for r in quantized_dot_topk(by_str, q, k=5).collect()]
    assert strs == ints


def _rows_with_no_vector(spark):
    """Ordinary rows around a null vector (3), a null element (5) and a
    wrong-length row (6)."""
    return spark.createDataFrame(
        [
            (1, [0.5, -1.0, 2.0]),
            (2, [1.0, 2.0, 3.0]),
            (3, None),
            (4, [3.0, 1.0, -1.0]),
            (5, [1.0, None, 2.0]),
            (6, [1.0, 2.0]),
            (7, [-0.5, 0.25, 4.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )


@pytest.mark.parametrize("parts", [1, 8])
def test_quantized_topk_rows_with_no_vector_rank_last(spark, parts):
    """A row with no vector scores null in both columns and ranks last,
    as the Catalyst quantizer + BIGINT fold scores it, whichever rows
    share an Arrow batch."""
    df = _rows_with_no_vector(spark).repartition(parts)
    got = [tuple(r) for r in quantized_dot_topk(df, [1.0, 0.5, -2.0], k=7).collect()]
    assert got == _catalyst_quantized_topk(df, [1.0, 0.5, -2.0], 7)
    assert [r[0] for r in got[-3:]] == [3, 5, 6]
    assert all(r[1] is None and r[2] is None for r in got[-3:])


@pytest.mark.parametrize("parts", [1, 8])
def test_pq_batch_null_code_rows_rank_last(spark, parts):
    """A null code row or a code row with a null element scores null
    and ranks last in the batch form, as in the Catalyst pq_adc_topk."""
    from external_benchmarks_spark.operators.quantize import (
        pq_adc_topk,
        pq_adc_topk_batch,
    )

    cb = np.arange(24, dtype=np.float64).reshape(3, 4, 2) / 10.0
    codes = spark.createDataFrame(
        [(1, [0, 1, 2]), (2, [3, 3, 0]), (3, None), (4, [1, None, 2]), (5, [2, 0, 1])],
        "vec_id bigint, pq_codes array<int>",
    ).repartition(parts)
    q = [0.5, -1.0, 2.0, 0.25, 1.0, -0.5]
    queries = spark.createDataFrame([(9, q)], "query_id bigint, qvec array<double>")
    got = [
        (r.vec_id, r.pq_score)
        for r in pq_adc_topk_batch(codes, cb, queries, k=5).orderBy("rank").collect()
    ]
    assert got == [tuple(r)[:2] for r in pq_adc_topk(codes, cb, q, k=5).collect()]
    assert got[-2:] == [(3, None), (4, None)]


def test_pq_string_key_raises_at_driver(spark):
    """PQ codes are keyed by bigint (the serving tier reads ids as
    ints): a string key is refused before any job runs."""
    from external_benchmarks_spark.operators.quantize import (
        pq_adc_topk_batch,
        pq_encode,
    )

    df = spark.createDataFrame([("a", [1.0, 2.0])], "vec_id string, embedding array<double>")
    codes = spark.createDataFrame([("a", [0])], "vec_id string, pq_codes array<int>")
    cb = np.zeros((1, 2, 2))
    with pytest.raises(ValueError, match="vec_id must be an integral column, not string"):
        pq_encode(df, cb)
    with pytest.raises(ValueError, match="vec_id must be an integral column, not string"):
        pq_adc_topk_batch(codes, cb, None, k=1)


def _pq_brute(mat, cb):
    """The brute-force integer kernel pq_encode used to run, kept as the
    oracle: every code's sum of FLOOR((x-c)^2 * 1e6) as int64 over a
    [rows, n_codes, dsub] temporary, first minimum on ties."""
    m, _, dsub = cb.shape
    codes = np.empty((len(mat), m), dtype=np.int32)
    with np.errstate(all="ignore"):
        for j in range(m):
            diff = mat[:, None, j * dsub : (j + 1) * dsub] - cb[j][None, :, :]
            codes[:, j] = np.floor((diff * diff) * 1e6).astype(np.int64).sum(axis=2).argmin(axis=1)
    return codes


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    """PQ codes: one code per subspace in [0, n_codes); identical across
    runs (hash-sampled codebooks, exact integer argmin) and equal to the
    brute-force integer kernel's."""
    from external_benchmarks_spark.operators.quantize import (
        pq_codebooks,
        pq_encode,
    )

    e = Catalog(spark, sf_dir).embeddings
    cb = pq_codebooks(e, n_codes=16, m_subspaces=8)
    assert cb.shape == (8, 16, 8)
    codes = {r.vec_id: list(r.pq_codes) for r in pq_encode(e, cb).collect()}
    assert len(codes) == e.count()
    assert all(len(v) == 8 and all(0 <= c < 16 for c in v) for v in codes.values())
    again = {r.vec_id: list(r.pq_codes) for r in pq_encode(e, cb).collect()}
    assert codes == again
    vecs = dict(e.select("vec_id", "embedding").collect())
    keys = sorted(codes)
    brute = _pq_brute(np.array([vecs[k] for k in keys], dtype=np.float64), cb)
    assert [codes[k] for k in keys] == brute.tolist()


def _pq_cases():
    """(codebooks, rows) per input class; all but the last use 2
    subspaces of 4 dims and 6 codes. Codebook values are multiples of
    1/4, so a midpoint of two codewords is an exact tie."""
    from external_benchmarks_spark.operators.quantize import _codebooks

    rng = np.random.default_rng(11)
    cb = np.round(rng.standard_normal((2, 6, 4)) * 4) / 4
    cb[:, 4] = cb[:, 1]  # duplicate codewords: code 1 must win
    words = [np.concatenate([cb[0, c], cb[1, (c + 2) % 6]]) for c in range(6)]
    mids = [
        np.concatenate([(cb[0, a] + cb[0, b]) / 2, (cb[1, a] + cb[1, b]) / 2])
        for a in range(6) for b in range(a + 1, 6)
    ]
    bad = []
    for v in (np.nan, np.inf, -np.inf):
        for at in (0, 5):
            r = rng.standard_normal(8)
            r[at] = v
            bad.append(r)
    nan_cb = cb.copy()
    nan_cb[0, 3, 2] = np.nan
    wide = rng.standard_normal((600, 2688)).astype(np.float32).astype(np.float64)
    wide /= np.linalg.norm(wide.reshape(600, 7, 384), axis=2).repeat(384, axis=1)
    return {
        "codewords": (cb, np.array(words)),
        "midpoints": (cb, np.array(mids)),
        "zero_rows": (cb, np.zeros((3, 8))),
        # 1e5 stays inside int64 (the BLAS bounds decide); 3e7 overflows
        # a term, 1e150 a square and 1e200 the norm
        "large": (cb, np.array([np.full(8, v) * s for v in (1e5, 3e7, 1e150, 1e200)
                               for s in (1, -1)])),
        "nan_inf": (cb, np.array(bad)),
        "random": (cb, rng.standard_normal((400, 8))),
        "nan_codeword": (nan_cb, rng.standard_normal((20, 8))),
        # far from the origin and close together: |x|^2 - 2x.c + |c|^2
        # cancels to a few integers' error, which the bound must cover
        "offset": (1e5 + cb * 4e-3, 1e5 + rng.standard_normal((400, 8)) * 1e-3),
        # the reference's 2,688 dims in 8 subspaces of 336, unit-norm
        # 384-dim field blocks, codewords sampled from the rows
        "reference_width": (_codebooks(wide[:16], 8), wide),
    }


@pytest.mark.parametrize("case", list(_pq_cases()))
def test_pq_assign_matches_brute_force(case):
    """BLAS ranks and the exact integers decide: the codes equal the
    brute-force integer argmin over every code, bit for bit."""
    from external_benchmarks_spark.operators.quantize import pq_assign

    cb, rows = _pq_cases()[case]
    assert pq_assign(rows, cb).tolist() == _pq_brute(rows, cb).tolist()


def test_pq_assign_tie_goes_to_lowest_code():
    """Equidistant codes (an exact midpoint, a duplicate codeword) go to
    the lowest code, as the integer argmin's first minimum does."""
    from external_benchmarks_spark.operators.quantize import pq_assign

    cb = np.array([[[0.0, 9.0], [1.0, 0.0], [-1.0, 0.0], [1.0, 0.0]]])
    rows = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 9.0]])
    assert pq_assign(rows, cb).ravel().tolist() == [1, 1, 0]


def test_pq_assign_floor_decides():
    """The floors decide, not the real distance: four terms of 0.99
    (sum 3.96) floor to 0 and beat one term of 1.5 that floors to 1."""
    from external_benchmarks_spark.operators.quantize import pq_assign

    a, b = np.full(4, np.sqrt(0.99e-6)), np.array([np.sqrt(1.5e-6), 0.0, 0.0, 0.0])
    for cb, want in (([a, b], 0), ([b, a], 1)):
        assert pq_assign(np.zeros((1, 4)), np.array([cb])).tolist() == [[want]]


def test_pq_adc_topk_recall_and_plan(spark, sf_dir):
    """ADC top-k: meaningful recall vs the exact dot-product top-k (PQ
    is approximate — the contract is better-than-random and exact
    integer reproducibility), and the corpus pass plans as
    scan -> projection -> TakeOrderedAndProject with no Exchange and no
    Python UDF (the LUT is literals)."""
    import __spark_entry__ as em
    from external_benchmarks_spark.operators.quantize import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )
    from external_benchmarks_spark.operators.topk import filtered_vector_topk

    e = Catalog(spark, sf_dir).embeddings
    cb = pq_codebooks(e, n_codes=16, m_subspaces=8)
    enc = pq_encode(e, cb)
    k = 50
    approx = [r.vec_id for r in pq_adc_topk(enc, cb, em.QVEC, k=k).collect()]
    exact = [
        r.vec_id
        for r in filtered_vector_topk(e, em.QVEC, F.lit(True), k=k).collect()
    ]
    recall = len(set(approx) & set(exact)) / k
    assert recall >= 0.4, recall  # far above the random ~k/N baseline
    plan = (
        pq_adc_topk(enc.cache(), cb, em.QVEC, k=k)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    enc.unpersist()


def test_ivfpq_topk_composition(spark, sf_dir):
    """IVF-PQ equals PQ-ADC restricted to the probed cells, and probes
    fewer rows than the full corpus (the pruning actually bites)."""
    import __spark_entry__ as em
    from external_benchmarks_spark.operators.quantize import (
        ivfpq_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_cells,
        sampled_centroids,
    )

    e = Catalog(spark, sf_dir).embeddings
    centroids = sampled_centroids(e, n_centroids=16)
    cb = pq_codebooks(e, n_codes=16, m_subspaces=8)
    codes = pq_encode(
        ivf_assign(e, centroids), cb, extra_cols=["centroid_id"]
    ).cache()
    got = [
        (r.vec_id, r.pq_score)
        for r in ivfpq_topk(codes, centroids, cb, em.QVEC, k=20, nprobe=4).collect()
    ]
    cells = ivf_probe_cells(centroids, em.QVEC, 4, "cosine")
    manual = [
        (r.vec_id, r.pq_score)
        for r in pq_adc_topk(
            codes.filter(F.col("centroid_id").isin(cells)), cb, em.QVEC, k=20
        ).collect()
    ]
    assert got == manual
    n_probed = codes.filter(F.col("centroid_id").isin(cells)).count()
    assert 0 < n_probed < codes.count()  # pruning really happened
    codes.unpersist()


def test_pq_batch_matches_solo(spark, sf_dir):
    """pq_adc_topk_batch per query == pq_adc_topk run solo with the
    same query vector — bit-identical integer scores and ranks."""
    from external_benchmarks_spark.operators.quantize import (
        pq_adc_topk,
        pq_adc_topk_batch,
        pq_codebooks,
        pq_encode,
    )

    e = Catalog(spark, sf_dir).embeddings
    cb = pq_codebooks(e, n_codes=16, m_subspaces=8)
    codes = pq_encode(e, cb).cache()
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    batch = {}
    for r in pq_adc_topk_batch(codes, cb, queries, k=10).collect():
        batch.setdefault(r.query_id, []).append((r.vec_id, r.pq_score, r.rank))
    for qr in queries.collect():
        solo = [
            (r.vec_id, r.pq_score)
            for r in pq_adc_topk(codes, cb, list(qr.qvec), k=10).collect()
        ]
        got = [(v, s) for v, s, _ in sorted(batch[qr.query_id], key=lambda t: t[2])]
        assert got == solo, qr.query_id
    codes.unpersist()


def test_pq_empty_partitions_and_empty_input(spark):
    """Empty Arrow batches (empty partitions / empty inputs) must not
    crash the PQ encode or batch-score paths."""
    import numpy as np

    from external_benchmarks_spark.operators.quantize import (
        pq_adc_topk_batch,
        pq_encode,
    )

    cb = np.zeros((8, 16, 8))
    cb[:, 1:, :] = 1.0  # code 0 is the all-zeros centroid
    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>"
    ).repartition(4)
    assert pq_encode(empty, cb).count() == 0
    one = spark.createDataFrame(
        [(1, [0.0] * 64)], "vec_id bigint, embedding array<float>"
    ).repartition(8)  # 7 of 8 partitions empty
    codes = pq_encode(one, cb)
    assert codes.collect()[0].pq_codes == [0] * 8
    queries = spark.createDataFrame(
        [(7, [1.0] * 64)], "query_id bigint, qvec array<float>"
    )
    out = pq_adc_topk_batch(codes.repartition(8), cb, queries, k=5).collect()
    assert len(out) == 1 and out[0].query_id == 7


def test_pq_rerank_meets_recall_target(spark, sf_dir):
    """The refine step makes PQ meet the reference's >90% recall band
    (README.md:76) where pure ADC ranking cannot on flat-similarity
    vectors: the top-250 candidate set under the 64x16 quantizer must
    CONTAIN the exact top-50 (measured 1.00 at sf0.001-0.1)."""
    from external_benchmarks_spark.operators.quantize import (
        pq_codebooks,
        pq_rerank_topk,
    )
    from external_benchmarks_spark.operators.topk import filtered_vector_topk

    import __spark_entry__ as em

    e = Catalog(spark, sf_dir).embeddings
    k = 50
    exact = [
        r.vec_id
        for r in filtered_vector_topk(
            e, qvec=em.QVEC, predicate=None, k=k
        ).collect()
    ]
    cb = pq_codebooks(e, n_codes=64, m_subspaces=16)
    got = [r.vec_id for r in pq_rerank_topk(e, cb, em.QVEC, k=k, rerank=250).collect()]
    recall = len(set(exact) & set(got)) / k
    assert recall >= 0.9, recall


def _lut_loop_recipe(codebooks, q):
    """The per-term-floor LUT recipe written as plain Python loops."""
    import math

    m, n_codes, dsub = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    return [
        [
            sum(
                int(math.floor(q[j * dsub + i] * float(codebooks[j][c][i]) * 1e6))
                for i in range(dsub)
            )
            for c in range(n_codes)
        ]
        for j in range(m)
    ]


def test_pq_lut_matches_loop_recipe_at_64_and_2688_dims():
    import numpy as np

    from external_benchmarks_spark.operators.quantize import pq_lut

    rng = np.random.default_rng(7)
    for dim in (64, 2688):
        cb = rng.standard_normal((8, 16, dim // 8))
        q = [float(v) for v in rng.standard_normal(dim) / np.sqrt(dim)]
        lut = pq_lut(cb, q)
        assert lut.dtype == np.int64 and lut.shape == (8, 16)
        assert lut.tolist() == _lut_loop_recipe(cb.tolist(), q)
