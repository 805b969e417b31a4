"""Embedding quantization: per-vector symmetric int8 with integer-exact
quantized scoring.

At the reference's 10M x 2,688-dim scale the embedding column is ~243 GB
as float64 and ~60 GB as int8 (reference README.md:29, SURVEY.md §7.4
recommends float32; int8 halves that again). Quantized scoring is also
the SIMD-friendly hot loop real vector stores run. This module keeps the
whole path inside Catalyst codegen:

- scale = max|x| / 127 (array_max — order-independent, so Spark and the
  DuckDB oracle agree bit-for-bit; no fold-order hazard).
- q_i = round(x_i / scale) as INT in [-127, 127].
- quantized dot product accumulates int*int products in BIGINT — exact
  integer arithmetic, which makes the top-k hash-matchable against the
  oracle with zero floating-point tolerance.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

from external_benchmarks_spark.functions.vector import (
    _fold_error,
    _to_double,
    arrow_rows,
    hash_sample,
    round_half_up,
    spark_order,
)


def quantize_vector(vals: Sequence[float]) -> tuple[list[int], float]:
    """Driver-side quantization of a query vector (mirrors the column op)."""
    amax = max(abs(float(v)) for v in vals)
    scale = amax / 127.0 if amax > 0 else 1.0
    q = [int(round(float(v) / scale)) for v in vals]
    return q, scale


def quantize_embeddings(
    df: DataFrame, emb_col: str = "embedding", key_col: str = "vec_id"
) -> DataFrame:
    """Adds per-vector `scale` (double) and `qvec` (array<int>) columns."""
    out = df.select(key_col, _to_double(F.col(emb_col)).alias("_e"))
    amax = F.array_max(F.transform(F.col("_e"), F.abs))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    out = out.withColumn("scale", scale)
    q = F.transform(
        F.col("_e"), lambda x: F.round(x / F.col("scale"), 0).cast("int")
    )
    return out.withColumn("qvec", q).drop("_e")


def quantization_report(
    df: DataFrame, emb_col: str = "embedding", key_col: str = "vec_id"
) -> DataFrame:
    """Per-vector quantization diagnostics (all cross-engine-exact).

    q_sum / q_abs_sum are integer checksums of the quantized vector;
    recon_err is the summed |dequantized - original| reconstruction error
    (left-to-right fold, same IEEE op order as the oracle's list_sum).
    """
    arr = _to_double(F.col(emb_col))
    base = df.select(key_col, arr.alias("e"))
    amax = F.array_max(F.transform(F.col("e"), F.abs))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    base = base.withColumn("scale", scale)
    q = F.transform(
        F.col("e"), lambda x: F.round(x / F.col("scale"), 0).cast("int")
    )
    base = base.withColumn("q", q)
    long0 = F.lit(0).cast("bigint")
    return base.select(
        key_col,
        "scale",
        F.aggregate("q", long0, lambda acc, x: acc + x).alias("q_sum"),
        F.aggregate("q", long0, lambda acc, x: acc + F.abs(x)).alias("q_abs_sum"),
        F.aggregate(
            F.zip_with(
                "q", "e", lambda qi, xi: F.abs(qi * F.col("scale") - xi)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("recon_err"),
    )


def pq_codebooks(
    df: DataFrame,
    n_codes: int = 16,
    m_subspaces: int = 8,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """Deterministic product-quantization codebooks WITHOUT Lloyd
    iterations: the ``n_codes`` rows that sort first by ``md5(key)``
    (the same engine-portable hash-sample device as
    similarity.sampled_centroids) supply, for every subspace j, their
    j-th sub-vector as code c — so any SQL engine reproduces the exact
    codebook with ``ORDER BY md5(CAST(key AS VARCHAR)), key LIMIT n``.
    Trades recall vs k-means-trained codebooks; use this when the index
    must be independently auditable. Returns float64 [m, n_codes, dsub];
    only n_codes rows reach the driver (functions/vector.hash_sample:
    TakeOrderedAndProject, no sort).
    """
    return _codebooks(hash_sample(df, n_codes, key_col, emb_col)[1], m_subspaces)


def _codebooks(mat: np.ndarray, m_subspaces: int) -> np.ndarray:
    """[m, n_codes, dsub] codebooks whose code c in subspace j is row c's
    j-th slice of ``mat`` (n_codes x dim)."""
    dim = mat.shape[1]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by {m_subspaces} subspaces")
    return mat.reshape(len(mat), m_subspaces, dim // m_subspaces).transpose(1, 0, 2).copy()


def _integral_key(df: DataFrame, key_col: str) -> None:
    """The PQ codes layout keys rows by a bigint, as the serving tier
    reads them: refuse any other key type before a job runs."""
    if not isinstance(df.schema[key_col].dataType, IntegralType):
        raise ValueError(
            f"{key_col} must be an integral column, not "
            f"{df.schema[key_col].dataType.simpleString()}: PQ codes are keyed by bigint"
        )


def pq_encode(
    df: DataFrame,
    codebooks,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Product-quantization encode: per subspace, the argmin-L2 code —
    64 floats compress to m bytes (m_subspaces codes in [0, n_codes)),
    the standard IVF-PQ residual-free form (Jegou, Douze & Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011).

    Distances are per-term FLOOR((x-c)^2 * 1e6) BIGINT sums, so the
    argmin (first minimum on ties, numpy and SQL alike) is exact
    integer arithmetic any engine replays bit-for-bit — the same
    fixed-point device as the rest of the vector family. BLAS ranks the
    codes and those integers decide (:func:`pq_assign`). One
    ``mapInArrow``: each batch's vectors come through
    ``functions/vector.arrow_rows``, no Python-per-row work.

    ``key_col`` must be integral (``ValueError`` otherwise): the codes
    are keyed by bigint. A null vector, a null element or a length
    other than m * dsub raises ``ValueError`` naming ``emb_col``, since
    an index has no code for a row with no vector.
    """
    _integral_key(df, key_col)
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape
    # The key and integer extras (centroid_id, integer payload codes)
    # land as bigint; any other extra passes through with its own type.
    out_cols = [key_col, *extra_cols]
    bigint = {c for c in out_cols if isinstance(df.schema[c].dataType, IntegralType)}
    fields = [
        StructField(c, LongType() if c in bigint else df.schema[c].dataType)
        for c in out_cols
    ]
    fields.insert(1, StructField("pq_codes", ArrayType(IntegerType())))

    def encode(batches):
        for b in batches:
            mat, ok = arrow_rows(b.column(emb_col), m * dsub)
            if not ok.all():
                raise ValueError(
                    f"pq_encode: every {emb_col} must be a non-null vector "
                    f"of {m * dsub} numbers"
                )
            codes = pq_assign(mat, cb)
            arrays = [
                b.column(c).cast(pa.int64()) if c in bigint else b.column(c)
                for c in out_cols
            ]
            offsets = np.arange(0, m * len(mat) + 1, m, dtype=np.int32)
            arrays.insert(1, pa.ListArray.from_arrays(offsets, codes.ravel()))
            yield pa.RecordBatch.from_arrays(arrays, names=[f.name for f in fields])

    return df.select(key_col, emb_col, *extra_cols).mapInArrow(encode, StructType(fields))


def pq_assign(mat: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """The PQ codes of the rows of ``mat`` (n x m*dsub, float64) against
    codebooks ``cb`` [m, n_codes, dsub]: int32 [n, m], in subspace j the
    code c with the least S(c) = sum_i FLOOR((x_i - c_i)^2 * 1e6) as
    int64, the first such code on ties.

    BLAS ranks and the integers decide, as in ``exact_topk``. One
    product per subspace gives A(c) = 1e6 * (|x|^2 - 2 x.c + |c|^2), and
    S(c) lies in (A(c) - dsub - E, A(c) + E], with E the ``_fold_error``
    bound of a dsub-term dot at scale 1e6 * (|x| + |c|)^2. Only a code
    whose lower end lies below every code's upper end can win: a row
    with one such code takes it, the other rows take the least S over
    theirs. A row whose bounds are not finite, or reach 2^62 where an
    integer could leave int64, sums S over every code. So the codes are
    those of the integer argmin over every code, bit for bit."""
    n = len(mat)
    m, _, dsub = cb.shape
    codes = np.empty((n, m), dtype=np.int32)
    blocks = mat.reshape(n, m, dsub)
    with np.errstate(all="ignore"):
        xx = np.einsum("nmd,nmd->nm", blocks, blocks)
        cc = np.einsum("jcd,jcd->jc", cb, cb)
        for j in range(m):
            sub = blocks[:, j]
            approx = 1e6 * (xx[:, j, None] - 2 * (sub @ cb[j].T) + cc[j])
            err = _fold_error(dsub, 1e6 * (np.sqrt(xx[:, j, None]) + np.sqrt(cc[j])) ** 2)
            cand = approx - dsub - err < (approx + err).min(axis=1, keepdims=True)
            cand[~(np.abs(approx) + err < 2.0**62).all(axis=1)] = True
            codes[:, j] = cand.argmax(axis=1)
            rows, cs = np.nonzero(cand & (cand.sum(axis=1) > 1)[:, None])
            if len(rows):
                diff = sub[rows] - cb[j][cs]
                d = np.floor((diff * diff) * 1e6).astype(np.int64).sum(axis=1)
                order = np.lexsort((cs, d, rows))
                first = order[np.r_[True, rows[order][1:] != rows[order][:-1]]]
                codes[rows[first], j] = cs[first]
    return codes


def pq_lut(codebooks, q: Sequence[float]):
    """The ADC lookup table of query ``q`` against PQ ``codebooks``
    [m, n_codes, dsub]: int64 [m, n_codes] with lut[j, c] =
    sum_i FLOOR((q[j*dsub + i] * codebooks[j, c, i]) * 1e6). The floor
    is per TERM, so the integer sum is order-independent and any engine
    (the Spark plans' literal arrays, the serving tier, the DuckDB
    oracle) replays it exactly."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape
    qsub = np.asarray(q, dtype=np.float64).reshape(m, 1, dsub)
    return np.floor((qsub * cb) * 1e6).astype(np.int64).sum(axis=2)


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks,
    query: Sequence[float],
    k: int = 100,
    key_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes, entirely in Catalyst:
    the per-subspace lookup table lut[j][c] = sum_i FLOOR(q_i * c_i *
    1e6) (per-TERM floor, so the integer sum is order-independent and
    any engine replays it exactly) is computed ONCE driver-side and
    interpolated as literal arrays, so scoring is m element_at lookups
    + an integer sum per row
    — no floats, no UDF, codegen end to end; the plan is scan ->
    projection -> TakeOrderedAndProject. This is the shape that makes
    PQ fast at scale: the corpus pass touches only the m-byte codes
    (8 B/vector here vs 512 B raw), and the LUT is O(m * n_codes)
    regardless of corpus size.
    """
    luts = pq_lut(codebooks, query)
    score = None
    for j in range(len(luts)):
        # ONE py4j call per subspace: F.lit(list) builds the LUT array
        # literal JVM-side. Per-element F.lit cost m*n_codes driver
        # round-trips (1024 at the 64x16 tier — measured seconds of
        # pure expression-construction time per query).
        lut = F.lit([int(v) for v in luts[j]]).cast("array<bigint>")
        term = F.element_at(lut, F.col("pq_codes")[j] + 1)
        score = term if score is None else score + term
    return (
        codes_df.select(
            key_col,
            score.alias("pq_score"),
            (score.cast("double") / F.lit(1e6)).alias("approx_score"),
        )
        .orderBy(F.desc("pq_score"), F.asc(key_col))
        .limit(k)
    )


def pq_adc_topk_batch(
    codes_df: DataFrame,
    codebooks,
    queries_df: DataFrame,
    k: int = 10,
    key_col: str = "vec_id",
    query_key: str = "query_id",
    query_emb: str = "qvec",
    cell_col: str | None = None,
    allowed_cells: dict | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """Batch-of-queries ADC: every query scored in ONE pass over the
    PQ codes — the serving-throughput twin of pq_adc_topk, same shape
    as per_query_topk/bm25_batch (batch-local per-query top-k inside
    each Arrow batch, then one window over the <= Q*k*partitions
    survivors).

    The query table is contractually bounded (a request batch): its
    LUT tensor [Q, m, n_codes] of per-term-floor integers is built
    driver-side and broadcast inside the UDF closure; per batch the
    score matrix is m fancy-gathers + adds over int64 — no floats
    anywhere after LUT construction, so results replay exactly in SQL.
    Returns (query_id, key, pq_score, rank<=k).

    ``allowed_cells`` ({query_id: iterable of cell ids}, with
    ``cell_col`` naming the codes' cell column) restricts each query to
    ITS OWN probed cells inside the one shared pass — the batch form of
    the single-query nprobe filter: the scan is pruned to the UNION of
    probed cells by the caller, the per-query mask applies here.
    ``query_rows`` passes pre-collected (query_key, query_emb) rows so
    a caller that already collected the bounded request batch (e.g. to
    resolve probes) doesn't pay a second driver job.

    One ``mapInArrow``: codes come through ``functions/vector.arrow_rows``
    and each query's rows are ordered by ``spark_order``, as the serving
    tier orders them; a null code row or one with a null element scores
    null and ranks last, as in ``pq_adc_topk``, and so does a row of
    another length. ``key_col`` must be integral.
    """
    from pyspark.sql.window import Window

    _integral_key(codes_df, key_col)
    if allowed_cells is not None and cell_col is None:
        raise ValueError(
            "allowed_cells requires cell_col (the codes' cell column); "
            "without it the per-query mask has nothing to mask on"
        )
    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, _ = cb.shape
    qrows = (
        query_rows
        if query_rows is not None
        else queries_df.select(query_key, query_emb).collect()
    )
    qids = np.asarray([r[query_key] for r in qrows], dtype=np.int64)
    lut = np.asarray(
        [pq_lut(cb, r[query_emb]) for r in qrows], dtype=np.int64
    ).reshape(len(qrows), m, n_codes)

    allowed = None
    if allowed_cells is not None:
        allowed = {
            int(qid): np.asarray(sorted(cells), dtype=np.int64)
            for qid, cells in allowed_cells.items()
        }

    def score(batches):
        for b in batches:
            codes, ok = arrow_rows(b.column("pq_codes"), m)
            codes = codes.astype(np.int64)
            keys = b.column(key_col).to_numpy(zero_copy_only=False)
            scores = np.zeros((len(qids), len(keys)), dtype=np.int64)
            for j in range(m):
                scores += lut[:, j, :][:, codes[:, j]]
            cand = np.ones(len(keys), bool)
            if allowed is not None:
                cells = b.column(cell_col).to_numpy(zero_copy_only=False)
            idx, qpos = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
            for qi, qid in enumerate(qids):
                if allowed is not None:
                    cand = np.isin(cells, allowed.get(int(qid), ()))
                rows, nulls = np.flatnonzero(cand & ok), np.flatnonzero(cand & ~ok)
                rows = rows[spark_order(scores[qi, rows], keys[rows])[:k]]
                nulls = nulls[np.argsort(keys[nulls], kind="stable")][: max(k - len(rows), 0)]
                idx += [rows, nulls]
                qpos.append(np.full(len(rows) + len(nulls), qi))
            idx, qpos = np.concatenate(idx), np.concatenate(qpos)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[qpos]),
                    b.column(key_col).take(pa.array(idx)).cast(pa.int64()),
                    pa.array(scores[qpos, idx], mask=~ok[idx]),
                ],
                names=[query_key, key_col, "pq_score"],
            )

    in_cols = [key_col, "pq_codes"] + ([cell_col] if allowed is not None else [])
    survivors = codes_df.select(*in_cols).mapInArrow(
        score, f"{query_key} bigint, {key_col} bigint, pq_score bigint"
    )
    w = Window.partitionBy(query_key).orderBy(
        F.desc("pq_score"), F.asc(key_col)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_key, key_col, "pq_score", "rank")
    )


def ivfpq_topk(
    codes_df: DataFrame,
    centroids,
    codebooks,
    query: Sequence[float],
    k: int = 20,
    nprobe: int = 4,
    key_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """IVF-PQ — the production ANN architecture (Jegou et al. 2011):
    coarse quantizer prunes to ``nprobe`` cells, product-quantized codes
    score the survivors by asymmetric distance. ``codes_df`` carries
    ``centroid_id`` (ivf_assign) and ``pq_codes``
    (pq_encode(extra_cols=["centroid_id"])).

    Scale shape: with the codes laid out partitioned by centroid_id
    (pipeline/index.build_index_layout), the isin() prunes directories
    at PLANNING time, and the scan that remains reads m bytes per
    vector — cell pruning multiplied by 64x byte compression, with the
    scoring still pure Catalyst integer arithmetic (pq_adc_topk's LUT).
    """
    from external_benchmarks_spark.operators.similarity import ivf_probe_cells

    cells = [int(c) for c in ivf_probe_cells(centroids, query, nprobe, metric)]
    cand = codes_df.filter(F.col("centroid_id").isin(cells))
    return pq_adc_topk(cand, codebooks, query, k=k, key_col=key_col)


def pq_rerank_topk(
    df: DataFrame,
    codebooks,
    query: Sequence[float],
    k: int = 50,
    rerank: int = 250,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """PQ candidates + exact rerank — the FAISS ``IndexRefine`` step
    (Jegou et al. 2011 §V): ADC ranks the compressed corpus, the top
    ``rerank`` survivors are re-scored by EXACT dot product, and the
    final top-k comes from the exact scores. This is how PQ meets a
    recall target (reference README.md:76's >90%) that pure ADC
    ranking cannot on flat-similarity data: the candidate set only has
    to CONTAIN the true top-k, a far weaker ask than ranking them
    correctly (measured here: hash-sampled 64-code/16-subspace
    codebooks rank at 0.54-0.70 recall@50 but contain the true top-50
    in their top-250 with recall 1.0).

    Scale shape: the corpus pass still reads m BYTES per vector (the
    ADC scan); exact scoring touches only ``rerank`` rows, joined by a
    BROADCAST of the R-row candidate set against the (pruned) raw
    vectors. R scales with k and quantizer distortion — NOT with
    corpus size (PQ error is per-vector), so R/n shrinks as the corpus
    grows; 4-10x k is the production norm. The exact scores come from
    the exact top-k kernel (operators/topk.filtered_vector_topk), so
    they equal ``dot_product_literal``'s bits at any width."""
    from external_benchmarks_spark.operators.topk import filtered_vector_topk

    cand = pq_adc_topk(
        pq_encode(df, codebooks, key_col=key_col, emb_col=emb_col),
        codebooks,
        query,
        k=rerank,
        key_col=key_col,
    ).select(key_col)
    return filtered_vector_topk(
        df.join(F.broadcast(cand), key_col), query, None, k, key_col, emb_col
    )


def quantized_dot_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 100,
    emb_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Top-k by int8-quantized dot product against a quantized query.

    score_q = sum(q_i * qq_i) in BIGINT (exact); approx_score rescales it
    back to the float domain. Plans as scan -> mapInArrow ->
    TakeOrderedAndProject: per-partition top-k heaps, one driver merge —
    no global sort, no shuffle of the table.

    Each Arrow batch (read by ``functions/vector.arrow_rows``) is
    quantized and scored with one int64 matmul — bit-identical to
    ``quantize_embeddings`` followed by a BIGINT fold, by construction:
    integer products/sums are exact in any order, the scale chain uses
    the same IEEE ops, and quantization rounds with ``round_half_up``,
    Spark's ``round(x, 0)`` on a double. A null vector, a null element
    or a length other than the query's scores null in both columns and
    ranks last, as that fold does.
    """
    qq, qscale = quantize_vector(query)
    qarr = np.asarray(qq, dtype=np.int64)

    def score_batches(batches):
        for b in batches:
            m, ok = arrow_rows(b.column(emb_col), len(qarr))
            amax = np.abs(m).max(axis=1)
            scale = np.where(amax > 0.0, amax / 127.0, 1.0)
            v = m / scale[:, None]
            sq = round_half_up(v).astype(np.int64) @ qarr
            ap = (sq.astype(np.float64) * scale) * qscale
            yield pa.RecordBatch.from_arrays(
                [b.column(key_col), pa.array(sq, mask=~ok), pa.array(ap, mask=~ok)],
                names=[key_col, "score_q", "approx_score"],
            )

    key_type = df.schema[key_col].dataType.simpleString()
    scored = df.select(key_col, emb_col).mapInArrow(
        score_batches,
        f"{key_col} {key_type}, score_q bigint, approx_score double",
    )
    return scored.orderBy(F.desc("score_q"), F.asc(key_col)).limit(k)
