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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from external_benchmarks_spark.functions.vector import _to_double


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
    only n_codes rows reach the driver (TakeOrderedAndProject, no sort).
    """
    import numpy as np

    rows = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(emb_col).cast("array<double>").alias("e"),
        )
        .orderBy(F.md5(F.col(key_col).cast("string")), F.col(key_col))
        .limit(n_codes)
        .collect()
    )
    mat = np.asarray([r["e"] for r in rows], dtype=np.float64)
    dim = mat.shape[1]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by {m_subspaces} subspaces")
    dsub = dim // m_subspaces
    # [m, n_codes, dsub]: subspace j's code c is sample-row c's j-th slice
    return mat.reshape(len(rows), m_subspaces, dsub).transpose(1, 0, 2).copy()


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

    Distances accumulate as per-term FLOOR((x-c)^2 * 1e6) BIGINTs, so
    the argmin (first-minimum on ties, numpy and SQL alike) is exact
    integer arithmetic any engine replays bit-for-bit — the same
    fixed-point device as the rest of the vector family. Arrow-batched
    mapInPandas; one [batch, n_codes, dsub] broadcasted numpy op per
    subspace, no Python-per-row work.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegralType

    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = cb.shape
    extras = list(extra_cols)
    # Integer extras (centroid_id, integer payload codes) land as
    # bigint; any other extra passes through with its own Spark type.
    extra_types = {
        c: "bigint"
        if isinstance(df.schema[c].dataType, IntegralType)
        else df.schema[c].dataType.simpleString()
        for c in extras
    }

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty partitions yield empty batches
                continue
            mat = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                diff = sub[:, None, :] - cb[j][None, :, :]
                d = (
                    np.floor((diff * diff) * 1e6)
                    .astype(np.int64)
                    .sum(axis=2)
                )
                codes[:, j] = d.argmin(axis=1)
            out = {key_col: pdf[key_col].to_numpy(), "pq_codes": list(codes)}
            for c in extras:  # e.g. centroid_id for the IVF-PQ compose
                out[c] = pdf[c].to_numpy()
                if extra_types[c] == "bigint":
                    out[c] = out[c].astype("int64", copy=False)
            yield pd.DataFrame(out)

    extra_schema = "".join(f", {c} {t}" for c, t in extra_types.items())
    return df.select(key_col, emb_col, *extras).mapInPandas(
        encode, f"{key_col} bigint, pq_codes array<int>{extra_schema}"
    )


def pq_lut(codebooks, q: Sequence[float]):
    """The ADC lookup table of query ``q`` against PQ ``codebooks``
    [m, n_codes, dsub]: int64 [m, n_codes] with lut[j, c] =
    sum_i FLOOR((q[j*dsub + i] * codebooks[j, c, i]) * 1e6). The floor
    is per TERM, so the integer sum is order-independent and any engine
    (the Spark plans' literal arrays, the serving tier, the DuckDB
    oracle) replays it exactly."""
    import numpy as np

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
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

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
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["pq_codes"].to_numpy()).astype(np.int64)
            keys = pdf[key_col].to_numpy()
            cells = (
                pdf[cell_col].to_numpy().astype(np.int64)
                if allowed is not None
                else None
            )
            n = len(keys)
            scores = np.zeros((len(qids), n), dtype=np.int64)
            for j in range(m):
                scores += lut[:, j, :][:, codes[:, j]]
            out_q, out_k, out_s = [], [], []
            for qi in range(len(qids)):
                if allowed is not None:
                    sub = np.nonzero(
                        np.isin(cells, allowed.get(int(qids[qi]), ()))
                    )[0]
                    if len(sub) == 0:
                        continue
                    skeys, sscores = keys[sub], scores[qi][sub]
                else:
                    skeys, sscores = keys, scores[qi]
                order = np.lexsort((skeys, -sscores))[:k]
                out_q.append(np.full(len(order), qids[qi], dtype=np.int64))
                out_k.append(skeys[order])
                out_s.append(sscores[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    query_key: np.concatenate(out_q),
                    key_col: np.concatenate(out_k),
                    "pq_score": np.concatenate(out_s),
                }
            )

    in_cols = [key_col, "pq_codes"] + ([cell_col] if allowed is not None else [])
    survivors = codes_df.select(*in_cols).mapInPandas(
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
    grows; 4-10x k is the production norm."""
    from external_benchmarks_spark.functions.vector import (
        dot_product_literal,
    )

    cand = pq_adc_topk(
        pq_encode(df, codebooks, key_col=key_col, emb_col=emb_col),
        codebooks,
        query,
        k=rerank,
        key_col=key_col,
    ).select(key_col)
    return (
        df.join(F.broadcast(cand), key_col)
        .select(
            key_col,
            dot_product_literal(
                F.col(emb_col).cast("array<double>"), query
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(key_col))
        .limit(k)
    )


def quantized_dot_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 100,
    emb_col: str = "embedding",
    key_col: str = "vec_id",
    use_arrow_fast_path: bool = False,
) -> DataFrame:
    """Top-k by int8-quantized dot product against a quantized query.

    score_q = sum(q_i * qq_i) in BIGINT (exact); approx_score rescales it
    back to the float domain. Plans as scan -> codegen projection ->
    TakeOrderedAndProject: per-partition top-k heaps, one driver merge —
    no global sort, no shuffle of the table.

    ``use_arrow_fast_path`` quantizes and scores each Arrow batch with
    one int64 matmul — BIT-IDENTICAL to the HOF form by construction:
    integer products/sums are exact in any order, the scale chain uses
    the same IEEE ops, and quantization values within 1e-9 of a .5
    rounding boundary are re-derived with Spark's exact
    BigDecimal-HALF_UP semantics (the only place float order could leak).
    """
    import numpy as np
    import pandas as pd

    qq, qscale = quantize_vector(query)
    if use_arrow_fast_path:
        from decimal import ROUND_HALF_UP, Decimal

        qarr = np.asarray(qq, dtype=np.int64)

        def score_batches(batches):
            for pdf in batches:
                m = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
                amax = np.abs(m).max(axis=1)
                scale = np.where(amax > 0.0, amax / 127.0, 1.0)
                v = m / scale[:, None]
                q = np.where(v >= 0.0, np.floor(v + 0.5), np.ceil(v - 0.5))
                near = np.abs(np.abs(v) % 1.0 - 0.5) <= 1e-9
                for i, j in zip(*np.nonzero(near)):
                    q[i, j] = float(
                        Decimal(repr(float(v[i, j]))).quantize(
                            Decimal(1), rounding=ROUND_HALF_UP
                        )
                    )
                sq = q.astype(np.int64) @ qarr
                ap = (sq.astype(np.float64) * scale) * qscale
                yield pd.DataFrame(
                    {
                        key_col: pdf[key_col].to_numpy(),
                        "score_q": sq,
                        "approx_score": ap,
                    }
                )

        scored = df.select(key_col, emb_col).mapInPandas(
            score_batches,
            f"{key_col} bigint, score_q bigint, approx_score double",
        )
        return scored.orderBy(F.desc("score_q"), F.asc(key_col)).limit(k)
    quant = quantize_embeddings(df, emb_col, key_col)
    qq_lit = F.lit([int(v) for v in qq])  # one py4j call, not dim
    score_q = F.aggregate(
        F.zip_with("qvec", qq_lit, lambda a, b: (a.cast("bigint") * b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = quant.select(
        key_col,
        score_q.alias("score_q"),
        (score_q.cast("double") * F.col("scale") * F.lit(qscale)).alias(
            "approx_score"
        ),
    )
    return scored.orderBy(F.desc("score_q"), F.asc(key_col)).limit(k)
