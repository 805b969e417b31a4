"""Vector scalar functions: dot product, L2 norm, cosine similarity.

Two forms of one arithmetic, per SURVEY.md §7.4:

1. **Catalyst column functions** (``dot_product``, ``dot_product_literal``,
   ``l2_norm``, ``cosine_similarity[_literal]``): exact, zero Python in
   the loop, and bit-identical to DuckDB's ``list_dot_product`` because
   they sum left to right. ``dot_product_literal`` unrolls one term per
   dimension, so it only suits narrow vectors (~1k dims at most).
2. **One exact kernel over numpy blocks**: BLAS ranks, a Higham error
   bound (``_fold_error``) picks the scores that could still matter, and
   only those are rescored with the same left-to-right fold
   (``fold_dot``). It runs at the reference's 2,688 dims (reference
   README.md:52-55,73) and returns the Catalyst score bits, in three
   forms:
   - top-k: ``exact_topk``, wrapped for Spark by ``batch_topk``; ties
     break by key, and the serving tier calls the same kernel;
   - threshold: ``threshold_pairs``, the pairs of one block whose cosine
     reaches a threshold (near-dup pairs, SemDeDup);
   - fixed point: ``round_half_up``, Spark's ``round(x, 0)`` on a
     double, so a bound carried through it bounds the 1e-6 fixed-point
     scores (MaxSim, SemDeDup's centroid cosine, MMR).

Vectors reach numpy one way: ``arrow_rows`` reads a list column of an
Arrow batch into a float64 matrix and marks the rows it holds (a null
vector, a null element or a wrong length is left out, as the fold
scores it null). Four wrappers use it:
- ``batch_topk``: the ``mapInArrow`` top-k adapter;
- ``vector_udf``: a scalar ``arrow_udf`` that gives NULL for a row
  ``arrow_rows`` leaves out (LSH bucket, IVF cell);
- ``collect_queries``: a bounded query table on the driver, every row a
  whole vector or ``ValueError``;
- ``hash_sample``: the engine-portable ``ORDER BY md5(key), key LIMIT n``
  sample (IVF centroids, PQ codebooks, projection samples) on the
  driver, read as ``collect_queries`` reads.

All element arithmetic is done in DOUBLE regardless of storage type
(embeddings are stored float32 for size, SURVEY.md §7.4).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Exact dot product of two array columns (left-to-right summation).

    Mirrors the reference's query scoring (README.md:73) and DuckDB's
    ``list_dot_product`` summation order, so results are bit-identical.
    """
    pairs = F.zip_with(_to_double(_col(a)), _to_double(_col(b)), lambda x, y: x * y)
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)


def dot_product_literal(a: Column | str, q: Sequence[float]) -> Column:
    """Dot product of an array column against a fixed query vector.

    Unrolled as a flat sum (element_at(a,i)*q_i + ...) rather than a
    zip_with against an array literal: stays in whole-stage codegen and
    keeps left-to-right order for oracle parity.
    """
    arr = _col(a)
    terms = [
        F.element_at(arr, i + 1).cast("double") * F.lit(float(v))
        for i, v in enumerate(q)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def l2_norm(a: Column | str) -> Column:
    """sqrt(sum(x^2)) — reference scripts/generate_benchmark_reports.py:271."""
    sq = F.aggregate(
        _to_double(_col(a)), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return F.sqrt(sq)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a| * |b|) — reference :527-529 (sklearn cosine_similarity)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def literal_qnorm(q: Sequence[float]) -> float:
    """The query norm ``cosine_similarity_literal`` divides by (a BLAS
    dot, not the fold: the oracles replay this recipe)."""
    return float(np.sqrt(np.dot(q, q)))


def cosine_similarity_literal(a: Column | str, q: Sequence[float]) -> Column:
    return dot_product_literal(a, q) / (l2_norm(a) * F.lit(literal_qnorm(q)))




# ---------------------------------------------------------------------------
# Exact top-k over Arrow batches: BLAS ranks, the fold decides
# ---------------------------------------------------------------------------

_U = 2.0**-53  # unit roundoff of float64


def fold_dot(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Each row of ``mat`` times ``q`` (a vector, or a matrix of rows),
    summed left to right in float64: the order of ``dot_product_literal``,
    ``l2_norm`` and DuckDB's ``list_dot_product``, so the bits match
    theirs. ``cumsum`` is a sequential scan; ``sum`` and BLAS are not."""
    if mat.shape[1] == 0:
        return np.zeros(len(mat))
    return np.cumsum(mat * q, axis=1)[:, -1]


def spark_order(scores: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Indices in the order of Spark's ``ORDER BY score DESC, key ASC``,
    where NaN ranks above every number."""
    nan = np.isnan(scores)
    return np.lexsort((keys, -np.where(nan, 0, scores), ~nan))


def round_half_up(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 0)`` on a double, elementwise: ties away from
    zero on the double's decimal value (``BigDecimal`` HALF_UP). Every
    tie x.5 is exact in float64, so rounding the exact value decides as
    the decimal string does; ``x - floor(x)`` is exact, unlike
    ``floor(x + 0.5)``, which lifts 0.49999999999999994 to 1."""
    a = np.abs(x)
    f = np.floor(a)
    return np.copysign(f + (a - f >= 0.5), x) + 0.0


def _fold_error(d: int, scale, approx=None, den=None):
    """A bound on how far a BLAS score lies from the fold's: for D-term
    float64 dots whose factors' L2 norms multiply to ``scale``; with
    ``den``, for the cosine ``approx / den``.

    Any two summation orders of a D-term float64 dot differ by at most
    2*gamma_D*|a|*|q|, with gamma_D = D*u/(1-D*u) (Higham, *Accuracy and
    Stability of Numerical Algorithms*, §3.1). The bound takes
    gamma_{D+8} and doubles the result, which also covers the roundings
    of the norms, the cosine division and the bound's own arithmetic."""
    g = (d + 8) * _U / (1 - (d + 8) * _U)
    err = 2 * g * scale
    if den is not None:
        err = (err + 2 * g * np.abs(approx)) / den
    return 2 * err


def exact_topk(
    mat: np.ndarray,
    keys: np.ndarray,
    queries: np.ndarray,
    k: int,
    qnorms: np.ndarray | None = None,
    norms: np.ndarray | None = None,
    mask: np.ndarray | None = None,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """The best ``k`` rows of ``mat`` (n x D, float64) for each row of
    ``queries`` (Q x D), ordered by (-score, key), with exact scores.

    The score is ``fold_dot(row, q)``; with ``qnorms`` (one per query,
    each computed by the caller's own recipe) it is the cosine
    ``fold_dot(row, q) / (sqrt(fold_dot(row, row)) * qnorm)``, the op
    order of ``cosine_similarity[_literal]``. ``norms`` are the rows'
    L2 norms when the caller keeps them; ``mask`` (n x Q, bool) leaves a
    row out of a query's candidates where it is False.

    Four steps: one BLAS product ranks every row; every row whose BLAS
    score lies within ``_fold_error`` of the k-th best lower bound
    survives; only the survivors are rescored with the fold; the top k
    of those by (-score, key) are returned. A row outside the survivors
    is strictly below k rows in exact arithmetic, so the result equals a
    fold over every row sorted by (-score, key).
    Returns one (row indices, scores) pair per query."""
    n, d = mat.shape
    if k <= 0:
        return [(np.empty(0, np.int64), np.empty(0))] * len(queries)
    if norms is None:
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    approx = mat @ queries.T
    scale = np.outer(norms, np.sqrt(np.einsum("ij,ij->i", queries, queries)))
    if qnorms is None:
        err = _fold_error(d, scale)
    else:
        den = np.outer(norms, qnorms)
        with np.errstate(divide="ignore", invalid="ignore"):
            err = _fold_error(d, scale, approx, den)
            approx = approx / den
    out = []
    for j, q in enumerate(queries):
        rows = np.arange(n) if mask is None else np.flatnonzero(mask[:, j])
        if len(rows) > k:
            a, e = approx[rows, j], err[rows, j]
            sure = np.isfinite(a) & np.isfinite(e)
            lo = (a - e)[sure]
            if len(lo) >= k:
                kth = np.partition(lo, len(lo) - k)[len(lo) - k]
                rows = rows[~sure | (a + e >= kth)]
        sub = mat[rows]
        scores = fold_dot(sub, q)
        if qnorms is not None:
            scores = scores / (np.sqrt(fold_dot(sub, sub)) * qnorms[j])
        best = spark_order(scores, keys[rows])[:k]
        out.append((rows[best], scores[best]))
    return out


def threshold_pairs(
    mat: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The pairs (i, j), i < j, of rows of ``mat`` (n x D, float64, no
    zero row) whose cosine reaches ``threshold``, with that cosine:
    ``fold_dot(a, b) / (sqrt(fold_dot(a, a)) * sqrt(fold_dot(b, b)))``,
    the op order of ``cosine_similarity``, so its bits.

    One BLAS Gram (2,048 rows at a time) ranks the pairs. Every pair
    whose BLAS cosine plus ``_fold_error`` reaches the threshold is
    rescored with the fold, and kept iff the fold reaches it. A NaN
    cosine counts as reaching it, since Spark orders NaN above every
    number. Returns (i, j, cosine) arrays."""
    n, d = mat.shape
    chunk, step = 2048, 4096  # bound the (rows x n) and (pairs x D) temporaries
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    ii, jj = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for s in range(0, n, chunk):
        approx = mat[s : s + chunk] @ mat[s:].T
        den = np.outer(norms[s : s + chunk], norms[s:])
        err = _fold_error(d, den, approx, den)
        i, j = np.nonzero(~(approx / den + err < threshold))
        upper = j > i
        ii.append(i[upper] + s)
        jj.append(j[upper] + s)
    i, j = np.concatenate(ii), np.concatenate(jj)
    fnorms = np.sqrt(fold_dot(mat, mat))
    dots = [fold_dot(mat[i[s : s + step]], mat[j[s : s + step]]) for s in range(0, len(i), step)]
    cos = np.concatenate([np.empty(0), *dots]) / (fnorms[i] * fnorms[j])
    hit = ~(cos < threshold)
    return i[hit], j[hit], cos[hit]


def arrow_rows(col: pa.Array, d: int) -> tuple[np.ndarray, np.ndarray]:
    """A list column of an Arrow batch as an (n x d) float64 matrix, and
    which rows it holds. A null list, a null element or a length other
    than ``d`` leaves the row out: the Catalyst fold scores it null."""
    ok = pc.fill_null(pc.list_value_length(col), -1).to_numpy() == d
    if ok.all():
        flat = col.flatten()
    else:
        flat = col.filter(pa.array(ok)).flatten()
    rows = np.flatnonzero(ok)
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(rows), d)
    if flat.null_count:
        bad = pc.is_null(flat).to_numpy(zero_copy_only=False).reshape(len(rows), d).any(1)
        ok[rows[bad]] = False
        rows, vals = rows[~bad], vals[~bad]
    if len(rows) == len(col):
        return vals, ok
    mat = np.zeros((len(col), d))
    mat[rows] = vals
    return mat, ok


def _sort_keys(col: pa.Array) -> np.ndarray:
    """Tie-break keys as numbers ordered like Spark orders the column."""
    keys = col.to_numpy(zero_copy_only=False)
    return np.unique(keys, return_inverse=True)[1] if keys.dtype == object else keys


def _whole_rows(col: pa.Array, name: str) -> np.ndarray:
    """A list column that must hold only whole vectors, all as long as
    its first non-null one, as an (n x d) float64 matrix."""
    lens = pc.list_value_length(col).drop_null()
    d = lens[0].as_py() if len(lens) else 0
    mat, ok = arrow_rows(col, d)
    if not ok.all():
        raise ValueError(f"every {name} must be a non-null vector of {d} numbers")
    return mat


def collect_queries(
    queries: DataFrame, query_key: str, query_emb: str
) -> tuple[StructField, pa.Array, np.ndarray]:
    """A query table, bounded by contract, on the driver: its key field,
    its keys and its (Q x D) float64 vectors."""
    tbl = queries.select(query_key, query_emb).toArrow()
    mat = _whole_rows(tbl.column(1).combine_chunks(), query_emb)
    return queries.schema[query_key], tbl.column(0).combine_chunks(), mat


def hash_sample(
    df: DataFrame, n: int, key_col: str, emb_col: str, salt: str = ""
) -> tuple[list, np.ndarray]:
    """The ``n`` rows that sort first by ``md5(key || salt)``, then key:
    a seeded-hash uniform sample any SQL engine reproduces exactly
    (``ORDER BY md5(CAST(key AS VARCHAR) || salt), key LIMIT n``), as
    (keys, (n x D) float64 matrix). One TakeOrderedAndProject job:
    per-partition top-n heaps and one driver merge, no global sort.
    A sampled row that is not a whole vector raises ``ValueError``."""
    key = F.col(key_col)
    top = df.orderBy(F.md5(F.concat(key.cast("string"), F.lit(salt))), key).limit(n)
    _, keys, mat = collect_queries(top, key_col, emb_col)
    return keys.to_pylist(), mat


def vector_udf(fn, d: int, dtype: str):
    """A scalar Arrow UDF of one vector column: ``fn`` maps an (n x d)
    float64 matrix of a batch's rows to n values of Spark type
    ``dtype``. A row ``arrow_rows`` leaves out gives NULL, as a SQL
    scalar function of NULL does."""

    def run(col: pa.Array) -> pa.Array:
        mat, ok = arrow_rows(col, d)
        if ok.all():
            return pa.array(fn(mat))
        part = fn(mat[ok])
        vals = np.zeros(len(col), part.dtype)
        vals[ok] = part
        return pa.array(vals, mask=~ok)

    return F.arrow_udf(run, dtype)


def batch_topk(
    df: DataFrame,
    queries: np.ndarray,
    k: int,
    key_col: str,
    emb_col: str,
    qnorms: np.ndarray | None = None,
    keep: Sequence[str] = (),
    qids: tuple[StructField, pa.Array] | None = None,
    cells: tuple[str, np.ndarray] | None = None,
) -> DataFrame:
    """Each Arrow batch's own top ``k`` rows per query, exact scores in
    ``score``: ``exact_topk`` run inside one ``mapInArrow``. Any global
    top k of ``df`` is the top k of these survivors, so callers finish
    with TakeOrderedAndProject (one query) or a window (many).

    ``queries`` is (Q x D). With ``qids = (field, keys)`` (from
    ``collect_queries``) output rows carry the query's key in that
    field; without it Q is 1. ``cells = (cell_col, valid)`` keeps a row
    for query j only where ``valid[cell, j]``. Output columns:
    [query key,] key_col, *keep, score.

    Rows the Catalyst fold would score null (null or wrong-length
    vectors, null elements) score null and rank last. Under cosine a
    zero-norm row divides by zero: it scores null, or raises
    DIVIDE_BY_ZERO when ``spark.sql.ansi.enabled`` is on, as the
    Catalyst column functions do."""
    queries = np.asarray(queries, dtype=np.float64)
    d = queries.shape[1]
    ansi = df.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    out_cols = [*dict.fromkeys([key_col, *keep])]
    in_cols = [*dict.fromkeys([*out_cols, emb_col, *(cells[:1] if cells else [])])]
    fields = [df.schema[c] for c in out_cols] + [StructField("score", DoubleType())]
    if qids is not None:
        fields.insert(0, qids[0])
    names = [f.name for f in fields]
    if len(queries) == 0:
        return df.sparkSession.createDataFrame([], StructType(fields))

    def run(batches):
        for b in batches:
            mat, ok = arrow_rows(b.column(emb_col), d)
            keys = _sort_keys(b.column(key_col))
            mask = None
            if cells is not None:
                cid = b.column(cells[0]).to_numpy(zero_copy_only=False)
                mask = cells[1][cid.astype(np.int64)]
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            if qnorms is not None:
                zero = ok & (norms == 0.0)
                if mask is not None:
                    zero &= mask.any(axis=1)
                if ansi and zero.any():
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] Division by zero: a zero-norm "
                        f"{emb_col} row has no cosine"
                    )
                ok &= norms != 0.0
            rows, nulls = np.flatnonzero(ok), np.flatnonzero(~ok)
            res = exact_topk(
                mat if len(rows) == len(mat) else mat[rows], keys[rows],
                queries, k, qnorms, norms[rows],
                None if mask is None else mask[rows],
            )
            idx, scores, nulled, qpos = [], [], [], []
            for j, (r, s) in enumerate(res):
                extra = nulls if mask is None else nulls[mask[nulls, j]]
                extra = extra[np.argsort(keys[extra], kind="stable")][: max(k - len(r), 0)]
                idx += [rows[r], extra]
                scores += [s, np.zeros(len(extra))]
                nulled += [np.zeros(len(r), bool), np.ones(len(extra), bool)]
                qpos.append(np.full(len(r) + len(extra), j))
            arrays = [b.column(c).take(pa.array(np.concatenate(idx))) for c in out_cols]
            arrays.append(pa.array(np.concatenate(scores), mask=np.concatenate(nulled)))
            if qids is not None:
                arrays.insert(0, qids[1].take(pa.array(np.concatenate(qpos))))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.select(*in_cols).mapInArrow(run, StructType(fields))
