"""Similarity search over embedding columns.

Three tiers (SURVEY.md §7.5 — Spark has no native ANN):

- ``bruteforce_topk``   : exact cosine/dot top-k. The correctness oracle
                          (reference README.md:76 measures recall against
                          exact search) and perfectly scalable: score is a
                          map-only pass, top-k is TakeOrderedAndProject.
- ``lsh_bucketed_topk`` : random-hyperplane LSH pre-filter — score only
                          rows whose sign-bucket matches the query's in
                          >= ``min_matching_bits`` of ``n_planes`` bits.
                          The scale path: at 100 TB the bucket id is a
                          partition column, so a query touches only its
                          bucket's partitions. Recall is measured against
                          bruteforce via operators.topk.recall_at_k.
- ``ivf_*``             : inverted-file index — distributed MLlib KMeans
                          centroids, every row assigned to its nearest
                          centroid (one Arrow matmul pass), queries probe
                          only the ``nprobe`` nearest centroid cells.
                          Unlike sign-LSH, IVF adapts to the data's
                          cluster structure, so it prunes well even when
                          uniform-random vectors defeat hyperplane LSH.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from external_benchmarks_spark.functions.vector import (
    _fold_error,
    _sort_keys,
    arrow_rows,
    batch_topk,
    collect_queries,
    dot_product,
    fold_dot,
    hash_sample,
    l2_norm,
    literal_qnorm,
    round_half_up,
    spark_order,
    vector_udf,
)


def bruteforce_topk(
    df: DataFrame,
    qvec: Sequence[float],
    k: int = 10,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k by cosine (or dot) against a fixed query vector.

    Each Arrow batch keeps its exact top k (functions/vector.batch_topk),
    so the scores are ``cosine_similarity_literal``'s (or
    ``dot_product_literal``'s) bits at any width.
    """
    qnorms = [literal_qnorm(qvec)] if metric == "cosine" else None
    return (
        batch_topk(df, [qvec], k, key_col, emb_col, qnorms=qnorms)
        .orderBy(F.desc("score"), F.asc(key_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def lsh_bucket_udf(planes: np.ndarray):
    """Sign-bit bucket id of an embedding column: bit i = dot(emb, plane_i) > 0.

    A ``vector_udf``: one (batch x dim) @ (dim x planes) matmul per Arrow
    batch; a null vector, a null element or a length other than the
    planes' dim gets a NULL bucket, so no probe selects it. A
    pure-Catalyst unrolled form was tried and rejected — at 64 dims x 8
    planes the generated Java method exceeds janino limits and falls
    back to interpreted eval (slower than the Arrow hop).
    """
    mat = np.ascontiguousarray(planes.T, dtype=np.float64)  # (dim, n_planes)
    weights = (1 << np.arange(planes.shape[0])).astype(np.int64)
    return vector_udf(lambda m: ((m @ mat) > 0) @ weights, planes.shape[1], "bigint")


def lsh_bucketed_topk(
    df: DataFrame,
    qvec: Sequence[float],
    k: int = 10,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    n_planes: int = 8,
    min_matching_bits: int = 3,
    seed: int = 42,
) -> DataFrame:
    """ANN: score only rows whose LSH bucket is Hamming-close to the query's.

    With ``min_matching_bits == n_planes`` this scans one bucket (fastest,
    lowest recall); lowering it widens the probe (multi-probe LSH).
    Measured on the synthetic UNIFORM random vectors, recall>=0.9 needs a
    wide probe (>=3 of 8 bits, ~80% scanned) — uniform data is LSH's
    worst case; clustered real-world embeddings prune far better. The
    recall/speed trade-off is asserted in tests/test_similarity.py per the
    reference's >90% recall requirement (README.md:76), at BOTH the
    testdata's 64 dims and the reference's production 2,688.
    The candidates are scored by bruteforce_topk's exact kernel, which
    runs at any width.
    """
    planes = hyperplanes(len(qvec), n_planes, seed)
    qbucket = sum(
        (1 << i) for i, plane in enumerate(planes) if float(np.dot(plane, qvec)) > 0
    )
    bucket = lsh_bucket_udf(planes)(F.col(emb_col))
    # popcount(bucket XOR qbucket) over n_planes bits — small expression,
    # stays in codegen (the heavy dot products live in the Arrow batch).
    x = bucket.bitwiseXOR(F.lit(qbucket).cast("bigint"))
    pop = sum((F.shiftright(x, i) % 2).cast("int") for i in range(n_planes))
    cand = df.filter(pop <= (n_planes - min_matching_bits))
    return bruteforce_topk(cand, qvec, k, key_col, emb_col, metric="cosine")


def ivf_fit(
    df: DataFrame,
    n_centroids: int = 16,
    emb_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    metric: str = "cosine",
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Fit IVF centroids with distributed MLlib KMeans.

    ``sample_fraction`` fits on a seeded uniform sample — the 100 TB
    path: Lloyd iterations over (say) 0.1% of 10^10 rows recover the
    same cell structure at 1000x less cost, and ONLY the assignment
    pass (one Arrow matmul scan) touches every row.

    ``metric="cosine"`` fits *spherical* k-means (rows L2-normalized
    first) so cell geometry matches cosine ranking — Euclidean-nearest on
    the unit sphere is cosine-nearest. The fit is the scalable path
    (Lloyd iterations are map-reduce passes over the executors; nothing
    but (k x dim) centroids ever reaches the driver). Returns the
    (n_centroids x dim) matrix — small enough to broadcast into the
    assignment/probe steps.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    if sample_fraction is not None:
        df = df.sample(fraction=sample_fraction, seed=seed)
    feats = df.select(array_to_vector(F.col(emb_col).cast("array<double>")).alias("_raw"))
    if metric == "cosine":
        feats = Normalizer(inputCol="_raw", outputCol="features", p=2.0).transform(feats)
    else:
        feats = feats.withColumnRenamed("_raw", "features")
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    return np.vstack([np.asarray(c, dtype=np.float64) for c in model.clusterCenters()])


def sampled_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    normalize: bool = True,
) -> np.ndarray:
    """Deterministic IVF centroids WITHOUT Lloyd iterations: the rows that
    sort first by ``md5(key)`` — a seeded-hash uniform sample that any SQL
    engine reproduces exactly (``ORDER BY md5(CAST(key AS VARCHAR)), key
    LIMIT n``), which makes the whole IVF pipeline (assign → probe → top-k)
    independently auditable by an external oracle. Trades a few recall
    points vs the adaptive ``ivf_fit`` KMeans centroids; use that fit for
    production recall, this one when the index must be engine-portable.
    Only (n_centroids × dim) doubles reach the driver.

    Scale shape: ``orderBy(md5).limit(n)`` plans as
    **TakeOrderedAndProject** — per-partition top-n heaps + one driver
    merge of n×partitions rows, NOT a global sort-shuffle (plan-asserted
    in tests/test_plans.py). The md5 evaluation is one codegen'd pass
    over the scan; at 100 TB this is a map-only job whose driver traffic
    is n rows per partition (functions/vector.hash_sample)."""
    mat = hash_sample(df, n_centroids, key_col, emb_col)[1]
    return _unit_rows(mat) if normalize else mat


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Each row over its L2 norm; a zero row stays zero."""
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0.0, 1.0, n)


def ivf_assign_udf(centroids: np.ndarray, metric: str = "cosine"):
    """Nearest-centroid id — one Arrow-batched matmul.

    argmin ||x - c||^2 == argmin (||c||^2 - 2 x.c): one (batch x dim) @
    (dim x k) product plus a precomputed norm row; no per-row Python.
    For cosine, rows are unit-normalized first (centroids already come
    from the spherical fit). A ``vector_udf``: a null vector, a null
    element or a length other than the centroids' dim has no cell (NULL).
    """
    cmat = np.ascontiguousarray(centroids.T, dtype=np.float64)  # (dim, k)
    cnorm2 = (centroids * centroids).sum(axis=1)  # (k,)
    spherical = metric == "cosine"

    def assign(m: np.ndarray) -> np.ndarray:
        if spherical:
            m = _unit_rows(m)
        d = cnorm2 - 2.0 * (m @ cmat)  # (batch, k), up to the x-norm constant
        return np.argmin(d, axis=1).astype(np.int64)

    return vector_udf(assign, centroids.shape[1], "bigint")


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Add ``centroid_id`` — the IVF cell / partition key. Written as a
    partition column (pipeline/index.build_index_layout), equality filters
    on it prune whole directories, so a probe reads nprobe/k of the data."""
    return df.withColumn(
        "centroid_id", ivf_assign_udf(centroids, metric)(F.col(emb_col))
    )


def ivf_probe_cells(
    centroids: np.ndarray,
    qvec: Sequence[float],
    nprobe: int,
    metric: str = "cosine",
) -> list[int]:
    """The nprobe nearest centroid ids for a query — driver-side on the
    tiny (k x dim) matrix, becomes an isin() partition-pruning filter."""
    q = np.asarray(qvec, dtype=np.float64)
    if metric == "cosine":
        n = float(np.linalg.norm(q))
        q = q / (n if n else 1.0)
    d = ((centroids - q) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    qvec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """ANN top-k probing only the ``nprobe`` nearest IVF cells.

    ``assigned`` must carry ``centroid_id`` (ivf_assign, or read back from
    the centroid-partitioned layout where the isin() prunes directories).
    Exact scoring inside the probed cells; recall vs bruteforce_topk is
    asserted >= 0.9 in tests/test_similarity.py (reference README.md:76).
    On the synthetic UNIFORM vectors (IVF's worst case — neighbors spread
    almost isotropically in high dim) hitting 0.9 needs a wide probe
    (~10-12 of 16 cells); clustered real-world embeddings prune far
    better. Even so IVF beats sign-LSH here: the spherical fit adapts to
    the data, where fixed random hyperplanes cannot.
    """
    cells = ivf_probe_cells(centroids, qvec, nprobe, metric)
    cand = assigned.filter(F.col("centroid_id").isin(cells))
    return bruteforce_topk(cand, qvec, k, key_col, emb_col, metric=metric)


def per_query_ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 100,
    nprobe: int = 4,
    item_key: str = "vec_id",
    emb_col: str = "embedding",
    query_key: str = "query_id",
    query_emb: str = "qvec",
    metric: str = "cosine",
) -> DataFrame:
    """Batch-of-queries ANN through the IVF index.

    Each query considers ONLY items in its nprobe nearest cells; probe
    geometry is always the spherical (cosine) cell space, ``metric``
    selects the scoring function. Output schema matches
    operators/topk.per_query_topk (query_id, item, score, rank) — recall
    vs that exact oracle is asserted in tests/test_similarity.py.

    The scan is PRUNED to the union of probed cells (a partition filter
    on the IVF layout); each Arrow batch runs the exact top-k kernel
    against all queries with a (cell x query) mask that drops the pairs
    outside a query's probe set (functions/vector.batch_topk). Scores
    are ``dot_product``'s / ``cosine_similarity``'s bits (the cosine
    divides by the query's own fold norm).
    """
    from pyspark.sql.window import Window

    qfield, qids, qmat = collect_queries(queries, query_key, query_emb)
    valid = np.zeros((centroids.shape[0], len(qmat)), dtype=bool)  # (cell, query)
    for j, q in enumerate(qmat):
        valid[ivf_probe_cells(centroids, q, nprobe, "cosine"), j] = True
    cells_union = np.flatnonzero(valid.any(axis=1)).tolist()
    qnorms = np.sqrt(fold_dot(qmat, qmat)) if metric == "cosine" else None
    survivors = batch_topk(
        assigned.filter(F.col("centroid_id").isin(cells_union)),
        qmat, k, item_key, emb_col, qnorms=qnorms, qids=(qfield, qids),
        cells=("centroid_id", valid),
    )
    w = Window.partitionBy(query_key).orderBy(F.desc("score"), F.asc(item_key))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, item_key, "score", "rank")
    )


def pairwise_cosine_stats(
    df: DataFrame,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    sample_n: int = 200,
) -> DataFrame:
    """Distribution of pairwise cosine sims on a bounded sample.

    Reference scripts/generate_benchmark_reports.py:527-539 computes an
    n<=200 pairwise cosine matrix and keeps the upper triangle; here the
    sample is taken distributed, the pair join is a broadcast self-join,
    and only moments come back.
    """
    sample = df.select(key_col, emb_col).limit(sample_n)
    a = sample.select(F.col(key_col).alias("id_a"), F.col(emb_col).alias("ea"))
    b = sample.select(F.col(key_col).alias("id_b"), F.col(emb_col).alias("eb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    from external_benchmarks_spark.functions.vector import cosine_similarity

    cos = cosine_similarity("ea", "eb")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(cos), 6).alias("mean_cos"),
        F.round(F.stddev_samp(cos), 6).alias("std_cos"),
        F.round(F.min(cos), 6).alias("min_cos"),
        F.round(F.max(cos), 6).alias("max_cos"),
    )


def cluster_profile(
    assigned: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
    cluster_col: str = "centroid_id",
) -> DataFrame:
    """Exact per-cluster geometry after centroid assignment — the audit
    step of corpus clustering (cluster-then-sample curation pipelines need
    cluster sizes and cohesion before deciding per-cluster quotas).

    Returns (cluster_id, n_members, cohesion_fp, min_cos_fp, avg_cos):
    per-member cosine to the OWN cluster's centroid is rounded to 1e-6
    fixed-point (one ln-free libm-safe op chain: HOF dot product +
    sqrt, bit-identical in DuckDB per functions/vector.dot_product), then
    summed / min'd as integers — order-independent across partitions.
    avg_cos derives from the exact integer sum, so the whole row
    hash-matches an independent SQL replication.

    Scale shape: the (k x dim) centroid matrix is a BROADCAST side table
    equi-joined on cluster_id — at realistic clustering scale (k=4096,
    dim=768 ~ 25 MB) a plan-literal array would bloat every task's
    serialized plan and Catalyst analysis, while a broadcast ships once
    per executor. One groupBy on k keys after the join (map-side partials
    collapse every partition to <= k rows before the shuffle).
    """
    return (
        centroid_cosine_fp(assigned, centroids, emb_col=emb_col, cluster_col=cluster_col)
        .select("cluster_id", "cos_fp")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("cos_fp").alias("cohesion_fp"),
            F.min("cos_fp").alias("min_cos_fp"),
        )
        .select(
            "cluster_id",
            "n_members",
            "cohesion_fp",
            "min_cos_fp",
            (
                F.col("cohesion_fp").cast("double")
                / (F.col("n_members") * 1_000_000).cast("double")
            ).alias("avg_cos"),
        )
    )


def centroid_cosine_fp(
    assigned: DataFrame,
    centroids: np.ndarray,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    cluster_col: str = "centroid_id",
) -> DataFrame:
    """(key, cluster_id, cos_fp): each row's cosine to its OWN cluster's
    centroid, rounded to 1e-6 fixed point — the shared per-row kernel of
    cluster_profile (aggregate audit) and semdedup (per-row keep rule).
    Centroids ride as a broadcast side table equi-joined on cluster_id;
    the op chain (HOF dot + sqrt) is bit-identical in DuckDB."""
    spark = assigned.sparkSession
    cent = np.asarray(centroids, dtype=np.float64)
    # An Arrow table plans as a JVM-local LocalTableScan, so evaluating
    # the broadcast side touches no Python worker.
    cent_df = spark.createDataFrame(
        pa.table({
            "cluster_id": pa.array(range(len(cent)), pa.int64()),
            "_centroid": pa.array(cent.tolist(), pa.list_(pa.float64())),
        }),
        schema="cluster_id bigint, _centroid array<double>",
    )
    e = F.col(emb_col).cast("array<double>")
    cv = F.col("_centroid")
    norm = l2_norm(e)
    cos = F.when(norm > 0.0, dot_product(e, cv) / norm).otherwise(F.lit(0.0))
    cos_fp = F.round(cos * 1_000_000, 0).cast("bigint")
    return (
        assigned.select(
            F.col(key_col),
            F.col(cluster_col).cast("bigint").alias("cluster_id"),
            F.col(emb_col),
        )
        .join(F.broadcast(cent_df), "cluster_id")
        .select(F.col(key_col), F.col("cluster_id"), cos_fp.alias("cos_fp"))
    )


def semdedup(
    assigned: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.2,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    cluster_col: str = "centroid_id",
    max_block_rows: int | None = None,
) -> DataFrame:
    """Semantic deduplication (Abbas et al. 2023, "SemDeDup"): within each
    cluster, find pairs with cosine >= threshold and keep only the member
    FARTHEST from the centroid in each duplicate neighborhood — the
    published keep-low-centroid-similarity rule, made deterministic by
    tie-breaking on the key. Returns the surviving (key, cluster_id).

    Shape: one grouped Arrow call per cluster block, then one left-anti
    join. Inside it, the block's pairs are ``embedding_neardup_pairs``'s
    (dedup._block_pairs: BLAS ranks, the fold decides, never an
    all-pairs join), each row's centroid cosine is
    ``centroid_cosine_fp``'s 1e-6 fixed point (the fold over n rows, not
    n^2 pairs, and 0 for a zero-norm row), and each pair drops its
    endpoint with the larger (cos_fp, key). The oracle replays the same
    arithmetic (deterministic sampled centroids + fixed-point cosines).
    ``max_block_rows`` sub-blocks giant clusters as
    ``embedding_neardup_pairs`` does.
    """
    from external_benchmarks_spark.operators.dedup import _block_pairs, _blocked

    cmat = np.asarray(centroids, dtype=np.float64)
    key = assigned.schema[key_col]
    ansi = assigned.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"

    def drop_block(tbl: pa.Table) -> pa.Table:
        i, j, _ = _block_pairs(tbl, key_col, emb_col, threshold, ansi)
        c = cmat[tbl.column(cluster_col)[0].as_py()]
        m, ok = arrow_rows(tbl.column(emb_col).combine_chunks(), len(c))
        norm = np.sqrt(fold_dot(m, m))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(norm > 0.0, fold_dot(m, c) / norm, 0.0)
        fp = round_half_up(cos * 1_000_000)
        both = ok[i] & ok[j]  # a wrong-length row has no cos_fp
        i, j = i[both], j[both]
        # the endpoint with the larger (cos_fp, key) drops; key(i) < key(j)
        loser = np.unique(np.where(fp[j] < fp[i], i, j))
        return pa.Table.from_arrays([tbl.column(key_col).take(loser)], names=[key_col])

    dropped = (
        _blocked(assigned, cluster_col, key_col, emb_col, max_block_rows)
        .select(key_col, "_blk", cluster_col, emb_col)
        .groupBy("_blk")
        .applyInArrow(drop_block, StructType([key]))
    )
    return assigned.select(
        F.col(key_col), F.col(cluster_col).cast("bigint").alias("cluster_id")
    ).join(dropped, key_col, "left_anti")


def cluster_representatives(
    assigned: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    cluster_col: str = "centroid_id",
) -> DataFrame:
    """Top-k most-central members per cluster — the prototype-selection
    primitive of cluster-then-curate pipelines (label the k nearest to
    each centroid, audit a cluster by its exemplars). One window over the
    per-row centroid-cosine table; ties broken by key. Shuffle: the
    single window partition-by (cluster_id) — k x n_clusters rows out."""
    from pyspark.sql.window import Window

    pc = centroid_cosine_fp(
        assigned, centroids, key_col=key_col, emb_col=emb_col, cluster_col=cluster_col
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("cos_fp"), F.asc(key_col)
    )
    return (
        pc.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select(key_col, "cluster_id", "cos_fp", "rn")
    )

def maxsim_topk(
    df: DataFrame,
    query_tokens: Sequence[Sequence[float]],
    k: int = 20,
    n_chunks: int = 8,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction MaxSim retrieval (Khattab &
    Zaharia, SIGIR 2020): a document is a BAG of token vectors and
    score(q, d) = sum over query tokens of max over doc tokens of the
    dot product — finer-grained than single-vector retrieval because
    each query token independently aligns to its best document token.

    Document token vectors are the ``n_chunks`` contiguous slices of the
    stored embedding (the packed multi-vector layout: one fixed-width
    array column instead of an exploded token table — at 100 TB the
    explode would multiply row count by tokens-per-doc and shuffle it;
    the packed form keeps MaxSim a map-only scan feeding a
    TakeOrderedAndProject top-k).

    The score is the Catalyst form's (slice -> left-to-right fold per
    chunk dot, greatest() across chunks per query token, per-token 1e-6
    fixed-point rounding summed as BIGINT), bit for bit, at any width.
    One ``mapInArrow`` scores each batch with one einsum over the
    (rows, chunks, tokens) tensor; ``_fold_error`` carried through the
    max and ``round_half_up`` bounds each row's total, and only rows
    whose upper total reaches the k-th lower total are rescored with
    the fold. Each batch emits its exact top k by (score, key). A chunk
    holding a null element is skipped, as greatest() skips its null
    dot; a row with no valid chunk scores null and ranks last.
    """
    width = len(query_tokens[0])
    for qt in query_tokens:
        if len(qt) != width:
            raise ValueError("query tokens must share one width")
    # Fail loudly on a width mismatch instead of silently scoring partial
    # chunks: assert_true is a per-row comparison, negligible next to the
    # dot products.
    need = n_chunks * width
    df = df.filter(
        F.assert_true(
            F.size(F.col(emb_col)) == need,
            F.lit(f"maxsim_topk: embedding length != n_chunks*width={need}"),
        ).isNull()
    )
    q = np.asarray(query_tokens, dtype=np.float64)  # (tokens, width)
    qn = np.sqrt(np.einsum("tw,tw->t", q, q))
    fields = [df.schema[key_col], StructField("maxsim", DoubleType())]

    def fixed(tm: np.ndarray) -> np.ndarray:
        return round_half_up(tm * 1_000_000.0)  # per query token

    def total(fp: np.ndarray) -> np.ndarray:
        return fp.astype(np.int64).sum(axis=1)  # BIGINT: exact past 2**53

    def run(batches):
        for b in batches:
            flat = b.column(emb_col).flatten()
            m = pc.fill_null(flat, 0).to_numpy(zero_copy_only=False)
            m = m.astype(np.float64).reshape(len(b), n_chunks, width)
            null = pc.is_null(flat).to_numpy(zero_copy_only=False)
            null = null.reshape(len(b), n_chunks, width).any(axis=2)[:, :, None]
            sims = np.einsum("ncw,tw->nct", m, q)
            cn = np.sqrt(np.einsum("ncw,ncw->nc", m, m))
            err = _fold_error(width, cn[:, :, None] * qn)
            lo = fixed(np.where(null, -np.inf, sims - err).max(axis=1))
            hi = fixed(np.where(null, -np.inf, sims + err).max(axis=1))
            valid = ~null.all(axis=(1, 2))
            sure = np.isfinite(lo).all(axis=1) & np.isfinite(hi).all(axis=1)
            rows = np.flatnonzero(valid)
            if sure.sum() > k > 0:
                kth = np.partition(total(lo[sure]), -k)[-k]
                hi_total = total(np.where(sure[:, None], hi, 0))
                rows = rows[~sure[rows] | (hi_total[rows] >= kth)]
            sub = m[rows].reshape(-1, width)
            tm = np.stack([fold_dot(sub, t).reshape(len(rows), n_chunks) for t in q], 2)
            tm = np.where(null[rows], -np.inf, tm).max(axis=1)
            scores = total(fixed(tm)) / 1_000_000.0
            keys = _sort_keys(b.column(key_col))
            best = spark_order(scores, keys[rows])[:k]
            nulls = np.flatnonzero(~valid)
            nulls = nulls[np.argsort(keys[nulls], kind="stable")][: k - len(best)]
            take = np.concatenate([rows[best], nulls])
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(key_col).take(pa.array(take)),
                    pa.array(np.r_[scores[best], np.zeros(len(nulls))], mask=~valid[take]),
                ],
                names=[f.name for f in fields],
            )

    return (
        df.select(key_col, emb_col)
        .mapInArrow(run, StructType(fields))
        .orderBy(F.desc("maxsim"), F.asc(key_col))
        .limit(k)
    )


def mmr_topk(
    df: DataFrame,
    qvec: Sequence[float],
    k: int = 10,
    m: int = 50,
    lam: float = 0.7,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): greedily pick argmax of
    ``lam * relevance - (1 - lam) * max cosine-sim to already-selected``
    — the standard de-redundancy re-rank for retrieval and for
    diversity-aware training-data selection.

    Two stages. Stage 1 is the corpus-sized, distributed part: top-m
    candidates by cosine relevance through the exact top-k kernel
    (bruteforce_topk's, then TakeOrderedAndProject — per-partition
    heaps, no global sort). Stage 2 is the inherently sequential greedy
    over m rows, run driver-side — m is small BY CONTRACT (the re-rank
    window, like the pairwise-cosine <= 200 pattern), so this collect is
    O(m * dim) bytes regardless of corpus size; each step folds the
    newly chosen row against the m candidates once.

    Oracle parity: relevance is ``cosine_similarity_literal``'s bits
    (left-to-right fold = DuckDB list_dot_product); the pair
    similarities use the same numpy fold (functions/vector.fold_dot)
    over fold-normalized rows, and every greedy comparison happens on
    1e-6 fixed-point integers rounded as Spark rounds (``round_half_up``),
    so the selection replays DuckDB's recursive-CTE greedy bit-for-bit
    at any width.
    """
    rows = (
        batch_topk(
            df, [qvec], m, key_col, emb_col, qnorms=[literal_qnorm(qvec)],
            keep=[emb_col],
        )
        .orderBy(F.desc("score"), F.asc(key_col))
        .limit(m)
        .collect()
    )  # m rows by contract

    def fp(x: float) -> int:
        return int(round_half_up(x * 1_000_000.0))

    ids = [r[0] for r in rows]
    rels = [float(r["score"]) for r in rows]
    if not rows or k <= 0:
        out_rows = []
    else:
        mat = np.asarray([r[emb_col] for r in rows], dtype=np.float64)
        # fold-normalized rows; a zero row stays as it is (x / 1.0 == x)
        norms = np.sqrt(fold_dot(mat, mat))
        ens = mat / np.where(norms == 0.0, 1.0, norms)[:, None]
        # step 1: rows arrive sorted by (rel desc, id) — first wins
        out_rows = [(1, ids[0], fp(rels[0]))]
        # msim[i]: max fold similarity of candidate i to the chosen rows
        msim = fold_dot(ens, ens[0])
        remaining = set(range(1, len(rows)))
        one_minus = 1.0 - lam
        while len(out_rows) < k and remaining:
            best_i, best_fp = None, None
            for i in remaining:
                s = fp(lam * rels[i] - one_minus * float(msim[i]))
                if (
                    best_fp is None
                    or s > best_fp
                    or (s == best_fp and ids[i] < ids[best_i])
                ):
                    best_i, best_fp = i, s
            out_rows.append((len(out_rows) + 1, ids[best_i], best_fp))
            msim = np.maximum(msim, fold_dot(ens, ens[best_i]))
            remaining.discard(best_i)

    schema = StructType(
        [
            StructField("mmr_rank", LongType()),
            StructField(key_col, df.schema[key_col].dataType),
            StructField("mmr_score", DoubleType()),
        ]
    )
    return df.sparkSession.createDataFrame(
        [(r, i, s / 1_000_000.0) for r, i, s in out_rows], schema
    )
