"""Incremental near-duplicate detection against a PERSISTED corpus
signature store — the production 100 TB dedup shape (round-8 verdict
item #5): a training pipeline deduplicates each NEW batch (the delta)
against yesterday's corpus WITHOUT rescanning the corpus.

Reference parity: the reference's dedup story is batch (its dataset
production dedups a full snapshot); this module is the engine-added
incremental form every large-scale pipeline needs — same semantics
(shingle-set Jaccard >= tau), restricted to pairs touching the delta.

Design (all corpus-side work is paid ONCE, at store-build time):

- **Store build** (`build_signature_store`): one corpus scan computes
  word-shingle sets, MinHash signatures over the SHINGLE set (md5-based
  permutations — deterministic, oracle-replayable), and b LSH band
  hashes per doc. Two external bucketed parquet tables persist:

  * ``bands(doc_id, bh)`` — bucketed+sorted by ``bh``, additionally
    directory-partitioned by ``pb = first hex char of bh``;
  * ``shingles(doc_id, s)`` — bucketed+sorted by ``doc_id``.

  The tables are fingerprinted (pipeline/layout) so rebuilds only
  happen when the corpus files or store parameters change.

- **Delta join** (`delta_dedup`): the delta batch computes its own
  shingles and band hashes (delta-sized work only), then

  1. new-vs-corpus candidates: delta bands equi-join the PERSISTED
     band table on ``bh`` — the corpus side is bucketed on ``bh``, so
     the SortMergeJoin has NO Exchange above the corpus scan (asserted
     in tests/test_plans.py), and the scan is PARTITION-PRUNED to the
     ``pb`` prefixes the delta actually touches (the pruning list is
     <= 16 values — driver-bounded by construction, not by data);
  2. new-vs-new candidates: the delta bands self-join (delta-sized);
  3. exact verification: every candidate pair resolves both shingle
     sets — corpus ids via the bucketed shingle table (again no
     corpus-side Exchange), delta ids via the in-memory delta — and
     keeps pairs with integer-ppm Jaccard ``inter * 1e6 >= tau_ppm *
     union`` (no FP in the decision path, the house rule).

  The corpus TEXT is never re-read: at 100 TB the store tables are the
  only corpus artifacts the delta path touches, they are narrow
  (doc_id + 32-char hash / shingle list), and they never shuffle.

Completeness: banding is the standard recall/cost dial (b bands of r
rows catch a pair with prob 1-(1-s^r)^b). The defaults (k=16, b=8 =>
r=2) are chosen so every >= tau pair in the benchmark corpus collides
in some band — `tests/test_deltadedup.py` asserts equality against the
brute-force spec (which is also the registry oracle), and the
signatures are deterministic (md5), so that equality is frozen, not
probabilistic. At a different corpus/tau, raise ``bands`` toward
``num_hashes`` for recall or lower it for cost.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from external_benchmarks_spark.operators.dedup import (
    minhash_signature,
    word_shingles,
)
from external_benchmarks_spark.pipeline.bucketing import (
    aligned_bucketed_read,
    bucket_root,
    write_bucketed,
)
from external_benchmarks_spark.pipeline.layout import (
    invalidate_layout,
    layout_is_current,
    publish_parquet_atomic,
    record_layout,
    recover_dir_swap,
    recover_partition_swaps,
    source_fingerprint,
    swap_dir,
    swap_partition_dir,
)


@dataclass(frozen=True)
class SignatureStore:
    """Handles + parameters of a persisted corpus signature store. The
    delta side re-derives its own hashes from these parameters, so a
    store/delta parameter mismatch is impossible by construction."""

    bands_table: str
    shingles_table: str
    num_hashes: int
    bands: int
    n: int
    seed: int
    n_buckets: int
    root: str = ""


def doc_shingles(
    df: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(doc_id, s): the distinct word n-gram shingle set per doc; docs
    too short to form a shingle drop (they cannot near-dup by the
    shingle-Jaccard measure — same rule as the batch operators).

    Shingling is the CPU-heavy stage (tokenize + n-gram transform +
    distinct per doc); when the input arrives in fewer splits than the
    cluster has slots (a small delta read from one parquet file), a
    round-robin repartition first buys full parallelism for a
    delta-sized shuffle of raw text — measured 2.6 s -> 1.4 s on the
    sf0.1 delta. Inputs that are already well-split (any real corpus
    scan) pass through untouched."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism // 2:
        df = df.repartition(sc.defaultParallelism)
    sh = F.array_distinct(word_shingles(F.col(content_col), n))
    return (
        df.select(F.col(key_col).alias("doc_id"), sh.alias("s"))
        .filter(F.size("s") > 0)
    )


def band_hashes(
    sh_df: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, pb, bh): one row per (doc, LSH band). ``bh`` folds the
    band INDEX into the md5 so band i of one doc can never collide with
    band j of another; ``pb`` is bh's first hex char — the store's
    16-way partition-pruning key."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): the "
            "b-bands-of-r-rows recall contract silently degrades when "
            "trailing MinHash values are dropped"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signature(
        sh_df,
        key_col="doc_id",
        num_hashes=num_hashes,
        seed=seed,
        elements=F.col("s"),
    )
    band_cols = []
    for b in range(bands):
        parts = [
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(F.md5(F.concat_ws(",", F.lit(str(b)), *parts)))
    return (
        sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bh"))
        .withColumn("pb", F.substring("bh", 1, 1))
    )


def build_signature_store(
    spark: SparkSession,
    corpus: DataFrame,
    tag: str,
    key_col: str = "doc_id",
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
    seed: int = 42,
    n_buckets: int = 8,
    source_paths: list[str] | None = None,
) -> SignatureStore:
    """Build (or reuse) the persisted corpus signature store.

    One corpus scan feeds both tables. With ``source_paths`` the store
    is fingerprinted: unchanged corpus + parameters + tables already in
    this session's catalog => the build is skipped entirely and the
    steady-state delta query never touches corpus text.
    """
    store = SignatureStore(
        bands_table=f"dd_bands_{tag}",
        shingles_table=f"dd_sh_{tag}",
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        seed=seed,
        n_buckets=n_buckets,
        root=bucket_root(f"dd_{tag}"),
    )
    root = store.root
    fp = None
    if source_paths is not None:
        fp = source_fingerprint(
            source_paths,
            extra={
                "num_hashes": num_hashes,
                "bands": bands,
                "n": n,
                "seed": seed,
                "n_buckets": n_buckets,
            },
        )
        if (
            layout_is_current(root, fp)
            and spark.catalog.tableExists(store.bands_table)
            and spark.catalog.tableExists(store.shingles_table)
        ):
            return store
    # a real (re)build invalidates any previous life's streaming state
    # under this root — a stale absorbed-batches ledger would make the
    # durable update gate wrongly skip batches against the new store
    for stale in ("_absorbed_batches.json", "_inflight_batch.json"):
        try:
            os.remove(os.path.join(root, stale))
        except OSError:
            pass
    import shutil as _shutil

    _shutil.rmtree(os.path.join(root, "pairs"), ignore_errors=True)
    sh = doc_shingles(corpus, key_col, content_col, n).persist()
    write_bucketed(
        band_hashes(sh, num_hashes, bands, seed),
        store.bands_table,
        key="bh",
        n_buckets=n_buckets,
        path=os.path.join(root, "bands"),
        partition_col="pb",
    )
    write_bucketed(
        sh,
        store.shingles_table,
        key="doc_id",
        n_buckets=n_buckets,
        path=os.path.join(root, "shingles"),
    )
    sh.unpersist()
    if fp is not None:
        record_layout(root, fp)
    return store


def _resolve_shingles(
    cand: DataFrame,
    id_col: str,
    corpus_sh: DataFrame,
    delta_sh: DataFrame | None,
    out_col: str,
) -> DataFrame:
    """Attach the shingle set of ``id_col`` to each candidate pair:
    corpus ids resolve through the bucketed store table (SortMergeJoin,
    Exchange only on the pair side), delta ids through a broadcast of
    the delta's own shingles. Exactly one side matches per id (store
    and delta are disjoint by contract). ``delta_sh=None`` resolves
    corpus-only (the store self-join path)."""
    c = corpus_sh.select(
        F.col("doc_id").alias(id_col), F.col("s").alias(f"_c_{out_col}")
    )
    if delta_sh is None:
        return cand.join(c, id_col, "left").withColumnRenamed(
            f"_c_{out_col}", out_col
        )
    d = F.broadcast(
        delta_sh.select(
            F.col("doc_id").alias(id_col), F.col("s").alias(f"_d_{out_col}")
        )
    )
    return (
        cand.join(c, id_col, "left")
        .join(d, id_col, "left")
        .withColumn(out_col, F.coalesce(f"_c_{out_col}", f"_d_{out_col}"))
        .drop(f"_c_{out_col}", f"_d_{out_col}")
    )


def _jaccard_verified(cand: DataFrame, threshold_ppm: int) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs carrying
    ``s_a``/``s_b``: integer-ppm decision (no FP in the decision path),
    output (id_a, id_b, inter, un, jaccard)."""
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("bigint")
    un = F.size(F.array_union("s_a", "s_b")).cast("bigint")
    return (
        cand.select("id_a", "id_b", inter.alias("inter"), un.alias("un"))
        .filter(
            F.col("inter") * F.lit(1_000_000)
            >= F.lit(int(threshold_ppm)) * F.col("un")
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / F.col("un").cast("double"),
        )
    )


def _recover_store_swaps(spark: SparkSession, store: SignatureStore) -> None:
    """Crash recovery before any read of the signature store: a
    ``compact_signature_store`` that died mid-swap leaves a ``pb=``
    partition (or the whole shingle dir) in trash, and a reader that
    skips recovery silently misses candidate pairs until the next
    compaction. Cheap (one driver listdir per table); the catalog
    file-index refreshes only when something was actually restored."""
    if not store.root:
        return
    if recover_partition_swaps(os.path.join(store.root, "bands")):
        spark.catalog.refreshTable(store.bands_table)
    if recover_dir_swap(os.path.join(store.root, "shingles")):
        spark.catalog.refreshTable(store.shingles_table)


def store_self_pairs(
    spark: SparkSession,
    store: SignatureStore,
    threshold_ppm: int = 600_000,
) -> DataFrame:
    """Corpus-internal near-dup pairs mined from the PERSISTED store
    alone — corpus text is never re-read: candidates come from the band
    table's self-join (bucketed on ``bh`` → Exchange-free SortMergeJoin
    on both sides) and verify exactly against the bucketed shingle
    table. This is the from-scratch seed of the incremental component
    map (operators/compmap.py): seed = fold(store_self_pairs), then
    every delta batch folds its delta_dedup pairs."""
    _recover_store_swaps(spark, store)
    bands = spark.table(store.bands_table)
    cand = (
        bands.select(F.col("doc_id").alias("id_a"), "bh")
        .join(bands.select(F.col("doc_id").alias("id_b"), "bh"), "bh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    corpus_sh = spark.table(store.shingles_table)
    cand = _resolve_shingles(cand, "id_a", corpus_sh, None, "s_a")
    cand = _resolve_shingles(cand, "id_b", corpus_sh, None, "s_b")
    return _jaccard_verified(cand, threshold_ppm)


def delta_dedup(
    spark: SparkSession,
    delta: DataFrame,
    store: SignatureStore,
    key_col: str = "doc_id",
    content_col: str = "text",
    threshold_ppm: int = 600_000,
    prune: bool = True,
) -> DataFrame:
    """Near-dup pairs touching the delta: (id_a, id_b, inter, un,
    jaccard), id_a < id_b, shingle Jaccard >= threshold_ppm/1e6, where
    at least one id is a delta doc. Delta ids must not exist in the
    store (the daily-batch contract).

    ``prune=True`` additionally filters the persisted band table to the
    <= 16 ``pb`` prefixes present in the delta — static partition
    pruning computed from a bounded collect (the prefix alphabet, never
    the data)."""
    # localCheckpoint (not persist): materialized once for the multiple
    # downstream uses, lineage cut, and the blocks are released by the
    # ContextCleaner when the frame goes out of scope — a persist() here
    # is pinned by the CacheManager and accumulates across bench reps
    # (and silently made repeat runs of the same delta measure a warm
    # cache instead of the honest per-batch cost). dbands checkpoints
    # too: the MinHash/banding pass is the delta's second CPU-heavy
    # stage and feeds the pruning collect plus three join branches.
    _recover_store_swaps(spark, store)
    # eager=False (r15): the pruning collect right below is the first
    # action anyway and materializes both checkpoints as a side effect
    # — one job instead of three.
    dsh = doc_shingles(delta, key_col, content_col, store.n).localCheckpoint(
        eager=False
    )
    dbands = band_hashes(
        dsh, store.num_hashes, store.bands, store.seed
    ).localCheckpoint(eager=False)
    corpus_bands = spark.table(store.bands_table)
    if prune:
        pbs = [r[0] for r in dbands.select("pb").distinct().collect()]
        corpus_bands = corpus_bands.filter(F.col("pb").isin(pbs))
    cross = (
        dbands.select(F.col("doc_id").alias("did"), "bh")
        .join(corpus_bands.select(F.col("doc_id").alias("cid"), "bh"), "bh")
        .select(
            F.least("did", "cid").alias("id_a"),
            F.greatest("did", "cid").alias("id_b"),
        )
    )
    within = (
        dbands.select(F.col("doc_id").alias("id_a"), "bh")
        .join(dbands.select(F.col("doc_id").alias("id_b"), "bh"), "bh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cand = cross.unionByName(within).distinct()
    corpus_sh = spark.table(store.shingles_table)
    cand = _resolve_shingles(cand, "id_a", corpus_sh, dsh, "s_a")
    cand = _resolve_shingles(cand, "id_b", corpus_sh, dsh, "s_b")
    return _jaccard_verified(cand, threshold_ppm)


# ---------------------------------------------------------------------------
# Semantic tier: incremental EMBEDDING near-dup vs a persisted vector store
# ---------------------------------------------------------------------------
#
# The companion to the syntactic store above — a training pipeline dedups
# each new batch BOTH ways: shingle-Jaccard (surface copies) and embedding
# cosine (paraphrases). Same incremental contract: corpus vectors are
# assigned to IVF cells ONCE and persisted cell-partitioned; the delta
# assigns against the FROZEN centroids and only the touched cells are read
# (static partition pruning from a <= n_cells collect). Blocking semantics
# are declared, like the batch embedding_neardup's label block: pairs are
# reported within a shared cell (SemDeDup's cluster-local definition), and
# the oracle replays centroid sampling, assignment, and scoring exactly —
# the md5-sampled centroids + broadcast-argmax assignment are the
# engine-portable device of operators/similarity.sampled_centroids (the
# numpy ivf_assign_udf path stays the production fast path; this store
# uses the auditable form so the WHOLE incremental pipeline hash-checks).


@dataclass(frozen=True)
class VectorStore:
    """Handles + parameters of a persisted cell-partitioned vector store.

    ``n_cells`` records the BUILD-time cell count; the store itself is
    self-describing (the live centroid parquet's row count is the
    authoritative cell count — see :func:`store_cell_count`), so a
    refresh that GROWS the cell count never invalidates old handles."""

    vectors_path: str
    centroids_path: str
    n_cells: int


def target_cells(
    n_rows: int, rows_per_cell: int = 128, min_cells: int = 16
) -> int:
    """Corpus-scaled cell count: ceil(n / rows_per_cell), floored at
    ``min_cells``. SemDeDup-shaped blocking only stays sub-quadratic if
    CELL SIZE is held ~constant as the corpus grows (a fixed cell count
    makes every within-cell pair set grow quadratically and turns the
    delta's partition pruning into a full-corpus scan — the r10 ladder
    measured exactly that at 10x corpus). Integer ceil-div, no FP."""
    return max(int(min_cells), -(-int(n_rows) // int(rows_per_cell)))


def _single_centroid_file(path: str) -> str:
    """The centroid layout's one data file (see _write_centroids) —
    shared invariant check for every driver-side centroid reader."""
    files = [f for f in os.listdir(path) if not f.startswith(("_", "."))]
    if len(files) != 1:
        raise ValueError(
            f"centroid layout invariant broken: {path} has {len(files)} "
            "data files (expected exactly one)"
        )
    return os.path.join(path, files[0])


def store_cell_count(store: VectorStore) -> int:
    """The store's CURRENT cell count = the live centroid parquet's row
    count (one driver-side footer read). Self-describing by design: a
    grown store needs no side-channel metadata to refresh at its grown
    count."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(
        _single_centroid_file(store.centroids_path)
    ).metadata.num_rows


def _cell_row_counts(vectors_path: str) -> dict:
    """Per-cell row counts from the parquet FOOTERS of each cell dir —
    driver-side metadata reads, no Spark job and no data bytes. Used by
    the refresh short-circuit to report balance stats for a store whose
    geometry is provably unchanged."""
    import pyarrow.parquet as pq

    counts: dict = {}
    for d in os.listdir(vectors_path):
        if not d.startswith("cell="):
            continue
        cell = int(d.split("=", 1)[1])
        full = os.path.join(vectors_path, d)
        n = 0
        for f in os.listdir(full):
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            n += pq.ParquetFile(os.path.join(full, f)).metadata.num_rows
        if n:
            counts[cell] = n
    return counts


def _write_centroids(path: str, cent) -> None:
    """Publish the (n_cells x dim) centroid matrix as one parquet file,
    DRIVER-SIDE (pipeline/layout.publish_parquet_atomic — a Spark job
    writing a LocalRelation with array columns costs ~6 s, see there)."""
    import pyarrow as pa

    publish_parquet_atomic(
        path,
        pa.table(
            {
                "_cid": pa.array(range(len(cent)), pa.int64()),
                "_cv": pa.array(
                    [[float(v) for v in row] for row in cent],
                    pa.list_(pa.float64()),
                ),
            }
        ),
    )


def _read_centroids(path: str):
    """The (n_cells x dim) centroid matrix, DRIVER-SIDE from the single
    published parquet file (see _write_centroids), ordered by cell id —
    the n_cells-row twin of store_cell_count's footer read; no Spark
    job. Read through functions/vector.arrow_rows: a row that is not a
    whole vector raises ValueError."""
    import pyarrow.parquet as pq

    from external_benchmarks_spark.functions.vector import _whole_rows

    tbl = pq.read_table(_single_centroid_file(path)).sort_by("_cid")
    return _whole_rows(tbl.column("_cv").combine_chunks(), "_cv")


def _assign_cells_vectorized(
    df: DataFrame,
    cent,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """Same assignment as :func:`_assign_cells` — argmax over cells of
    dot(raw embedding, unit centroid), smallest-cell-id tiebreak — as ONE
    Arrow-batched matmul per input split instead of a crossJoin row
    explosion. The Catalyst form materializes n_vecs x n_cells rows
    through a per-key window (quadratic in corpus under the corpus-scaled
    cell count: ~253M rows / 262 s at the 10r ladder rung); this form is
    O(n_vecs) rows with the same flops inside numpy (10r: seconds).
    np.argmax returns the FIRST maximum, which IS the ascending-cell-id
    tiebreak. Every production path (store build, delta join, refresh
    re-assignment, absorb) assigns through this form — under
    corpus-scaled cell counts even the DELTA's crossJoin is
    O(delta x n_cells), i.e. grows with the CORPUS (the r14 10r semdedup
    bend: 2.8-5.2 s of a 4-8 s rep was the 200x1407 HOF crossJoin).
    :func:`_assign_cells` stays as the pure-Catalyst specification the
    DuckDB oracle replays row for row — equality of the two forms
    (incl. the duplicate-vector tiebreak) is asserted in
    tests/test_deltadedup.py.

    Float caveat, stated honestly: the matmul's blocked/SIMD
    accumulation order differs in the last ULPs from the Catalyst
    sequential fold, so a vector whose top two centroid dots tie
    within rounding noise could assign differently across the forms.
    This is the SAME class of bet the oracle contract already makes —
    Catalyst's sequential sum vs DuckDB's list_dot_product are two
    different fold orders that hash-match only because real data
    doesn't produce cross-engine near-ties — and it is continuously
    re-validated by the full oracle mirror every test run; exact ties
    (duplicate vectors) are safe by the shared first-max/asc-cid
    tiebreak. A ``functions/vector.vector_udf``: a null vector, a null
    element or a length other than the centroids' dim gets a NULL cell,
    so it joins no cell."""
    import numpy as np

    from external_benchmarks_spark.functions.vector import vector_udf

    cmat = np.ascontiguousarray(
        np.asarray(cent, dtype=np.float64).T
    )  # (dim, k)
    assign = vector_udf(lambda m: np.argmax(m @ cmat, axis=1), cmat.shape[0], "bigint")

    return df.select(
        F.col(key_col),
        F.col(emb_col),
        assign(F.col(emb_col)).alias("cell"),
        *[F.col(c) for c in keep_cols],
    )


def _assign_cells(
    df: DataFrame,
    cent_df: DataFrame,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """argmax over cells of dot(raw embedding, unit centroid), cell-id
    tiebreak — pure Catalyst (broadcast cross join + per-key window), the
    exact form the DuckDB oracle replays row for row. A row whose every
    dot is NULL (a null vector, a null element or another length) gets a
    NULL cell, as in :func:`_assign_cells_vectorized`. ``keep_cols`` ride
    along (the refresh path keeps the previous cell id)."""
    from pyspark.sql.window import Window

    from external_benchmarks_spark.functions.vector import dot_product

    e = F.col(emb_col).cast("array<double>")
    w = Window.partitionBy(key_col).orderBy(F.desc("_d"), F.asc("_cid"))
    return (
        df.crossJoin(F.broadcast(cent_df))
        .withColumn("_d", dot_product(e, F.col("_cv")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(key_col),
            F.col(emb_col),
            F.when(F.col("_d").isNotNull(), F.col("_cid")).alias("cell"),
            *[F.col(c) for c in keep_cols],
        )
    )


def build_vector_store(
    spark: SparkSession,
    corpus: DataFrame,
    tag: str,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = None,
    source_paths: list[str] | None = None,
    centroids=None,
    rows_per_cell: int = 128,
) -> VectorStore:
    """Build (or fingerprint-reuse) the persisted vector store: md5-sampled
    unit centroids (a tiny parquet, so reuse never rescans the corpus) and
    the corpus vectors written partitionBy(cell). Pass ``centroids`` (an
    (n_cells x dim) array) to build with FROZEN externally-supplied
    centroids instead of sampling — the absorb-equivalence contract.

    ``n_cells=None`` (the default) derives the cell count from the corpus
    size via :func:`target_cells` — constant ~``rows_per_cell`` rows per
    cell, floored at 16 — so cell-blocked join cost stays flat as the
    corpus grows (the r10 verdict's finding #1: a fixed 16-cell store
    degenerated superlinearly at 10x corpus). One count job (parquet
    metadata-served) prices the derivation."""
    from external_benchmarks_spark.operators.similarity import sampled_centroids

    if centroids is not None:
        n_cells = len(centroids)
    elif n_cells is None:
        n_cells = target_cells(corpus.count(), rows_per_cell)
    root = bucket_root(f"dsem_{tag}")
    store = VectorStore(
        vectors_path=os.path.join(root, "vectors"),
        centroids_path=os.path.join(root, "centroids"),
        n_cells=n_cells,
    )
    fp = None
    if source_paths is not None:
        # The centroid matrix is layout-defining: a store built with
        # different frozen centroids must rebuild, not be fingerprint-
        # reused (the absorb-equivalence contract `centroids` exists for).
        cent_digest = None
        if centroids is not None:
            import hashlib

            import numpy as np

            cent_digest = hashlib.md5(
                np.ascontiguousarray(
                    np.asarray(centroids, dtype=np.float64)
                ).tobytes()
            ).hexdigest()
        fp = source_fingerprint(
            source_paths,
            extra={"n_cells": n_cells, "v": 1, "centroids": cent_digest},
        )
        if layout_is_current(root, fp):
            return store
    import shutil as _shutil

    import numpy as np

    # a real (re)build invalidates any previous life's REFRESH state under
    # this root: a stale _refresh_journal.json (plus .pending centroids /
    # _refresh_staging) from a crash mid-refresh would otherwise be
    # replayed by the first reader's recover_refresh AGAINST THE FRESH
    # store — retiring journaled 'drained' cells (deleting freshly built
    # live cell dirs, silent row loss) and/or swapping stale staged cells
    # in. Mirrors build_signature_store's previous-life sweep above.
    try:
        os.remove(os.path.join(root, _REFRESH_JOURNAL))
    except OSError:
        pass
    for stale_dir in (
        store.centroids_path + ".pending",
        store.vectors_path + "_refresh_staging",
    ):
        _shutil.rmtree(stale_dir, ignore_errors=True)

    cent = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else sampled_centroids(
            corpus, n_cells, key_col=key_col, emb_col=emb_col, normalize=True
        )
    )
    _write_centroids(store.centroids_path, cent)
    # corpus-side assignment via the vectorized twin (argmax-identical to
    # _assign_cells, equality-tested) — the Catalyst crossJoin form is
    # quadratic under corpus-scaled cell counts (see _assign_cells_vectorized)
    assigned = _assign_cells_vectorized(corpus, cent, key_col, emb_col)
    (
        assigned.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(store.vectors_path)
    )
    if fp is not None:
        record_layout(root, fp)
    return store


def _cos_fp(ea, eb):
    """1e-6 fixed-point cosine (HALF_UP round) — the shared decision
    device of the semantic tier; DuckDB replays it exactly."""
    from external_benchmarks_spark.functions.vector import dot_product, l2_norm

    a = ea.cast("array<double>")
    b = eb.cast("array<double>")
    cos = dot_product(a, b) / (l2_norm(a) * l2_norm(b))
    return F.round(cos * 1_000_000, 0).cast("bigint")


def vector_store_self_pairs(
    spark: SparkSession,
    store: VectorStore,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold_fp: int = 950_000,
) -> DataFrame:
    """Corpus-internal cell-blocked near-dup pairs mined from the
    persisted vector store alone — the semantic-tier seed of the
    incremental component map (operators/compmap.py), the twin of
    :func:`store_self_pairs`. The self-join blocks on the stored cell
    id, so nothing re-assigns and nothing crosses cells (SemDeDup's
    cluster-local semantics, same as delta_semdedup)."""
    recover_refresh(store)
    corpus = spark.read.parquet(store.vectors_path)
    a = corpus.select(
        F.col(key_col).alias("id_a"), F.col(emb_col).alias("_ea"), "cell"
    )
    b = corpus.select(
        F.col(key_col).alias("id_b"), F.col(emb_col).alias("_eb"), "cell"
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cos_fp(F.col("_ea"), F.col("_eb")).alias("cos_fp"),
        )
        .filter(F.col("cos_fp") >= F.lit(int(threshold_fp)))
    )


def delta_semdedup(
    spark: SparkSession,
    delta: DataFrame,
    store: VectorStore,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold_fp: int = 950_000,
    prune: bool = True,
) -> DataFrame:
    """Cell-blocked near-dup pairs touching the delta: (id_a, id_b,
    cos_fp), id_a < id_b, 1e-6 fixed-point cosine >= threshold_fp,
    at least one id from the delta. Delta keys must not exist in the
    store. The delta side broadcasts into the cell join, so no corpus
    vector ever shuffles; with ``prune`` the corpus scan is statically
    partition-pruned to the delta's cells."""
    # restart-resumes contract: a refresh crashed mid-publish leaves a
    # journal (or a cell in trash) — force-complete it (cheap driver
    # listdir when nothing is pending) before any read, so assignment
    # never runs against half-published geometry
    recover_refresh(store)
    # localCheckpoint, not persist — see delta_dedup's dsh note. The
    # assignment runs the vectorized form: with corpus-scaled cell
    # counts the Catalyst crossJoin is O(delta x n_cells) per rep and
    # grows with the CORPUS (the r14 10r ladder bend).
    dass = _assign_cells_vectorized(
        delta, _read_centroids(store.centroids_path), key_col, emb_col
    ).localCheckpoint(eager=True)
    corpus = spark.read.parquet(store.vectors_path)
    if prune:
        cells = [r[0] for r in dass.select("cell").distinct().collect()]
        corpus = corpus.filter(F.col("cell").isin(cells))
    d_side = F.broadcast(
        dass.select(
            F.col(key_col).alias("_did"), F.col(emb_col).alias("_de"), "cell"
        )
    )
    cross = (
        corpus.select(
            F.col(key_col).alias("_cid_k"), F.col(emb_col).alias("_ce"), "cell"
        )
        .join(d_side, "cell")
        .select(
            F.least("_did", "_cid_k").alias("id_a"),
            F.greatest("_did", "_cid_k").alias("id_b"),
            _cos_fp(F.col("_ce"), F.col("_de")).alias("cos_fp"),
        )
    )
    within = (
        dass.select(F.col(key_col).alias("id_a"), F.col(emb_col).alias("_ea"), "cell")
        .join(
            dass.select(
                F.col(key_col).alias("id_b"), F.col(emb_col).alias("_eb"), "cell"
            ),
            "cell",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos_fp(F.col("_ea"), F.col("_eb")).alias("cos_fp"))
    )
    return (
        cross.unionByName(within)
        .filter(F.col("cos_fp") >= F.lit(int(threshold_fp)))
    )


# ---------------------------------------------------------------------------
# Store absorption: fold a deduplicated batch into the corpus stores
# ---------------------------------------------------------------------------


def absorb_delta(
    spark: SparkSession,
    delta: DataFrame,
    store: SignatureStore,
    key_col: str = "doc_id",
    content_col: str = "text",
) -> None:
    """The daily-batch loop's second half: after ``delta_dedup`` reports a
    batch's pairs, APPEND the batch's band and shingle rows into the
    persisted store tables so tomorrow's delta joins against
    corpus ∪ batch — no rebuild, no corpus rescan. ``insertInto``
    honors the tables' bucket spec (appended files land bucketed and
    partition-routed; the Exchange-free join shape and result
    correctness after append are asserted in tests/test_deltadedup.py).
    The layout fingerprint is invalidated: the store no longer derives
    from the original source files alone."""
    sh = doc_shingles(delta, key_col, content_col, store.n).persist()
    # repartition(n_buckets, key) aligns write tasks with buckets (the
    # same device as write_bucketed — repartition's pmod(murmur3, n) IS
    # the bucket function), so ONE absorb adds one file per
    # (partition dir, bucket) instead of one per input split per bucket
    # — without it the soak measured every pb partition blowing past
    # the compaction threshold after a single absorb, turning each
    # cycle's compaction into a full band-table rewrite.
    (
        band_hashes(sh, store.num_hashes, store.bands, store.seed)
        .repartition(store.n_buckets, F.col("bh"))
        .select("doc_id", "bh", "pb")  # partition column last
        .write.mode("append")
        .insertInto(store.bands_table)
    )
    (
        sh.select("doc_id", "s")
        .repartition(store.n_buckets, F.col("doc_id"))
        .write.mode("append")
        .insertInto(store.shingles_table)
    )
    sh.unpersist()
    if store.root:
        invalidate_layout(store.root)


_REFRESH_JOURNAL = "_refresh_journal.json"


def recover_refresh(store: VectorStore) -> bool:
    """Force-complete a ``refresh_centroids`` that crashed mid-publish.

    The refresh journal (written only after BOTH staged artifacts — the
    dirty-cell staging dir and the pending centroid parquet — are
    complete) names every dirty cell and whether it has staged contents.
    Recovery replays the apply phase exactly: staged cells whose staging
    dir survives swap in (a cell already consumed is skipped — its
    staging dir moved into live), drained cells retire (idempotent), and
    the pending centroids publish. Without a journal, an orphan pending/
    staging dir means the crash hit BEFORE any swap — both discard, and
    the store is untouched. This closes the r10 advice gap: a crash
    between the cell swaps and the centroid publish used to leave
    vectors assigned under NEW geometry while readers kept the OLD
    centroid matrix. Returns True when anything changed on disk."""
    import json
    import shutil
    import time

    root = os.path.dirname(store.vectors_path)
    jp = os.path.join(root, _REFRESH_JOURNAL)
    pending = store.centroids_path + ".pending"
    if not os.path.exists(jp):
        changed = recover_partition_swaps(store.vectors_path)
        changed |= recover_dir_swap(store.centroids_path)
        # A journal-less staging/pending dir never affects reads (the
        # live store is untouched before the journal commits), so its
        # deletion is pure housekeeping — gated on WRITER LIVENESS
        # first (refresh_centroids claims a pid file before staging; a
        # staging write longer than any fixed age gate is plausible at
        # scale, and deleting under the live writer would make its swap
        # loop retire staged dirty cells as drained — permanent row
        # loss), with the mtime age gate as the fallback for claims this
        # host cannot probe. Maintenance is single-writer by contract;
        # this protects the reader-during-staging case that allows.
        from external_benchmarks_spark.pipeline.layout import writer_alive

        if not writer_alive(root):
            for orphan in (
                pending,
                store.vectors_path + "_refresh_staging",
            ):
                if os.path.isdir(orphan):
                    try:
                        fresh = (
                            time.time() - os.path.getmtime(orphan) < 3600
                        )
                    except OSError:
                        continue
                    if not fresh:
                        shutil.rmtree(orphan, ignore_errors=True)
                        changed = True
        return changed
    with open(jp) as fh:
        j = json.load(fh)
    recover_partition_swaps(store.vectors_path)
    staging = j["staging"]
    staged = set(j["staged"])
    for c in j["dirty"]:
        d = f"cell={c}"
        src = os.path.join(staging, d)
        if c in staged:
            if os.path.isdir(src):
                swap_partition_dir(store.vectors_path, d, src)
            # else: this cell's swap already landed — skip
        else:
            swap_partition_dir(store.vectors_path, d, None)  # drained
    recover_dir_swap(store.centroids_path)
    if os.path.isdir(pending):
        swap_dir(store.centroids_path, pending)
    os.remove(jp)
    shutil.rmtree(staging, ignore_errors=True)
    return True


def refresh_centroids(
    spark: SparkSession,
    store: VectorStore,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    centroids=None,
    n_cells: int | None = None,
    rows_per_cell: int | None = None,
) -> dict:
    """Re-center the vector store after drift: frozen centroids are
    correct-by-spec for the append-only loop, but as absorbed batches
    drift the cells skew and cell-blocked recall degrades silently.
    Recomputes centroids from the ABSORBED corpus (the same md5-sampled
    device the store was built with — pass ``centroids`` to supply an
    explicit matrix instead) and re-assigns ONLY the vectors whose
    argmax changed, via a dirty-cell rewrite:

    - pass 1 (aggregate-only, no materialization): per (old_cell,
      new_cell) movement counts — a <= n_cells² driver-bounded table
      that yields the dirty-cell set and the before/after balance
      stats.
    - pass 2 (partition-pruned to the dirty cells): a row can only
      change assignment if its OLD cell is dirty, and every row whose
      NEW cell is dirty also lives in a dirty old cell, so rescanning
      just the dirty partitions reproduces the complete new contents of
      every dirty cell. Staged write + two-rename swap per cell; a cell
      drained empty is retired. UNTOUCHED CELL FILES ARE NEVER READ FOR
      REWRITE OR WRITTEN — byte-identical (tested).

    Cell-count GROWTH: ``rows_per_cell`` re-derives the cell count from
    the ABSORBED corpus size (:func:`target_cells`), ``n_cells`` pins it
    explicitly; the default keeps the store's current count (the live
    centroid parquet's row count — NOT the build-time handle, so a grown
    store keeps its grown count on later refreshes). New cells are just
    dirty cells with no prior live dir — the same staged-swap machinery
    creates them. This is the scale valve: without it a fixed cell count
    makes within-cell pair sets grow quadratically with the corpus.

    Publish is TRANSACTIONAL (r10 advice): staging dir and pending
    centroid parquet are both complete before a journal names the dirty
    cells; only then do the cell swaps and the centroid publish apply.
    Any crash replays via :func:`recover_refresh` — called here first
    and by every store reader — so readers can never see new-geometry
    cells under an old centroid matrix. The layout fingerprint drops
    first, like every in-place maintenance here. Idempotent: a second
    refresh over the unchanged corpus samples the same centroids and
    moves nothing. Returns movement + balance stats."""
    import json
    import shutil

    import numpy as np

    from external_benchmarks_spark.operators.similarity import (
        sampled_centroids,
    )

    root = os.path.dirname(store.vectors_path)
    invalidate_layout(root)
    # Recover a crashed prior refresh FIRST and unconditionally: a cell
    # sitting in trash (or a journaled half-applied refresh) is invisible
    # to the corpus read, so sampling/assigning before recovery would
    # operate on (and then permanently publish) a store missing it.
    recover_refresh(store)
    corpus = spark.read.parquet(store.vectors_path)
    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
    else:
        if n_cells is None:
            n_cells = (
                target_cells(corpus.count(), rows_per_cell)
                if rows_per_cell is not None
                else store_cell_count(store)
            )
        cent = sampled_centroids(
            corpus, n_cells, key_col=key_col, emb_col=emb_col,
            normalize=True,
        )
    # Identical-resample short-circuit (r15): if the candidate matrix is
    # byte-identical to the stored one, NOTHING can move — every stored
    # row's cell is already argmax vs the stored matrix (build, absorb,
    # and refresh pass 2 all assign against the matrix they publish, and
    # recover_refresh — run above — force-completes any half-applied
    # geometry), so the movement map is the identity by invariant, not
    # by re-derivation. Skip the O(corpus) assignment pass AND the
    # centroid re-publish (a byte-identical republish still changed
    # file identity, spuriously invalidating signature-based serving
    # reloads). Balance stats come from the cell dirs' parquet footers
    # — driver-side, no Spark job. This is the common steady-state
    # refresh (cadenced maintenance over an unchanged corpus resamples
    # the same md5 top-n); a DRIFTED refresh on this device is
    # measured-full-rewrite territory — see SCALE.md r15: 15.7% of
    # rows change winner vector but spread over >99% of cells, so no
    # margin/displacement prune can bound pass 2 below O(corpus).
    try:
        stored = _read_centroids(store.centroids_path)
    except (OSError, ValueError):
        stored = None
    if (
        stored is not None
        and stored.shape == cent.shape
        and np.array_equal(stored, cent)
    ):
        counts = _cell_row_counts(store.vectors_path)
        return {
            "n_cells": len(cent),
            "n_cells_before": len(cent),
            "moved": 0,
            "dirty_cells": [],
            "max_cell_before": max(counts.values(), default=0),
            "max_cell_after": max(counts.values(), default=0),
            "nonempty_cells_before": len(counts),
            "nonempty_cells_after": len(counts),
        }
    old = corpus.withColumnRenamed("cell", "old_cell")
    moves = (
        _assign_cells_vectorized(
            old, cent, key_col, emb_col, keep_cols=("old_cell",)
        )
        .groupBy("old_cell", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )  # <= n_cells^2 rows — driver-bounded by construction
    before: dict = {}
    after: dict = {}
    moved = 0
    dirty: set = set()
    for r in moves:
        before[int(r["old_cell"])] = before.get(int(r["old_cell"]), 0) + r["n"]
        after[int(r["cell"])] = after.get(int(r["cell"]), 0) + r["n"]
        if int(r["old_cell"]) != int(r["cell"]):
            moved += r["n"]
            dirty.update((int(r["old_cell"]), int(r["cell"])))
    stats = {
        "n_cells": len(cent),
        "n_cells_before": store_cell_count(store),
        "moved": int(moved),
        "dirty_cells": sorted(dirty),
        "max_cell_before": max(before.values(), default=0),
        "max_cell_after": max(after.values(), default=0),
        "nonempty_cells_before": len(before),
        "nonempty_cells_after": len(after),
    }
    # claim the writer pid file BEFORE staging: recover_refresh's
    # journal-less orphan sweep skips deletion while this process lives,
    # so a staging write longer than the 1h age gate is safe (released
    # in the finally below — a crash leaves a dead pid, which readers
    # probe and fall through to the age gate as before)
    from external_benchmarks_spark.pipeline.layout import (
        claim_writer,
        release_writer,
    )

    claim_writer(root)
    try:
        staging = store.vectors_path + "_refresh_staging"
        shutil.rmtree(staging, ignore_errors=True)
        staged_cells: list[int] = []
        if dirty:
            sub = old.filter(F.col("old_cell").isin(sorted(dirty)))
            staged = _assign_cells_vectorized(sub, cent, key_col, emb_col)
            (
                staged.repartition(F.col("cell"))
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(staging)
            )
            staged_cells = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(staging)
                if d.startswith("cell=")
            )
        # stage the new centroids (driver-side pyarrow + dir swap — see
        # _write_centroids for why a Spark job here costs ~6 s), THEN
        # journal, THEN apply: the journal is the commit point.
        pending = store.centroids_path + ".pending"
        _write_centroids(pending, cent)
        jp = os.path.join(root, _REFRESH_JOURNAL)
        tmp = jp + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"dirty": sorted(dirty), "staged": staged_cells,
                 "staging": staging},
                fh,
            )
        os.replace(tmp, jp)
        for c in sorted(dirty):
            d = f"cell={c}"
            src = os.path.join(staging, d)
            swap_partition_dir(
                store.vectors_path, d, src if os.path.isdir(src) else None
            )
        swap_dir(store.centroids_path, pending)
        os.remove(jp)
        shutil.rmtree(staging, ignore_errors=True)
    finally:
        # in-session failures release so the age gate governs cleanup;
        # a hard crash leaves a dead pid, which writer_alive() rejects
        release_writer(root)
    return stats


def compact_signature_store(
    spark: SparkSession,
    store: SignatureStore,
    max_files_per_bucket: int = 4,
) -> dict:
    """Fold per-batch absorb appends back to one file per bucket (per
    ``pb`` partition for the band table) — the small-files maintenance
    the daily absorb loop needs: every ``absorb_delta`` appends one file
    set, so a long-lived store's bucketed join eventually drowns in
    per-batch files. Preserves the bucket spec exactly: the staging
    rewrite goes through the same ``write_bucketed`` (bucketBy+sortBy,
    bucket ids live in the file names), so the Exchange-free join shape
    holds on the compacted store (re-asserted in tests).

    Band partitions whose max per-bucket file count exceeds the
    threshold rewrite via a staging TABLE, then swap in with two
    renames per partition; the shingle table (unpartitioned) rewrites
    whole when its per-bucket file count exceeds the threshold, with a
    whole-directory swap. Single-writer contract, like all layout
    maintenance here. Returns {"bands_partitions": [...],
    "shingles_rewritten": bool}. Compaction changes the physical file
    set, not the logical contents — any recorded layout fingerprint
    stays valid, matching compact_layout_partitions."""
    import shutil

    from external_benchmarks_spark.pipeline.bucketing import (
        bucket_file_counts,
    )

    out: dict = {"bands_partitions": [], "shingles_rewritten": False}
    bands_path = os.path.join(store.root, "bands")
    sh_path = os.path.join(store.root, "shingles")

    # Crash recovery first, BOTH tables (pipeline/layout helpers): a
    # bands partition stuck in .compacting. trash, or the whole shingle
    # table mid-swap at shingles.trash, restores before anything reads.
    recover_partition_swaps(bands_path)
    recover_dir_swap(sh_path)

    # --- bands: per-pb-partition staged rewrite ---
    dirty = []
    for d in sorted(os.listdir(bands_path)):
        if not d.startswith("pb="):
            continue
        per_bucket = bucket_file_counts(os.path.join(bands_path, d))
        if per_bucket and max(per_bucket.values()) > max_files_per_bucket:
            dirty.append(d)
    if dirty:
        vals = [d[len("pb="):] for d in dirty]
        staging_tbl = f"{store.bands_table}_cstage"
        staging_path = bands_path + "_cstage"
        shutil.rmtree(staging_path, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {staging_tbl}")
        with aligned_bucketed_read(spark):
            write_bucketed(
                spark.table(store.bands_table).filter(F.col("pb").isin(vals)),
                staging_tbl,
                key="bh",
                n_buckets=store.n_buckets,
                path=staging_path,
                partition_col="pb",
            )
        spark.sql(f"DROP TABLE IF EXISTS {staging_tbl}")
        for d in dirty:
            staged = os.path.join(staging_path, d)
            if not os.path.isdir(staged):
                continue
            swap_partition_dir(bands_path, d, staged)
        shutil.rmtree(staging_path, ignore_errors=True)
        spark.catalog.refreshTable(store.bands_table)
        out["bands_partitions"] = [d[len("pb="):] for d in dirty]

    # --- shingles: whole-table staged rewrite (no partition dirs) ---
    per_bucket = bucket_file_counts(sh_path)
    if per_bucket and max(per_bucket.values()) > max_files_per_bucket:
        staging_tbl = f"{store.shingles_table}_cstage"
        staging_path = sh_path + "_cstage"
        shutil.rmtree(staging_path, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {staging_tbl}")
        with aligned_bucketed_read(spark):
            write_bucketed(
                spark.table(store.shingles_table),
                staging_tbl,
                key="doc_id",
                n_buckets=store.n_buckets,
                path=staging_path,
            )
        spark.sql(f"DROP TABLE IF EXISTS {staging_tbl}")
        swap_dir(sh_path, staging_path)
        spark.catalog.refreshTable(store.shingles_table)
        out["shingles_rewritten"] = True
    return out


def absorb_delta_vectors(
    spark: SparkSession,
    delta: DataFrame,
    store: VectorStore,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Semantic-tier absorb: assign the batch against the store's FROZEN
    centroids (the append-only index contract — cells never move) and
    append it into the cell-partitioned vector layout."""
    recover_refresh(store)
    (
        _assign_cells_vectorized(
            delta, _read_centroids(store.centroids_path), key_col, emb_col
        )
        .repartition(F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(store.vectors_path)
    )
    invalidate_layout(os.path.dirname(store.vectors_path))


def compact_vector_store(
    spark: SparkSession,
    store: VectorStore,
    max_files_per_cell: int = 4,
) -> list[str]:
    """Fold absorb-appended small files back to one file per dirty cell.

    The semantic store was the one persisted artifact with NO compactor
    (r14 verdict #2: the 20-cycle soak census read 159 -> 444 files,
    +14/cycle unbounded, while every sibling store shrank or held) —
    :func:`absorb_delta_vectors` appends one file set per batch into the
    cell dirs and :func:`refresh_centroids` rewrites only DIRTY cells,
    so quiet cells fragment forever. At 100x that is the same
    per-file writer floor and listing blow-up the signature/span/PQ
    stores already compact away.

    Reuses the shared staged-swap protocol (pipeline/index.
    compact_layout_partitions — the cell layout is a plain
    partitionBy("cell") parquet tree, so the generic fold applies
    verbatim): driver-side listing finds dirty cells, one
    partition-pruned job rewrites them into staging, two renames per
    cell publish, and :func:`recover_partition_swaps` (run here via
    recover_refresh, and by every store reader) owns crash recovery.
    Logical contents are unchanged, so the layout fingerprint marker is
    deliberately untouched. Single-writer contract: run from the
    maintenance loop that owns the store, never concurrently with an
    absorb or refresh. Returns the compacted cell values."""
    from external_benchmarks_spark.pipeline.index import (
        compact_layout_partitions,
    )

    # force-complete any crashed refresh first: its journaled swaps and
    # this fold share the .compacting. namespace, and compacting a cell
    # the journal still intends to retire would resurrect moved rows
    recover_refresh(store)
    return compact_layout_partitions(
        spark,
        store.vectors_path,
        partition_col="cell",
        max_files_per_partition=max_files_per_cell,
    )
