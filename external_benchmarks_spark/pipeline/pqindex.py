"""Persisted IVF-PQ index: frozen quantizers + cell-partitioned codes.

The batch PQ operators (operators/quantize.py) price codebook training
+ corpus encoding + ADC scoring inside every call — the honest cost of
the *function*, but not the production architecture the reference's ANN
rows describe (reference README.md:64, 73-76: index build is a separate
<2 h budget; queries answer in milliseconds against the built index).
At 100 TB the train + encode passes are INDEX BUILD, paid once and
amortized; a query pays only a planning-time cell prune plus an ADC
scan over m BYTES per candidate vector (8 B here vs 10 KB of raw
float64 at dim 2688 — a 1300× corpus-pass reduction).

This module persists that architecture with the same store contract as
every other persisted artifact in the engine (signature store, vector
store, sorted export, inverted index):

- **build**: hash-sampled centroids (similarity.sampled_centroids) and
  codebooks (quantize.pq_codebooks), both cut from prefixes of ONE
  functions/vector.hash_sample job — both deterministic, so any SQL
  engine replays the whole index from the source table — encode the
  corpus once (Arrow-batched, quantize.pq_encode), and the codes land
  partitioned by IVF cell via pipeline/index.build_index_layout with a
  recorded source fingerprint.
- **append**: deltas encode under the FROZEN quantizers (centroid
  assignment and PQ codes are pure functions of (quantizers, row), so
  append == rebuild bit-for-bit — tested) and route O(delta) files to
  their cell directories; a batch-id ledger (same 1024-entry horizon
  as the sorted export and the streaming absorbed-batches ledger)
  makes replays idempotent. Re-fitting quantizers is a REBUILD, by
  design — the same contract as append_to_index_layout's frozen
  centroids.
- **query**: nprobe nearest cells resolve driver-side against the
  sidecar centroids (O(n_centroids), no Spark job), the scan prunes
  those directories at PLANNING time, and quantize.pq_adc_topk scores
  the survivors — integer LUT arithmetic, codegen end to end.

Small files from appends fold back with
pipeline/index.compact_layout_partitions, same as the IVF layout.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_META = "_pq_meta.json"
_CODES_DIR = "codes"
_VECTORS_DIR = "vectors"


@dataclass
class PQIndex:
    """Handle to a persisted PQ index: paths + the frozen quantizers.

    ``payload_cols`` are metadata columns carried INSIDE the codes
    layout (a few bytes next to the m-byte codes) so filtered ANN
    reads — the pre-filter form every production vector store ships —
    evaluate their predicate against the compressed scan itself, never
    the source table."""

    root: str
    centroids: np.ndarray  # [n_centroids, dim], normalized per metric
    codebooks: np.ndarray  # [m, n_codes, dsub] float64
    metric: str
    key_col: str
    payload_cols: tuple = ()

    @property
    def codes_path(self) -> str:
        return os.path.join(self.root, _CODES_DIR)

    @property
    def vectors_path(self) -> str:
        """Cell-partitioned raw-vector sidecar (``store_vectors=True``):
        the FAISS IndexRefine companion — exact re-scoring of ADC
        candidates needs the R candidate rows' raw vectors, co-located
        with the cells they were probed from so a candidate lookup
        touches only the probed cell directories, never the corpus."""
        return os.path.join(self.root, _VECTORS_DIR)

    @property
    def has_vectors(self) -> bool:
        return os.path.isdir(self.vectors_path)


def _write_meta(index: PQIndex) -> None:
    payload = {
        "metric": index.metric,
        "key_col": index.key_col,
        "payload_cols": list(index.payload_cols),
        "centroids": index.centroids.tolist(),
        "codebooks": index.codebooks.tolist(),
    }
    path = os.path.join(index.root, _META)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def load_pq_index(root: str) -> PQIndex:
    with open(os.path.join(root, _META)) as fh:
        meta = json.load(fh)
    return PQIndex(
        root=root,
        centroids=np.asarray(meta["centroids"], dtype=np.float64),
        codebooks=np.asarray(meta["codebooks"], dtype=np.float64),
        metric=meta["metric"],
        key_col=meta["key_col"],
        payload_cols=tuple(meta.get("payload_cols", ())),
    )


def pq_index_fingerprint(
    source_paths: Sequence[str] | None,
    n_codes: int,
    m_subspaces: int,
    n_centroids: int,
    metric: str = "cosine",
    payload_cols: Sequence[str] = (),
    applied: Sequence[str] = (),
) -> str:
    """The codes layout's recorded fingerprint: the source files plus
    the quantizer parameters, the payload columns and the applied
    append batches. Build, append and every build-else-reuse check
    (``layout_is_current(index.codes_path, ...)``) share this one
    recipe, so an index already on disk is reused exactly when all of
    them agree."""
    from external_benchmarks_spark.pipeline.layout import source_fingerprint

    params = {
        "n_codes": n_codes, "m": m_subspaces,
        "n_centroids": n_centroids, "metric": metric,
        "payload_cols": sorted(payload_cols),
    }
    return source_fingerprint(
        list(source_paths or []), extra={"pq": params, "applied": list(applied)}
    )


def _probe_cells(index: PQIndex, query: Sequence[float], nprobe: int) -> list[int]:
    """The nprobe nearest cells, resolved driver-side from the sidecar
    centroids (no Spark job)."""
    from external_benchmarks_spark.operators.similarity import ivf_probe_cells

    return [
        int(c)
        for c in ivf_probe_cells(index.centroids, query, nprobe, index.metric)
    ]


def _require_vectors(index: PQIndex) -> None:
    if not index.has_vectors:
        raise ValueError(
            f"no raw-vector sidecar at {index.vectors_path}; "
            "build_pq_index(..., store_vectors=True) to enable rerank"
        )


def build_pq_index(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    n_codes: int = 16,
    m_subspaces: int = 8,
    n_centroids: int = 16,
    metric: str = "cosine",
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    source_paths: Sequence[str] | None = None,
    store_vectors: bool = False,
    payload_cols: Sequence[str] = (),
) -> PQIndex:
    """Train (hash-sample) the quantizers, encode the corpus, write the
    cell-partitioned codes layout + quantizer sidecar. One shuffle (the
    repartition by cell) over m-byte codes; the raw embeddings never
    reshuffle. A previous life at ``root`` is replaced wholesale
    (overwrite layout write + fresh sidecar + fresh ledger).

    ``store_vectors=True`` additionally writes a raw-vector layout
    partitioned by the same cells (``root/vectors``) — the refine
    sidecar the exact-rerank path (pq_index_rerank_topk, the serving
    tier's topk_rerank) reads R candidate rows from. This is the one
    corpus-sized shuffle in the build (float32 vectors routed to their
    cells); it is opt-in because pure-ADC serving doesn't need it, and
    at 100 TB the rerank tier pays that pass once per rebuild — the
    same amortization argument as the codes layout itself."""
    from external_benchmarks_spark.functions.vector import hash_sample
    from external_benchmarks_spark.operators.quantize import _codebooks, pq_encode
    from external_benchmarks_spark.operators.similarity import _unit_rows, ivf_assign
    from external_benchmarks_spark.pipeline.index import build_index_layout

    os.makedirs(root, exist_ok=True)
    # Clear a previous life's append ledger BEFORE the overwrite (the
    # vector-store rebuild lesson, operators/deltadedup.py: stale
    # recovery state must never outlive the artifact it described).
    ledger = os.path.join(root, "_applied_appends.json")
    if os.path.exists(ledger):
        os.remove(ledger)
    # sampled_centroids and pq_codebooks read the same hash order, so
    # both are prefixes of one sample of the larger size
    sample = hash_sample(df, max(n_centroids, n_codes), key_col, emb_col)[1]
    centroids = _unit_rows(sample[:n_centroids])
    cb = _codebooks(sample[:n_codes], m_subspaces)
    assigned = ivf_assign(df, centroids, emb_col=emb_col, metric=metric)
    codes = pq_encode(
        assigned,
        cb,
        key_col=key_col,
        emb_col=emb_col,
        extra_cols=["centroid_id", *payload_cols],
    )
    index = PQIndex(
        root=root, centroids=centroids, codebooks=cb,
        metric=metric, key_col=key_col, payload_cols=tuple(payload_cols),
    )
    build_index_layout(
        codes,
        index.codes_path,
        partition_col="centroid_id",
        sort_cols=[key_col],
        emb_col=None,
        fingerprint=pq_index_fingerprint(
            source_paths, n_codes, m_subspaces, n_centroids, metric,
            payload_cols,
        ),
    )
    if store_vectors:
        build_index_layout(
            assigned.select(key_col, emb_col, "centroid_id"),
            index.vectors_path,
            partition_col="centroid_id",
            sort_cols=[key_col],
            emb_col=emb_col,
        )
    elif os.path.isdir(index.vectors_path):
        # a previous life's sidecar must not outlive the rebuild —
        # its cells describe a corpus this index no longer indexes
        import shutil

        shutil.rmtree(index.vectors_path)
    _write_meta(index)
    return index


def append_pq_index(
    spark: SparkSession,
    index: PQIndex,
    delta_df: DataFrame,
    batch_id: str,
    emb_col: str = "embedding",
    source_paths: Sequence[str] | None = None,
) -> bool:
    """Encode ``delta_df`` under the index's FROZEN quantizers and append
    O(delta) files to the touched cell directories. Returns False (no
    write) when ``batch_id`` is already in the applied ledger — the same
    rerun-safe contract as the sorted export's merge-append. The layout
    fingerprint is re-recorded with the ledger folded in, so a replayed
    build-else-reuse check sees the appended index as current for
    exactly this (source, applied-batches) state."""
    from external_benchmarks_spark.operators.quantize import pq_encode
    from external_benchmarks_spark.operators.similarity import ivf_assign
    from external_benchmarks_spark.pipeline.export import (
        _read_applied,
        _record_applied,
    )
    from external_benchmarks_spark.pipeline.index import append_to_index_layout
    from external_benchmarks_spark.pipeline.layout import (
        invalidate_layout,
        record_layout,
    )

    if batch_id in _read_applied(index.root):
        return False
    m, n_codes, _dsub = index.codebooks.shape
    assigned = ivf_assign(
        delta_df, index.centroids, emb_col=emb_col, metric=index.metric
    )
    codes = pq_encode(
        assigned,
        index.codebooks,
        key_col=index.key_col,
        emb_col=emb_col,
        extra_cols=["centroid_id", *index.payload_cols],
    )
    # Drop the CODES layout's current-marker before ANY write: the
    # whole two-layout append must sit under one not-current umbrella,
    # so a crash anywhere inside it leaves the index readable but
    # not-current — the ledger stays unrecorded and the batch replays
    # cleanly only after the owner rebuilds (the documented
    # layout-append contract). Without this, a crash between the two
    # appends below would leave the codes layout still marked current
    # (the vectors layout carries no fingerprint, so its own
    # marker-drop is a no-op), and a conforming ledger-driven replay
    # would append the VECTORS side a second time — duplicate sidecar
    # rows that the rerank broadcast join would emit twice, a
    # plan/serving parity break nothing flags as stale.
    invalidate_layout(index.codes_path)
    # The VECTORS sidecar appends FIRST: sidecar rows with no matching
    # codes are invisible (rerank only looks up ADC candidates, and
    # ADC ranks the codes table), but codes with no sidecar rows would
    # break topk_rerank for a reader that refreshes inside the window
    # between the two appends — e.g. the soak's long-lived
    # PQServingIndex (r13 ADVICE, pipeline/pqindex.py finding).
    if index.has_vectors:
        append_to_index_layout(
            assigned.select(index.key_col, emb_col, "centroid_id"),
            index.vectors_path,
            partition_col="centroid_id",
            emb_col=emb_col,
        )
    append_to_index_layout(
        codes,
        index.codes_path,
        partition_col="centroid_id",
        emb_col=None,
    )
    _record_applied(index.root, batch_id)
    record_layout(
        index.codes_path,
        pq_index_fingerprint(
            source_paths, n_codes, m, len(index.centroids), index.metric,
            index.payload_cols, _read_applied(index.root),
        ),
    )
    return True


def pq_index_codes(spark: SparkSession, index: PQIndex) -> DataFrame:
    return spark.read.parquet(index.codes_path)


def pq_index_topk(
    spark: SparkSession,
    index: PQIndex,
    query: Sequence[float],
    k: int = 20,
    nprobe: int | None = None,
    predicate=None,
) -> DataFrame:
    """ADC top-k against the persisted codes. With ``nprobe`` the probe
    cells resolve driver-side from the sidecar centroids (no Spark job)
    and the ``centroid_id`` filter prunes cell DIRECTORIES at planning
    time — the scan reads nprobe/n_centroids of an already-1300×-
    compressed corpus. ``nprobe=None`` scans every cell (exact ADC over
    the full code table). ``predicate`` (a Column over the index's
    payload_cols) filters the codes scan before candidate selection —
    the pre-filter form of :func:`pq_index_filtered_rerank`."""
    from external_benchmarks_spark.operators.quantize import pq_adc_topk

    codes = pq_index_codes(spark, index)
    if predicate is not None:
        codes = codes.filter(predicate)
    if nprobe is not None:
        codes = codes.filter(
            F.col("centroid_id").isin(_probe_cells(index, query, nprobe))
        )
    return pq_adc_topk(codes, index.codebooks, query, k=k, key_col=index.key_col)


def pq_index_rerank_topk(
    spark: SparkSession,
    index: PQIndex,
    query: Sequence[float],
    k: int = 50,
    rerank: int = 250,
    nprobe: int | None = None,
    emb_col: str = "embedding",
    predicate=None,
) -> DataFrame:
    """ADC candidates + exact rerank against the PERSISTED index — the
    amortized twin of operators/quantize.pq_rerank_topk (FAISS
    IndexRefine): the probed ADC scan ranks the compressed corpus, the
    top ``rerank`` keys broadcast-join against the raw-vector sidecar
    (``store_vectors=True`` at build), and the final top-k comes from
    EXACT float64 dot products over those R rows only. ``predicate``
    pre-filters the codes scan (see :func:`pq_index_filtered_rerank`).

    Scale shape: the corpus pass reads m bytes/vector of nprobe cells;
    the exact stage touches R rows via a broadcast of the R-row
    candidate set against cell-directory-pruned raw vectors — R scales
    with k and quantizer distortion, not corpus size. This is how the
    persisted index meets the reference's >90% recall bar
    (README.md:76) that pure ADC ranking cannot on flat-similarity
    data (measured: ADC-only 0.18-0.42 recall@50; candidate recall at
    R=5k 1.0 — see pq_recall). The exact scores come from the exact
    top-k kernel (operators/topk.filtered_vector_topk): one BLAS pass and
    a left-to-right fold over the R rows, the same bits as
    ``dot_product_literal`` without a per-dimension expression tree."""
    from external_benchmarks_spark.operators.topk import filtered_vector_topk

    _require_vectors(index)
    cand = pq_index_topk(
        spark, index, query, k=rerank, nprobe=nprobe, predicate=predicate
    ).select(index.key_col)
    vecs = spark.read.parquet(index.vectors_path)
    if nprobe is not None:
        # Every ADC candidate's cell is in the probed set by
        # construction, so the same driver-resolved centroid_id filter
        # the codes scan uses prunes the sidecar to nprobe cell
        # DIRECTORIES at planning time. Without it the broadcast join
        # on key_col (not the partition column) triggers no directory
        # pruning and every rerank query scans the full O(corpus)
        # float32 sidecar — invisible at sf0.1, the dominant IO at
        # 100x (r13 verdict finding #4).
        vecs = vecs.filter(
            F.col("centroid_id").isin(_probe_cells(index, query, nprobe))
        )
    return filtered_vector_topk(
        vecs.join(F.broadcast(cand), index.key_col), query, None, k,
        index.key_col, emb_col,
    )


def pq_index_rerank_batch(
    spark: SparkSession,
    index: PQIndex,
    queries_df: DataFrame,
    k: int = 20,
    rerank: int = 100,
    nprobe: int | None = None,
    emb_col: str = "embedding",
    query_key: str = "query_id",
    query_emb: str = "qvec",
) -> DataFrame:
    """Batch-of-queries probed rerank against the persisted index — the
    serving-throughput twin of :func:`pq_index_rerank_topk`: every
    query's ADC candidates come out of ONE pass over the codes
    (per-query probed-cell masks inside the shared scan,
    quantize.pq_adc_topk_batch), then ONE broadcast of the <= Q*rerank
    candidate set exact-reranks against the cell-directory-pruned
    raw-vector sidecar.

    Scale shape: the codes pass reads the UNION of the queries' probed
    cells once (vs Q separate scans); the sidecar pass reads the same
    union once; per-query work after the scans is O(rerank) rows
    through a bounded window. The query table is contractually bounded
    (a request batch) — its collect() and the candidate broadcast are
    the same bounded-batch device as pq_adc_topk_batch's LUT tensor.
    Returns (query_id, vec_id, score, rank<=k) — exact float64 scores
    via the column-form sequential dot product (same op order as the
    single-query literal plan)."""
    from external_benchmarks_spark.functions.vector import dot_product
    from external_benchmarks_spark.operators.quantize import pq_adc_topk_batch
    from pyspark.sql.window import Window

    _require_vectors(index)
    codes = pq_index_codes(spark, index)
    vecs = spark.read.parquet(index.vectors_path)
    # ONE driver collect of the bounded request batch, shared with the
    # LUT build inside pq_adc_topk_batch (query_rows below)
    qrows = queries_df.select(query_key, query_emb).collect()
    allowed = None
    if nprobe is not None:
        allowed = {
            int(r[query_key]): _probe_cells(index, r[query_emb], nprobe)
            for r in qrows
        }
        union_cells = sorted({c for cs in allowed.values() for c in cs})
        # ONE planning-time directory prune for both artifacts: every
        # query's candidates live in its probed cells, all of which are
        # in the union by construction
        codes = codes.filter(F.col("centroid_id").isin(union_cells))
        vecs = vecs.filter(F.col("centroid_id").isin(union_cells))
    cand = pq_adc_topk_batch(
        codes,
        index.codebooks,
        queries_df,
        k=rerank,
        key_col=index.key_col,
        query_key=query_key,
        query_emb=query_emb,
        cell_col="centroid_id" if allowed is not None else None,
        allowed_cells=allowed,
        query_rows=qrows,
    ).select(query_key, index.key_col)
    q_side = F.broadcast(
        queries_df.select(
            F.col(query_key), F.col(query_emb).cast("array<double>").alias("_qv")
        )
    )
    w = Window.partitionBy(query_key).orderBy(
        F.desc("score"), F.asc(index.key_col)
    )
    return (
        vecs.join(F.broadcast(cand), index.key_col)
        .join(q_side, query_key)
        .select(
            query_key,
            F.col(index.key_col),
            dot_product(
                F.col(emb_col).cast("array<double>"), F.col("_qv")
            ).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_key, index.key_col, "score", "rank")
    )


def pq_index_filtered_rerank(
    spark: SparkSession,
    index: PQIndex,
    query: Sequence[float],
    predicate,
    k: int = 20,
    rerank: int = 100,
    nprobe: int | None = None,
    emb_col: str = "embedding",
) -> DataFrame:
    """Metadata-FILTERED ANN over the persisted index — the pre-filter
    form every production vector store ships: ``predicate`` (a Column
    over the index's payload_cols, e.g. ``F.col("label").isin(1, 3)``)
    applies to the COMPRESSED scan before candidate selection, so the
    ADC top-``rerank`` is the top-R *of the filtered set* and the
    recall target is defined within the filter (post-filtering top-R of
    the unfiltered set can return << k rows under selective predicates
    — the classic filtered-ANN failure mode this form avoids). The
    exact rerank then joins the cell-pruned raw-vector sidecar exactly
    like pq_index_rerank_topk.

    Scale shape: payloads ride inside the codes layout (a few bytes
    next to the m-byte codes), so the filter is a parquet-pushed data
    filter on the already-cell-pruned compressed scan — the source
    table is never touched at query time. Returns (key, score) ordered
    by (-score, key), k rows or as many as satisfy the filter."""
    if not index.payload_cols:
        raise ValueError(
            "index carries no payload columns; "
            "build_pq_index(..., payload_cols=[...]) to enable filtered reads"
        )
    return pq_index_rerank_topk(
        spark, index, query, k=k, rerank=rerank, nprobe=nprobe,
        emb_col=emb_col, predicate=predicate,
    )
