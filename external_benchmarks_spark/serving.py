"""Low-latency serving tier over the Spark-built index layout.

The reference's read SLA (100 ms p95 @ 20 QPS, reference README.md:62-70)
describes SERVING reads, and Spark's ~0.2-0.3 s per-job floor (scheduler +
Py4J round-trip) can never meet it no matter how good the plan is —
BASELINE.md documents that floor. The architecture answer is the standard
lakehouse split: Spark BUILDS the query-optimized layout (partitioned,
sorted, pruned — `pipeline/index.build_index_layout`), and a serving
process memory-maps that SAME parquet layout and answers point reads
without a cluster job. This module is that serving tier: pyarrow reads
the label-partitioned directories once, keeps per-label (ids, matrix)
arrays, and answers filtered top-k in one BLAS call.

Parity contract: scores are computed exactly like the Spark fast path
(`functions/vector.score_batch_udf`) — float64 matmul over the float32
embeddings, ties broken by ascending key — so serving results are
bit-identical to the Spark query's (asserted in tests/test_serving.py).

Scale shape: one serving node holds the HOT partitions (a label's matrix
at dim=64 x 1M rows is ~512 MB float64, or half that served as float32);
a fleet shards by partition key exactly like the directory layout. Cold
partitions fall back to the Spark path, which keeps directory pruning.
"""

from __future__ import annotations

import os

import numpy as np


def _dir_signature(d: str) -> tuple:
    """Sorted (name, size) of a partition directory's data files: it
    changes whenever a delta append or a compaction rewrites the
    directory, so refresh() reloads only the directories it touched."""
    return tuple(
        sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )
    )


def _matrix(tbl, col: str) -> np.ndarray:
    """A fixed-length list column as a (rows x dim) array of its own
    element dtype."""
    values = tbl.column(col).combine_chunks().values.to_numpy(
        zero_copy_only=False
    )
    n = len(tbl)
    return values.reshape(n, len(values) // max(n, 1))


def _merge_topk(ids_parts: list, score_parts: list, k: int):
    """Concatenate per-cell candidates; returns (ids, scores, order)
    where ``order`` indexes the best k rows by (-score, key), the Spark
    plans' exact output order."""
    if not ids_parts:
        return np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64)
    ids = np.concatenate(ids_parts)
    scores = np.concatenate(score_parts)
    return ids, scores, np.lexsort((ids, -scores))[:k]


class _CellStore:
    """Arrays per ``<col>=<v>`` directory of a partitioned parquet
    layout, held in ``cells`` and reloaded only when a directory's file
    signature changes. Subclasses name the columns to read and decode
    the table into the cell's arrays."""

    def __init__(self, root: str, col: str):
        self._root = root
        self._col = col
        self.cells: dict[int, tuple] = {}
        self._sigs: dict[int, tuple] = {}
        for v in sorted(self._on_disk()):
            self._load(v)
        if not self.cells:
            raise ValueError(f"no {col}=* directories under {root}")

    def _dir(self, v: int) -> str:
        return os.path.join(self._root, f"{self._col}={v}")

    def _on_disk(self) -> set[int]:
        prefix = f"{self._col}="
        return {
            int(e.split("=", 1)[1])
            for e in os.listdir(self._root)
            if e.startswith(prefix)
        }

    def _load(self, v: int) -> None:
        import pyarrow.parquet as pq

        # Signature BEFORE the read: if a writer appends between the
        # snapshot and the read, the stored signature is stale and the
        # next refresh() reloads — at worst one redundant reload, never
        # a permanently missed update (the TOCTOU otherwise possible
        # under a concurrent appender).
        sig = _dir_signature(self._dir(v))
        tbl = pq.read_table(self._dir(v), columns=self._columns())
        self.cells[v] = self._decode(v, tbl)
        self._sigs[v] = sig

    def _drop(self, v: int) -> None:
        del self.cells[v]
        del self._sigs[v]

    def _refresh(self, only) -> list[int]:
        """Incremental layout refresh: reload ONLY directories whose
        on-disk file set changed (delta append, compaction), plus any
        new ones; drop removed ones. O(dirty cells), never O(layout).
        ``only`` forces a reload of those directories. Returns the
        reloaded values."""
        on_disk = self._on_disk()
        for gone in set(self.cells) - on_disk:
            self._drop(gone)
        todo = set(only) if only is not None else on_disk
        refreshed = []
        for v in sorted(todo & on_disk):
            if only is None and self._sigs.get(v) == _dir_signature(self._dir(v)):
                continue
            self._load(v)
            refreshed.append(v)
        return refreshed


class VectorServingIndex(_CellStore):
    """In-memory filtered top-k over a ``partitionBy(label)`` parquet
    layout (the output of ``pipeline/index.build_index_layout`` or the
    bench's vtopk layout)."""

    def __init__(
        self,
        layout_dir: str,
        key_col: str = "vec_id",
        emb_col: str = "embedding",
        partition_col: str = "label",
    ):
        self.layout_dir = layout_dir
        self.key_col = key_col
        self.emb_col = emb_col
        self.partition_col = partition_col
        super().__init__(layout_dir, partition_col)

    @property
    def partitions(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        return self.cells

    def _columns(self) -> list[str]:
        return [self.key_col, self.emb_col]

    def _decode(self, label: int, tbl) -> tuple[np.ndarray, np.ndarray]:
        ids = tbl.column(self.key_col).to_numpy()
        # float64 scoring matrix — same dtype promotion as the Spark
        # fast path (score_batch_udf does astype(float64) per batch)
        return np.asarray(ids), _matrix(tbl, self.emb_col).astype(np.float64)

    def refresh(self, labels=None) -> list[int]:
        """Reload only the partitions a delta append / compaction
        touched (see ``_CellStore._refresh``) — the serving-side
        completion of pipeline/index.append_to_index_layout. Pass
        ``labels`` to force specific partitions."""
        return self._refresh(labels)

    def topk(
        self,
        qvec,
        k: int = 100,
        label: int | None = None,
        key_mod: int | None = None,
    ) -> list[tuple[int, float]]:
        """Filtered dot-product top-k: ``label == L`` prunes to one
        in-memory partition (the serving analog of directory pruning);
        ``key_mod = m`` adds the bench templates' ``key % m == 0``
        refinement. Returns [(key, score)] ordered by (-score, key) —
        the Spark query's exact output order."""
        q = np.asarray(qvec, dtype=np.float64)
        if label is not None:
            parts = [self.partitions[label]] if label in self.partitions else []
        else:
            parts = list(self.partitions.values())
        best_ids: list[np.ndarray] = []
        best_scores: list[np.ndarray] = []
        for ids, mat in parts:
            if key_mod is not None:
                mask = ids % key_mod == 0
                ids, mat = ids[mask], mat[mask]
            if len(ids) == 0:
                continue
            scores = mat @ q
            if len(ids) > k:
                # partial-select the partition's own top-k before the merge
                # (per-partition heap, exactly TakeOrderedAndProject's shape).
                # Ties at the k-th score are resolved by id — the full
                # (-score, id) order — so the pruned set is exactly what the
                # Spark query would keep (bit-identical parity contract).
                idx = np.argpartition(-scores, k - 1)[:k]
                thresh = scores[idx].min()
                above = np.nonzero(scores > thresh)[0]
                at = np.nonzero(scores == thresh)[0]
                at = at[np.argsort(ids[at])[: k - len(above)]]
                sel = np.concatenate([above, at])
                ids, scores = ids[sel], scores[sel]
            best_ids.append(ids)
            best_scores.append(scores)
        ids, scores, order = _merge_topk(best_ids, best_scores, k)
        return [(int(ids[i]), float(scores[i])) for i in order]


class PQServingIndex(_CellStore):
    """ADC serving over a persisted PQ index (`pipeline/pqindex.py`):
    the compressed twin of :class:`VectorServingIndex`. Loads the
    cell-partitioned codes (``centroid_id=N`` directories) plus the
    frozen-quantizer sidecar once; answers probed top-k with integer
    LUT arithmetic — per-subspace ``lut[j][c] = sum_i FLOOR(q_i *
    cb[j,c,i] * 1e6)`` gathered over the m-byte codes — so results are
    bit-identical to ``pq_index_topk``'s Catalyst plan (asserted in
    tests/test_pqindex.py) at in-process latency instead of a Spark
    job.

    Scale shape: the resident state is m BYTES per vector plus the
    O(n_centroids x dim) sidecar — ~1300x smaller than the raw float64
    matrix at dim 2688, so one serving node holds ~1300x more corpus
    than the exact tier for the same memory. Cell signature-based
    ``refresh()`` picks up ledgered appends and layout compactions
    O(dirty cells), same contract as the exact tier's.

    Recall: ``topk`` ships PURE-ADC ranking (0.18-0.42 recall@50 on
    flat-similarity data — honest but below the reference's >90% bar);
    ``topk_rerank`` ships the refine architecture (ADC top-R + exact
    re-score from the cell-partitioned raw-vector sidecar) at >=0.9
    recall, test-gated, for ~1-3 ms instead of ~0.5 ms. Serve
    ``topk_rerank`` wherever the reference's ANN SLA row applies.
    """

    def __init__(self, root: str):
        from external_benchmarks_spark.pipeline.pqindex import load_pq_index

        self.index = load_pq_index(root)
        self.codes_dir = self.index.codes_path
        # payload columns (filtered-ANN metadata riding inside the
        # codes layout): cell -> {col: np.ndarray}, loaded with the
        # cell iff the index declares payload_cols
        self._payload: dict[int, dict] = {}
        # rerank-path mmap cache: cell -> (sidecar signature, ids mmap,
        # float32 matrix mmap); signature-checked per touch, so sidecar
        # appends/compactions invalidate lazily without an explicit call
        self._vec_mm: dict[int, tuple] = {}
        super().__init__(self.codes_dir, "centroid_id")

    def _columns(self) -> list[str]:
        return [self.index.key_col, "pq_codes", *self.index.payload_cols]

    def _decode(self, cell: int, tbl) -> tuple[np.ndarray, np.ndarray]:
        if self.index.payload_cols:
            self._payload[cell] = {
                c: np.asarray(tbl.column(c).to_numpy(zero_copy_only=False))
                for c in self.index.payload_cols
            }
        ids = tbl.column(self.index.key_col).to_numpy()
        return np.asarray(ids), _matrix(tbl, "pq_codes").astype(np.int64)

    def _drop(self, cell: int) -> None:
        super()._drop(cell)
        self._payload.pop(cell, None)

    def refresh(self, cells=None) -> list[int]:
        """Reload ONLY cells whose on-disk file set changed (ledgered
        append, compaction); drop removed, pick up new. O(dirty cells)."""
        return self._refresh(cells)

    def _filter_mask(self, cell: int, where: dict, n: int):
        """Conjunctive IN-list mask over the cell's payload columns —
        the serving twin of ``F.col(c).isin(vals) & ...`` on the codes
        scan. Returns None for an all-true mask."""
        if not where:
            return None
        bad = set(where) - set(self.index.payload_cols)
        if bad:
            raise ValueError(
                f"where references non-payload columns {sorted(bad)}; "
                f"index carries payload_cols={list(self.index.payload_cols)}"
            )
        pay = self._payload.get(cell)
        mask = np.ones(n, dtype=bool)
        for col, vals in where.items():
            mask &= np.isin(pay[col], np.asarray(list(vals)))
        return mask

    def topk(
        self,
        qvec,
        k: int = 20,
        nprobe: int | None = None,
        where: dict | None = None,
        _with_cells: bool = False,
    ):
        """Probed ADC top-k: nprobe cells resolve against the sidecar
        centroids (same rule as operators/similarity.ivf_probe_cells),
        scores are exact integer LUT sums, order (-pq_score, key) —
        the Spark plan's exact output. Returns [(key, pq_score)].

        ``where`` (r15) is the PRE-filter form of the filtered-ANN SLA
        at serving: {payload_col: allowed values} conjunctive IN-lists
        evaluated against the in-memory payload arrays BEFORE candidate
        selection, so the top-k is the top-k of the (probed AND
        filtered) set — the serving twin of
        pipeline/pqindex.pq_index_filtered_rerank's codes-scan
        predicate, bit-parity-tested. Post-filtering the unfiltered
        top-k would return << k rows under selective predicates.

        RECALL CONTRACT: this ranks by pure ADC — 0.18-0.42 recall@50
        on flat-similarity data (measured, pq_recall entry). Use
        :meth:`topk_rerank` where the reference's >90% recall bar
        applies (README.md:76); this form is the compressed-ranking /
        candidate-generation tier. ``_with_cells`` additionally
        returns {cell: [candidate ids]} for the rerank sidecar reads."""
        from external_benchmarks_spark.operators.quantize import pq_lut
        from external_benchmarks_spark.pipeline.pqindex import _probe_cells

        # the Spark plan's literal LUT, entry for entry
        lut = pq_lut(self.index.codebooks, qvec)
        m = len(lut)
        if nprobe is not None:
            probe = [
                c for c in _probe_cells(self.index, qvec, nprobe)
                if c in self.cells
            ]
        else:
            probe = sorted(self.cells)
        best_ids: list[np.ndarray] = []
        best_scores: list[np.ndarray] = []
        best_cells: list[np.ndarray] = []
        for cell in probe:
            ids, codes = self.cells[cell]
            mask = self._filter_mask(cell, where, len(ids))
            if mask is not None:
                ids, codes = ids[mask], codes[mask]
            if len(ids) == 0:
                continue
            scores = lut[np.arange(m), codes].sum(axis=1)
            best_ids.append(ids)
            best_scores.append(scores)
            best_cells.append(np.full(len(ids), cell, dtype=np.int64))
        if not best_ids:
            return [] if not _with_cells else ([], {})
        ids, scores, order = _merge_topk(best_ids, best_scores, k)
        if _with_cells:
            cells_flat = np.concatenate(best_cells)
            by_cell: dict[int, list[int]] = {}
            for i in order:
                by_cell.setdefault(int(cells_flat[i]), []).append(int(ids[i]))
            return [(int(ids[i]), int(scores[i])) for i in order], by_cell
        return [(int(ids[i]), int(scores[i])) for i in order]

    @property
    def _vec_root(self) -> str:
        return os.path.join(os.path.dirname(self.codes_dir), "vectors")

    def _vec_cell(self, cell: int):
        """Memory-mapped (sorted ids, float32 matrix) for one sidecar
        cell, derived from the cell's parquet files on first touch (or
        when their file signature changes) into an ``_serving_vec_cache``
        npy pair next to the sidecar. Parquet decodes a whole row group
        to serve one row — O(cell) per query, which dies at scale — so
        the serving node converts each touched cell ONCE per refresh
        into a raw float32 mmap, and a query then touches O(R) pages:
        searchsorted on the id mmap + a gather of the R candidate rows.
        Values are the sidecar's exact float32 bytes (no re-encode), so
        the parity contract survives the cache. The conversion is
        crash-safe (tmp + atomic rename, signature recorded after)."""
        import json

        d = os.path.join(self._vec_root, f"centroid_id={cell}")
        if not os.path.isdir(d):
            # A cell present under codes/ but absent under vectors/ —
            # a pre-r14 append crashed between the two layouts, or a
            # refresh raced a writer. Serve what the batch plan would:
            # the broadcast join drops candidates with no sidecar row,
            # so an empty cell (not a crash) is the parity-preserving
            # answer. Appends now write vectors FIRST, so this is a
            # backstop, not a steady state (r13 ADVICE).
            return (
                np.empty(0, dtype=np.int64),
                np.empty((0, 0), dtype=np.float32),
            )
        sig = _dir_signature(d)
        cached = self._vec_mm.get(cell)
        if cached is not None and cached[0] == sig:
            return cached[1], cached[2]
        cache_dir = os.path.join(
            os.path.dirname(self.codes_dir), "_serving_vec_cache"
        )
        os.makedirs(cache_dir, exist_ok=True)
        base = os.path.join(cache_dir, f"cell_{cell}")
        meta_p, ids_p, mat_p = base + ".json", base + ".ids.npy", base + ".mat.npy"
        on_disk_sig = None
        try:
            with open(meta_p) as fh:
                on_disk_sig = [tuple(e) for e in json.load(fh)["sig"]]
        except (OSError, ValueError, KeyError):
            pass
        if on_disk_sig != list(sig):
            import pyarrow.parquet as pq

            tbl = pq.read_table(d, columns=[self.index.key_col, "embedding"])
            ids = tbl.column(self.index.key_col).to_numpy()
            mat = _matrix(tbl, "embedding")
            order = np.argsort(ids, kind="stable")
            for path, arr in ((ids_p, ids[order]), (mat_p, mat[order])):
                tmp = path + ".tmp.npy"
                np.save(tmp, np.ascontiguousarray(arr))
                os.replace(tmp, path)
            tmp = meta_p + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"sig": list(sig)}, fh)
            os.replace(tmp, meta_p)
        ids_mm = np.load(ids_p, mmap_mode="r")
        mat_mm = np.load(mat_p, mmap_mode="r")
        self._vec_mm[cell] = (sig, ids_mm, mat_mm)
        return ids_mm, mat_mm

    def topk_rerank(
        self,
        qvec,
        k: int = 50,
        rerank: int = 250,
        nprobe: int | None = None,
        where: dict | None = None,
    ) -> list[tuple[int, float]]:
        """ADC top-``rerank`` -> EXACT re-score of those R rows -> top-k
        by exact score: the serving twin of
        pipeline/pqindex.pq_index_rerank_topk's Spark plan, bit-for-bit
        (parity-tested in tests/test_pqindex.py). With ``where`` (r15)
        it is the twin of pq_index_filtered_rerank instead: the
        pre-filter applies to the ADC candidate stage, so the exact
        top-k is the top-k WITHIN the filter — the reference's read-SLA
        shape (filter + dot-product + LIMIT) served without a Spark
        job. This is the tier that
        meets the reference's >90% recall bar (README.md:76): pure ADC
        ranking reads 0.18-0.42 recall@50 on flat-similarity data, but
        the ADC top-R CONTAINS the true top-k, and the exact rerank
        recovers it (recall >= 0.9 test-gated at serving).

        The raw vectors for the R candidates come from the index's
        cell-partitioned ``vectors`` sidecar (store_vectors=True at
        build) via a per-cell mmap cache (see _vec_cell) — a query
        touches O(R) pages, never a corpus-resident matrix, so the
        node's resident memory stays m bytes/vector + R-row gathers.
        Exact scores replay dot_product_literal's float64 op order
        (per-element product, LEFT-TO-RIGHT sequential sum — cumsum,
        not pairwise), so every score is bit-identical to the Catalyst
        expression's. Returns [(key, exact_score)] ordered by
        (-score, key)."""
        if not os.path.isdir(self._vec_root):
            raise ValueError(
                f"no raw-vector sidecar at {self._vec_root}; "
                "build_pq_index(..., store_vectors=True) to enable rerank"
            )
        _cand, by_cell = self.topk(
            qvec, k=rerank, nprobe=nprobe, where=where, _with_cells=True
        )
        q = np.asarray([float(v) for v in qvec], dtype=np.float64)
        all_ids: list[np.ndarray] = []
        all_scores: list[np.ndarray] = []
        for cell, cand_ids in sorted(by_cell.items()):
            ids_mm, mat_mm = self._vec_cell(cell)
            cand = np.asarray(cand_ids, dtype=np.int64)
            pos = np.searchsorted(ids_mm, cand)
            ok = pos < len(ids_mm)
            pos, cand = pos[ok], cand[ok]
            ok = ids_mm[pos] == cand
            pos, cand = pos[ok], cand[ok]
            if len(pos) == 0:
                continue
            rows = np.asarray(mat_mm[pos], dtype=np.float64)
            # per-element products then SEQUENTIAL left-to-right sum:
            # cumsum materializes every prefix, forcing the exact
            # ((t0+t1)+t2)+... float64 order dot_product_literal emits
            scores = np.cumsum(rows * q[None, :], axis=1)[:, -1]
            all_ids.append(cand)
            all_scores.append(scores)
        ids, scores, order = _merge_topk(all_ids, all_scores, k)
        return [(int(ids[i]), float(scores[i])) for i in order]
