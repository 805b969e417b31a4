"""Persisted IVF-PQ index (pipeline/pqindex.py): build / append / query
contract — append == rebuild bit parity under frozen quantizers, replay
idempotency, planning-time cell pruning, sidecar round-trip, and parity
with the in-memory ivfpq composition (oracle parity is covered by
test_oracle_queries.py's pq_index_* entries)."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest

from pyspark.sql import functions as F

from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.operators.quantize import (
    ivfpq_topk,
    pq_codebooks,
    pq_encode,
)
from external_benchmarks_spark.operators.similarity import (
    ivf_assign,
    sampled_centroids,
)
from external_benchmarks_spark.pipeline.pqindex import (
    append_pq_index,
    build_pq_index,
    load_pq_index,
    pq_index_codes,
    pq_index_rerank_topk,
    pq_index_topk,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
QVEC_DIM = 64
QVEC = [float((i * 37) % 13 - 6) for i in range(QVEC_DIM)]
N_CODES, M, N_CENT = 16, 8, 8


def _emb(spark):
    return Catalog(spark, SF_DIR).embeddings


@pytest.fixture(scope="module")
def full_index(spark):
    """Index over the full embeddings table, built once per module."""
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "pq")
        yield build_pq_index(
            spark, _emb(spark), root,
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
        )


def _codes_rows(df):
    return sorted(
        (r.vec_id, tuple(r.pq_codes), r.centroid_id)
        for r in df.select("vec_id", "pq_codes", "centroid_id").collect()
    )


def test_topk_matches_inmemory_composition(spark, full_index):
    emb = _emb(spark)
    centroids = sampled_centroids(emb, n_centroids=N_CENT)
    cb = pq_codebooks(emb, n_codes=N_CODES, m_subspaces=M)
    codes = pq_encode(ivf_assign(emb, centroids), cb, extra_cols=["centroid_id"])
    mem = ivfpq_topk(codes, centroids, cb, QVEC, k=15, nprobe=3)
    idx = pq_index_topk(spark, full_index, QVEC, k=15, nprobe=3)
    assert [(r.vec_id, r.pq_score) for r in idx.collect()] == [
        (r.vec_id, r.pq_score) for r in mem.collect()
    ]


def test_full_scan_when_nprobe_none(spark, full_index):
    n = pq_index_codes(spark, full_index).count()
    assert n == _emb(spark).count()
    # nprobe=None scores every cell: equals plain ADC over all codes
    from external_benchmarks_spark.operators.quantize import pq_adc_topk

    allcodes = pq_index_codes(spark, full_index)
    a = pq_index_topk(spark, full_index, QVEC, k=10, nprobe=None)
    b = pq_adc_topk(allcodes, full_index.codebooks, QVEC, k=10)
    assert [r.vec_id for r in a.collect()] == [r.vec_id for r in b.collect()]


def test_nprobe_prunes_partitions_at_planning(spark, full_index):
    plan = pq_index_topk(spark, full_index, QVEC, k=10, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters" in scan and "centroid_id" in scan.split(
        "PartitionFilters"
    )[1].split("]")[0], scan


def test_append_equals_rebuild_bit_for_bit(spark):
    """Frozen quantizers make (build on base) + (append delta) produce
    the identical code table as encoding the full corpus under the
    base-trained quantizers."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, base, os.path.join(d, "pq"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
        )
        assert append_pq_index(spark, idx, delta, batch_id="b1") is True
        got = _codes_rows(pq_index_codes(spark, idx))
    want = _codes_rows(
        pq_encode(
            ivf_assign(emb, idx.centroids),
            idx.codebooks,
            extra_cols=["centroid_id"],
        )
    )
    assert got == want


def test_append_replay_is_idempotent(spark):
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, base, os.path.join(d, "pq"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
        )
        assert append_pq_index(spark, idx, delta, batch_id="b1") is True
        n1 = pq_index_codes(spark, idx).count()
        assert append_pq_index(spark, idx, delta, batch_id="b1") is False
        assert pq_index_codes(spark, idx).count() == n1


def test_sidecar_roundtrip_and_rebuild_clears_ledger(spark):
    emb = _emb(spark)
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "pq")
        idx = build_pq_index(
            spark, emb.filter(F.col("vec_id") % 10 != 0), root,
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
        )
        append_pq_index(
            spark, idx, emb.filter(F.col("vec_id") % 10 == 0), batch_id="b1"
        )
        loaded = load_pq_index(root)
        assert np.array_equal(loaded.centroids, idx.centroids)
        assert np.array_equal(loaded.codebooks, idx.codebooks)
        assert loaded.metric == idx.metric and loaded.key_col == idx.key_col
        # a rebuild over the same root starts a fresh ledger: the old
        # batch id must not suppress a new append (the stale-state
        # clearing contract shared with the vector store)
        idx2 = build_pq_index(
            spark, emb.filter(F.col("vec_id") % 10 != 0), root,
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
        )
        assert append_pq_index(
            spark, idx2, emb.filter(F.col("vec_id") % 10 == 0), batch_id="b1"
        ) is True
        assert pq_index_codes(spark, idx2).count() == emb.count()


def test_pq_serving_bit_parity_with_spark_plan(spark, full_index):
    """The ADC serving tier answers bit-identically to the Spark plan —
    probed and full-scan — at in-process latency."""
    from external_benchmarks_spark.serving import PQServingIndex

    srv = PQServingIndex(full_index.root)
    for nprobe in (3, None):
        want = [
            (r.vec_id, r.pq_score)
            for r in pq_index_topk(
                spark, full_index, QVEC, k=15, nprobe=nprobe
            ).collect()
        ]
        got = srv.topk(QVEC, k=15, nprobe=nprobe)
        assert got == want, (nprobe, got[:3], want[:3])


@pytest.fixture(scope="module")
def rerank_index(spark):
    """Index with the raw-vector refine sidecar (store_vectors=True)."""
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "pqr")
        yield build_pq_index(
            spark, _emb(spark), root,
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
            store_vectors=True,
        )


def test_index_rerank_matches_operator_form(spark, rerank_index):
    """pq_index_rerank_topk (persisted codes + vector sidecar) returns
    the identical rows as operators/quantize.pq_rerank_topk re-encoding
    the source under the same frozen codebooks — amortized == inline."""
    from external_benchmarks_spark.operators.quantize import pq_rerank_topk

    want = pq_rerank_topk(
        _emb(spark), rerank_index.codebooks, QVEC, k=10, rerank=60
    ).collect()
    got = pq_index_rerank_topk(
        spark, rerank_index, QVEC, k=10, rerank=60, nprobe=None
    ).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]


def test_rerank_prunes_both_scans_at_planning(spark, rerank_index):
    """With nprobe set, BOTH file scans — the m-byte codes table AND the
    O(corpus) float32 raw-vector sidecar — must carry the driver-resolved
    centroid_id partition filter. The codes scan always pruned; the
    sidecar scan didn't (r13 verdict #4): the broadcast join on vec_id
    triggers no directory pruning, so every rerank query read the full
    sidecar — invisible at sf0.1, the dominant IO at 100x."""
    plan = (
        pq_index_rerank_topk(spark, rerank_index, QVEC, k=10, rerank=60, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) >= 2, plan  # codes + vectors
    for scan in scans:
        assert "PartitionFilters" in scan and "centroid_id" in scan.split(
            "PartitionFilters"
        )[1].split("]")[0], scan


def test_rerank_tolerates_missing_sidecar_cell(spark, rerank_index):
    """A cell present under codes/ but absent under vectors/ (a pre-r14
    crash artifact) must serve what the batch plan serves — candidates
    from that cell silently drop out of the broadcast join — not crash
    the serving node (r13 ADVICE, pipeline/pqindex.py finding)."""
    import shutil

    from external_benchmarks_spark.serving import PQServingIndex

    # copy the index so the module-scoped fixture stays intact
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "pq")
        shutil.copytree(rerank_index.root, root)
        vec_cells = sorted(
            c for c in os.listdir(os.path.join(root, "vectors"))
            if c.startswith("centroid_id=")
        )
        shutil.rmtree(os.path.join(root, "vectors", vec_cells[0]))
        idx = load_pq_index(root)
        want = [
            (r.vec_id, r.score)
            for r in pq_index_rerank_topk(
                spark, idx, QVEC, k=10, rerank=60, nprobe=None
            ).collect()
        ]
        srv = PQServingIndex(root)
        got = srv.topk_rerank(QVEC, k=10, rerank=60, nprobe=None)
        assert got == want


def test_append_crash_between_layouts_leaves_index_not_current(
    spark, monkeypatch
):
    """The whole two-layout append sits under ONE not-current umbrella:
    a crash after the vectors append but before the codes append must
    leave the codes layout's marker dropped, so no build-else-reuse
    path trusts the half-appended state and no ledger-driven replay
    runs against it (which would duplicate the already-appended sidecar
    rows — the r14 review finding on the vectors-first reorder)."""
    import os as _os

    from external_benchmarks_spark.pipeline import index as index_mod
    from external_benchmarks_spark.pipeline.layout import _MARKER

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, base, os.path.join(d, "pq"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
            store_vectors=True,
            source_paths=[os.path.join(d, "src")],
        )
        marker = _os.path.join(idx.codes_path, _MARKER)
        assert _os.path.exists(marker)  # build recorded a fingerprint
        real = index_mod.append_to_index_layout

        def crash_on_codes(df, path, **kw):
            if _os.path.basename(path.rstrip("/")) == "codes":
                raise RuntimeError("injected crash between the layouts")
            return real(df, path, **kw)

        monkeypatch.setattr(
            index_mod, "append_to_index_layout", crash_on_codes
        )
        with pytest.raises(RuntimeError, match="injected"):
            append_pq_index(spark, idx, delta, batch_id="b1")
        assert not _os.path.exists(marker), (
            "codes layout still marked current after a mid-append crash"
        )
        # and the ledger never recorded the batch
        from external_benchmarks_spark.pipeline.export import _read_applied

        assert "b1" not in _read_applied(idx.root)


def test_append_writes_vectors_before_codes(spark, monkeypatch):
    """Appends land the raw-vector sidecar BEFORE the codes: extra
    sidecar rows are invisible (rerank only looks up ADC candidates),
    but codes with no sidecar rows break a reader that refreshes inside
    the window between the two appends (r13 ADVICE)."""
    from external_benchmarks_spark.pipeline import index as index_mod

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    order = []
    real = index_mod.append_to_index_layout

    def spy(df, path, **kw):
        order.append(os.path.basename(path.rstrip("/")))
        return real(df, path, **kw)

    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, base, os.path.join(d, "pq"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
            store_vectors=True,
        )
        monkeypatch.setattr(index_mod, "append_to_index_layout", spy)
        assert append_pq_index(spark, idx, delta, batch_id="b1") is True
    assert order == ["vectors", "codes"], order


def test_rerank_batch_equals_per_query_composition(spark, rerank_index):
    """The batch probed rerank (one shared codes pass with per-query
    cell masks + one candidate broadcast) must produce, per query,
    EXACTLY the single-query pq_index_rerank_topk's top-k — same keys,
    same float64 scores, same order."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_rerank_batch,
    )

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = {}
    for r in pq_index_rerank_batch(
        spark, rerank_index, queries, k=10, rerank=60, nprobe=3
    ).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["score"])
        )
    qrows = queries.collect()
    assert sorted(got) == sorted(r["query_id"] for r in qrows)
    for qr in qrows:
        want = [
            (i + 1, r.vec_id, r.score)
            for i, r in enumerate(
                pq_index_rerank_topk(
                    spark, rerank_index, qr["qvec"], k=10, rerank=60, nprobe=3
                ).collect()
            )
        ]
        assert sorted(got[qr["query_id"]]) == want, qr["query_id"]


def test_rerank_batch_prunes_both_scans(spark, rerank_index):
    """The batch form's single codes pass and single sidecar pass must
    both prune to the UNION of the queries' probed cells at planning
    time — the batch twin of test_rerank_prunes_both_scans_at_planning."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_rerank_batch,
    )

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = (
        pq_index_rerank_batch(
            spark, rerank_index, queries, k=10, rerank=60, nprobe=2
        )._jdf.queryExecution().executedPlan().toString()
    )
    scans = [
        l for l in plan.splitlines()
        if "FileScan" in l and ("/codes" in l or "/vectors" in l)
    ]
    assert len(scans) >= 2, plan
    for scan in scans:
        assert "PartitionFilters" in scan and "centroid_id" in scan.split(
            "PartitionFilters"
        )[1].split("]")[0], scan


def test_rerank_requires_vector_sidecar(spark, full_index):
    from external_benchmarks_spark.serving import PQServingIndex

    with pytest.raises(ValueError, match="store_vectors"):
        pq_index_rerank_topk(spark, full_index, QVEC, k=5, rerank=20)
    srv = PQServingIndex(full_index.root)
    with pytest.raises(ValueError, match="store_vectors"):
        srv.topk_rerank(QVEC, k=5, rerank=20)


def test_serving_rerank_bit_parity_with_spark_plan(spark, rerank_index):
    """topk_rerank answers bit-identically to pq_index_rerank_topk —
    probed and full-scan — including the float64 sequential-sum exact
    scores (the dot_product_literal op-order contract)."""
    from external_benchmarks_spark.serving import PQServingIndex

    srv = PQServingIndex(rerank_index.root)
    for nprobe in (3, None):
        want = [
            (r.vec_id, r.score)
            for r in pq_index_rerank_topk(
                spark, rerank_index, QVEC, k=10, rerank=60, nprobe=nprobe
            ).collect()
        ]
        got = srv.topk_rerank(QVEC, k=10, rerank=60, nprobe=nprobe)
        assert got == want, (nprobe, got[:3], want[:3])


def test_serving_rerank_recall_gate(spark, rerank_index):
    """The serving rerank tier meets the reference's >90% recall bar
    (README.md:76) against exact brute-force top-k — the assertion the
    pure-ADC tier honestly cannot make on flat-similarity data."""
    import numpy as np

    from external_benchmarks_spark.serving import PQServingIndex

    rows = _emb(spark).select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    q = np.asarray(QVEC, dtype=np.float64)
    scores = mat @ q
    order = np.lexsort((ids, -scores))[:50]
    true_top = {int(ids[i]) for i in order}
    srv = PQServingIndex(rerank_index.root)
    got = {vid for vid, _ in srv.topk_rerank(QVEC, k=50, rerank=250, nprobe=None)}
    recall = len(got & true_top) / 50
    assert recall >= 0.9, recall


def test_rerank_append_keeps_sidecar_and_parity(spark):
    """Appends under a store_vectors index also append the delta's raw
    vectors, and the serving rerank stays bit-identical to the Spark
    plan over the mixed (base + delta) file sets after refresh()."""
    from external_benchmarks_spark.serving import PQServingIndex

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, base, os.path.join(d, "pq"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
            store_vectors=True,
        )
        srv = PQServingIndex(idx.root)
        assert append_pq_index(spark, idx, delta, batch_id="b1") is True
        n_vec = spark.read.parquet(idx.vectors_path).count()
        assert n_vec == emb.count()
        srv.refresh()
        want = [
            (r.vec_id, r.score)
            for r in pq_index_rerank_topk(
                spark, idx, QVEC, k=10, rerank=60, nprobe=None
            ).collect()
        ]
        assert srv.topk_rerank(QVEC, k=10, rerank=60, nprobe=None) == want


def test_pq_serving_refresh_picks_up_append(spark):
    from external_benchmarks_spark.serving import PQServingIndex

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, base, os.path.join(d, "pq"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
        )
        srv = PQServingIndex(idx.root)
        n_before = sum(len(ids) for ids, _ in srv.cells.values())
        append_pq_index(spark, idx, delta, batch_id="b1")
        refreshed = srv.refresh()
        assert refreshed  # at least one dirty cell reloaded
        n_after = sum(len(ids) for ids, _ in srv.cells.values())
        assert n_after == emb.count() and n_after > n_before
        # post-refresh results match the Spark plan over the same files
        want = [
            (r.vec_id, r.pq_score)
            for r in pq_index_topk(spark, idx, QVEC, k=10, nprobe=None).collect()
        ]
        assert srv.topk(QVEC, k=10, nprobe=None) == want


@pytest.fixture(scope="module")
def filtered_index(spark):
    """Index with raw-vector sidecar AND `label` riding as a payload
    column in the codes layout — the filtered-ANN read shape."""
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "pqf")
        yield build_pq_index(
            spark, _emb(spark), root,
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
            store_vectors=True, payload_cols=("label",),
        )


def test_filtered_rerank_is_prefilter_not_postfilter(spark, filtered_index):
    """With rerank >= the filtered-set size, pq_index_filtered_rerank
    must return EXACTLY the brute-force within-filter top-k — the
    defining property of the pre-filter form. A post-filter
    implementation (top-R of the unfiltered set, then filter) drops
    in-filter rows whose ADC rank falls outside R and fails this."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_filtered_rerank,
    )

    emb = _emb(spark)
    rows = emb.filter(F.col("label").isin(1, 3)).select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    # exact top-k within the filter, (-score, vec_id) order — computed
    # with the same sequential left-to-right sum the plan uses
    scores = np.array([
        float(np.sum(np.cumsum(v * np.asarray(QVEC))[-1:])) for v in mat
    ])
    order = np.lexsort((ids, -scores))[:10]
    want = [int(ids[i]) for i in order]
    got = [
        r.vec_id
        for r in pq_index_filtered_rerank(
            spark, filtered_index, QVEC,
            predicate=F.col("label").isin(1, 3),
            k=10, rerank=len(rows), nprobe=None,
        ).collect()
    ]
    assert got == want


def test_filtered_rerank_selective_predicate_returns_in_filter_rows(
    spark, filtered_index
):
    """A predicate with fewer than k satisfying rows returns exactly
    those rows (every one of them, ranked) — never rows outside the
    filter, never an error. The classic post-filter failure mode is
    returning << the available in-filter rows."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_filtered_rerank,
    )

    emb = _emb(spark)
    few = emb.filter(F.col("label") == 7).select("vec_id").collect()
    n_few = len(few)
    assert 0 < n_few  # fixture data has every label
    out = pq_index_filtered_rerank(
        spark, filtered_index, QVEC,
        predicate=F.col("label") == 7,
        k=n_few + 25, rerank=n_few + 50, nprobe=None,
    ).collect()
    assert len(out) == n_few
    assert {r.vec_id for r in out} == {r.vec_id for r in few}


def test_filtered_rerank_plan_prunes_and_prefilters(spark, filtered_index):
    """The filtered read's plan contract: BOTH file scans carry the
    driver-resolved centroid_id partition filter (cell-directory
    pruning at planning time), and the label predicate sits ON the
    codes scan (pushed/data filter) — i.e. the filter applies BEFORE
    ADC candidate selection, at the parquet reader, not against the
    source table and not after the top-R limit."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_filtered_rerank,
    )

    plan = (
        pq_index_filtered_rerank(
            spark, filtered_index, QVEC,
            predicate=F.col("label").isin(1, 3),
            k=10, rerank=60, nprobe=2,
        )._jdf.queryExecution().executedPlan().toString()
    )
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) >= 2, plan  # codes + vectors
    for scan in scans:
        assert "PartitionFilters" in scan and "centroid_id" in scan.split(
            "PartitionFilters"
        )[1].split("]")[0], scan
    codes_scan = next(s for s in scans if "/codes" in s)
    assert "label" in codes_scan, codes_scan
    # the source embeddings table is never scanned at query time
    assert "embeddings.parquet" not in plan, plan


def test_filtered_rerank_requires_payload_cols(spark, rerank_index):
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_filtered_rerank,
    )

    with pytest.raises(ValueError, match="payload"):
        pq_index_filtered_rerank(
            spark, rerank_index, QVEC,
            predicate=F.col("label") == 1, k=5,
        )


def test_serving_filtered_rerank_bit_parity_with_spark_plan(
    spark, filtered_index
):
    """topk_rerank(where=...) answers bit-identically to
    pq_index_filtered_rerank — probed and full-scan, a broad and a
    selective (< k in-filter rows) predicate. Parity transfers the
    Spark side's prefilter-not-postfilter and within-filter-rows
    properties to the serving tier (r15)."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_filtered_rerank,
    )
    from external_benchmarks_spark.serving import PQServingIndex

    srv = PQServingIndex(filtered_index.root)
    cases = [
        ({"label": [1, 3]}, F.col("label").isin(1, 3), 10, 60),
        ({"label": [7]}, F.col("label") == 7, 40, 80),
    ]
    for where, pred, k, rerank in cases:
        for nprobe in (3, None):
            want = [
                (r.vec_id, r.score)
                for r in pq_index_filtered_rerank(
                    spark, filtered_index, QVEC, predicate=pred,
                    k=k, rerank=rerank, nprobe=nprobe,
                ).collect()
            ]
            got = srv.topk_rerank(
                QVEC, k=k, rerank=rerank, nprobe=nprobe, where=where
            )
            assert got == want, (where, nprobe, got[:3], want[:3])


def test_serving_filtered_parity_survives_append_refresh(spark):
    """Payload columns ride through append + serving refresh(): after
    an append lands a delta batch, the refreshed serving view's
    filtered answers stay bit-identical to the Spark plan over the
    mixed (base + delta) file sets."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_filtered_rerank,
    )
    from external_benchmarks_spark.serving import PQServingIndex

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, base, os.path.join(d, "pqf"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
            store_vectors=True, payload_cols=("label",),
        )
        srv = PQServingIndex(idx.root)
        assert append_pq_index(spark, idx, delta, batch_id="b1") is True
        srv.refresh()
        want = [
            (r.vec_id, r.score)
            for r in pq_index_filtered_rerank(
                spark, idx, QVEC, predicate=F.col("label").isin(1, 3),
                k=10, rerank=60, nprobe=None,
            ).collect()
        ]
        got = srv.topk_rerank(
            QVEC, k=10, rerank=60, nprobe=None, where={"label": [1, 3]}
        )
        assert got == want


def test_serving_where_validates(spark, filtered_index, rerank_index):
    """A where over a non-payload column names the offender; a where
    against an index with no payload columns fails the same way."""
    from external_benchmarks_spark.serving import PQServingIndex

    srv = PQServingIndex(filtered_index.root)
    with pytest.raises(ValueError, match="nope"):
        srv.topk(QVEC, k=5, where={"nope": [1]})
    bare = PQServingIndex(rerank_index.root)
    with pytest.raises(ValueError, match="payload"):
        bare.topk(QVEC, k=5, where={"label": [1]})


def test_string_payload_filtered_rerank_parity(spark):
    """A string payload column keeps its own type through pq_encode, and
    the serving where= filter over it answers bit-identically to the
    Spark predicate on the codes scan."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_filtered_rerank,
    )
    from external_benchmarks_spark.serving import PQServingIndex

    emb = _emb(spark).withColumn(
        "main_category", F.concat(F.lit("cat"), F.col("label").cast("string"))
    )
    cats = {"cat1", "cat3"}
    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, emb, os.path.join(d, "pqs"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
            store_vectors=True, payload_cols=("main_category",),
        )
        assert dict(pq_index_codes(spark, idx).dtypes)["main_category"] == "string"
        srv = PQServingIndex(idx.root)
        for nprobe in (3, None):
            want = [
                (r.vec_id, r.score)
                for r in pq_index_filtered_rerank(
                    spark, idx, QVEC,
                    predicate=F.col("main_category").isin(*sorted(cats)),
                    k=10, rerank=60, nprobe=nprobe,
                ).collect()
            ]
            got = srv.topk_rerank(
                QVEC, k=10, rerank=60, nprobe=nprobe,
                where={"main_category": cats},
            )
            assert want and got == want, (nprobe, got[:3], want[:3])


def test_fingerprint_recipe_is_current_after_build_and_append(spark):
    """pq_index_fingerprint is the recipe build and append record and the
    registry's reuse check computes; its digest stays the one indexes
    already on disk carry."""
    import __spark_entry__ as entry_mod
    from external_benchmarks_spark.pipeline.layout import (
        layout_is_current,
        source_fingerprint,
    )
    from external_benchmarks_spark.pipeline.pqindex import pq_index_fingerprint

    emb = _emb(spark)
    src = [os.path.join(SF_DIR, "embeddings.parquet")]

    def fp(applied):
        return pq_index_fingerprint(
            src, N_CODES, M, N_CENT, payload_cols=("label",), applied=applied
        )

    with tempfile.TemporaryDirectory() as d:
        idx = build_pq_index(
            spark, emb.filter(F.col("vec_id") % 10 != 0), os.path.join(d, "pq"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT,
            source_paths=src, payload_cols=("label",),
        )
        assert layout_is_current(idx.codes_path, fp([]))
        assert append_pq_index(
            spark, idx, emb.filter(F.col("vec_id") % 10 == 0),
            batch_id="b1", source_paths=src,
        )
        assert layout_is_current(idx.codes_path, fp(["b1"]))
        assert not layout_is_current(idx.codes_path, fp([]))
    legacy = source_fingerprint(src, extra={
        "pq": {"n_codes": N_CODES, "m": M, "n_centroids": N_CENT,
               "metric": "cosine", "payload_cols": ["label"]},
        "applied": ["b1"],
    })
    assert fp(["b1"]) == legacy
    assert entry_mod._pq_index_fp(SF_DIR, ["b1"], ("label",)) == (
        pq_index_fingerprint(
            src, entry_mod.PQ_CODES, entry_mod.PQ_M,
            entry_mod.IVF_N_CENTROIDS, payload_cols=("label",),
            applied=["b1"],
        )
    )


def test_filtered_rerank_parity_at_reference_width(spark, tmp_path):
    """At the reference's 2,688 dims the Spark rerank plan (the exact
    top-k kernel over the joined candidates) runs on the session's
    default codegen settings and equals the serving tier bit for bit —
    probed and full-scan."""
    from external_benchmarks_spark.pipeline.pqindex import (
        pq_index_filtered_rerank,
    )
    from external_benchmarks_spark.serving import PQServingIndex

    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    rng = np.random.default_rng(5)
    n, d = 300, 2688
    mat = rng.standard_normal((n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, i % 5, mat[i].tolist()) for i in range(n)],
        "vec_id bigint, label int, embedding array<float>",
    )
    index = build_pq_index(
        spark, df, str(tmp_path / "pq2688"),
        n_codes=N_CODES, m_subspaces=M, n_centroids=4,
        store_vectors=True, payload_cols=("label",),
    )
    srv = PQServingIndex(index.root)
    q = [float(v) for v in mat[7]]
    for nprobe in (2, None):
        want = [
            (r.vec_id, r.score)
            for r in pq_index_filtered_rerank(
                spark, index, q, F.col("label").isin(1, 2),
                k=10, rerank=40, nprobe=nprobe,
            ).collect()
        ]
        got = srv.topk_rerank(q, k=10, rerank=40, nprobe=nprobe, where={"label": [1, 2]})
        assert len(want) == 10
        assert got == want, nprobe


def test_build_samples_once(spark, tmp_path):
    """The centroids and the codebooks are prefixes of one hash sample:
    a build with the raw-vector sidecar runs five jobs, one sample read
    (functions/vector.hash_sample) and two per layout write, and its
    quantizers equal the two separately sampled ones."""
    emb = _emb(spark)  # its file listing is not part of the build
    sc = spark.sparkContext
    sc.setJobGroup("pq-build-jobs", "pq-build-jobs")
    try:
        index = build_pq_index(
            spark, emb, str(tmp_path / "pq"),
            n_codes=N_CODES, m_subspaces=M, n_centroids=N_CENT, store_vectors=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup("pq-build-jobs"))
    names = [jsc.statusStore().job(j).name() for j in jobs]
    assert len(jobs) == 5, names
    assert sum("functions/vector.py" in n for n in names) == 1, names
    assert np.array_equal(index.centroids, sampled_centroids(emb, n_centroids=N_CENT))
    assert np.array_equal(index.codebooks, pq_codebooks(emb, n_codes=N_CODES, m_subspaces=M))
