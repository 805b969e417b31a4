"""Integer-exact Lloyd's k-means: separation on planted clusters,
empty-cluster retention, determinism across runs, fixed-point
quantization."""

from __future__ import annotations

import pyspark.sql.functions as F


def _planted(spark):
    """Three well-separated clusters in 4-d: around (1,0,0,0),
    (0,1,0,0), (-1,0,0,-1) with tiny deterministic jitter."""
    rows = []
    centers = [(1.0, 0.0, 0.0, 0.0), (0.0, 1.0, 0.0, 0.0), (-1.0, 0.0, 0.0, -1.0)]
    vid = 0
    for ci, c in enumerate(centers):
        for i in range(30):
            jit = ((i % 7) - 3) / 1000.0
            rows.append((vid, [c[0] + jit, c[1] - jit, c[2] + jit / 2, c[3]]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_kmeans_refines_and_converges(spark):
    """Lloyd properties that hold regardless of where the hash-sampled
    seeds land (seeds may split a planted cluster — that is k-means,
    not a bug): every vector stays assigned, total inertia never
    increases with more rounds, and once converged further rounds are
    a fixpoint (idempotent updates)."""
    from external_benchmarks_spark.operators.kmeans import kmeans_refine

    df = _planted(spark)
    total = lambda prof: sum(r.inertia_micro for r in prof.collect())
    members = lambda prof: sum(r.n_members for r in prof.collect())
    _c1, p1 = kmeans_refine(df, k=3, n_iter=1)
    _c4, p4 = kmeans_refine(df, k=3, n_iter=4)
    _c8, p8 = kmeans_refine(df, k=3, n_iter=8)
    assert members(p1) == members(p4) == members(p8) == 90
    assert total(p4) <= total(p1)
    assert sorted(tuple(r) for r in p4.collect()) == sorted(
        tuple(r) for r in p8.collect()
    )


def test_kmeans_deterministic_across_runs(spark):
    from external_benchmarks_spark.operators.kmeans import kmeans_refine

    df = _planted(spark)
    a = sorted(tuple(r) for r in kmeans_refine(df, k=3, n_iter=3)[1].collect())
    b = sorted(tuple(r) for r in kmeans_refine(df, k=3, n_iter=3)[1].collect())
    assert a == b


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """With k larger than the number of distinct points, the extra
    seeds attract nothing and must keep their previous centroid
    instead of vanishing (k centroids in, k centroids out)."""
    from external_benchmarks_spark.operators.kmeans import kmeans_refine

    rows = [(i, [1.0, 1.0]) for i in range(5)] + [(9, [-1.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents, prof = kmeans_refine(df, k=4, n_iter=3)
    assert cents.count() == 4
    # every vector lands somewhere; totals preserved
    assert sum(r.n_members for r in prof.collect()) == 6


def test_quantize_is_floor_fixed_point(spark):
    from external_benchmarks_spark.operators.kmeans import quantize_vectors

    df = spark.createDataFrame(
        [(1, [0.5, -0.5, 0.1234567, -0.0000004])],
        "vec_id bigint, embedding array<double>",
    )
    vi = quantize_vectors(df).collect()[0].vi
    assert vi == [500000, -500000, 123456, -1]  # floor, not round/trunc


def test_kmeans_assignment_is_map_only(spark):
    """Assignment must be a pure map over the vectors — no Exchange, no
    join of any kind (r15: the k x dim centroids ride into the plan as
    literals and the argmin is one array_min expression; the previous
    broadcast-crossJoin + re-group shape shuffled k copies of every
    vector per round). This is the property that keeps a Lloyd round at
    one corpus scan with zero corpus shuffle at any scale."""
    from external_benchmarks_spark.operators.kmeans import (
        _assign,
        kmeans_init,
        quantize_vectors,
    )

    v = quantize_vectors(_planted(spark))
    c = kmeans_init(v, 3)
    plan = _assign(v, c)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]
    assert "Join" not in plan, plan[:800]
    # the k-way argmin expression must be evaluated ONCE per row: a
    # collapsed projection inlines it once per extracted field
    # (measured ~3x slower) — the struct alias must survive planning
    assert plan.count("array_min") == 1, plan[:1200]


def test_kmeans_seed_stage_has_no_single_reducer(spark):
    """The seed pick must plan as a distributed TakeOrderedAndProject
    (per-partition top-k), never an unpartitioned window or a sort over
    a single-partition exchange — the corpus-sized single-reducer
    anti-pattern operators/ranking.py exists to eliminate (mirrors
    test_ranking.test_global_rank_window_is_partitioned)."""
    from external_benchmarks_spark.operators.kmeans import quantize_vectors

    v = quantize_vectors(_planted(spark))
    seed_plan = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(3)
        .select("vi")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in seed_plan, seed_plan[:800]
    assert "Window" not in seed_plan, seed_plan[:800]
    assert "SinglePartition" not in seed_plan, seed_plan[:800]


def test_kmeans_init_matches_former_window_semantics(spark):
    """Seed selection order is observable in the oracle (c0 CTE): cid i
    must be the row with the i-th smallest (md5(vec_id), vec_id) key —
    identical to the row_number() form it replaced."""
    from external_benchmarks_spark.operators.kmeans import (
        kmeans_init,
        quantize_vectors,
    )
    import hashlib

    v = quantize_vectors(_planted(spark))
    got = {r.cid: r.ci for r in kmeans_init(v, 5).collect()}
    rows = v.collect()
    order = sorted(
        rows, key=lambda r: (hashlib.md5(str(r.vec_id).encode()).hexdigest(), r.vec_id)
    )
    assert len(got) == 5
    for i in range(5):
        assert got[i] == order[i].vi


def test_kmeans_empty_input(spark):
    from external_benchmarks_spark.operators.kmeans import kmeans_refine

    df = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    cents, prof = kmeans_refine(df, k=4, n_iter=2)
    assert cents.count() == 0 and prof.count() == 0


def test_assign_rejects_non_contiguous_cids(spark):
    """_assign keys centroids by sorted position, so a centroid table
    whose cids are not exactly 0..k-1 must raise, not be re-keyed."""
    import pytest

    from external_benchmarks_spark.operators.kmeans import (
        _assign,
        kmeans_init,
        quantize_vectors,
    )

    v = quantize_vectors(_planted(spark))
    c = kmeans_init(v, 3)
    assert _assign(v, c).select("cid").distinct().count() <= 3
    gapped = c.filter(F.col("cid") != 1)  # cids 0, 2
    with pytest.raises(ValueError, match="0..k-1"):
        _assign(v, gapped)
