"""Similarity-search quality: LSH recall vs exact oracle (the reference's
own acceptance test — README.md:76 requires >90% average recall)."""

from __future__ import annotations

import pyspark.sql.functions as F

from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.functions.vector import dot_product, dot_product_literal
from external_benchmarks_spark.operators.similarity import (
    bruteforce_topk,
    lsh_bucketed_topk,
)
from external_benchmarks_spark.operators.topk import per_query_topk, recall_at_k

import __spark_entry__ as entry_mod


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    exact = {r.vec_id for r in bruteforce_topk(emb, entry_mod.QVEC, k=10).collect()}
    # Multi-probe LSH at the default probe width must meet the reference's
    # >90% recall bar (README.md:76) — measured honest worst case: the
    # synthetic vectors are uniform random, LSH's hardest input.
    approx = {
        r.vec_id
        for r in lsh_bucketed_topk(
            emb, entry_mod.QVEC, k=10, n_planes=8, min_matching_bits=3
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} < 0.9"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF (KMeans cells + nprobe) must hit the same >90% recall bar, and
    the probe must actually prune: candidates < full table."""
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        ivf_fit,
        ivf_probe_cells,
        ivf_topk,
    )

    emb = Catalog(spark, sf_dir).embeddings
    exact = {r.vec_id for r in bruteforce_topk(emb, entry_mod.QVEC, k=10).collect()}
    centroids = ivf_fit(emb, n_centroids=16, seed=42)
    assigned = ivf_assign(emb, centroids)
    approx = {
        r.vec_id
        for r in ivf_topk(assigned, centroids, entry_mod.QVEC, k=10, nprobe=12).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall} < 0.9"
    # Pruning: the probed cells hold strictly less than the whole table.
    cells = ivf_probe_cells(centroids, entry_mod.QVEC, nprobe=12)
    assert len(cells) == 12
    n_cand = assigned.filter(F.col("centroid_id").isin(cells)).count()
    assert 0 < n_cand < emb.count()


def test_ann_recall_at_reference_dimensionality(spark, sf_dir):
    """The reference's recall gate is defined over 2,688-dim embeddings
    (reference README.md:52-55,76) — hyperplane LSH and IVF geometry
    both change with width, so the >=0.9 bar is asserted AT that width,
    not only at the testdata's 64 dims. Corpus: the documents table
    embedded at dim 2688 by the hashed n-gram encoder (the same
    sandbox stand-in the embed pipeline uses); recall@100 vs exact
    brute force. Every scorer here is the exact top-k kernel, which
    runs at this width (a per-dimension unrolled Catalyst expression
    overflows the JVM analyzer stack)."""
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        ivf_fit,
        ivf_topk,
    )
    from external_benchmarks_spark.pipeline.embedding import (
        embed_text_udf,
        hashed_ngram_encode,
    )

    dim = 2688
    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id", "text")
        .where(F.col("doc_id") < 2000)
    )
    emb = docs.select(
        F.col("doc_id").alias("vec_id"),
        embed_text_udf(dim=dim)(F.coalesce(F.col("text"), F.lit(""))).alias(
            "embedding"
        ),
    ).cache()
    try:
        qvec = [
            float(x)
            for x in hashed_ngram_encode(["filtered vector query"], dim)[0]
        ]
        exact = {
            r.vec_id
            for r in bruteforce_topk(emb, qvec, k=100).collect()
        }
        assert len(exact) == 100

        centroids = ivf_fit(emb, n_centroids=16, seed=42)
        assert centroids.shape == (16, dim)
        assigned = ivf_assign(emb, centroids)
        ivf = {
            r.vec_id
            for r in ivf_topk(assigned, centroids, qvec, k=100, nprobe=12).collect()
        }
        ivf_recall = len(exact & ivf) / len(exact)
        assert ivf_recall >= 0.9, f"IVF recall {ivf_recall} < 0.9 at dim {dim}"

        lsh = {
            r.vec_id
            for r in lsh_bucketed_topk(
                emb, qvec, k=100, n_planes=8, min_matching_bits=2
            ).collect()
        }
        lsh_recall = len(exact & lsh) / len(exact)
        assert lsh_recall >= 0.9, f"LSH recall {lsh_recall} < 0.9 at dim {dim}"
    finally:
        emb.unpersist()


def test_ivf_assignment_covers_all_rows(spark, sf_dir):
    """Every row lands in exactly one of the k cells (partition-key
    invariant for the centroid-partitioned layout)."""
    from external_benchmarks_spark.operators.similarity import ivf_assign, ivf_fit

    emb = Catalog(spark, sf_dir).embeddings
    centroids = ivf_fit(emb, n_centroids=8, seed=7)
    assigned = ivf_assign(emb, centroids)
    assert assigned.filter(F.col("centroid_id").isNull()).count() == 0
    ids = {r.centroid_id for r in assigned.select("centroid_id").distinct().collect()}
    assert ids <= set(range(8))
    assert assigned.count() == emb.count()


def test_per_query_ivf_recall(spark, sf_dir):
    """Batch ANN through the IVF index: avg recall >= 0.9 vs the exact
    per-query oracle, with fewer scored pairs than brute force."""
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        ivf_fit,
        ivf_probe_cells,
        per_query_ivf_topk,
    )

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = per_query_topk(emb, queries, k=10, item_key="vec_id")
    centroids = ivf_fit(emb, n_centroids=16, seed=42)
    assigned = ivf_assign(emb, centroids)
    # NOTE metric="dot" to match per_query_topk's dot-product ranking;
    # probe geometry still uses the spherical (cosine) cells.
    approx = per_query_ivf_topk(
        assigned, centroids, queries, k=10, nprobe=12, metric="dot"
    )
    r = recall_at_k(approx, exact, "query_id", "vec_id").collect()
    avg = sum(row.recall for row in r) / len(r)
    assert len(r) == 8
    assert avg >= 0.9, f"avg recall {avg} < 0.9"
    # the masked kernel equals the Catalyst fold over each query's
    # probed cells, ids and score bits
    probes = spark.createDataFrame(
        [
            (int(r.query_id), c)
            for r in queries.collect()
            for c in ivf_probe_cells(centroids, r.qvec, 12)
        ],
        "query_id bigint, centroid_id int",
    )
    want = _catalyst_per_query(
        assigned.join(probes, "centroid_id").join(queries, "query_id"), 10, dot_product
    )
    assert _ranked(approx) == want


def test_recall_at_k_operator(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = per_query_topk(emb, queries, k=5, item_key="vec_id")
    # Recall of the exact result against itself must be 1.0 per query.
    r = recall_at_k(exact, exact, "query_id", "vec_id").collect()
    assert len(r) == 3
    assert all(abs(row.recall - 1.0) < 1e-12 for row in r)


def _catalyst_per_query(pairs, k, scorer):
    """Reference per-query top-k from the Catalyst column functions: every
    (item, query) pair scored by ``scorer``, ranked by (-score, key)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    rows = (
        pairs.withColumn("score", scorer("embedding", "qvec"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    )
    return {(r.query_id, r["rank"]): (r.vec_id, r.score.hex()) for r in rows}


def _ranked(df):
    return {(r.query_id, r["rank"]): (r.vec_id, r.score.hex()) for r in df.collect()}


def test_per_query_topk_fast_path_matches_hof(spark, sf_dir):
    """The batch kernel's per-query top-k equals the Catalyst
    ``dot_product`` fold over every pair: same ids, same score bits."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = _ranked(per_query_topk(emb, queries, k=7, item_key="vec_id"))
    assert got == _catalyst_per_query(emb.crossJoin(queries), 7, dot_product)


def test_filtered_topk_fast_path_matches_hof(spark, sf_dir):
    """The batch kernel's top-k equals ``dot_product_literal`` ranked by
    (-score, key): same ids, same score bits."""
    from external_benchmarks_spark.operators.topk import filtered_vector_topk

    emb = Catalog(spark, sf_dir).embeddings
    got = [
        (r.vec_id, r.score.hex())
        for r in filtered_vector_topk(emb, entry_mod.QVEC, None, k=20).collect()
    ]
    want = [
        (r.vec_id, r.score.hex())
        for r in emb.select(
            "vec_id", dot_product_literal("embedding", entry_mod.QVEC).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(20)
        .collect()
    ]
    assert got == want


def test_ivf_sampled_fit_still_recalls(spark, sf_dir):
    """The 100 TB fit path: centroids fit on a 30% sample must still
    carry the probe to >=0.9 recall."""
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        ivf_fit,
        ivf_topk,
    )

    emb = Catalog(spark, sf_dir).embeddings
    exact = {r.vec_id for r in bruteforce_topk(emb, entry_mod.QVEC, k=10).collect()}
    centroids = ivf_fit(emb, n_centroids=16, seed=42, sample_fraction=0.3)
    approx = {
        r.vec_id
        for r in ivf_topk(
            ivf_assign(emb, centroids), centroids, entry_mod.QVEC, k=10, nprobe=12
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"sampled-fit IVF recall {recall} < 0.9"


def test_cluster_profile_partitions_table(spark, sf_dir):
    """Cluster sizes sum to the table size, every cohesion average is a
    valid cosine, and cohesion_fp is exactly the sum its avg derives from."""
    from external_benchmarks_spark.operators.similarity import (
        cluster_profile,
        ivf_assign,
        sampled_centroids,
    )

    emb = Catalog(spark, sf_dir).embeddings
    cents = sampled_centroids(emb, n_centroids=8)
    prof = cluster_profile(ivf_assign(emb, cents), cents).collect()
    assert sum(r.n_members for r in prof) == emb.count()
    for r in prof:
        assert -1.0 - 1e-6 <= r.avg_cos <= 1.0 + 1e-6
        assert r.min_cos_fp <= r.cohesion_fp / r.n_members
        assert r.avg_cos == r.cohesion_fp / (r.n_members * 1_000_000)


def test_maxsim_self_retrieval(spark, sf_dir):
    """A query made of a document's own token vectors must rank that
    document first (each query token aligns perfectly to itself), and
    MaxSim must dominate the single-vector whole-embedding dot for it."""
    from external_benchmarks_spark.operators.similarity import maxsim_topk

    emb = Catalog(spark, sf_dir).embeddings
    target = emb.filter(F.col("vec_id") == 7).select("embedding").collect()
    doc_vec = [float(x) for x in target[0][0]]
    qtokens = [doc_vec[i * 8 : (i + 1) * 8] for i in range(8)]
    top = maxsim_topk(emb, qtokens, k=5, n_chunks=8).collect()
    assert top[0]["vec_id"] == 7


def test_maxsim_plan_is_map_only_topk(spark, sf_dir):
    """Packed multi-vector scoring must stay a map-only scan into
    TakeOrderedAndProject — no explode-induced shuffle, no join."""
    from external_benchmarks_spark.operators.similarity import maxsim_topk

    import __spark_entry__ as em

    df = maxsim_topk(
        Catalog(spark, sf_dir).embeddings, em.MAXSIM_QTOKENS, k=20
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_rrf_fuse_semantics(spark):
    """Both-list items outrank single-list items at comparable ranks;
    an absent list contributes exactly zero."""
    from external_benchmarks_spark.operators.topk import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "id bigint, rank_a int"
    )
    b = spark.createDataFrame(
        [(2, 1), (4, 2)], "id bigint, rank_b int"
    )
    out = {r["id"]: r["rrf"] for r in rrf_fuse(a, b, key_col="id").collect()}
    assert out[2] == 1.0 / 62 + 1.0 / 61  # in both lists
    assert out[1] == 1.0 / 61  # only list a
    assert out[4] == 1.0 / 62  # only list b
    assert max(out, key=out.get) == 2


def test_mmr_diversifies_vs_pure_relevance(spark, sf_dir):
    """MMR must (a) start from the most-relevant item, (b) never repeat
    an item, and (c) with lam=0 pick maximally-dissimilar items —
    diverging from the pure-relevance ranking."""
    from external_benchmarks_spark.operators.similarity import (
        bruteforce_topk,
        mmr_topk,
    )
    import __spark_entry__ as em

    emb = Catalog(spark, sf_dir).embeddings
    rel = [r["vec_id"] for r in bruteforce_topk(emb, em.QVEC, k=10).collect()]
    mmr = mmr_topk(emb, em.QVEC, k=10, m=50, lam=0.7).collect()
    picked = [r["vec_id"] for r in sorted(mmr, key=lambda r: r["mmr_rank"])]
    assert picked[0] == rel[0]  # greedy seeds with the top relevance
    assert len(set(picked)) == len(picked)
    diverse = mmr_topk(emb, em.QVEC, k=10, m=50, lam=0.0).collect()
    div_ids = [r["vec_id"] for r in sorted(diverse, key=lambda r: r["mmr_rank"])]
    assert div_ids != rel  # lam=0 ignores relevance after the seed


def _catalyst_maxsim(df, query_tokens, k, n_chunks=8):
    """Reference: the Catalyst MaxSim (slice -> zip_with fold per chunk,
    greatest() across chunks, per-token 1e-6 fixed point summed as
    BIGINT), ranked by (maxsim desc, key)."""
    width = len(query_tokens[0])
    e = F.col("embedding").cast("array<double>")
    total = None
    for qt in query_tokens:
        qlit = F.lit([float(x) for x in qt])
        dots = [
            F.aggregate(
                F.zip_with(F.slice(e, ci * width + 1, width), qlit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for ci in range(n_chunks)
        ]
        tm = F.greatest(*dots) if len(dots) > 1 else dots[0]
        fp = F.round(tm * 1_000_000.0, 0).cast("bigint")
        total = fp if total is None else total + fp
    return [
        (r[0], r[1])
        for r in df.select("vec_id", (total.cast("double") / 1_000_000.0).alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def test_maxsim_arrow_fast_path_matches_hof(spark, sf_dir):
    """The one einsum-and-fold path must give the Catalyst form's ids
    and score bits, also at a reference-like width (2,688 dims = 8
    chunks x 336)."""
    from external_benchmarks_spark.operators.similarity import maxsim_topk

    import __spark_entry__ as em

    emb = Catalog(spark, sf_dir).embeddings
    got = [tuple(r) for r in maxsim_topk(emb, em.MAXSIM_QTOKENS, k=20).collect()]
    assert got == _catalyst_maxsim(emb, em.MAXSIM_QTOKENS, 20)

    # wide synthetic check: 2,688 dims, 8 chunks of 336
    import random

    rnd = random.Random(7)
    wide = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(2688)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    qtok = [[rnd.uniform(-1, 1) for _ in range(336)] for _ in range(4)]
    got = [tuple(r) for r in maxsim_topk(wide, qtok, k=10, n_chunks=8).collect()]
    assert got == _catalyst_maxsim(wide, qtok, 10)

    # large cancelling terms: any other summation order moves the 1e-6
    # fixed point by many units, so only the fold's bits match
    big = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) * 10 ** rnd.randint(0, 5) for _ in range(256)]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    qtok = [[rnd.uniform(-1, 1) * 10 ** rnd.randint(0, 5) for _ in range(32)] for _ in range(4)]
    got = [tuple(r) for r in maxsim_topk(big, qtok, k=10, n_chunks=8).collect()]
    assert got == _catalyst_maxsim(big, qtok, 10)


def test_maxsim_null_element_chunk(spark):
    """A chunk holding a null element is skipped, as greatest() skips its
    null dot; a row with no valid chunk scores null and ranks last."""
    from external_benchmarks_spark.operators.similarity import maxsim_topk

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.5, 0.5]),
            (2, [None, 0.0, 0.9, 0.1]),  # only chunk 2 counts
            (3, [0.9, None, 0.2, 0.2]),  # only chunk 2 counts
            (4, [None, 1.0, 1.0, None]),  # no valid chunk
            (5, [0.2, 0.2, 0.3, 0.1]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    q = [[1.0, 0.25]]
    got = [tuple(r) for r in maxsim_topk(df, q, k=5, n_chunks=2).collect()]
    assert got == _catalyst_maxsim(df, q, 5, n_chunks=2)
    assert got[-1] == (4, None)
    assert dict(got)[2] == 0.925


def test_maxsim_rejects_width_mismatch_and_handles_one_chunk(spark):
    """MaxSim must fail loudly when n_chunks*width != embedding
    length (no silent partial-chunk scoring), and n_chunks=1 must work
    (single-token documents)."""
    import pytest

    from external_benchmarks_spark.operators.similarity import maxsim_topk

    df = spark.createDataFrame(
        [(0, [float(i) for i in range(64)])],
        "vec_id bigint, embedding array<double>",
    )
    bad_q = [[1.0] * 16]  # 8 chunks x 16 = 128 != 64
    with pytest.raises(Exception):
        maxsim_topk(df, bad_q, k=1, n_chunks=8).collect()
    # one chunk of full width == plain dot product
    one = maxsim_topk(df, [[1.0] * 64], k=1, n_chunks=1).collect()
    assert one[0]["maxsim"] == float(sum(range(64)))


def test_mmr_k_zero_and_string_keys(spark):
    """k<=0 returns an empty frame; non-bigint keys keep their type."""
    from external_benchmarks_spark.operators.similarity import mmr_topk

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "doc_key string, embedding array<double>",
    )
    assert mmr_topk(df, [1.0, 0.0], k=0, m=5, key_col="doc_key").count() == 0
    got = mmr_topk(df, [1.0, 0.0], k=2, m=5, key_col="doc_key").collect()
    assert [r["doc_key"] for r in sorted(got, key=lambda r: r["mmr_rank"])] == ["a", "b"]


def _mmr_fold_reference(df, qvec, k, m, lam):
    """MMR written out as a literal Python fold: cosine relevance with
    ``cosine_similarity_literal``'s op order and query norm, the top m by
    (-rel, key), then the greedy over left-to-right pair folds on 1e-6
    fixed-point integers."""
    import math

    import numpy as np

    def fold(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc += x * y
        return acc

    def fp(x):
        y = x * 1_000_000.0
        f = math.floor(abs(y))
        r = f + 1 if abs(y) - f >= 0.5 else f
        return int(math.copysign(r, y)) if y != 0.0 else 0

    qn = float(np.sqrt(np.dot(qvec, qvec)))
    scored = []
    for r in df.select("vec_id", "embedding").collect():
        e = [float(x) for x in r.embedding]
        scored.append((r.vec_id, e, fold(e, qvec) / (math.sqrt(fold(e, e)) * qn)))
    rows = sorted(scored, key=lambda t: (-t[2], t[0]))[:m]
    ids = [t[0] for t in rows]
    rels = [t[2] for t in rows]
    ens = []
    for _, e, _ in rows:
        n = math.sqrt(fold(e, e))
        ens.append([x / n for x in e] if n else e)
    out, chosen, rest = [(ids[0], fp(rels[0]))], [0], set(range(1, len(rows)))
    while len(out) < k and rest:
        best = None
        for i in rest:
            s = fp(lam * rels[i] - (1 - lam) * max(fold(ens[i], ens[j]) for j in chosen))
            if best is None or s > best[1] or (s == best[1] and ids[i] < ids[best[0]]):
                best = (i, s)
        out.append((ids[best[0]], best[1]))
        chosen.append(best[0])
        rest.discard(best[0])
    return [(rank, vid, s / 1_000_000.0) for rank, (vid, s) in enumerate(out, 1)]


def test_mmr_fast_path_matches_fold_selection(spark, sf_dir):
    """The kernel-fed numpy greedy picks the same documents, in the same
    order and with the same scores, as the literal fold form — at the
    testdata's 64 dims and at 2,688."""
    import random

    from external_benchmarks_spark.operators.similarity import mmr_topk

    import __spark_entry__ as em

    emb = Catalog(spark, sf_dir).embeddings
    rnd = random.Random(11)
    wide = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(2688)]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    qwide = [rnd.uniform(-1, 1) for _ in range(2688)]
    for df, q in ((emb, em.QVEC), (wide, qwide)):
        got = [
            (r["mmr_rank"], r["vec_id"], r["mmr_score"])
            for r in mmr_topk(df, q, k=10, m=50).collect()
        ]
        assert got == _mmr_fold_reference(df, q, 10, 50, 0.7)


def test_score_fuse_and_rrf_many_semantics(spark):
    """score_fuse: min-max normalization, convexity (alpha=1 follows
    list A), constant-list -> 1.0, absent -> 0 contribution.
    rrf_fuse_many: three-list fold equals the sum of per-list
    contributions."""
    from external_benchmarks_spark.operators.topk import (
        rrf_fuse_many,
        score_fuse,
    )

    a = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 0.0)], "id bigint, score_a double"
    )
    b = spark.createDataFrame(
        [(2, 7.0), (4, 7.0)], "id bigint, score_b double"  # constant list
    )
    out = {r["id"]: r["fused"] for r in score_fuse(a, b, alpha=0.5).collect()}
    # a normalizes to {1:1.0, 2:0.5, 3:0.0}; constant b -> 1.0 for 2 and 4
    assert out[1] == 0.5 and out[2] == 0.75 and out[3] == 0.0 and out[4] == 0.5
    top_a = {
        r["id"]: r["fused"] for r in score_fuse(a, b, alpha=1.0).collect()
    }
    assert top_a[1] == 1.0 and top_a[4] == 0.0  # alpha=1 ignores list b

    r1 = spark.createDataFrame([(1, 1), (2, 2)], "id bigint, ra int")
    r2 = spark.createDataFrame([(2, 1)], "id bigint, rb int")
    r3 = spark.createDataFrame([(2, 3), (5, 1)], "id bigint, rc int")
    got = {
        r["id"]: r["rrf"]
        for r in rrf_fuse_many(
            [(r1, "ra"), (r2, "rb"), (r3, "rc")], key_col="id", k=10
        ).collect()
    }
    assert got[2] == 1.0 / 62 + 1.0 / 61 + 1.0 / 63
    assert got[1] == 1.0 / 61 and got[5] == 1.0 / 61


def test_rrf_many_duplicate_rank_col_names(spark):
    """Lists that share a rank column name (the natural
    row_number().alias('rank') case) fuse without ambiguity — each
    list's rank is aliased positionally inside the fold, and the result
    matches the same lists under distinct names."""
    from external_benchmarks_spark.operators.topk import rrf_fuse_many

    r1 = spark.createDataFrame([(1, 1), (2, 2)], "id bigint, rank int")
    r2 = spark.createDataFrame([(2, 1)], "id bigint, rank int")
    r3 = spark.createDataFrame([(2, 3), (5, 1)], "id bigint, rank int")
    got = {
        r["id"]: r["rrf"]
        for r in rrf_fuse_many(
            [(r1, "rank"), (r2, "rank"), (r3, "rank")], key_col="id", k=10
        ).collect()
    }
    assert got[2] == 1.0 / 62 + 1.0 / 61 + 1.0 / 63
    assert got[1] == 1.0 / 61 and got[5] == 1.0 / 61
