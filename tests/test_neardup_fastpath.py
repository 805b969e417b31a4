"""Near-dup pair scoring and SemDeDup on the one kernel + block fan-out cap.

``embedding_neardup_pairs`` (one grouped Arrow call per block: BLAS
ranks, the exact fold decides) must give the edges AND cosine bits of
the Catalyst pair join, which lives on here as the test reference
``_catalyst_pairs``; ``semdedup`` must keep the rows the declarative
percos + pair-join form keeps (``_declarative_semdedup``). The
``max_block_rows`` cap must give a drop-only approximation with bounded
per-group sizes even for an adversarial giant cluster of near-identical
vectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from external_benchmarks_spark.functions.vector import dot_product, l2_norm
from external_benchmarks_spark.operators.dedup import (
    _subblock_key,
    embedding_neardup_pairs,
)
from external_benchmarks_spark.operators.similarity import (
    centroid_cosine_fp,
    ivf_assign,
    sampled_centroids,
    semdedup,
)


def _emb_df(spark, sf_dir):
    from external_benchmarks_spark.catalog import Catalog

    return Catalog(spark, sf_dir).embeddings


def _edges(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def _scored(df):
    return {(r.id_a, r.id_b): r.cosine.hex() for r in df.collect()}


def _catalyst_pairs(
    df, block_col, threshold, key_col="vec_id", emb_col="embedding",
    max_block_rows=None,
):
    """Reference: the Catalyst HOF pair join on the block key (on the
    same ``_subblock_key`` sub-blocks under a cap, band width 2)."""
    if max_block_rows is not None:
        df = _subblock_key(df, block_col, emb_col, max_block_rows, key_col, n_bits=2)
    else:
        df = df.withColumn("_blk", F.col(block_col))

    def side(s):
        return df.select(
            F.col(key_col).alias(f"id_{s}"),
            F.col("_blk"),
            F.col(emb_col).alias(f"emb_{s}"),
            l2_norm(emb_col).alias(f"_norm_{s}"),
        )

    cos = dot_product("emb_a", "emb_b") / (F.col("_norm_a") * F.col("_norm_b"))
    return (
        side("a").join(side("b"), "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _declarative_semdedup(assigned, centroids, threshold, max_block_rows=None):
    """Reference: per-row fixed-point centroid cosines, the Catalyst
    pairs, one symmetric join and a left-anti join back."""
    percos = centroid_cosine_fp(assigned, centroids)
    pairs = _catalyst_pairs(
        assigned, "centroid_id", threshold, max_block_rows=max_block_rows
    ).select("id_a", "id_b")
    sym = pairs.union(pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
    pa = percos.select(F.col("vec_id").alias("id_a"), F.col("cos_fp").alias("_fp_a"))
    pb = percos.select(F.col("vec_id").alias("id_b"), F.col("cos_fp").alias("_fp_b"))
    dropped = (
        sym.join(pa, "id_a")
        .join(pb, "id_b")
        .filter(
            (F.col("_fp_b") < F.col("_fp_a"))
            | ((F.col("_fp_b") == F.col("_fp_a")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
    )
    return {
        tuple(r)
        for r in percos.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "cluster_id")
        .collect()
    }


def test_fast_path_edge_set_identical(spark, sf_dir):
    e = _emb_df(spark, sf_dir)
    want = _edges(_catalyst_pairs(e, "label", 0.2))
    assert _edges(embedding_neardup_pairs(e, block_col="label", threshold=0.2)) == want


def test_fast_path_cosine_values_close(spark, sf_dir):
    """The emitted cosine is the fold's: equal bits, not just close."""
    e = _emb_df(spark, sf_dir)
    got = _scored(embedding_neardup_pairs(e, block_col="label", threshold=0.2))
    assert got == _scored(_catalyst_pairs(e, "label", 0.2))


def test_semdedup_fast_path_matches_declarative(spark, sf_dir):
    e = _emb_df(spark, sf_dir)
    cents = sampled_centroids(e, n_centroids=8)
    assigned = ivf_assign(e, cents)
    got = {tuple(r) for r in semdedup(assigned, cents, threshold=0.2).collect()}
    assert got == _declarative_semdedup(assigned, cents, 0.2)


def _odd_rows(spark, key_type="bigint"):
    """A null vector, a null element, two wrong-length rows (which still
    pair with each other, as the Catalyst join does), a null key and
    ordinary rows, all in one block."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, None),
        (4, [1.0, None, 0.0]),
        (5, [1.0, 0.05]),
        (6, [0.98, 0.06]),
        (7, [0.99, 0.0, 0.01]),
        (8, [-1.0, 0.0, 0.5]),
        (None, [1.0, 0.0, 0.0]),
    ]
    if key_type == "string":
        rows = [(None if k is None else f"k{11 - k}", v) for k, v in rows]
    return spark.createDataFrame(
        [(k, v, 0) for k, v in rows],
        f"vec_id {key_type}, embedding array<double>, label int",
    )


def test_neardup_null_and_wrong_length_rows(spark):
    df = _odd_rows(spark)
    got = _scored(embedding_neardup_pairs(df, block_col="label", threshold=0.5))
    assert got == _scored(_catalyst_pairs(df, "label", 0.5))
    assert set(got) == {(1, 2), (1, 7), (2, 7), (5, 6)}


@pytest.mark.parametrize("parts", [1, 8])
def test_capped_neardup_null_and_wrong_length_rows(spark, parts):
    """Under a cap the sub-block band reads rows through arrow_rows: a
    null vector or a null element gets no band and pairs with nothing,
    the wrong-length rows are banded with planes of their own length;
    the pairs equal the Catalyst pair join on the same sub-blocks
    whichever rows share an Arrow batch."""
    df = _odd_rows(spark).repartition(parts)
    got = _scored(
        embedding_neardup_pairs(df, block_col="label", threshold=0.5, max_block_rows=2)
    )
    assert got == _scored(_catalyst_pairs(df, "label", 0.5, max_block_rows=2))
    assert got and set(got) <= {(1, 2), (1, 7), (2, 7), (5, 6)}
    bands = {
        r.vec_id: r._blk
        for r in _subblock_key(df, "label", "embedding", 2, n_bits=2).collect()
    }
    assert bands[3].startswith("0") and "#" not in bands[3]
    assert bands[4].startswith("0") and "#" not in bands[4]
    assert all("#" in bands[k] for k in (1, 2, 5, 6, 7, 8))


def test_neardup_string_keys(spark):
    df = _odd_rows(spark, "string")
    out = embedding_neardup_pairs(df, block_col="label", threshold=0.5)
    assert out.schema["id_a"].dataType.simpleString() == "string"
    assert out.schema["id_b"].dataType.simpleString() == "string"
    got = _scored(out)
    assert got == _scored(_catalyst_pairs(df, "label", 0.5))
    assert ("k10", "k9") in got  # keys order as strings: "k10" < "k9"


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_neardup_zero_norm_row(spark, ansi):
    """A zero-norm row divides by zero against its valid partners: under
    ANSI both forms raise, otherwise both drop it."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [1.0, 0.1], 0), (4, [0.0, 0.0], 1)],
        "vec_id bigint, embedding array<double>, label int",
    )
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        if ansi == "true":
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                _catalyst_pairs(df, "label", 0.5).collect()
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                embedding_neardup_pairs(df, block_col="label", threshold=0.5).collect()
            # a zero-norm row alone in its block has no partner
            lone = df.filter(F.col("vec_id") != 1)
            assert _edges(embedding_neardup_pairs(lone, block_col="label", threshold=0.5)) == {(2, 3)}
        else:
            got = _scored(embedding_neardup_pairs(df, block_col="label", threshold=0.5))
            assert got == _scored(_catalyst_pairs(df, "label", 0.5))
            assert set(got) == {(2, 3)}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


@pytest.fixture(scope="module")
def giant_block(spark):
    """One block of 300 near-identical vectors (adversarial for any
    similarity-preserving split) + 100 scattered vectors, single block
    key — the degenerate cluster the cap exists for."""
    rng = np.random.RandomState(7)
    base = rng.randn(16)
    base /= np.linalg.norm(base)
    rows = []
    for i in range(300):
        v = base + 1e-3 * rng.randn(16)
        rows.append((i, [float(x) for x in v], 0))
    for i in range(300, 400):
        v = rng.randn(16)
        rows.append((i, [float(x) for x in v], 0))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]),
        schema="vec_id bigint, embedding array<double>, label int",
    )


def test_cap_is_drop_only(spark, giant_block):
    uncapped = _edges(
        embedding_neardup_pairs(giant_block, block_col="label", threshold=0.95)
    )
    capped = _edges(
        embedding_neardup_pairs(
            giant_block, block_col="label", threshold=0.95, max_block_rows=50
        )
    )
    assert capped <= uncapped  # never invents pairs
    assert len(uncapped) >= 300 * 299 / 2  # the near-identical clique
    assert len(capped) < len(uncapped)  # the cap actually split it


def test_cap_bounds_group_sizes(spark, giant_block):
    """Every sub-block stays near the cap even though the 300-row clique
    is inseparable by LSH — the hash-salt level guarantees the bound."""
    blocked = _subblock_key(giant_block, "label", "embedding", max_block_rows=50)
    sizes = [
        r.n for r in blocked.groupBy("_blk").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert max(sizes) <= 3 * 50  # expected ~cap under uniform salting
    assert len(sizes) > 4


def test_cap_same_for_both_paths(spark, giant_block):
    """Capped pairs equal the Catalyst pair join on the same sub-blocks."""
    got = _scored(
        embedding_neardup_pairs(
            giant_block, block_col="label", threshold=0.95, max_block_rows=50
        )
    )
    assert got == _scored(_catalyst_pairs(giant_block, "label", 0.95, max_block_rows=50))


def test_capped_semdedup_still_deduplicates(spark, giant_block):
    cents = np.vstack([np.zeros(16)])
    cents[0, 0] = 1.0
    assigned = giant_block.withColumn("centroid_id", F.lit(0))
    out = semdedup(assigned, cents, threshold=0.95, max_block_rows=50)
    survivors = {tuple(r) for r in out.collect()}
    # the 300-clique collapses (within sub-blocks) — far fewer than 400
    # survive, and every dropped row had a qualifying neighbor
    assert len(survivors) < 200
    assert len(survivors) >= 100  # the 100 scattered rows largely survive
    # one sub-block width: the declarative form on the same sub-blocks
    assert survivors == _declarative_semdedup(assigned, cents, 0.95, max_block_rows=50)


def test_fast_path_empty_and_singleton(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[1.0, 0.0]], "label": [0]}),
        schema="vec_id bigint, embedding array<double>, label int",
    )
    assert embedding_neardup_pairs(df, block_col="label", threshold=0.5).count() == 0
    empty = df.filter(F.lit(False))
    assert embedding_neardup_pairs(empty, block_col="label", threshold=0.5).count() == 0
