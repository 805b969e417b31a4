"""applyInArrow grouped stats agree with the pure-SQL paths to 1e-9."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.functions.vector import l2_norm
from external_benchmarks_spark.operators.grouped import group_embedding_stats

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_group_embedding_stats_matches_sql(spark):
    emb = Catalog(spark, SF_DIR).embeddings
    got = {r.group: r for r in group_embedding_stats(emb).collect()}

    sql = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(l2_norm("embedding")).alias("mean_norm"),
    )
    want = {r.label: r for r in sql.collect()}

    assert set(got) == set(want)
    for g, r in got.items():
        assert r.n_vectors == want[g].n
        assert abs(r.mean_norm - want[g].mean_norm) < 1e-9 * max(1.0, r.mean_norm)
        assert r.centroid_norm >= 0 and r.mean_spread >= 0
        # triangle-ish sanity: centroid norm can't exceed mean norm
        assert r.centroid_norm <= r.mean_norm + 1e-9
