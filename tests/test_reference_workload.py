"""The reference's own benchmark workload end-to-end on the product data
model: the four predicate templates (reference README.md:78-83) + dot-
product top-k + key projection (README.md:73-75), against the FIXTURES.md
products table. This is the closest thing to 'a reference user runs their
queries here unchanged'."""

from __future__ import annotations

import pyspark.sql.functions as F

from external_benchmarks_spark.operators.topk import filtered_vector_topk
from external_benchmarks_spark.pipeline.dataset import make_products_fixture

QVEC8 = [2.0, -1.0, 3.0, 0.0, -2.0, 1.0, -3.0, 2.0]


def _templates():
    # reference README.md:80-83, rewritten against the products fixture
    return {
        "sel_0.001pct": (F.col("average_rating") <= 3.0)
        & (F.col("rating_number") > 130)
        & (F.col("main_category") == "Computers"),
        "sel_0.1pct": (F.col("average_rating") <= 3.5)
        & (F.col("rating_number") > 15)
        & (F.col("main_category") == "Computers"),
        "sel_1pct": (F.col("average_rating") >= 3.5)
        & (F.col("rating_number") > 10)
        & (F.col("main_category") == "Computers"),
        "sel_10pct": F.col("main_category").isin(
            "Computers", "All Beauty", "Buy a Kindle"
        ),
    }


def test_reference_templates_select_in_order(spark):
    p = make_products_fixture(spark, n=10_000, seed=42).cache()
    n = p.count()
    sel = {name: p.filter(pred).count() / n for name, pred in _templates().items()}
    # monotone selectivity ladder, wide template near its 10% spec
    assert sel["sel_0.001pct"] <= sel["sel_0.1pct"] <= sel["sel_1pct"] < sel["sel_10pct"]
    assert 0.05 < sel["sel_10pct"] < 0.25
    assert sel["sel_1pct"] < 0.05
    p.unpersist()


def test_reference_query_shape_on_products(spark):
    """filter -> dot score -> top-100 -> parent_asin (README.md:72-75)."""
    p = make_products_fixture(spark, n=10_000, seed=42).cache()
    for pred in (_templates()["sel_10pct"], _templates()["sel_1pct"], None):
        out = filtered_vector_topk(
            p, QVEC8, pred, k=100, key_col="parent_asin"
        ).collect()
        assert 0 < len(out) <= 100
        scores = [r.score for r in out]
        assert scores == sorted(scores, reverse=True)
    # predicate actually applied: every hit satisfies it
    hits = filtered_vector_topk(
        p, QVEC8, _templates()["sel_10pct"], k=100, key_col="parent_asin"
    )
    keys = {r.parent_asin for r in hits.collect()}
    legal = {
        r.parent_asin for r in p.filter(_templates()["sel_10pct"]).select("parent_asin").collect()
    }
    assert keys <= legal
    p.unpersist()
