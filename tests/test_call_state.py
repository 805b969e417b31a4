"""No call leaves session state behind: after an operator's result is
collected, the CacheManager holds exactly the entries it held before.
A leftover entry makes a later identical call (a bench warm rep) read
this call's cache and leaks memory in a long-lived server."""

from __future__ import annotations

import pytest


def _cache_entries(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _hierarchy(spark, rounds):
    from external_benchmarks_spark.operators.hierarchy import hierarchy_rollup

    edges = spark.createDataFrame(
        [(i, i // 2 if i > 1 else None) for i in range(1, 40)], "node bigint, parent bigint"
    )
    vals = spark.createDataFrame([(i, i * 3) for i in range(1, 40)], "node bigint, val bigint")
    return hierarchy_rollup(edges, vals, rounds=rounds)


def _kmv(spark):
    from external_benchmarks_spark.operators.kmv import kmv_pair_overlap, kmv_sketch

    df = spark.createDataFrame(
        [(i % 4, f"t{i % 97}") for i in range(600)], "g int, k string"
    )
    return kmv_pair_overlap(kmv_sketch(df, "k", k=16, group_col="g"), "g", k=16)


def _allpairs(spark):
    from external_benchmarks_spark.operators.setjoin import allpairs_jaccard_join

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i + j) % 9}" for j in range(8))) for i in range(30)],
        "doc_id bigint, text string",
    )
    return allpairs_jaccard_join(docs, threshold_ppm=500_000)


def _acf(spark):
    from external_benchmarks_spark.operators.timeseries import US_PER_HOUR, hourly_acf

    events = spark.createDataFrame(
        [(h * US_PER_HOUR + i,) for h in range(48) for i in range(h % 5)], "ts_us bigint"
    )
    return hourly_acf(events, max_lag=4)


@pytest.mark.parametrize(
    "build",
    [
        lambda s: _hierarchy(s, rounds=6),
        lambda s: _hierarchy(s, rounds=None),
        _kmv,
        _allpairs,
        _acf,
    ],
    ids=["hierarchy_rollup_rounds", "hierarchy_rollup_fixpoint", "kmv_pair_overlap",
         "allpairs_jaccard_join", "hourly_acf"],
)
def test_operator_leaves_no_cache_entry(spark, build):
    before = _cache_entries(spark)
    assert build(spark).collect()
    assert _cache_entries(spark) == before


def test_failed_ingest_leaves_no_cache_entry(spark, tmp_path):
    """An ingest whose action raises (here: the checkpoint encoder finds
    no checkpoint) drops its persisted product table before the error
    propagates."""
    from external_benchmarks_spark.pipeline.ingest import ingest_products

    src = tmp_path / "raw.jsonl"
    src.write_text('{"parent_asin": "A1", "title": "lamp"}\n{broken\n')
    before = _cache_entries(spark)
    with pytest.raises(Exception, match="config.json"):
        ingest_products(
            spark, str(src), str(tmp_path / "stage"), "Books", dim=8,
            ckpt_dir=str(tmp_path / "missing"),
        )
    assert _cache_entries(spark) == before
