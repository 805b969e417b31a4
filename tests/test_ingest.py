"""End-to-end raw ingest: staged .gz JSONL -> permissive parse ->
17-column validated product parquet. file:// exercises the same
stage->parse->normalize->embed->write path the https ingest runs."""

from __future__ import annotations

import gzip
import json
import math
import os

import pyspark.sql.functions as F


def _write_fixture_gz(path: str, n: int = 24) -> int:
    """n good raw-meta records + 2 malformed lines. Returns n."""
    with gzip.open(path, "wt", encoding="utf-8") as fh:
        for i in range(n):
            rec = {
                "parent_asin": f"A{i:05d}",
                "title": f"item {i} deluxe",
                "description": [f"long description {i}", "second sentence"],
                "features": [f"feature {i % 3}", "durable"],
                "average_rating": round(1.0 + (i % 9) * 0.5, 1),
                "rating_number": 10 ** (i % 5),
                "price": (
                    None if i % 5 == 0
                    else "N/A" if i % 5 == 1
                    else f"${i}.99" if i % 5 == 2
                    else f"1,0{i:02d}.50" if i % 5 == 3
                    else f"{i}.25"
                ),
                "main_category": ["Books", "Automotive", "Computers"][i % 3],
                "categories": ["Root", f"Sub{i % 4}"],
                "store": f"store{i % 2}",
                "details": {"weight": f"{i}oz", "brand": f"b{i % 3}"},
            }
            fh.write(json.dumps(rec) + "\n")
        fh.write("{not valid json at all\n")
        # numeric price: Spark PERMISSIVE coerces scalars to the string
        # field, so this is a GOOD record whose price parses to 12.0
        fh.write('{"parent_asin": "NUMPRICE", "price": 12}\n')
    return n


def test_ingest_products_end_to_end(spark, tmp_path):
    from external_benchmarks_spark.pipeline.ingest import ingest_products
    from external_benchmarks_spark.schemas import PRODUCT_SCHEMA, validate_schema

    src = str(tmp_path / "raw_meta.jsonl.gz")
    n = _write_fixture_gz(src)
    url = "file://" + src
    out = str(tmp_path / "products")
    products, report = ingest_products(
        spark, url, str(tmp_path / "stage"), "Books", out_path=out, dim=8
    )
    # staged through the wget-analog path, not read in place
    assert report["staged_path"].startswith(str(tmp_path / "stage"))
    assert os.path.exists(report["staged_path"])
    # quarantine: exactly the invalid-JSON line
    assert report["n_corrupt"] == 1
    assert report["n_records"] == n + 1  # incl. the coerced NUMPRICE row
    assert report["n_unparsed_price"] == len([i for i in range(n) if i % 5 == 1])

    validate_schema(products)
    rows = {r.parent_asin: r for r in products.collect()}
    assert len(rows) == n + 1
    assert rows["NUMPRICE"].price == 12.0
    r2 = rows["A00002"]  # i=2 -> "$2.99"
    assert r2.price == 2.99 and r2.has_price is True
    r3 = rows["A00003"]  # "1,003.50"
    assert r3.price == 1003.50
    r1 = rows["A00001"]  # "N/A" -> null
    assert r1.price is None and r1.has_price is False
    assert r2.description == "long description 2 second sentence"
    assert r2.combined_text.startswith("item 2 deluxe")
    assert json.loads(r2.details)["weight"] == "2oz"
    # embedding: 7 fields x 8 dims, each non-empty block unit-norm
    assert len(r2.embedding) == 56
    norm = math.sqrt(sum(x * x for x in r2.embedding))
    assert abs(norm - math.sqrt(7)) < 1e-3
    # partitioned layout on disk, prunable by the equality template
    assert os.path.isdir(os.path.join(out, "main_category=Books"))
    books = spark.read.parquet(out).filter(F.col("main_category") == "Books")
    assert books.count() == len([i for i in range(n) if i % 3 == 0])


def test_ingest_restage_is_noop(spark, tmp_path):
    """Re-ingesting the same URL reuses the staged file (size match)."""
    from external_benchmarks_spark.sources.registry import stage_dataset

    src = str(tmp_path / "raw.jsonl.gz")
    _write_fixture_gz(src, n=3)
    url = "file://" + src
    d = str(tmp_path / "stage")
    p1 = stage_dataset(url, d)
    m1 = os.path.getmtime(p1)
    p2 = stage_dataset(url, d)
    assert p1 == p2 and os.path.getmtime(p2) == m1


def _job_stage_tasks(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result, the
    number of the group's jobs and the task count of each of their
    stages."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    return out, len(jobs), [st.getStageInfo(s).numTasks for s in stages if st.getStageInfo(s)]


def _cache_loaded(spark, df) -> bool:
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.isDefined() and (
        cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    )


def test_one_file_ingest_is_one_action(spark, tmp_path):
    """One ingest is one action: the observed counters ride the write
    that materializes the persisted product table (the read's
    shuffle-map job, the job that fills the cache and the write over
    it), and the returned frame is already loaded in the cache."""
    from external_benchmarks_spark.pipeline.ingest import ingest_products

    src = str(tmp_path / "raw.jsonl.gz")
    n = _write_fixture_gz(src, n=6)
    (products, report), n_jobs, _ = _job_stage_tasks(
        spark, "ingest-one-action",
        lambda: ingest_products(spark, src, str(tmp_path / "stage"), "Books", dim=8),
    )
    try:
        assert n_jobs <= 4
        assert _cache_loaded(spark, products)
        assert report["n_records"] == products.count() == n + 1
        assert report["n_corrupt"] == 1
        assert report["n_unparsed_price"] == 1  # i=1 -> "N/A"
    finally:
        products.unpersist()


def test_type_mismatch_in_non_price_field_is_quarantined(spark, tmp_path):
    """A line whose ``average_rating`` is not a number is corrupt under
    the full parse the product table reads, so ``n_corrupt`` counts it
    and the table drops it. A read pruned to ``_corrupt`` and ``price``
    would call the line good: the counters must come from the plan that
    parses every column."""
    from external_benchmarks_spark.pipeline.ingest import ingest_products

    src = str(tmp_path / "raw.jsonl.gz")
    n = _write_fixture_gz(src, n=6)
    with gzip.open(src, "at", encoding="utf-8") as fh:
        fh.write('{"parent_asin": "BADRATING", "average_rating": "abc", "price": "1.00"}\n')
    products, report = ingest_products(spark, src, str(tmp_path / "stage"), "Books", dim=8)
    try:
        asins = {r.parent_asin for r in products.select("parent_asin").collect()}
        assert "BADRATING" not in asins and len(asins) == n + 1
        assert report["n_corrupt"] == 2
        assert report["n_records"] == n + 1
    finally:
        products.unpersist()


def test_reingest_while_first_result_is_cached(spark, tmp_path):
    """A second ingest of the same file, while the first one's product
    table is still cached, runs its own action and reports the same
    counters and rows."""
    from external_benchmarks_spark.pipeline.ingest import ingest_products

    src = str(tmp_path / "raw.jsonl.gz")
    _write_fixture_gz(src, n=6)
    stage = str(tmp_path / "stage")
    first, rep1 = ingest_products(spark, src, stage, "Books", dim=8)
    try:
        second, rep2 = ingest_products(spark, src, stage, "Books", dim=8)
        try:
            assert rep2 == rep1
            assert _cache_loaded(spark, second)
            got = second.orderBy("parent_asin").toArrow()
            assert got.equals(first.orderBy("parent_asin").toArrow())
        finally:
            second.unpersist()
    finally:
        first.unpersist()


def test_one_file_ingest_spreads_over_every_core(spark, tmp_path):
    """A gz file reads as one partition; ingest repartitions it to the
    session's default parallelism, so the embed work runs in that many
    tasks. The product table is the one the one-partition read gives."""
    from external_benchmarks_spark.pipeline.ingest import (
        RAW_META_SCHEMA,
        ingest_products,
        product_table,
    )
    from external_benchmarks_spark.sources.registry import read_jsonl_permissive

    src = str(tmp_path / "raw.jsonl.gz")
    _write_fixture_gz(src, n=40)
    (products, _), _, tasks = _job_stage_tasks(
        spark, "ingest-one-file",
        lambda: ingest_products(spark, src, str(tmp_path / "stage"), "Books", dim=8),
    )
    try:
        cores = spark.sparkContext.defaultParallelism
        assert max(tasks) >= cores
        raw = read_jsonl_permissive(spark, src, RAW_META_SCHEMA)
        assert raw.rdd.getNumPartitions() == 1
        one_part = product_table(
            raw.filter(F.col("_corrupt").isNull()).drop("_corrupt"), "Books", 8
        )
        got = products.orderBy("parent_asin").toArrow()
        assert got.num_rows == 41
        assert got.equals(one_part.orderBy("parent_asin").toArrow())
    finally:
        products.unpersist()


def test_multi_file_ingest_adds_no_shuffle(spark, tmp_path):
    """A directory that reads as at least default-parallelism partitions
    keeps them: no repartition exchange in the product table's plan."""
    from external_benchmarks_spark.pipeline.ingest import RAW_META_SCHEMA, ingest_products
    from external_benchmarks_spark.sources.registry import read_jsonl_permissive

    cores = spark.sparkContext.defaultParallelism
    d = tmp_path / "many"
    d.mkdir()
    # equal-sized files, one per core: Spark packs none of them together
    for i in range(cores):
        _write_fixture_gz(str(d / f"part{i}.jsonl.gz"), n=4)
    assert read_jsonl_permissive(spark, str(d), RAW_META_SCHEMA).rdd.getNumPartitions() == cores
    products, report = ingest_products(spark, str(d), str(tmp_path / "stage"), "Books", dim=8)
    try:
        plan = products._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" in plan and "Exchange" not in plan
        assert products.rdd.getNumPartitions() == cores
        assert report["n_records"] == 5 * cores
    finally:
        products.unpersist()
