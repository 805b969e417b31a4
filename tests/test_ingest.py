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


def test_ingest_without_count_omits_n_records(spark, tmp_path):
    """count_records=False leaves n_records out of the report, so a
    reader that expects it fails with KeyError instead of reading None."""
    from external_benchmarks_spark.pipeline.ingest import ingest_products

    src = str(tmp_path / "raw.jsonl.gz")
    _write_fixture_gz(src, n=6)
    products, report = ingest_products(
        spark, "file://" + src, str(tmp_path / "stage"), "Books", dim=8,
        count_records=False,
    )
    try:
        assert "n_records" not in report
        assert report["n_corrupt"] == 1
        assert report["n_unparsed_price"] == 1  # i=1 -> "N/A"
    finally:
        products.unpersist()
