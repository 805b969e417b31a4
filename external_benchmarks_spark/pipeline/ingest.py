"""End-to-end raw-dataset ingest: published JSONL(.gz) -> staged file ->
permissive parse -> 17-column product table -> parquet layout.

This is the reference's full ingest arc (reference README.md:37-55:
``wget`` the published category file, parse the raw meta records, build
the embedded product table) as ONE engine pipeline. Each stage is an
existing operator: sources/registry.stage_dataset (the wget analog —
https/file URLs, torn-file-safe), sources/registry.read_jsonl_permissive
(malformed records quarantined, never dropped silently),
pipeline/dataset.add_derived_columns (has_price / rating_tier /
review_volume / combined_text), pipeline/embedding.embed_fields (the
tiered encoder), schemas.validate_schema (pinned 17-column contract),
and an optional partitioned parquet write.

The network half is exercised in CI through ``file://`` URLs (no
egress in the sandbox); against the real published bucket the SAME code
runs with an ``https://`` URL — the only untestable-here difference is
the transport.

Raw Amazon-meta conventions handled (public dataset layout): list-typed
``description``/``features``/``categories`` join to single strings;
``price`` arrives as a string (``"12.99"``, ``"$12.99"``, ``None``,
``""``) and parses to DOUBLE with unparseable values -> NULL (tracked);
``details`` re-serializes to a JSON string. Spark decompresses ``.gz``
by extension, and a gz file is not splittable, so it reads as one
partition. A read with fewer partitions than the session's default
parallelism (one gz file, a few small files) is repartitioned to it,
so the parse, derive and embed work runs on every core; a directory of
at least that many files keeps its partitions and adds no shuffle. The
gz decompression itself stays one task per file: for archives beyond a
few GB, re-stage through a splittable codec or split files upstream.

One Spark action per ingest: the record, quarantine and unparsed-price
counters are an ``Observation`` on the permissive read that the product
table is built from, so the one action that writes the table computes
them too (the parquet write, or the ``noop`` write that materializes
the persisted frame the caller then owns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# The published category files' raw record shape.
RAW_META_SCHEMA = StructType(
    [
        StructField("parent_asin", StringType()),
        StructField("title", StringType()),
        StructField("description", ArrayType(StringType())),
        StructField("features", ArrayType(StringType())),
        StructField("average_rating", DoubleType()),
        StructField("rating_number", LongType()),
        StructField("price", StringType()),
        StructField("main_category", StringType()),
        StructField("categories", ArrayType(StringType())),
        StructField("store", StringType()),
        StructField("details", MapType(StringType(), StringType())),
    ]
)


# '12.99' / '$12.99' / '1,299.00' -> DOUBLE; empty or unparseable ->
# NULL. try_cast keeps bad values as NULL instead of failing the job
# under ANSI mode.
PRICE_SQL = (
    "try_cast(nullif(regexp_replace(trim(`price`), '[$,]', ''), '')"
    " AS DOUBLE)"
)


def normalize_raw_products(raw: DataFrame, source_dataset: str) -> DataFrame:
    """Raw meta records -> the pinned product columns (pre-embedding):
    arrays join to strings, price parses, details re-serializes.

    One selectExpr call: the projection parses in the JVM in a single
    py4j round-trip instead of ~80 (guide §4 boundary discipline applied
    to the DRIVER; measured 0.37 s/call of socket wait at r15)."""
    # Spark SQL string literals process backslash escapes as well as
    # quotes, so BOTH must be doubled or a value containing a backslash
    # would be silently altered (r15 ADVICE). Column names spliced into
    # backticked identifiers elsewhere in this pipeline are internal
    # constants, never caller data.
    src = source_dataset.replace("\\", "\\\\").replace("'", "''")
    return raw.selectExpr(
        "`parent_asin`",
        "coalesce(`title`, '') AS title",
        "coalesce(concat_ws(' ', `description`), '') AS description",
        "coalesce(concat_ws(' ', `features`), '') AS features",
        "CAST(`average_rating` AS DOUBLE) AS average_rating",
        "CAST(`rating_number` AS BIGINT) AS rating_number",
        f"{PRICE_SQL} AS price",
        "`main_category`",
        "coalesce(concat_ws(', ', `categories`), '') AS categories",
        "`store`",
        "to_json(`details`) AS details",
        f"'{src}' AS source_dataset",
    )


def product_table(
    good: DataFrame, source_dataset: str, dim: int, ckpt_dir: str | None = None
) -> DataFrame:
    """Non-corrupt raw records -> the validated product table: normalize,
    derive columns, embed the seven text fields, select the pinned
    PRODUCT_SCHEMA columns and validate them. Lazy: no Spark job."""
    from external_benchmarks_spark.pipeline.dataset import add_derived_columns
    from external_benchmarks_spark.pipeline.embedding import embed_fields
    from external_benchmarks_spark.schemas import PRODUCT_SCHEMA, validate_schema

    products = embed_fields(
        add_derived_columns(normalize_raw_products(good, source_dataset)),
        fields=("title", "description", "features", "combined_text",
                "main_category", "categories", "store"),
        dim=dim,
        ckpt_dir=ckpt_dir,
    ).select([f.name for f in PRODUCT_SCHEMA.fields])
    validate_schema(products)
    return products


def ingest_products(
    spark: SparkSession,
    url: str,
    stage_dir: str,
    source_dataset: str,
    out_path: str | None = None,
    dim: int = 16,
    ckpt_dir: str | None = None,
) -> tuple[DataFrame, dict]:
    """The full arc, in one Spark action. Returns (products_df, report)
    where report carries ``staged_path``, ``n_records`` (product rows),
    ``n_corrupt`` (quarantined raw lines) and ``n_unparsed_price``.

    With ``out_path`` the validated table writes as parquet partitioned
    by ``main_category`` (the query-optimized layout of SURVEY.md §7.5)
    and the returned frame reads it back; nothing is cached. Without
    it, the returned frame is ``persist()``-ed and already materialized,
    and the CALLER owns the unpersist: call ``products.unpersist()``
    when done, as ``q_ingest_report`` does, or the cached 17-column
    embedded corpus lives for the session. If the action fails, the
    persist is dropped before the error propagates.
    """
    from external_benchmarks_spark.schemas import PRODUCT_SCHEMA
    from external_benchmarks_spark.sources.registry import (
        read_jsonl_permissive,
        stage_dataset,
    )

    staged = stage_dataset(url, stage_dir)
    raw = read_jsonl_permissive(spark, staged, RAW_META_SCHEMA)
    cores = spark.sparkContext.defaultParallelism
    if raw.rdd.getNumPartitions() < cores:
        raw = raw.repartition(cores)
    # The counters observe the read the product table parses every
    # column of (see read_jsonl_permissive's caveat). Unparsed prices
    # are counted among non-corrupt lines only.
    obs = Observation()
    raw = raw.observe(
        obs,
        F.expr("count(1) AS n"),
        F.expr("sum(CAST(`_corrupt` IS NOT NULL AS BIGINT)) AS corrupt"),
        F.expr(
            "sum(CAST((`_corrupt` IS NULL AND `price` IS NOT NULL"
            f" AND trim(`price`) != '' AND {PRICE_SQL} IS NULL) AS BIGINT))"
            " AS unparsed"
        ),
    )
    good = raw.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    products = product_table(good, source_dataset, dim, ckpt_dir)
    if out_path is None:
        products = products.persist()
        writer = products.write.format("noop")
    else:
        writer = (
            products.repartition("main_category")
            .write.partitionBy("main_category")
            .format("parquet")
        )
    try:
        writer.mode("overwrite").save(out_path)
    except BaseException:
        products.unpersist()
        raise
    counts = obs.get
    if out_path is not None:
        products = spark.read.parquet(out_path).select(
            [f.name for f in PRODUCT_SCHEMA.fields]
        )
    n_corrupt = int(counts["corrupt"] or 0)
    return products, {
        "staged_path": staged,
        "n_records": int(counts["n"]) - n_corrupt,
        "n_corrupt": n_corrupt,
        "n_unparsed_price": int(counts["unparsed"] or 0),
    }
