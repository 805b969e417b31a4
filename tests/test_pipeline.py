"""Dataset-production pipeline: derived columns, union, embedding stub,
index layout, stats report."""

from __future__ import annotations

import math
import os
import tempfile

import pyspark.sql.functions as F

from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.pipeline.dataset import (
    add_derived_columns,
    scale_variants,
    union_sources,
)
from external_benchmarks_spark.pipeline.embedding import embed_fields
from external_benchmarks_spark.pipeline.index import build_index_layout
from external_benchmarks_spark.pipeline.report import (
    consistency_check,
    dataset_report,
    render_markdown,
)


def _products(spark, n=200):
    return spark.range(n).select(
        F.col("id"),
        F.concat_ws(" ", F.lit("item"), F.col("id").cast("string")).alias("title"),
        F.when(F.col("id") % 3 == 0, F.lit("desc text here")).otherwise(F.lit("")).alias("description"),
        F.lit("feat a b").alias("features"),
        (1.0 + (F.col("id") % 9) * 0.5).alias("average_rating"),
        (F.pow(F.lit(10.0), (F.col("id") % 6).cast("double"))).cast("long").alias("rating_number"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 1.5).alias("price"),
    )


def test_derived_columns(spark):
    df = add_derived_columns(_products(spark))
    row = df.filter(F.col("id") == 8).collect()[0]  # rating 5.0, reviews 100
    assert row.has_price is True
    assert row.rating_tier == "excellent"
    assert row.review_volume == "moderate"
    assert row.combined_text.startswith("item 8")
    tiers = {r.rating_tier for r in df.select("rating_tier").distinct().collect()}
    assert tiers == {"excellent", "high", "medium", "low"}


def test_union_sources_provenance(spark):
    a, b = _products(spark, 50), _products(spark, 30)
    out = union_sources({"Books": a, "Automotive": b})
    counts = {r.source_dataset: r["count"] for r in out.groupBy("source_dataset").count().collect()}
    assert counts == {"Books": 50, "Automotive": 30}


def test_scale_variants_deterministic(spark):
    df = _products(spark, 1000)
    v1 = scale_variants(df, {"small": 0.1}, seed=42)["small"].count()
    v2 = scale_variants(df, {"small": 0.1}, seed=42)["small"].count()
    assert v1 == v2 and 0 < v1 < 1000


def test_embed_fields_concat_and_norm(spark):
    df = add_derived_columns(_products(spark, 20))
    out = embed_fields(df, fields=("title", "description"), dim=16)
    rows = out.select("id", "title", "description", "embedding").collect()
    assert all(len(r.embedding) == 32 for r in rows)
    # each NON-EMPTY 16-dim field block is unit-norm => total L2 =
    # sqrt(#non-empty fields) — the reference's norm invariant
    # (benchmark_10k/README.md:70); empty text embeds to the zero block.
    for r in rows[:10]:
        expected = sum(1 for t in (r.title, r.description) if t)
        norm = math.sqrt(sum(x * x for x in r.embedding))
        assert abs(norm - math.sqrt(expected)) < 1e-3
    # determinism: same text -> same vector
    again = embed_fields(df, fields=("title", "description"), dim=16)
    r1 = {r.id: r.embedding for r in rows}
    r2 = {r.id: r.embedding for r in again.select("id", "embedding").collect()}
    assert r1 == r2


def test_index_layout_prunes(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "idx")
        build_index_layout(emb, out, partition_col="label", sort_cols=["vec_id"])
        assert os.path.isdir(os.path.join(out, "label=0"))
        back = spark.read.parquet(out)
        assert back.count() == emb.count()
        # embeddings stored as float32
        assert dict(back.dtypes)["embedding"] == "array<float>"
        # partition filter prunes to one directory: check via plan text
        plan = back.filter(F.col("label") == 3)._jdf.queryExecution().executedPlan().toString()
        assert "label" in plan


def test_dataset_report_and_consistency(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    rep = dataset_report(
        emb, numeric_cols=["vec_id"], cat_cols=["label"], emb_col="embedding",
        # caller aggregates ride pass 1 and come back under their own names
        extra_aggs={"z max id": "max(vec_id)", "a_min_id": "min(vec_id)"},
    )
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    assert rep["extra"] == {"z max id": hi, "a_min_id": lo}
    assert rep["total_records"] == emb.count()
    assert rep["embedding"]["avg_dim"] == 64.0
    assert rep["categorical"]["label"]["unique"] == 10
    md = render_markdown(rep, "embeddings")
    assert "Embedding geometry" in md
    # consistency across "scales" (same data twice -> zero drift)
    chk = consistency_check({"a": rep, "b": rep})
    assert chk["consistent"] is True


def test_dataset_report_fused_two_jobs_and_parity(spark, sf_dir):
    """The fused dataset_report runs exactly TWO driver actions for
    string-categorical inputs (one all-statistics agg + one
    histogram/categorical explode pass) and its every statistic is
    bit-identical to the per-column operators/stats.py forms it fused."""
    from unittest import mock

    from external_benchmarks_spark.operators import stats as S

    docs = Catalog(spark, sf_dir).documents
    cls = type(docs)  # the concrete DataFrame class (Spark 4 splits ABC)
    real_collect = cls.collect
    calls = []

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    with mock.patch.object(cls, "collect", counting_collect):
        rep = dataset_report(
            docs,
            numeric_cols=["n_chars"],
            cat_cols=["lang", "source"],
            text_cols=["text"],
        )
    assert len(calls) == 2, f"expected 2 jobs, ran {len(calls)}"

    # parity with the single-statistic operators (the pre-fusion path)
    assert rep["total_records"] == docs.count()
    nulls = S.null_profile(docs).collect()[0].asDict()
    assert rep["null_counts"] == {
        c: nulls[f"{c}_nulls"] for c in docs.columns
    }
    n = S.numeric_summary(docs, "n_chars").collect()[0]
    assert rep["numeric"]["n_chars"] == {
        "count": n["cnt"], "mean": n["avg_val"], "min": n["min_val"],
        "max": n["max_val"], "std": n["stddev_val"], "nulls": n["null_cnt"],
    }
    t = S.text_length_stats(docs, "text").collect()[0]
    assert rep["text_lengths"]["text"] == {
        "avg": t["avg_len"], "min": t["min_len"], "max": t["max_len"],
    }
    for c in ("lang", "source"):
        top = S.group_share_topn(docs, c, 10).collect()
        uniq = S.distinct_count(docs, c).collect()[0]["distinct_cnt"]
        assert rep["categorical"][c] == {
            "unique": uniq,
            "top": [
                {"value": r[c], "count": r["cnt"], "pct": r["pct"]}
                for r in top
            ],
        }, c
    s = rep["numeric"]["n_chars"]
    lo, hi = float(s["min"]), float(s["max"])
    hist = S.histogram(docs, "n_chars", lo, hi, bins=25).collect()
    counts = [0] * 25
    for r in hist:
        counts[int(r["bucket"])] = int(r["cnt"])
    assert rep["histograms"]["n_chars"] == {
        "min": lo, "max": hi, "counts": counts,
    }


def test_zorder_key_interleaves_and_clusters(spark):
    """Morton key: exact interleave on known bits; sorting by it gives
    locality in both dimensions."""
    from external_benchmarks_spark.pipeline.index import zorder_key

    df = spark.createDataFrame([(1, 0), (0, 1), (3, 3), (2, 1)], ["a", "b"])
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", zorder_key(F.col("a"), F.col("b"), 4).alias("z")).collect()
    }
    def morton(a, b):
        z = 0
        for i in range(4):
            z |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return z
    for (a, b), z in got.items():
        assert z == morton(a, b), (a, b, z)


def test_file_size_probe(spark, sf_dir):
    from external_benchmarks_spark.pipeline.report import file_size_mb

    p = os.path.join(sf_dir, "embeddings.parquet")
    mb = file_size_mb(p)
    assert mb > 0
    assert mb == round(os.path.getsize(p) / (1024 * 1024), 2)


def test_curation_funnel_all_reasons(spark):
    from external_benchmarks_spark.pipeline.curate import curated, curation_funnel

    good = "the quick brown fox jumps over the lazy dog and keeps running far " * 3
    rows = [
        (0, good),              # kept (and keeper of the dup group)
        (1, good),              # duplicate of 0
        (2, "hi"),              # too_short
        (3, "!!! ??? ... ;; ## %%"),  # low_quality (6 tokens, all punctuation)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    funnel = {r.reason: r.cnt for r in curation_funnel(df).collect()}
    assert funnel == {"kept": 1, "duplicate": 1, "too_short": 1, "low_quality": 1}
    kept = curated(df).collect()
    assert [r.doc_id for r in kept] == [0]


def test_products_fixture_matches_pinned_schema(spark):
    """FIXTURES.md products generator: pinned 17-column schema, reference
    null rates and category skew, deterministic across calls."""
    from external_benchmarks_spark.pipeline.dataset import make_products_fixture
    from external_benchmarks_spark.schemas import validate_schema

    p = make_products_fixture(spark, n=4000, seed=42)
    validate_schema(p)  # raises on drift
    n = p.count()
    assert n == 4000
    null_price = p.filter(F.col("price").isNull()).count() / n
    assert 0.35 < null_price < 0.50  # ~42% (reference benchmark_10k:84)
    books = p.filter(F.col("main_category") == "Books").count() / n
    assert 0.35 < books < 0.47  # ~41% hot key (summary_report.md:34-38)
    computers = p.filter(F.col("main_category") == "Computers").count() / n
    assert 0.01 < computers < 0.06  # ~3% -> the selective templates
    # determinism: same seed -> identical content
    again = make_products_fixture(spark, n=4000, seed=42)
    assert p.exceptAll(again).count() == 0 and again.exceptAll(p).count() == 0
    # embeddings: 8 small ints, exactly representable
    row = p.select("embedding").first()
    assert len(row.embedding) == 8
    assert all(-3 <= v <= 3 and float(v).is_integer() for v in row.embedding)


def test_curated_with_metrics_one_pass(spark):
    """observe() piggybacks funnel accounting on the consuming action."""
    from external_benchmarks_spark.pipeline.curate import curated_with_metrics

    good = "the quick brown fox jumps over the lazy dog and keeps running far " * 3
    df = spark.createDataFrame(
        [(0, good), (1, good), (2, "hi"), (3, "!!! ??? ... ;; ## %%")],
        ["doc_id", "text"],
    )
    kept, obs = curated_with_metrics(df)
    assert [r.doc_id for r in kept.collect()] == [0]  # action triggers metrics
    m = obs.get
    assert m["total"] == 4
    assert (m["kept"], m["duplicate"], m["too_short"], m["low_quality"]) == (1, 1, 1, 1)


def test_prune_details_strips_redundant_nulls(spark):
    from external_benchmarks_spark.pipeline.dataset import (
        make_products_fixture,
        prune_details,
    )
    from pyspark.sql import functions as F

    p = prune_details(make_products_fixture(spark, n=500))
    r = p.agg(
        F.sum("details_bytes").alias("b"), F.sum("pruned_bytes").alias("a")
    ).collect()[0]
    # the reference notes 20-30% prunable (README.md:17); the fixture's
    # null rate puts it in that neighborhood
    assert 0.10 <= 1 - r.a / r.b <= 0.35
    rows = p.select("details", "details_pruned").limit(200).collect()
    for row in rows:
        assert '"null"' not in row.details_pruned
        # pruning only removes entries, never adds
        assert len(row.details_pruned) <= len(row.details)


def test_hashed_ngram_encoder_geometry():
    """The fallback encoder is a REAL embedding (feature hashing), not a
    random fake: near-duplicate texts must land close in cosine space and
    unrelated texts far; empty text embeds to the zero vector."""
    import numpy as np

    from external_benchmarks_spark.pipeline.embedding import hashed_ngram_encode

    m = hashed_ngram_encode(
        [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumped over the lazy dog",
            "completely different content about spark sql engines",
            "",
        ],
        128,
    )
    norms = np.linalg.norm(m, axis=1)
    assert abs(norms[0] - 1.0) < 1e-6 and abs(norms[2] - 1.0) < 1e-6
    assert norms[3] == 0.0
    assert float(m[0] @ m[1]) > 0.7
    assert float(m[0] @ m[2]) < 0.4
    # deterministic across calls (crc32, no hash seed)
    again = hashed_ngram_encode(["the quick brown fox jumps over the lazy dog"], 128)
    assert (again[0] == m[0]).all()


def test_report_png_figures_all_five_families(spark, sf_dir, tmp_path):
    """The figure sink writes real, decodable PNGs for every reference
    figure family: nulls bar, categorical top-10 bars, category-share
    pies, numeric histograms, and the correlation-matrix heatmap."""
    from external_benchmarks_spark.multimodal.codecs import decode_png
    from external_benchmarks_spark.pipeline.report import dataset_report, write_report

    docs = Catalog(spark, sf_dir).documents
    rep = dataset_report(
        docs,
        numeric_cols=["n_chars", "doc_id"],
        cat_cols=["lang"],
        text_cols=["text"],
        corr_cols=["doc_id", "n_chars"],
    )
    assert "n_chars" in rep["histograms"]
    assert sum(rep["histograms"]["n_chars"]["counts"]) == rep["total_records"]
    m = rep["correlation"]["matrix"]
    assert m[0][0] == 1.0 and m[0][1] == m[1][0] and -1.0 <= m[0][1] <= 1.0
    paths = write_report(rep, str(tmp_path), "docs")
    pngs = [p for p in paths if p.endswith(".png")]
    families = {"_nulls", "_cat_", "_pie_", "_hist_", "_corr"}
    for fam in families:
        assert any(fam in p for p in pngs), fam
    for p in pngs:
        with open(p, "rb") as f:
            img = decode_png(f.read())
        assert img.ndim == 3 and img.shape[0] > 100 and img.shape[1] > 100
    # the pie actually has colored segments (more than just background)
    pie = next(p for p in pngs if "_pie_" in p)
    with open(pie, "rb") as f:
        img = decode_png(f.read())
    assert len({tuple(c) for c in img.reshape(-1, 3)[::97].tolist()}) >= 3


def test_ivf_append_equals_rebuild_then_compacts(spark, sf_dir):
    """Delta IVF maintenance: appending new vectors (frozen centroids)
    must give bit-identical probe results to a full rebuild, and
    compaction must fold the appended small files without changing
    results."""
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        sampled_centroids,
    )
    from external_benchmarks_spark.pipeline.index import (
        append_to_index_layout,
        compact_layout_partitions,
    )

    emb = Catalog(spark, sf_dir).embeddings
    centroids = sampled_centroids(emb, n_centroids=8)
    qvec = [float((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)

    def probe(path):
        back = spark.read.parquet(path)
        return [
            (r[0], round(r[1], 9))
            for r in ivf_topk(
                back, centroids, qvec, k=50, nprobe=4, key_col="vec_id"
            ).collect()
        ]

    with tempfile.TemporaryDirectory() as d:
        incr = os.path.join(d, "incr")
        full = os.path.join(d, "full")
        build_index_layout(
            ivf_assign(old, centroids), incr, partition_col="centroid_id"
        )
        # two appends to accumulate small files per cell
        append_to_index_layout(
            new.filter(F.col("vec_id") % 10 == 0), incr, centroids=centroids
        )
        append_to_index_layout(
            new.filter(F.col("vec_id") % 10 == 5), incr, centroids=centroids
        )
        build_index_layout(
            ivf_assign(emb, centroids), full, partition_col="centroid_id"
        )
        assert probe(incr) == probe(full)

        def max_files(path):
            best = 0
            for sub in os.listdir(path):
                if sub.startswith("centroid_id="):
                    n = sum(
                        1
                        for f in os.listdir(os.path.join(path, sub))
                        if not f.startswith(("_", "."))
                    )
                    best = max(best, n)
            return best

        before = max_files(incr)
        assert before > 1  # appends really did add files
        compacted = compact_layout_partitions(
            spark, incr, partition_col="centroid_id", max_files_per_partition=1
        )
        assert compacted  # at least one dirty cell folded
        assert max_files(incr) <= before
        assert probe(incr) == probe(full)  # results unchanged


def test_compact_skips_clean_partitions(spark, sf_dir):
    """A layout already at one file per cell is a no-op for compaction
    (no rewrite, empty return)."""
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        sampled_centroids,
    )
    from external_benchmarks_spark.pipeline.index import compact_layout_partitions

    emb = Catalog(spark, sf_dir).embeddings
    centroids = sampled_centroids(emb, n_centroids=8)
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "idx")
        build_index_layout(
            ivf_assign(emb, centroids), out, partition_col="centroid_id"
        )
        mtimes = {
            sub: os.path.getmtime(os.path.join(out, sub))
            for sub in os.listdir(out)
            if sub.startswith("centroid_id=")
        }
        assert (
            compact_layout_partitions(
                spark, out, partition_col="centroid_id",
                max_files_per_partition=4,
            )
            == []
        )
        for sub, m in mtimes.items():
            assert os.path.getmtime(os.path.join(out, sub)) == m


def test_compact_crash_recovery(spark, sf_dir):
    """The staged swap's crash points are recoverable: a `.compacting.`
    trash dir with no live partition (crash between the two renames) is
    restored on the next run; one alongside a live partition (crash
    after the second rename) is dropped. Row counts survive both."""
    import shutil

    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        sampled_centroids,
    )
    from external_benchmarks_spark.pipeline.index import compact_layout_partitions

    emb = Catalog(spark, sf_dir).embeddings
    centroids = sampled_centroids(emb, n_centroids=8)
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "idx")
        build_index_layout(
            ivf_assign(emb, centroids), out, partition_col="centroid_id"
        )
        total = spark.read.parquet(out).count()
        parts = sorted(
            p for p in os.listdir(out) if p.startswith("centroid_id=")
        )
        # crash between renames: live gone, only trash remains
        os.rename(
            os.path.join(out, parts[0]),
            os.path.join(out, f".compacting.{parts[0]}"),
        )
        # crash after second rename: live AND stale trash copy both exist
        shutil.copytree(
            os.path.join(out, parts[1]),
            os.path.join(out, f".compacting.{parts[1]}"),
        )
        compact_layout_partitions(
            spark, out, partition_col="centroid_id", max_files_per_partition=4
        )
        assert os.path.isdir(os.path.join(out, parts[0]))  # restored
        assert not any(p.startswith(".compacting.") for p in os.listdir(out))
        assert spark.read.parquet(out).count() == total


def test_index_layout_fingerprint_wiring(spark, sf_dir):
    """build_index_layout(fingerprint=...) records the marker after a
    completed write; append_to_index_layout drops it, so a layout that
    diverged from its recorded source never reads as current."""
    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        sampled_centroids,
    )
    from external_benchmarks_spark.pipeline.index import append_to_index_layout
    from external_benchmarks_spark.pipeline.layout import (
        layout_is_current,
        source_fingerprint,
    )

    emb = Catalog(spark, sf_dir).embeddings
    centroids = sampled_centroids(emb, n_centroids=8)
    fp = source_fingerprint(
        [os.path.join(sf_dir, "embeddings.parquet")],
        extra={"centroids": str(centroids.tolist())[:64]},
    )
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "idx")
        build_index_layout(
            ivf_assign(emb.filter(F.col("vec_id") % 2 == 0), centroids),
            out,
            partition_col="centroid_id",
            fingerprint=fp,
        )
        assert layout_is_current(out, fp)
        append_to_index_layout(
            emb.filter(F.col("vec_id") % 2 == 1), out, centroids=centroids
        )
        assert not layout_is_current(out, fp)


def test_safetensors_roundtrip(tmp_path):
    """Our reader/writer of the public safetensors layout round-trips
    shapes, dtypes, and bytes exactly."""
    import numpy as np

    from external_benchmarks_spark.pipeline.minilm import (
        load_safetensors,
        save_safetensors,
    )

    rng = np.random.default_rng(3)
    tensors = {
        "a": rng.standard_normal((4, 7)).astype(np.float32),
        "b.bias": np.arange(5, dtype=np.float64),
        "ids": np.array([1, 2, 3], dtype=np.int64),
    }
    p = str(tmp_path / "m.safetensors")
    save_safetensors(p, tensors)
    back = load_safetensors(p)
    assert set(back) == set(tensors)
    for k in tensors:
        assert back[k].dtype == tensors[k].dtype
        assert (back[k] == tensors[k]).all()


def test_checkpoint_encoder_contract(tmp_path):
    """The model-inference path runs UN-skipped: weights load from a
    real safetensors checkpoint and the forward pass satisfies the same
    contract as the other encoder tiers (unit-norm, deterministic,
    content- and order-sensitive)."""
    import numpy as np

    from external_benchmarks_spark.pipeline.minilm import (
        MiniLMEncoder,
        make_tiny_checkpoint,
    )

    ckpt = make_tiny_checkpoint(
        str(tmp_path / "ckpt"),
        ["hello", "world", "spark", "engine", "fast"],
        dim=64, n_layers=2, n_heads=4,
    )
    enc = MiniLMEncoder.load(ckpt)
    texts = ["hello world", "world hello", "spark engine fast", "hello world"]
    mat = enc.encode(texts)
    assert mat.shape == (4, 64) and mat.dtype == np.float32
    assert np.allclose(np.linalg.norm(mat, axis=1), 1.0, atol=1e-5)
    assert (mat[0] == mat[3]).all()  # deterministic
    assert not (mat[0] == mat[1]).all()  # position-sensitive
    assert not (mat[0] == mat[2]).all()  # content-sensitive
    # load-twice determinism (fresh parse of the checkpoint bytes)
    assert (MiniLMEncoder.load(ckpt).encode(texts) == mat).all()


def test_checkpoint_udf_matches_driver_encode(spark, tmp_path):
    """embed_text_udf(ckpt_dir=...) runs the checkpoint encoder inside
    executor Python workers (load-once, Arrow batches); results must be
    bit-identical to a driver-side encode — the full model-inference
    path through the same pandas_udf as every other tier."""
    import numpy as np

    from external_benchmarks_spark.pipeline.embedding import embed_text_udf
    from external_benchmarks_spark.pipeline.minilm import (
        MiniLMEncoder,
        make_tiny_checkpoint,
    )

    ckpt = make_tiny_checkpoint(
        str(tmp_path / "ckpt"),
        ["item", "quality", "fast", "cheap", "review"],
        dim=64, n_layers=2, n_heads=4,
    )
    df = spark.createDataFrame(
        [(i, f"item {i % 3} quality review") for i in range(40)],
        "id bigint, text string",
    )
    out = (
        df.select("id", embed_text_udf(dim=64, ckpt_dir=ckpt)("text").alias("e"))
        .orderBy("id")
        .collect()
    )
    want = MiniLMEncoder.load(ckpt).encode(
        [f"item {i % 3} quality review" for i in range(40)]
    )
    got = np.array([r.e for r in out], dtype=np.float32)
    assert (got == want).all()


def test_checkpoint_dim_mismatch_raises(tmp_path):
    """A checkpoint whose width differs from the requested dim must
    FAIL loudly, not silently produce hashed-ngram embeddings of the
    right shape (a misconfigured $EBS_ENCODER_CKPT would otherwise
    ship wrong-tier vectors with no signal)."""
    import pandas as pd
    import pytest

    from external_benchmarks_spark.pipeline.embedding import encode_batch
    from external_benchmarks_spark.pipeline.minilm import make_tiny_checkpoint

    ckpt = make_tiny_checkpoint(
        str(tmp_path / "ckpt"), ["a", "b"], dim=64, n_layers=1, n_heads=4
    )
    with pytest.raises(ValueError, match="dim=64"):
        encode_batch(pd.Series(["hello"]), dim=384, ckpt_dir=ckpt)


def test_hashed_ngram_fast_path_matches_per_gram():
    """The vectorized ASCII trigram path must be BIT-identical to the
    per-gram zlib.crc32 reference on every input class (ASCII, unicode
    fallback, short, empty, None)."""
    import random
    import string
    import zlib

    import numpy as np

    from external_benchmarks_spark.pipeline.embedding import (
        _crc32_trigram_windows,
        hashed_ngram_encode,
    )

    rng = random.Random(11)
    for _ in range(20):
        data = bytes(rng.randrange(32, 127) for _ in range(rng.randint(3, 99)))
        want = [zlib.crc32(data[j:j + 3]) for j in range(len(data) - 2)]
        assert _crc32_trigram_windows(data).tolist() == want

    def per_gram(texts, dim, n=3):
        out = np.zeros((len(texts), dim), dtype=np.float32)
        for i, t in enumerate(texts):
            s = (t or "").lower()
            grams = ([s] if s else []) if len(s) < n else [
                s[j:j + n] for j in range(len(s) - n + 1)
            ]
            if not grams:
                continue
            hs = np.frombuffer(
                b"".join(zlib.crc32(g.encode()).to_bytes(4, "little") for g in grams),
                dtype=np.uint32,
            ).astype(np.int64)
            v = np.zeros(dim)
            np.add.at(v, hs % dim, np.where((hs >> 16) & 1, 1.0, -1.0))
            nrm = np.linalg.norm(v)
            if nrm:
                out[i] = (v / nrm).astype(np.float32)
        return out

    texts = ["plain ascii text", "Ünïcode tèxt", "ab", "", None, "x" * 400] + [
        "".join(rng.choice(string.printable[:95]) for _ in range(rng.randint(0, 200)))
        for _ in range(50)
    ]
    assert (hashed_ngram_encode(texts, 128) == per_gram(texts, 128)).all()


def test_layout_pruning_report_sorted_vs_unsorted(spark, sf_dir, tmp_path):
    """The audit tool quantifies what sortWithinPartitions buys: a
    vec_id-sorted layout prunes most row groups for a narrow range,
    an unsorted (hash-scrambled) one prunes little to none."""
    from external_benchmarks_spark.pipeline.index import (
        build_index_layout,
        layout_pruning_report,
    )

    emb = Catalog(spark, sf_dir).embeddings
    n = emb.count()
    sorted_dir = str(tmp_path / "sorted")
    # many row groups: a small block size forces per-group granularity
    # (write option, not session conf — hadoop confs are fixed at start)
    (
        emb.repartition(1).sortWithinPartitions("vec_id")
        .write.option("parquet.block.size", 16384).parquet(sorted_dir)
    )
    scrambled_dir = str(tmp_path / "scrambled")
    (
        emb.repartition(1)
        .sortWithinPartitions(F.md5(F.col("vec_id").cast("string")))
        .write.option("parquet.block.size", 16384).parquet(scrambled_dir)
    )
    lo, hi = 0, max(n // 50, 1)  # ~2% range
    srt = layout_pruning_report(sorted_dir, "vec_id", lo, hi)
    scr = layout_pruning_report(scrambled_dir, "vec_id", lo, hi)
    assert srt["rows"] == scr["rows"] == n
    assert srt["row_groups"] > 2  # granularity actually materialized
    assert srt["prunable_fraction"] > scr["prunable_fraction"]
    assert srt["prunable_fraction"] >= 0.5
