"""Operators must be total: empty inputs produce empty (not crashed)
outputs. At 100 TB a filter chain regularly empties a partition or a
whole input (e.g. a new source with no documents yet)."""

from __future__ import annotations

import os

from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.functions.text import quality_score
from external_benchmarks_spark.operators.dedup import (
    exact_dedup_groups,
    keep_best,
    minhash_signature,
)
from external_benchmarks_spark.operators.graph import (
    connected_components,
    pagerank,
)
from external_benchmarks_spark.operators.quantize import quantization_report
from external_benchmarks_spark.operators.textprep import (
    chunk_documents,
    repetition_stats,
    sequence_pack,
    vocab_encode,
)
from external_benchmarks_spark.functions.text import fingerprint

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_text_operators_on_empty(spark):
    empty = Catalog(spark, SF_DIR).documents.limit(0)
    assert repetition_stats(empty).count() == 0
    assert chunk_documents(empty).count() == 0
    assert sequence_pack(empty).count() == 0
    assert vocab_encode(empty).count() == 0
    assert minhash_signature(empty).count() == 0
    assert exact_dedup_groups(empty).count() == 0
    assert keep_best(empty, fingerprint("text"), quality_score("text")).count() == 0


def test_graph_operators_on_empty(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
    assert pagerank(empty).count() == 0


def test_quantize_on_empty(spark):
    empty = Catalog(spark, SF_DIR).embeddings.limit(0)
    assert quantization_report(empty).count() == 0


def test_round3_operators_on_empty(spark):
    import numpy as np

    from external_benchmarks_spark.multimodal.binaryops import frame_sample
    from external_benchmarks_spark.operators.graph import triangle_participation
    from external_benchmarks_spark.operators.similarity import semdedup
    from external_benchmarks_spark.operators.textprep import split_sentences
    from external_benchmarks_spark.operators.tfidf import bm25_topk

    no_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert triangle_participation(no_edges).count() == 0

    no_docs = Catalog(spark, SF_DIR).documents.limit(0)
    assert split_sentences(no_docs).count() == 0
    assert bm25_topk(no_docs, ["spark"]).count() == 0

    no_vecs = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, centroid_id int"
    )
    cents = np.zeros((2, 4), dtype=np.float64)
    assert semdedup(no_vecs, cents).count() == 0

    no_blobs = spark.createDataFrame([], "doc_id long, blob binary")
    assert frame_sample(no_blobs, "blob").count() == 0


def test_sketch_funnel_on_empty(spark):
    from pyspark.sql import functions as F

    from external_benchmarks_spark.functions.text import tokens
    from external_benchmarks_spark.operators.funnel import (
        event_funnel,
        event_transitions,
    )
    from external_benchmarks_spark.operators.sketch import (
        cms_heavy_hitters,
        cms_sketch,
        mg_candidates,
    )

    empty_docs = Catalog(spark, SF_DIR).documents.limit(0)
    assert cms_heavy_hitters(empty_docs).count() == 0
    assert cms_heavy_hitters(empty_docs, candidates="mg").count() == 0
    empty_occ = empty_docs.select(F.explode(tokens("text")).alias("token"))
    assert cms_sketch(empty_occ).count() == 0
    assert mg_candidates(empty_occ).count() == 0

    empty_events = Catalog(spark, SF_DIR).events.limit(0)
    assert event_transitions(empty_events).count() == 0
    # funnel is a global agg: one row of zero counts with NULL shares
    row = event_funnel(empty_events).collect()[0]
    assert row["stage0_users"] in (0, None)


def test_retrieval_ops_on_empty_inputs(spark):
    """round-5 retrieval family: empty corpora/rank lists produce empty
    results with the right schemas, never errors."""
    from external_benchmarks_spark.operators.similarity import (
        maxsim_topk,
        mmr_topk,
    )
    from external_benchmarks_spark.operators.topk import rrf_fuse

    import __spark_entry__ as em

    empty_emb = Catalog(spark, SF_DIR).embeddings.limit(0)
    assert maxsim_topk(empty_emb, em.MAXSIM_QTOKENS, k=5).count() == 0
    out = mmr_topk(empty_emb, em.QVEC, k=5, m=10)
    assert out.count() == 0
    assert out.columns == ["mmr_rank", "vec_id", "mmr_score"]

    ea = spark.createDataFrame([], "id bigint, rank_a int")
    eb = spark.createDataFrame([], "id bigint, rank_b int")
    assert rrf_fuse(ea, eb, key_col="id").count() == 0
    one = spark.createDataFrame([(7, 1)], "id bigint, rank_a int")
    got = rrf_fuse(one, eb, key_col="id").collect()
    assert [(r["id"], r["rrf"]) for r in got] == [(7, 1.0 / 61)]
