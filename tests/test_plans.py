"""Physical-plan regression tests: lock in the execution shapes the
engine is designed around (SURVEY.md §4). If a refactor turns a broadcast
join into a sort-merge join or un-prunes a scan, these fail before any
benchmark does."""

from __future__ import annotations

import pyspark.sql.functions as F

from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.operators.topk import filtered_vector_topk

import __spark_entry__ as entry_mod


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_vector_topk_plan(spark, sf_dir):
    """Flagship query: pruned scan -> filter -> arrow score -> TakeOrdered."""
    df = filtered_vector_topk(
        Catalog(spark, sf_dir).embeddings, entry_mod.QVEC, F.col("label") == 0, k=100
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort
    assert "Sort " not in plan
    # column pruning: the scan must read exactly the 3 needed columns
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "vec_id" in scan and "embedding" in scan and "label" in scan


def test_vector_topk_filter_below_scorer(spark, sf_dir):
    df = filtered_vector_topk(
        Catalog(spark, sf_dir).embeddings, entry_mod.QVEC, F.col("label") == 0, k=100
    )
    lines = _plan(df).splitlines()
    filter_depth = next(i for i, l in enumerate(lines) if "Filter" in l and "label" in l)
    # the exact top-k kernel (functions/vector.batch_topk) is the scorer
    arrow_depth = next(i for i, l in enumerate(lines) if "MapInArrow" in l)
    # deeper in the printed tree = earlier in execution
    assert filter_depth > arrow_depth, "metadata filter must precede scoring"


def test_per_query_topk_plan_has_no_pair_join(spark, sf_dir):
    """Batch-of-queries top-k scores each Arrow batch against the
    collected query set: no item x query join of any kind, one
    MapInArrow scorer and one window shuffle."""
    from external_benchmarks_spark.operators.topk import per_query_topk

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = _plan(per_query_topk(emb, queries, k=7))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("MapInArrow") == 1


def test_join_agg_broadcasts_dims(spark, sf_dir):
    plan = _plan(entry_mod.q_join_agg(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan  # map-side partial aggregation


def test_global_topk_no_full_sort(spark, sf_dir):
    plan = _plan(entry_mod.q_global_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_group_share_broadcasts_total(spark, sf_dir):
    plan = _plan(entry_mod.q_group_share_topn(spark, sf_dir))
    # the scalar total joins in as a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_selective_filter_pushdown(spark, sf_dir):
    plan = _plan(entry_mod.q_selective_filter(spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PushedFilters: [" in scan
    assert "IsNotNull" in scan or "LessThanOrEqual" in scan


def test_null_profile_single_aggregate(spark, sf_dir):
    """All per-column null counts must compute in ONE aggregate pass."""
    plan = _plan(entry_mod.q_null_profile(spark, sf_dir))
    assert plan.count("FileScan") == 1


def test_ivf_layout_probe_prunes_partitions(spark, sf_dir):
    """The IVF scale path end-to-end: centroid-partitioned layout on disk,
    probe filter prunes whole cell directories at PLANNING time (the
    isin() lands in PartitionFilters, not a post-scan Filter)."""
    import os
    import tempfile

    from external_benchmarks_spark.operators.similarity import (
        ivf_assign,
        ivf_fit,
        ivf_probe_cells,
        ivf_topk,
    )
    from external_benchmarks_spark.pipeline.index import build_index_layout

    emb = Catalog(spark, sf_dir).embeddings
    centroids = ivf_fit(emb, n_centroids=8, seed=42)
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "ivf")
        build_index_layout(
            ivf_assign(emb, centroids), out, partition_col="centroid_id"
        )
        assert any(e.startswith("centroid_id=") for e in os.listdir(out))
        back = spark.read.parquet(out)
        probe = ivf_topk(back, centroids, entry_mod.QVEC, k=10, nprobe=3)
        scan = next(l for l in _plan(probe).splitlines() if "FileScan" in l)
        assert "PartitionFilters" in scan and "centroid_id" in scan.split(
            "PartitionFilters"
        )[1].split("]")[0], scan
        # results identical to probing the in-memory assignment
        mem = ivf_topk(ivf_assign(emb, centroids), centroids, entry_mod.QVEC, k=10, nprobe=3)
        assert [r.vec_id for r in probe.collect()] == [r.vec_id for r in mem.collect()]


def test_asof_join_single_shuffle_per_input(spark, sf_dir):
    """The union + running-last as-of join must not plan a nested-loop or
    range join: one Exchange for the union'd window, nothing quadratic."""
    plan = _plan(entry_mod.q_asof_join_generic(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_equi_join(spark, sf_dir):
    """Grid bucketing must turn the interval predicate into an equi-join
    (hash or sort-merge) — never a nested-loop over the cross product."""
    plan = _plan(entry_mod.q_range_join_agg(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dedup_single_md5_pass(spark, sf_dir):
    """MinHash/SimHash: the md5 token-hash array materializes once."""
    from external_benchmarks_spark.operators.dedup import minhash_signature, simhash

    docs = Catalog(spark, sf_dir).documents
    for df in (minhash_signature(docs), simhash(docs)):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("md5") == 1


def test_doc_chunks_no_shuffle(spark, sf_dir):
    """Chunking is pure fan-out: transform + posexplode, zero Exchange."""
    from external_benchmarks_spark.operators.textprep import chunk_documents

    plan = _plan(chunk_documents(Catalog(spark, sf_dir).documents))
    assert "Exchange" not in plan, plan


def test_dataset_split_no_shuffle(spark, sf_dir):
    from external_benchmarks_spark.operators.textprep import dataset_split

    plan = _plan(dataset_split(Catalog(spark, sf_dir).documents))
    assert "Exchange" not in plan, plan


def test_vocab_encode_broadcasts_vocab(spark, sf_dir):
    """Corpus encoding must join the vocab as a broadcast, and the top-V
    must plan as TakeOrderedAndProject (no global sort of term counts)."""
    from external_benchmarks_spark.operators.textprep import vocab_encode

    plan = _plan(vocab_encode(Catalog(spark, sf_dir).documents))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_quantized_topk_plan(spark, sf_dir):
    """Quantize + score + top-k stays scan -> project -> TakeOrdered."""
    from external_benchmarks_spark.operators.quantize import quantized_dot_topk

    plan = _plan(quantized_dot_topk(Catalog(spark, sf_dir).embeddings, entry_mod.QVEC))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan


def test_tfidf_broadcasts_dfreq(spark, sf_dir):
    """Doc-frequency joins back as a broadcast — the tf table is never
    reshuffled by term."""
    from external_benchmarks_spark.operators.tfidf import tfidf_top_terms

    plan = _plan(tfidf_top_terms(Catalog(spark, sf_dir).documents))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embed_inference_is_arrow_vectorized(spark, sf_dir):
    """The encoder must run as ArrowEvalPython (vectorized pandas_udf
    batches), never row-at-a-time BatchEvalPython."""
    plan = _plan(entry_mod.q_embed_inference(spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_lsh_candidate_filter_stays_in_codegen(spark, sf_dir):
    """sign-LSH probe: the bucket bits are ONE Arrow batch hop, the
    popcount candidate filter stays JVM-side (codegen Filter) below the
    exact top-k kernel's one MapInArrow hop, and the merge is
    TakeOrderedAndProject — no other Python round-trip."""
    plan = _plan(entry_mod.q_lsh_ann_topk(spark, sf_dir))
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInArrow") == 1
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_decode_kernels_are_map_in_pandas(spark, sf_dir):
    """Multimodal decode: blobs flow through mapInPandas (Arrow batches of
    bytes), with the scan pruned to key+blob only."""
    plan = _plan(entry_mod.q_image_decode(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_ivf_sampled_assignment_single_arrow_pass(spark, sf_dir):
    """Deterministic-IVF query: one Arrow pass assigns cells, the probe
    is a codegen isin filter, top-k is TakeOrderedAndProject."""
    plan = _plan(entry_mod.q_ivf_ann_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_gopher_rules_shuffle_free(spark, sf_dir):
    """The rule filter is one codegen'd projection: no Exchange at all."""
    plan = _plan(entry_mod.q_gopher_rules(spark, sf_dir))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan  # pure Catalyst, no Python


def test_dsir_logratio_table_broadcasts(spark, sf_dir):
    """The n_buckets-row log-ratio table must broadcast onto the bigram
    occurrence stream — the occurrence table is never shuffled to join it."""
    plan = _plan(entry_mod.q_dsir_weights(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # map-side combine on both groupBys


def test_dup_span_shuffles_only_keyed(spark, sf_dir):
    """Span fingerprinting: shuffles are hash-keyed (span hash / doc_id),
    never a cartesian or a global sort."""
    plan = _plan(entry_mod.q_dup_span_stats(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "partial_count" in plan or "partial_sum" in plan


def test_cluster_profile_groups_map_side(spark, sf_dir):
    """Centroid matrix is a BROADCAST side table (k x dim literals in the
    plan would bloat Catalyst analysis and task serialization at k=4096,
    dim=768); the k-key groupBy still collapses map-side before the
    shuffle."""
    plan = _plan(entry_mod.q_cluster_profile(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("BroadcastHashJoin") == 1  # centroids broadcast once
    assert "SortMergeJoin" not in plan  # never a shuffle join on centroids


def test_multimodal_decode_plans_are_map_only(spark, sf_dir):
    """Blob generate -> decode -> featurize must never shuffle: the whole
    pipeline is pandas-UDF projections over the scan, so it scales out
    with zero data movement (one blob -> many rows for video is a
    map-side explode inside mapInPandas, not an Exchange)."""
    for q in (
        entry_mod.q_image_decode_multiformat,
        entry_mod.q_video_frame_sample,
    ):
        plan = _plan(q(spark, sf_dir))
        assert "Exchange" not in plan, plan
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan


def test_bm25_single_corpus_pass(spark, sf_dir):
    """r15 shape: dl rides through the explode and df is a count window
    over the match-bounded tf, so the scoring plan has NO join at all
    and tokenizes the corpus exactly once (the old dfreq-broadcast +
    keyed-dl-join form scanned it three times); top-k stays
    TakeOrderedAndProject."""
    plan = _plan(entry_mod.q_bm25_topk(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("FileScan") == 1, plan


def test_semdedup_no_cartesian(spark, sf_dir):
    """Pairwise work is cluster-blocked (equi-join on the block key) and
    centroids broadcast — never an all-pairs product."""
    plan = _plan(entry_mod.q_semdedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_sentence_split_no_shuffle(spark, sf_dir):
    """Fan-out only: split -> filter -> posexplode, zero Exchange."""
    plan = _plan(entry_mod.q_sentence_split(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_sampled_centroids_no_global_sort(spark, sf_dir):
    """The deterministic centroid sample (ORDER BY md5 LIMIT n) must plan
    as TakeOrderedAndProject — per-partition heaps + driver merge of
    n x partitions rows — never a sort-shuffle of the table."""
    e = Catalog(spark, sf_dir).embeddings
    q = (
        e.select(
            F.col("vec_id").alias("k"),
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(16)
    )
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "Sort " not in plan


def test_neardup_arrow_fast_path_single_shuffle(spark, sf_dir):
    """The pair scorer is one hash-shuffle on the block key into one
    grouped Arrow call — no extra Exchange, no join, no sort."""
    from external_benchmarks_spark.operators.dedup import embedding_neardup_pairs

    df = embedding_neardup_pairs(
        Catalog(spark, sf_dir).embeddings, block_col="label", threshold=0.2
    )
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert plan.count("Exchange") == 1  # the groupBy(block) shuffle only
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_tpch_q5_broadcasts_all_dims(spark, sf_dir):
    """The 6-way Q5 join tree: every dim side fits the broadcast
    threshold at test scale, so no sort-merge anywhere; at production
    scale AQE re-plans the fact-fact edges while dims stay broadcast."""
    plan = _plan(entry_mod.q_tpch_q5(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q1_partial_agg(spark, sf_dir):
    """Q1 is THE map-side-combine query: partial aggregation must sit
    below the single exchange."""
    plan = _plan(entry_mod.q_tpch_q1(spark, sf_dir))
    assert "partial_sum" in plan or "partial_count" in plan
    assert plan.count("Exchange") <= 2  # agg shuffle (+ tiny final sort)


def test_tpch_q6_predicates_pushed(spark, sf_dir):
    """Q6 is the pushdown showcase: every filter must reach the scan
    (PushedFilters) and the plan must contain no join and no data-row
    exchange (single partial->final agg)."""
    plan = _plan(entry_mod.q_tpch_q6(spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    # toString truncates long filter lists — assert on the un-truncated
    # head of PushedFilters (all three columns appear there as IsNotNull)
    pushed = scan.split("PushedFilters: [")[1]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in pushed, (col, pushed[:200])
    assert "Join" not in plan


def test_tpch_q10_broadcasts_nation(spark, sf_dir):
    plan = _plan(entry_mod.q_tpch_q10(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort


def test_tpch_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    """The EXISTS must compile to ONE left-semi join on l_orderkey —
    never a per-outer-row subquery execution (no SubqueryExec in the
    physical plan)."""
    plan = _plan(entry_mod.q_tpch_q4(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Subquery" not in plan  # fully decorrelated


def test_tpch_q17_correlated_scalar_decorrelates_to_agg_join(spark, sf_dir):
    """The per-part 0.2*avg(quantity) threshold must decorrelate to a
    per-partkey Aggregate joined back to the probe side: no SubqueryExec,
    and an avg() aggregate appears inside the join tree."""
    plan = _plan(entry_mod.q_tpch_q17(spark, sf_dir))
    assert "Subquery" not in plan  # rewritten, not re-executed per row
    assert "avg(" in plan  # the decorrelated per-part aggregate
    assert plan.count("Join") >= 2  # part join + threshold join


def test_tpch_q21_single_lineitem_scan(spark, sf_dir):
    """Both correlated predicates collapse into per-order aggregates,
    so the plan reads lineitem ONCE (the naive semi+anti decorrelation
    scans it three times — the worst 10x ladder slope of round 6), with
    no subquery re-execution and a broadcast supplier join."""
    plan = _plan(entry_mod.q_tpch_q21(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1 or plan.count("lineitem") <= 2, plan
    assert "Subquery" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q22_not_exists_decorrelates_to_anti_join(spark, sf_dir):
    """Correlated NOT EXISTS -> left-anti join. The UNcorrelated scalar
    threshold legitimately stays a one-off Subquery node (evaluated
    once, broadcast as a literal) — assert it is the only subquery
    shape left."""
    plan = _plan(entry_mod.q_tpch_q22(spark, sf_dir))
    assert "LeftAnti" in plan


def test_tpch_q2_min_cost_decorrelates(spark, sf_dir):
    """The correlated MIN(ps_cost) subquery — itself a 3-dim join over
    the partsupp CTE — must decorrelate to a per-partkey min-aggregate
    joined back: no SubqueryExec, a min() aggregate in the join tree,
    and no cartesian product anywhere."""
    plan = _plan(entry_mod.q_tpch_q2(spark, sf_dir))
    assert "Subquery" not in plan
    assert "min(" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q7_q8_q9_broadcast_all_dims(spark, sf_dir):
    """The three multi-dimension volume queries must broadcast every
    dimension (nation roles, region, filtered part, supplier): the only
    allowed shuffles are fact-fact joins, and Q7/Q8/Q9 have none that
    need SortMergeJoin at these dim sizes."""
    for q in (entry_mod.q_tpch_q7, entry_mod.q_tpch_q8, entry_mod.q_tpch_q9):
        plan = _plan(q(spark, sf_dir))
        assert "SortMergeJoin" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastHashJoin" in plan, q.__name__


def test_tpch_q11_q15_scalar_subquery_evaluated_once(spark, sf_dir):
    """Q11's fraction-of-total HAVING threshold and Q15's MAX(revenue)
    are UNcorrelated scalars: they may appear as one-off Subquery nodes
    (evaluated once, folded to a literal) but must never become a
    per-row nested-loop shape."""
    for q in (entry_mod.q_tpch_q11, entry_mod.q_tpch_q15):
        plan = _plan(q(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__


def test_tpch_q16_not_in_plans_anti_join(spark, sf_dir):
    """NOT IN (complaint suppliers) must compile to a (null-aware)
    left-anti join, never a per-row membership subquery."""
    plan = _plan(entry_mod.q_tpch_q16(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "Subquery" not in plan


def test_tpch_q18_q20_in_subqueries_plan_semi_joins(spark, sf_dir):
    """Q18's grouped-HAVING IN and Q20's nested INs (with a correlated
    scalar agg inside the HAVING) must all decorrelate to left-semi
    joins — zero residual subquery execution."""
    for q in (entry_mod.q_tpch_q18, entry_mod.q_tpch_q20):
        plan = _plan(q(spark, sf_dir))
        assert "LeftSemi" in plan, q.__name__
        assert "Subquery" not in plan, q.__name__


def test_tpch_q19_single_broadcast_join(spark, sf_dir):
    """The disjunctive mixed-table predicate must not break the single
    broadcast part join or degenerate into a cartesian/nested-loop
    fallback."""
    plan = _plan(entry_mod.q_tpch_q19(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_no_registry_query_plans_a_cartesian_product(spark, sf_dir):
    """Sweeping guardrail over the ENTIRE registry: no entry may compile
    to a CartesianProduct — the one physical operator that cannot
    survive a scale-up (broadcast nested loops over small-by-contract
    sides are fine and appear as BroadcastNestedLoopJoin instead) — nor
    to a row-at-a-time Python UDF (BatchEvalPython; every Python
    boundary in this repo is Arrow-batched and shows up as
    ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas instead). The
    allowlists are intentionally empty; a new entry that needs either
    shape should redesign, not amend this test."""
    allow: set[str] = set()
    bad = {}
    for name, fn in entry_mod.queries().items():
        if name in allow:
            continue
        plan = _plan(fn(spark, sf_dir))
        hits = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if hits:
            bad[name] = hits
    assert not bad, f"forbidden plan shapes: {bad}"


def test_kmv_overlap_plan(spark, sf_dir):
    """KMV: rank-limit pushdown on both bottom-k windows (per-partition
    partial top-k before the shuffle), broadcast pair expansion, no
    cartesian over anything corpus-sized."""
    plan = _plan(entry_mod.q_kmv_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 2  # sketch + union bottom-k
    assert "BroadcastHashJoin" in plan  # sketch x pair-list expansion


def test_allpairs_jaccard_plan(spark, sf_dir):
    """Prefix join: every join is an equi-join (inverted index on the
    prefix token, then key joins for verification) — the exactness must
    come from the lemma, never from a nested-loop pair scan."""
    plan = _plan(entry_mod.q_allpairs_jaccard(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cohort_retention_plan(spark, sf_dir):
    """Retention: the corpus scans and aggregates ONCE — the cohort-size
    denominator is a partitioned window over the matrix, never a join
    back to a second copy of the matrix lineage."""
    df = entry_mod.q_cohort_retention(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_funnel_latency_plan(spark, sf_dir):
    """Latency melt is a single projection off one aggregation — one
    scan, no join, no per-pair union lineage replay."""
    plan = _plan(entry_mod.q_funnel_latency(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_no_registry_query_rescans_a_table_uncached(spark, sf_dir):
    """Sweeping guardrail: an entry whose plan references the same
    source table >= 3 times must be caching the shared frame (persist
    substitutes InMemoryRelation at plan time) — otherwise every
    reference replays the corpus scan at execution. Caught three real
    double-lineage bugs in round 8 (retention's denominator join,
    hourly_acf's centered series, unigram_doc_ppl's row base); this
    pins the discipline for every future entry."""
    import re
    from collections import Counter

    bad = {}
    for name, fn in entry_mod.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        counts = Counter(re.findall(r"(\w+)\.parquet", plan))
        worst = counts.most_common(1)
        if worst and worst[0][1] >= 3 and "InMemoryRelation" not in plan:
            bad[name] = worst[0]
    assert not bad, f"uncached repeated scans: {bad}"


def test_span_dedup_anti_join_no_cartesian(spark, sf_dir):
    """The hot-span removal is a LEFT ANTI equi-join on the span text
    (broadcast at this scale), never a cartesian; the span table feeds
    its three consumers from one checkpoint, so no parquet re-scan
    survives in the plan."""
    plan = _plan(entry_mod.q_span_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "documents.parquet" not in plan  # checkpointed fan-out


def test_fuzzy_pairs_join_on_hashed_long_keys(spark, sf_dir):
    """The r11 scale tier: the variant self-join runs on xxhash64 longs
    (candidates only ever ADDED by collision, removed by exact verify),
    pair dedup on exact dense int ids, verification through the BANDED
    thresholded levenshtein — and nothing cartesian."""
    plan = _plan(entry_mod.q_symdelete_name_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "xxhash64" in plan
    assert "levenshtein" in plan
