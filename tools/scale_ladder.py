#!/usr/bin/env python
"""sf1.0 scale-ladder measurement for the headline legs.

The driver ships testdata at sf0.001/0.01/0.1; every slope claim in
SCALE.md previously topped out at sf0.1. This tool DERIVES an
sf1.0-equivalent dataset by replicating sf0.1 ten times with key
offsets — a measurement fixture written to the tempdir, never to the
driver's testdata — then times the headline legs at sf0.01 / sf0.1 /
sf1.0-replica so the scaling slope is measured, not extrapolated.

Replica construction (deterministic):
- Fact tables replicate x10 with disjoint key ranges: lineitem/orders
  share the orderkey offset, orders/customer the custkey offset,
  documents/embeddings their own id offsets — so join fan-outs scale
  exactly linearly.
- ``embeddings`` vectors are circularly SHIFTED by 7*replica positions:
  norms and within-replica geometry are preserved (each replica has
  sf0.1's exact near-dup structure), while cross-replica cosines stay
  low for non-degenerate vectors — near-dup pair counts scale ~10x,
  not the ~100x a verbatim copy would inflict on pairwise operators.
- Dimension tables (region/nation/supplier/part) copy verbatim, like
  TPC-H's own near-fixed dims; partsupp regenerates from them. Slopes
  below measure FACT-side scaling at fixed dims — stated wherever the
  numbers are quoted.

Usage: python tools/scale_ladder.py [--quick]
Prints one JSON line: {"legs": {name: {sf: {cold, steady}}},
"index_refresh": {sf: {...}}, "replica_rows": {...}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import rep_times, timed

SRC = "/root/testdata/sf0.1"
FACTOR = 10
LEGS = (
    "tpch_q2",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "hybrid_rrf",
    "neardup_components",
    "cms_heavy_hitters",
    # round-6 additions: PQ corpus pass, SCD2 merge, anomaly detector
    "pq_topk",
    "scd2_apply",
    "hourly_anomalies",
    # round-8 additions: tokenizer application (distinct-word DP is
    # constant across replicas — the join-back side scales), bloom
    # fact-side reduction, z-order bucket pricing (two scans + bounded
    # aggs)
    "wordpiece_segment_tokens",
    "bloom_semi_stats",
    "zorder_stats",
    # round-8 session-3 additions: KMV sketch build (corpus-sized
    # distinct + bounded pair expansion), single-shuffle cohort matrix,
    # the complete ed<=1 join (variant fan-out x result growth), and
    # the bounded per-order basket fan-out
    "kmv_overlap",
    "cohort_retention",
    "symdelete_name_pairs",
    "basket_lift",
    # round-9 additions: incremental dedup (store build cold, delta
    # steady), the semantic tier, and the total-order shard writer
    # (rank + write + stats)
    "delta_dedup",
    "delta_semdedup",
    "sorted_export",
    # round-10 additions: the closed dedup loop (seed + fold + resolve
    # against the persisted component map) and the vector-store
    # re-centering (sampled resample + dirty-cell rewrite; reps after
    # the first are the idempotent no-move path)
    "delta_keep_best",
    "centroid_refresh",
    # round-12 additions: incremental span removal vs the persisted
    # span-count store (store build cold via the registry helper, delta
    # steady) and the keep-best x span-clean x rank_sharded export
    # composition
    "delta_span_dedup",
    "span_clean_export",
)
# Legs whose operator starts with a distinct() over a string column:
# at 1.0r they run against the VARIANT view (10x vocabulary), not the
# verbatim replica — r8 verdict finding #3.
VARIANT_LEGS = {"kmv_overlap"}
DIM_TABLES = ("region", "nation", "supplier", "part")
EMB_DIM = 64


def replica_dir() -> str:
    st = os.stat(os.path.join(SRC, "lineitem.parquet"))
    return os.path.join(
        tempfile.gettempdir(),
        f"ebs_sf1_replica_{int(st.st_mtime)}_{st.st_size}",
    )


def _replicate(spark, df, offsets: dict[str, int], shift_emb: bool = False,
               mutate=None):
    """Union FACTOR copies, adding i*offset to each keyed column; copy i
    of an embedding is circularly shifted by (7*i) % EMB_DIM.
    ``mutate(frame, i)`` applies a per-copy column rewrite (used to make
    replicated STRING columns genuinely distinct per copy — the round-8
    verdict's finding #3: a verbatim-copied vocabulary makes any
    distinct()-first operator's rung meaningless)."""
    parts = []
    for i in range(FACTOR):
        d = df
        for col, off in offsets.items():
            d = d.withColumn(col, F.col(col) + F.lit(i * off))
        if shift_emb and i > 0:
            s = (7 * i) % EMB_DIM
            d = d.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", s + 1, EMB_DIM - s),
                    F.slice("embedding", 1, s),
                ),
            )
        if mutate is not None:
            d = mutate(d, i)
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _suffix_name(d, i):
    """Copy i > 0 gets a TWO-character replica suffix on c_name
    ("~ii"): within-copy edit distances are unchanged (a shared
    suffix), cross-copy pairs differ in >= 2 positions so ed<=1 never
    matches across copies — the distinct-name vocabulary and the
    expected pair count both grow exactly FACTOR-fold."""
    if i == 0:
        return d
    return d.withColumn("c_name", F.concat(F.col("c_name"), F.lit(f"~{i}{i}")))


def _suffix_tokens(d, i):
    """documents_v: copy i > 0 suffixes every TOKEN with _i — a
    bijection of the token space per copy, so within-copy overlap
    structure is exactly sf0.1's while the distinct (source, term)
    universe grows FACTOR-fold (disjoint per-copy vocabularies)."""
    if i == 0:
        return d
    toks = F.filter(
        F.split(F.col("text"), r"\s+"), lambda t: F.length(t) > 0
    )
    return d.withColumn(
        "text",
        F.concat_ws(
            " ", F.transform(toks, lambda t: F.concat(t, F.lit(f"_{i}")))
        ),
    )


def build_replica(spark) -> str:
    from external_benchmarks_spark.catalog import Catalog

    out = replica_dir()
    # v3: distinct c_name per copy, + documents_v variant table
    marker = os.path.join(out, "_REPLICA_DONE_v3")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    cat = Catalog(spark, SRC)
    mx = {
        "o": int(cat.orders.agg(F.max("o_orderkey")).collect()[0][0]) + 1,
        "c": int(cat.customer.agg(F.max("c_custkey")).collect()[0][0]) + 1,
        "d": int(cat.documents.agg(F.max("doc_id")).collect()[0][0]) + 1,
        "v": int(cat.embeddings.agg(F.max("vec_id")).collect()[0][0]) + 1,
        "e": int(cat.events.agg(F.max("event_id")).collect()[0][0]) + 1,
        "u": int(cat.events.agg(F.max("user_id")).collect()[0][0]) + 1,
    }
    jobs = {
        "lineitem": _replicate(spark, cat.lineitem, {"l_orderkey": mx["o"]}),
        "orders": _replicate(
            spark, cat.orders, {"o_orderkey": mx["o"], "o_custkey": mx["c"]}
        ),
        "customer": _replicate(
            spark, cat.customer, {"c_custkey": mx["c"]}, mutate=_suffix_name
        ),
        "documents": _replicate(spark, cat.documents, {"doc_id": mx["d"]}),
        # variant documents for the distinct()-first legs (kmv_overlap):
        # token space disjoint per copy, within-copy structure preserved
        "documents_v": _replicate(
            spark, cat.documents, {"doc_id": mx["d"]}, mutate=_suffix_tokens
        ),
        "embeddings": _replicate(
            spark, cat.embeddings, {"vec_id": mx["v"]}, shift_emb=True
        ),
        # events via the Catalog-normalized form (plain TIMESTAMP ts +
        # exact ts_us/ts_ns companions — vintage-independent on re-read);
        # user offsets scale the user population, same time range.
        "events": _replicate(
            spark, cat.events, {"event_id": mx["e"], "user_id": mx["u"]}
        ),
    }
    for name, df in jobs.items():
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    for name in DIM_TABLES:
        src = os.path.join(SRC, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.isfile(src):
            shutil.copy(src, dst)
        else:
            shutil.copytree(src, dst)
    # the "1.0rv" rung: same replica, but `documents` IS the variant
    # table — a symlink view so the distinct()-first legs get a
    # genuinely 10x vocabulary without touching the other legs' inputs
    vdir = os.path.join(out, "variant")
    os.makedirs(vdir, exist_ok=True)
    for entry in os.listdir(out):
        if not entry.endswith(".parquet") or entry == "documents_v.parquet":
            continue
        link = os.path.join(vdir, entry)
        target = os.path.join(
            out, "documents_v.parquet" if entry == "documents.parquet" else entry
        )
        if not os.path.lexists(link):
            os.symlink(target, link)
    open(marker, "w").close()
    return out


def replica10_dir() -> str:
    st = os.stat(os.path.join(SRC, "lineitem.parquet"))
    return os.path.join(
        tempfile.gettempdir(),
        f"ebs_sf10_replica_{int(st.st_mtime)}_{st.st_size}",
    )


def build_replica10(spark, rep: str) -> str:
    """The 100x-sf0.1 rung (r12 verdict item #5): documents + embeddings
    ONLY — the two tables the incremental-family fixed-delta ladders
    read — derived by replicating the 1.0r replica a further 10x with
    id offsets (embeddings circularly shifted by a different stride,
    11*i, so cross-copy cosines stay low against BOTH the base and the
    1.0r shifts). The full table set is not materialized: the 10r rung
    exists to give the store-build and per-batch-cost curves a second
    measured decade, not to run the whole leg list."""
    from external_benchmarks_spark.catalog import Catalog

    out = replica10_dir()
    marker = os.path.join(out, "_REPLICA_DONE_v1")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    cat = Catalog(spark, rep)
    mx_d = int(cat.documents.agg(F.max("doc_id")).collect()[0][0]) + 1
    mx_v = int(cat.embeddings.agg(F.max("vec_id")).collect()[0][0]) + 1
    docs = _replicate(spark, cat.documents, {"doc_id": mx_d})
    parts = []
    for i in range(FACTOR):
        d = cat.embeddings.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i * mx_v)
        )
        if i > 0:
            s = (11 * i) % EMB_DIM
            d = d.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", s + 1, EMB_DIM - s),
                    F.slice("embedding", 1, s),
                ),
            )
        parts.append(d)
    embs = parts[0]
    for p in parts[1:]:
        embs = embs.unionByName(p)
    docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    embs.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    open(marker, "w").close()
    return out


def main() -> None:
    from external_benchmarks_spark.session import get_spark

    import __spark_entry__ as em
    import bench

    quick = "--quick" in sys.argv
    spark = get_spark("scale-ladder")
    spark.range(1).count()
    rep = build_replica(spark)
    rungs = {"0.01": "/root/testdata/sf0.01", "0.1": SRC, "1.0r": rep}
    if quick:
        rungs = {"0.1": SRC, "1.0r": rep}
    q = em.queries()
    legs: dict = {name: {} for name in LEGS}
    rows: dict = {}
    for sf_label, sf_dir in rungs.items():
        from external_benchmarks_spark.catalog import Catalog

        rows[sf_label] = {
            "lineitem": Catalog(spark, sf_dir).lineitem.count(),
            "documents": Catalog(spark, sf_dir).documents.count(),
        }
        for name in LEGS:
            leg_dir = sf_dir
            if name in VARIANT_LEGS and sf_label == "1.0r":
                leg_dir = os.path.join(rep, "variant")
            reps = rep_times(lambda: q[name](spark, leg_dir).count(), 2)
            legs[name][sf_label] = {
                "cold": round(reps[0], 3),
                "steady": round(min(reps), 3),
            }
            print(f"# {name} @ {sf_label}: {legs[name][sf_label]}", file=sys.stderr)

    # Input-growth evidence for the two distinct()-first legs (the
    # round-8 verdict's "state the measured slope next to the
    # structural claim"): the operators' real input sizes per rung.
    from external_benchmarks_spark.catalog import Catalog

    growth: dict = {"symdelete_distinct_names": {}, "kmv_distinct_source_terms": {}}
    for sf_label, sf_dir in rungs.items():
        kdir = (
            os.path.join(rep, "variant") if sf_label == "1.0r" else sf_dir
        )
        growth["symdelete_distinct_names"][sf_label] = (
            Catalog(spark, sf_dir).customer.select("c_name").distinct().count()
        )
        d = Catalog(spark, kdir).documents
        toks = F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda t: F.length(t) > 0
        )
        growth["kmv_distinct_source_terms"][sf_label] = (
            d.select("source", F.explode(toks).alias("t")).distinct().count()
        )
    print(f"# input_growth: {growth}", file=sys.stderr)

    # Fixed-delta ladder for delta_dedup (round-8 verdict item #5's
    # "corpus grows 10x, delta cost stays flat"): the SAME 10% sf0.1
    # delta joins pre-built stores over corpora 0.1x/1x/10x its own
    # corpus. Store build is untimed (index work); the timed path is
    # the steady-state daily-batch join.
    from external_benchmarks_spark.operators.deltadedup import (
        build_signature_store,
        delta_dedup,
    )

    fixed_delta = Catalog(spark, SRC).documents.filter(
        F.col("doc_id") % 10 == 0
    )
    # The fixed-delta ladders get a FOURTH rung at 100x sf0.1 (r12
    # verdict item #5): the flat-over-corpus-growth claim is then
    # measured over a 1000x total span (0.01 -> 10r), and the
    # store/index builds get a second decade of scaling evidence.
    fixed_rungs = dict(rungs)
    if not quick:
        rep10 = build_replica10(spark, rep)
        fixed_rungs["10r"] = rep10
    dd_fixed: dict = {}
    stores = {}
    for sf_label, sf_dir in fixed_rungs.items():
        corpus = Catalog(spark, sf_dir).documents.filter(
            F.col("doc_id") % 10 != 0
        )
        tag = "ladder_" + sf_label.replace(".", "_")
        # store build timed SEPARATELY (r9 verdict item #8): the cold
        # number below is pure delta-path; store_build_s is the index
        # work (~0 when the fingerprint marker says the layout is
        # current from a previous ladder run in this tempdir).
        store, build_s = timed(
            lambda: build_signature_store(
                spark, corpus, tag=tag,
                source_paths=[os.path.join(sf_dir, "documents.parquet")],
            )
        )
        stores[sf_label] = store
        reps = rep_times(lambda: delta_dedup(spark, fixed_delta, store).count(), 3)
        dd_fixed[sf_label] = {
            "corpus_docs": corpus.count(),
            "store_build_s": round(build_s, 3),
            "cold": round(reps[0], 3),
            "steady": round(min(reps[1:]), 3),
        }
        print(f"# delta_dedup_fixed @ {sf_label}: {dd_fixed[sf_label]}",
              file=sys.stderr)

    # Fixed-delta ladder, SPAN tier (r12 — the r11 verdict item #3's
    # "Done" evidence): the SAME sf0.1 doc delta span-dedups against
    # span-count stores over corpora 0.01/0.1/1.0r. Expected ~flat: the
    # delta-side frames are fixed, the store read is pb-pruned and its
    # per-span SUM bucket-local, so the per-batch cost should track the
    # delta, not the corpus.
    from external_benchmarks_spark.operators.textprep import (
        build_span_store,
        delta_span_dedup,
    )

    span_fixed: dict = {}
    for sf_label, sf_dir in fixed_rungs.items():
        corpus = Catalog(spark, sf_dir).documents.filter(
            F.col("doc_id") % 10 != 0
        )
        sstore, sbuild_s = timed(
            lambda: build_span_store(
                spark, corpus, tag="ladder_span_" + sf_label.replace(".", "_"),
                source_paths=[os.path.join(sf_dir, "documents.parquet")],
            )
        )
        reps = rep_times(
            lambda: delta_span_dedup(spark, fixed_delta, sstore).count(), 3
        )
        span_fixed[sf_label] = {
            "corpus_docs": corpus.count(),
            "store_build_s": round(sbuild_s, 3),
            "cold": round(reps[0], 3),
            "steady": round(min(reps[1:]), 3),
        }
        print(f"# delta_span_dedup_fixed @ {sf_label}: {span_fixed[sf_label]}",
              file=sys.stderr)

    # Fixed-delta ladder, SEMANTIC tier (r10 verdict item #1's "Done"
    # evidence): the SAME sf0.1 embedding delta joins vector stores over
    # corpora 0.1x/1x/10x, with CORPUS-SCALED cell counts
    # (build_vector_store's default target_cells: ceil(n/128), floor
    # 16). r10 measured the fixed-16-cell store degenerating 0.94 ->
    # 7.4 s over 10x corpus (every cell grows with the corpus, pruning
    # stops pruning); with scaled cells the steady delta cost should
    # read ~flat like delta_dedup's.
    from external_benchmarks_spark.operators.deltadedup import (
        build_vector_store,
        delta_semdedup,
    )

    sem_fixed: dict = {}
    fixed_vdelta = Catalog(spark, SRC).embeddings.filter(
        F.col("vec_id") % 10 == 0
    )
    # r14: the semantic tier joins the fourth-decade club (10r = 100x
    # sf0.1) — the first real test of the corpus-scaled cell-count
    # formula (ceil(n/128)) at scale: the cell-local join should stay
    # ~flat because cell SIZE is bounded while cell COUNT grows.
    for sf_label, sf_dir in fixed_rungs.items():
        vcorpus = Catalog(spark, sf_dir).embeddings.filter(
            F.col("vec_id") % 10 != 0
        )
        vs, vbuild_s = timed(
            lambda: build_vector_store(
                spark, vcorpus, tag="ladder_semf_" + sf_label.replace(".", "_"),
                source_paths=[os.path.join(sf_dir, "embeddings.parquet")],
            )
        )
        reps = rep_times(
            lambda: delta_semdedup(spark, fixed_vdelta, vs,
                                   threshold_fp=200_000).count(),
            3,
        )
        # r15 (r14 ADVICE): validate the vectorized-matmul assignment's
        # no-near-ties bet ON THE CORPUS THIS RUNG SERVES, not just the
        # small fixture — a ~1% sample through BOTH forms (the Catalyst
        # sequential-fold oracle spec and the numpy matmul production
        # path) must agree exactly; within-ULP near-ties between two
        # centroids could assign differently across fold orders.
        from external_benchmarks_spark.operators.deltadedup import (
            _assign_cells,
            _assign_cells_vectorized,
            _read_centroids,
        )

        sample = vcorpus.filter(F.col("vec_id") % 97 == 0)
        cent = _read_centroids(vs.centroids_path)
        cent_df = spark.read.parquet(vs.centroids_path)
        cat_rows = {
            r.vec_id: r.cell
            for r in _assign_cells(sample, cent_df)
            .select("vec_id", "cell").collect()
        }
        vec_rows = {
            r.vec_id: r.cell
            for r in _assign_cells_vectorized(sample, cent)
            .select("vec_id", "cell").collect()
        }
        assign_mismatch = sum(
            1 for k in cat_rows if cat_rows[k] != vec_rows.get(k)
        )
        sem_fixed[sf_label] = {
            "corpus_vecs": vcorpus.count(),
            "n_cells": vs.n_cells,
            "store_build_s": round(vbuild_s, 3),
            "cold": round(reps[0], 3),
            "steady": round(min(reps[1:]), 3),
            "assign_sample_n": len(cat_rows),
            "assign_mismatch": assign_mismatch,
        }
        print(f"# delta_semdedup_fixed @ {sf_label}: {sem_fixed[sf_label]}",
              file=sys.stderr)

    # Fixed-delta ladder, PERSISTED PQ INDEX (r12): the SAME sf0.1
    # embedding delta appends into PQ indexes built over corpora
    # 0.01/0.1/1.0r, then the probed query runs against the appended
    # index. Expected: append ~flat (encode-delta + route O(delta)
    # files + ledger — corpus size never enters), query ~flat with
    # corpus-scaled centroid counts (cell size bounded, nprobe fixed —
    # the scaled-cells lesson from the r10 semantic-store degeneration
    # applied at build time; at 100 TB the coarse quantizer would be
    # ivf_fit-trained hierarchically rather than hash-sampled, but the
    # cell-count scaling is the same contract).
    import math as _math

    from external_benchmarks_spark.pipeline.bucketing import bucket_root
    from external_benchmarks_spark.pipeline.pqindex import (
        append_pq_index,
        build_pq_index,
        pq_index_topk,
    )

    pqi_fixed: dict = {}
    for sf_label, sf_dir in fixed_rungs.items():
        vcorpus = Catalog(spark, sf_dir).embeddings.filter(
            F.col("vec_id") % 10 != 0
        )
        n = vcorpus.count()
        n_cent = max(16, int(_math.ceil(n / 1024)))
        idx, ibuild_s = timed(
            lambda: build_pq_index(
                spark, vcorpus,
                bucket_root("ladder_pqi_" + sf_label.replace(".", "_")),
                n_centroids=n_cent,
                store_vectors=True, payload_cols=("label",),
            )
        )
        batch_ids = iter(range(3))
        areps = rep_times(
            lambda: append_pq_index(spark, idx, fixed_vdelta,
                                    batch_id=f"ladder_b{next(batch_ids)}"),
            3,
        )
        qreps = rep_times(
            lambda: pq_index_topk(spark, idx, em.QVEC, k=20, nprobe=4).count(), 3
        )
        # r15: the FILTERED read at every rung — Spark form (per-job
        # floor class) and the serving twin (the deployment shape):
        # filter cost is a vectorized isin over the probed cells'
        # resident payloads, so serving should stay FLAT as the corpus
        # decades up while nprobe/cells holds the probed row count.
        from external_benchmarks_spark.pipeline.pqindex import (
            pq_index_filtered_rerank,
        )
        from external_benchmarks_spark.serving import PQServingIndex

        freps = rep_times(
            lambda: pq_index_filtered_rerank(
                spark, idx, em.QVEC, predicate=F.col("label").isin(1, 3),
                k=20, rerank=100, nprobe=4,
            ).count(),
            3,
        )
        srv = PQServingIndex(idx.root)
        sreps = rep_times(
            lambda: srv.topk_rerank(em.QVEC, k=20, rerank=100, nprobe=4,
                                    where={"label": [1, 3]}),
            20,
        )
        pqi_fixed[sf_label] = {
            "corpus_vecs": n,
            "n_centroids": n_cent,
            "index_build_s": round(ibuild_s, 3),
            "append_cold": round(areps[0], 3),
            "append_steady": round(min(areps[1:]), 3),
            "query_cold": round(qreps[0], 3),
            "query_steady": round(min(qreps[1:]), 3),
            "filtered_cold": round(freps[0], 3),
            "filtered_steady": round(min(freps[1:]), 3),
            "serving_filtered_best_ms": round(min(sreps) * 1000, 3),
        }
        print(f"# pq_index_fixed @ {sf_label}: {pqi_fixed[sf_label]}",
              file=sys.stderr)

    # Delta-GROWTH ladder (r9 verdict item #6): the OTHER axis — the
    # corpus store is FIXED (sf0.1) and the delta grows 0.1x/1x/10x;
    # expected ~linear-in-delta cost for both dedup tiers.

    dd_growth: dict = {"delta_dedup": {}, "delta_semdedup": {}}
    doc_store = stores["0.1"]
    vec_store = build_vector_store(
        spark,
        Catalog(spark, SRC).embeddings.filter(F.col("vec_id") % 10 != 0),
        tag="ladder_vs_0_1",
        source_paths=[os.path.join(SRC, "embeddings.parquet")],
    )
    growth_rungs = {"0.1x": rungs.get("0.01", SRC), "1x": SRC, "10x": rep}
    if quick:
        growth_rungs.pop("0.1x", None)
    for label, sf_dir in growth_rungs.items():
        ddelta = Catalog(spark, sf_dir).documents.filter(
            F.col("doc_id") % 10 == 0
        )
        vdelta = Catalog(spark, sf_dir).embeddings.filter(
            F.col("vec_id") % 10 == 0
        )
        for name, fn, delta in (
            ("delta_dedup", lambda d: delta_dedup(spark, d, doc_store), ddelta),
            (
                "delta_semdedup",
                lambda d: delta_semdedup(spark, d, vec_store,
                                         threshold_fp=200_000),
                vdelta,
            ),
        ):
            reps = rep_times(lambda: fn(delta).count(), 3)
            dd_growth[name][label] = {
                "delta_rows": delta.count(),
                "cold": round(reps[0], 3),
                "steady": round(min(reps[1:]), 3),
            }
            print(
                f"# {name}_growth @ {label}: {dd_growth[name][label]}",
                file=sys.stderr,
            )

    # Component-map fold rung (r9 verdict item #2's ladder evidence):
    # fold cost vs MAP SIZE at a fixed batch — inserts (1k brand-new
    # pairs) and merges (500 component merges) against maps seeded with
    # 10k/100k/1M pair components. The update is bounded by the touched
    # components; the only corpus-sized term is the pruned endpoint-
    # lookup scan of the narrow base table.
    from external_benchmarks_spark.operators.compmap import (
        fold_pairs,
        init_component_map,
    )

    cm_rung: dict = {}
    cm_sizes = (10_000, 100_000) if quick else (10_000, 100_000, 1_000_000)
    for n in cm_sizes:
        cmap = init_component_map(spark, f"ladder_{n}")
        seed = spark.range(n).select(
            (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
        )
        _, seed_s = timed(lambda: fold_pairs(spark, cmap, seed))
        new_batch = spark.range(1_000).select(
            (F.lit(10**12) + F.col("id") * 2).alias("id_a"),
            (F.lit(10**12) + F.col("id") * 2 + 1).alias("id_b"),
        )
        _, insert_s = timed(lambda: fold_pairs(spark, cmap, new_batch))
        merge_batch = spark.range(500).select(
            (F.col("id") * 4).alias("id_a"), (F.col("id") * 4 + 2).alias("id_b")
        )
        _, merge_s = timed(lambda: fold_pairs(spark, cmap, merge_batch))
        cm_rung[str(n)] = {
            "seed_fold_s": round(seed_s, 3),
            "insert_batch_s": round(insert_s, 3),
            "merge_batch_s": round(merge_s, 3),
        }
        print(f"# compmap_fold @ {n}: {cm_rung[str(n)]}", file=sys.stderr)
    refresh = {}
    for sf_label, sf_dir in rungs.items():
        refresh[sf_label] = bench.index_refresh_leg(spark, sf_dir)
        print(f"# index_refresh @ {sf_label}: {refresh[sf_label]}", file=sys.stderr)

    # Skew-join strategy ladder: at 2M rows the 41%-hot-key reducer
    # penalty is the same order as the adaptive split's overhead and the
    # single-shot bench legs are ordering-noise-dominated; at 20M the
    # hot reducer scales linearly while the split overhead stays
    # constant, so the strategies separate decisively.
    from external_benchmarks_spark.operators.skew import (
        adaptive_salted_join,
        detect_hot_keys,
        salted_join,
    )

    skew = {}
    for n in (2_000_000, 20_000_000):
        left, right = bench._skew_tables(spark, n=n)
        hot = detect_hot_keys(left, "k", hot_ratio=0.01, n_counters=64)
        old_b = bench._no_broadcast(spark)
        old_s = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        try:
            res = {}
            # median of 3 per strategy (round-9: the skew rungs join the
            # same noise protocol as bench — a one-shot 20M measurement
            # inverted the established ordering once purely from host
            # state). The join is REBUILT per rep: re-collecting one
            # DataFrame object would silently reuse its shuffle map
            # outputs and time almost nothing.
            builders = {
                "naive": lambda: left.join(right, "k"),
                "salted": lambda: salted_join(
                    left, right, "k", "pad", n_salts=16
                ),
                "adaptive": lambda: adaptive_salted_join(
                    left, right, "k", "pad", n_salts=16, hot=hot
                ),
            }
            for name, build in builders.items():
                # plans are built outside the timed region: only the
                # collect is clocked
                aggs = [
                    build().groupBy().agg(
                        F.count(F.lit(1)).alias("c"), F.sum("val").alias("s")
                    )
                    for _ in range(3)
                ]
                reps = sorted(rep_times(lambda: aggs.pop(0).collect(), 3))
                res[name] = round(reps[1], 3)
                res[f"{name}_spread"] = [round(x, 3) for x in reps]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_b)
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", old_s)
        skew[f"{n // 1_000_000}M"] = res
        print(f"# skew_ladder @ {n}: {res}", file=sys.stderr)

    # 1.0r soak, 20 cycles (r11 verdict item #4): the committed r11 soak
    # was 6 cycles at sf0.1 — run the WHOLE maintenance loop at the 10x
    # replica for 20 disjoint daily batches (2-3 full compaction/refresh
    # periods, centroid growth live via the every-3rd-cycle refresh),
    # with ONE mid-refresh crash injection (cycle 11, a refresh cycle)
    # that must resume to equality with an uninjured twin, artifact by
    # artifact. Evidence recorded: per-cycle seconds + their
    # least-squares slope (~0 = flat), first/last file censuses
    # (bounded), and the twin-equality verdict.
    soak_1r: dict = {}
    if not quick:
        import external_benchmarks_spark.operators.deltadedup as dd
        from external_benchmarks_spark.pipeline.soak import MaintenanceSoak

        n_soak = 20
        twin, twin_build_s = timed(
            lambda: MaintenanceSoak(spark, rep, "ladder_twin", n_batches=n_soak)
        )
        twin_build_s = round(twin_build_s, 3)
        try:
            for i in range(n_soak):
                twin.cycle(i)
            want = twin.final_state()
        finally:
            twin.cleanup()

        soak, build_s = timed(
            lambda: MaintenanceSoak(spark, rep, "ladder_soak", n_batches=n_soak)
        )
        build_s = round(build_s, 3)
        try:
            cycles = []
            for i in range(n_soak):
                if i == 11:  # refresh cycle (i % 3 == 2): crash between
                    # the dirty-cell swaps and the centroid publish
                    real = dd.swap_dir

                    def boom(path, staged):
                        raise RuntimeError("injected refresh crash")

                    dd.swap_dir = boom
                    try:
                        soak.cycle(i)
                        raise AssertionError("injection did not fire")
                    except RuntimeError as exc:
                        if "injected" not in str(exc):
                            raise
                    finally:
                        dd.swap_dir = real
                cycles.append(soak.cycle(i))  # resume re-runs the cycle
            got = soak.final_state()
            secs = [c["seconds"] for c in cycles]
            n = len(secs)
            xbar = (n - 1) / 2.0
            ybar = sum(secs) / n
            slope = sum(
                (i - xbar) * (s - ybar) for i, s in enumerate(secs)
            ) / sum((i - xbar) ** 2 for i in range(n))
            soak_1r = {
                "n_cycles": n_soak,
                "build_s": build_s,
                "twin_build_s": twin_build_s,
                "cycle_seconds": [round(s, 3) for s in secs],
                "cycle_s_median": round(sorted(secs)[n // 2], 3),
                "cycle_s_slope_per_cycle": round(slope, 4),
                "files_first": cycles[0]["files"],
                "files_last": cycles[-1]["files"],
                "crash_cycle": 11,
                "serving_refresh_s_median": sorted(
                    c["serving_refresh_s"] for c in cycles
                )[len(cycles) // 2],
                "serving_parity_checks": sum(
                    1 for c in cycles if c["serving_parity"] is not None
                ),
                "serving_parity_ok": all(
                    c["serving_parity"]
                    for c in cycles
                    if c["serving_parity"] is not None
                ),
                "resume_equals_twin": bool(
                    all(got[k] == want[k] for k in want)
                ),
                "artifacts_compared": sorted(want),
                "artifact_rows": {k: len(v) for k, v in got.items()},
            }
        finally:
            soak.cleanup()
        print(f"# soak_1.0r: {soak_1r}", file=sys.stderr)

    print(json.dumps({
        "legs": legs, "index_refresh": refresh, "replica_rows": rows,
        "skew_ladder": skew, "input_growth": growth,
        "delta_dedup_fixed_delta": dd_fixed,
        "delta_span_dedup_fixed_delta": span_fixed,
        "delta_semdedup_fixed_delta": sem_fixed,
        "pq_index_fixed_delta": pqi_fixed,
        "delta_growth": dd_growth,
        "compmap_fold": cm_rung,
        "soak_1.0r": soak_1r,
    }))


if __name__ == "__main__":
    main()
