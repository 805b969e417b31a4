"""Incremental dedup against the persisted signature store
(operators/deltadedup.py): brute-force equality, plan shape (zero
corpus-side Exchange, partition pruning), store fingerprint reuse, and
a synthetic-corpus equality check independent of the test data."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from external_benchmarks_spark.catalog import Catalog
from external_benchmarks_spark.operators.deltadedup import (
    band_hashes,
    build_signature_store,
    delta_dedup,
    doc_shingles,
)

DUCK_TOKS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)"


def _brute_force_sql(threshold_ppm: int) -> str:
    return f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    sh AS MATERIALIZED (
      SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
               i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS s
      FROM t WHERE len(toks) >= 3),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
             CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS un
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
      WHERE len(a.s) > 0 AND len(b.s) > 0)
    SELECT id_a, id_b, inter, un,
           CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard
    FROM p WHERE inter * 1000000 >= {threshold_ppm} * un
    """


def _store(spark, sf_dir, tag_suffix=""):
    src = os.path.join(sf_dir, "documents.parquet")
    tag = "t_dd_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_") + tag_suffix
    corpus = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 10 != 0)
    return build_signature_store(spark, corpus, tag=tag, source_paths=[src])


def test_delta_dedup_equals_brute_force(spark, sf_dir, duck):
    """The banded incremental path must equal the O(n^2) spec exactly —
    no missed pair (banding recall), no false positive (exact verify).
    The same equality at sf0.01 and sf0.1 is asserted by the oracle
    mirror and was probed at store-design time."""
    store = _store(spark, sf_dir)
    delta = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 10 == 0)
    got = sorted(
        tuple(r) for r in delta_dedup(spark, delta, store).collect()
    )
    want = sorted(tuple(r) for r in duck.execute(_brute_force_sql(600_000)).fetchall())
    assert got == want and len(got) > 0


def _parent_line(lines: list[str], i: int) -> str:
    """The plan-tree parent of line i: the nearest earlier line whose
    branch marker sits at a smaller indent."""
    def indent(s: str) -> int:
        for marker in ("+- ", ":- "):
            if marker in s:
                return s.index(marker)
        return len(s) - len(s.lstrip())

    me = indent(lines[i])
    for j in range(i - 1, -1, -1):
        if indent(lines[j]) < me and ("+-" in lines[j] or ":-" in lines[j]):
            return lines[j]
    return ""


def test_no_exchange_above_corpus_store_scans(spark, sf_dir):
    """The 100 TB contract: the persisted store never shuffles. With
    broadcast disabled (so the bucketed SortMergeJoin shape is forced),
    every dd_* store FileScan's plan parent chain up to its join must
    contain no Exchange — only Sort/Project/Filter."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        store = _store(spark, sf_dir, "_nx")
        delta = Catalog(spark, sf_dir).documents.filter(
            F.col("doc_id") % 10 == 0
        )
        res = delta_dedup(spark, delta, store)
        plan = res._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        scan_lines = [
            i
            for i, line in enumerate(lines)
            if "FileScan parquet spark_catalog.default.dd_" in line
        ]
        assert len(scan_lines) >= 3  # bands + two shingle lookups
        for i in scan_lines:
            assert "Bucketed: true" in lines[i], lines[i]
            # walk the parent chain to the owning join: no Exchange
            j = i
            hops = 0
            while hops < 6:
                parent = _parent_line(lines, j)
                if not parent or "Join" in parent:
                    break
                assert "Exchange" not in parent, parent
                j = lines.index(parent)
                hops += 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_small_delta_prunes_store_partitions(spark, sf_dir):
    """A small delta touches few pb prefixes; the band-store scan's
    PartitionFilters must prune to exactly those (planning-time static
    pruning from a <= 16-value collect)."""
    store = _store(spark, sf_dir, "_pr")
    delta = Catalog(spark, sf_dir).documents.filter(
        F.col("doc_id").isin(10, 20)
    )
    res = delta_dedup(spark, delta, store)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the 2-doc delta has at most 16 band hashes -> prefix INSET < 16
    import re

    m = re.search(r"PartitionFilters: \[pb\S* INSET ([^\]]+)\]", plan)
    assert m, plan
    assert len(m.group(1).split(",")) < 16


def test_store_fingerprint_skips_rebuild(spark, sf_dir):
    """Second build with unchanged corpus+params returns the existing
    layout without rewriting any file."""
    from external_benchmarks_spark.pipeline.bucketing import bucket_root

    store = _store(spark, sf_dir, "_fp")
    root = bucket_root("dd_t_dd_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_") + "_fp")
    before = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
    }
    assert before, root
    again = _store(spark, sf_dir, "_fp")
    after = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
    }
    assert again == store and after == before


def test_synthetic_corpus_equality(spark, tmp_path):
    """Independent of the benchmark tables: a synthetic corpus with
    planted near-dups (>= 0.8 Jaccard) and unrelated docs. The
    incremental result must equal a Spark-side brute force restricted
    to touching pairs. Fixed seed => the banding equality is frozen."""
    import random

    rng = random.Random(3)
    words = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(40):
        base = [rng.choice(words) for _ in range(30)]
        docs.append((i * 10 + 1, " ".join(base)))  # corpus doc
        if i % 3 == 0:
            mut = list(base)
            mut[rng.randrange(len(mut))] = rng.choice(words)  # one edit
            docs.append((i * 10 + 10, " ".join(mut)))  # delta near-dup
    for i in range(10):
        docs.append((9000 + i * 10, " ".join(rng.choice(words) for _ in range(25))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") % 10 != 0)
    delta = df.filter(F.col("doc_id") % 10 == 0)
    store = build_signature_store(spark, corpus, tag="t_dd_syn")
    got = sorted(
        (r.id_a, r.id_b, r.inter, r.un)
        for r in delta_dedup(spark, delta, store, threshold_ppm=600_000).collect()
    )
    # Spark brute force over touching pairs
    sh = doc_shingles(df)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sa", "sb")).cast("bigint").alias("inter"),
            F.size(F.array_union("sa", "sb")).cast("bigint").alias("un"),
        )
        .filter(F.col("inter") * 1_000_000 >= 600_000 * F.col("un"))
    )
    want = sorted((r.id_a, r.id_b, r.inter, r.un) for r in pairs.collect())
    assert got == want and len(got) >= 10


def test_band_hashes_shape(spark, sf_dir):
    """One row per (doc, band); pb is bh's first char."""
    sh = doc_shingles(Catalog(spark, sf_dir).documents.limit(20))
    bh = band_hashes(sh, num_hashes=16, bands=8)
    rows = bh.collect()
    n_docs = sh.count()
    assert len(rows) == n_docs * 8
    assert all(r.pb == r.bh[0] for r in rows)


# ---------------------------------------------------------------------------
# Semantic tier (delta_semdedup)
# ---------------------------------------------------------------------------

def _vstore(spark, sf_dir, suffix=""):
    from external_benchmarks_spark.operators.deltadedup import build_vector_store

    src = os.path.join(sf_dir, "embeddings.parquet")
    tag = "t_ds_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_") + suffix
    corpus = Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") % 10 != 0)
    return build_vector_store(spark, corpus, tag=tag, source_paths=[src])


def test_semdedup_corpus_scan_pruned_and_unshuffled(spark, sf_dir):
    """The corpus vector scan must be partition-pruned to the delta's
    cells and sit under the join with no Exchange above it (the delta
    side broadcasts)."""
    from external_benchmarks_spark.operators.deltadedup import delta_semdedup

    store = _vstore(spark, sf_dir)
    delta = Catalog(spark, sf_dir).embeddings.filter(
        F.col("vec_id").isin(10, 20, 30)
    )
    res = delta_semdedup(spark, delta, store, threshold_fp=0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    scans = [
        i for i, l in enumerate(lines)
        if "FileScan parquet" in l and "dsem_" in l and "/vectors" in l
    ]
    assert scans, plan
    import re

    for i in scans:
        m = re.search(r"PartitionFilters: \[cell\S* IN", lines[i]) or re.search(
            r"PartitionFilters: \[cell\S* INSET", lines[i]
        )
        assert m, lines[i]
        j, hops = i, 0
        while hops < 6:
            parent = _parent_line(lines, j)
            if not parent or "Join" in parent:
                break
            assert "Exchange" not in parent, parent
            j = lines.index(parent)
            hops += 1
    # and the delta path never re-reads the corpus source parquet: the
    # only embeddings-source scans belong to the delta's own lineage
    src_scans = [
        l for l in lines
        if "FileScan parquet" in l and "embeddings.parquet" in l
    ]
    assert all("In(vec_id, [10,20,30])" in l for l in src_scans), src_scans


def test_vectorized_assignment_equals_catalyst(spark, sf_dir):
    """The store build's matmul assignment (r14: the crossJoin form was
    quadratic under corpus-scaled cell counts — 253M exploded rows /
    262 s at the 10r ladder rung) must produce the IDENTICAL vec_id ->
    cell map as the pure-Catalyst argmax-with-window form the delta
    path and the DuckDB oracle use — including on exact-duplicate
    embeddings, where np.argmax's first-maximum rule must reproduce the
    ascending-cell-id tiebreak."""
    import numpy as np

    from external_benchmarks_spark.operators.deltadedup import (
        _assign_cells,
        _assign_cells_vectorized,
        _write_centroids,
    )
    from external_benchmarks_spark.operators.similarity import (
        sampled_centroids,
    )

    emb = Catalog(spark, sf_dir).embeddings
    # duplicate a handful of vectors under fresh ids: identical dots in
    # every cell, so assignment must hinge on the shared tiebreak
    dup = emb.filter(F.col("vec_id") < 50).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)
    )
    # a null vector and a [1.0, null, ...] vector: every dot is null, so
    # both forms must give a NULL cell
    one_null = F.transform(
        "embedding",
        lambda x, i: F.when(i == 0, F.lit(1.0)).when(i == 1, F.lit(None)).otherwise(x),
    )
    holes = (
        emb.filter(F.col("vec_id") < 2)
        .withColumn("vec_id", F.col("vec_id") + F.lit(20_000_000))
        .withColumn(
            "embedding",
            F.when(F.col("vec_id") == 20_000_000, F.lit(None))
            .otherwise(one_null)
            .cast(emb.schema["embedding"].dataType),
        )
    )
    both = emb.unionByName(dup).unionByName(holes)
    cent = sampled_centroids(emb, 24, normalize=True)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        cpath = os.path.join(d, "cent")
        _write_centroids(cpath, cent)
        cent_df = spark.read.parquet(cpath)
        want = {
            r["vec_id"]: r["cell"]
            for r in _assign_cells(both, cent_df).collect()
        }
    got = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells_vectorized(both, np.asarray(cent)).collect()
    }
    assert got == want
    assert want[20_000_000] is None and want[20_000_001] is None
    # and the planted duplicates landed with their originals
    for r in range(50):
        if r in want and (r + 10_000_000) in want:
            assert want[r] == want[r + 10_000_000]


def test_semdedup_finds_planted_duplicates(spark):
    """An exact duplicate vector always lands in the same cell as its
    original (same argmax), so the cell block can never lose it —
    planted copies must all surface with cos_fp == 1e6."""
    import random

    from external_benchmarks_spark.operators.deltadedup import (
        build_vector_store,
        delta_semdedup,
    )

    rng = random.Random(5)
    rows = []
    for i in range(200):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i * 10 + 1, v))  # corpus
        if i % 4 == 0:
            rows.append((i * 10 + 10, list(v)))  # delta exact copy
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = df.filter(F.col("vec_id") % 10 != 0)
    delta = df.filter(F.col("vec_id") % 10 == 0)
    store = build_vector_store(spark, corpus, tag="t_ds_syn")
    got = {
        (r.id_a, r.id_b): r.cos_fp
        for r in delta_semdedup(spark, delta, store, threshold_fp=999_999).collect()
    }
    expected = {(i * 10 + 1, i * 10 + 10) for i in range(200) if i % 4 == 0}
    assert expected <= set(got)
    assert all(got[p] == 1_000_000 for p in expected)


def test_vector_store_fingerprint_skips_rebuild(spark, sf_dir):
    from external_benchmarks_spark.pipeline.bucketing import bucket_root

    store = _vstore(spark, sf_dir, "_fp")
    root = bucket_root(
        "dsem_t_ds_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_") + "_fp"
    )
    before = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
    }
    assert before, root
    again = _vstore(spark, sf_dir, "_fp")
    after = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
    }
    assert again == store and after == before


# ---------------------------------------------------------------------------
# Store absorption (the daily-batch loop)
# ---------------------------------------------------------------------------

def test_absorb_then_dedup_equals_full_store(spark, sf_dir):
    """dedup(d2) against (store(corpus) + absorb(d1)) must equal
    dedup(d2) against a from-scratch store over corpus ∪ d1 — the
    append-only maintenance loses nothing and invents nothing."""
    from external_benchmarks_spark.operators.deltadedup import absorb_delta

    d = Catalog(spark, sf_dir).documents
    corpus = d.filter(F.col("doc_id") % 10 > 1)
    d1 = d.filter(F.col("doc_id") % 10 == 0)
    d2 = d.filter(F.col("doc_id") % 10 == 1)
    inc = build_signature_store(spark, corpus, tag="t_abs_inc")
    absorb_delta(spark, d1, inc)
    got = sorted(
        tuple(r) for r in delta_dedup(spark, d2, inc).collect()
    )
    full = build_signature_store(
        spark, d.filter(F.col("doc_id") % 10 != 1), tag="t_abs_full"
    )
    want = sorted(
        tuple(r) for r in delta_dedup(spark, d2, full).collect()
    )
    assert got == want and len(got) > 0
    # and the appended store still joins Exchange-free off bucketed scans
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        plan = (
            delta_dedup(spark, d2, inc)
            ._jdf.queryExecution().executedPlan().toString()
        )
        lines = plan.splitlines()
        scans = [
            i for i, l in enumerate(lines)
            if "FileScan parquet spark_catalog.default.dd_" in l
        ]
        assert scans and all("Bucketed: true" in lines[i] for i in scans)
        for i in scans:
            j, hops = i, 0
            while hops < 6:
                parent = _parent_line(lines, j)
                if not parent or "Join" in parent:
                    break
                assert "Exchange" not in parent, parent
                j = lines.index(parent)
                hops += 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_signature_store(spark, sf_dir):
    """After several absorbs the store's buckets hold one file per
    batch; compaction folds them back to one file per bucket (per pb
    partition), the delta join result is unchanged, the Exchange-free
    bucketed plan shape still holds, and a second compaction is a
    no-op."""
    import re
    from collections import Counter

    from external_benchmarks_spark.operators.deltadedup import (
        absorb_delta,
        compact_signature_store,
    )

    d = Catalog(spark, sf_dir).documents
    corpus = d.filter(F.col("doc_id") % 10 > 4)
    store = build_signature_store(spark, corpus, tag="t_cmp_store")
    for b in range(4):
        absorb_delta(spark, d.filter(F.col("doc_id") % 10 == b), store)
    delta = d.filter(F.col("doc_id") % 10 == 4)
    before = sorted(tuple(r) for r in delta_dedup(spark, delta, store).collect())

    def max_files_per_bucket(path):
        worst = 0
        roots = [
            os.path.join(path, x)
            for x in os.listdir(path)
            if x.startswith("pb=")
        ] or [path]
        for r in roots:
            c = Counter(
                m.group(1)
                for f in os.listdir(r)
                if not f.startswith(("_", "."))
                for m in [re.search(r"_(\d{5})\b", f)]
                if m
            )
            if c:
                worst = max(worst, max(c.values()))
        return worst

    assert max_files_per_bucket(os.path.join(store.root, "bands")) >= 4
    res = compact_signature_store(spark, store, max_files_per_bucket=2)
    assert res["bands_partitions"] and res["shingles_rewritten"]
    assert max_files_per_bucket(os.path.join(store.root, "bands")) == 1
    assert max_files_per_bucket(os.path.join(store.root, "shingles")) == 1
    after = sorted(tuple(r) for r in delta_dedup(spark, delta, store).collect())
    assert after == before and len(after) > 0
    # second run: nothing dirty
    res2 = compact_signature_store(spark, store, max_files_per_bucket=2)
    assert res2 == {"bands_partitions": [], "shingles_rewritten": False}
    # the compacted store still joins Exchange-free off bucketed scans
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        plan = (
            delta_dedup(spark, delta, store)
            ._jdf.queryExecution().executedPlan().toString()
        )
        lines = plan.splitlines()
        scans = [
            i for i, l in enumerate(lines)
            if "FileScan parquet spark_catalog.default.dd_" in l
        ]
        assert scans and all("Bucketed: true" in lines[i] for i in scans)
        for i in scans:
            j, hops = i, 0
            while hops < 6:
                parent = _parent_line(lines, j)
                if not parent or "Join" in parent:
                    break
                assert "Exchange" not in parent, parent
                j = lines.index(parent)
                hops += 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_signature_store_crash_recovery(spark, sf_dir):
    """Simulated crash between the two swap renames (a .compacting.
    trash dir exists, its live partition is gone): the next compaction
    run must restore the trash copy before doing anything else, and the
    delta join result is unchanged."""
    import shutil

    from external_benchmarks_spark.operators.deltadedup import (
        absorb_delta,
        compact_signature_store,
    )

    d = Catalog(spark, sf_dir).documents
    corpus = d.filter(F.col("doc_id") % 10 > 4)
    store = build_signature_store(spark, corpus, tag="t_cmp_crash")
    absorb_delta(spark, d.filter(F.col("doc_id") % 10 == 0), store)
    delta = d.filter(F.col("doc_id") % 10 == 4)
    want = sorted(tuple(r) for r in delta_dedup(spark, delta, store).collect())
    bands_path = os.path.join(store.root, "bands")
    pb_dirs = [x for x in os.listdir(bands_path) if x.startswith("pb=")]
    victim = sorted(pb_dirs)[0]
    os.rename(
        os.path.join(bands_path, victim),
        os.path.join(bands_path, f".compacting.{victim}"),
    )
    assert not os.path.isdir(os.path.join(bands_path, victim))
    compact_signature_store(spark, store, max_files_per_bucket=1)
    assert os.path.isdir(os.path.join(bands_path, victim))  # restored
    assert not any(
        x.startswith(".compacting.") for x in os.listdir(bands_path)
    )
    spark.catalog.refreshTable(store.bands_table)
    got = sorted(tuple(r) for r in delta_dedup(spark, delta, store).collect())
    assert got == want and len(got) > 0
    # and the other crash phase: trash alongside a LIVE partition (the
    # new files landed) must simply drop
    live = os.path.join(bands_path, victim)
    trash = os.path.join(bands_path, f".compacting.{victim}")
    shutil.copytree(live, trash)
    compact_signature_store(spark, store, max_files_per_bucket=99)
    assert os.path.isdir(live) and not os.path.isdir(trash)


def test_refresh_recovers_trashed_cell_before_sampling(spark):
    """A refresh crashed between a cell's two swap renames leaves the
    cell only in .compacting. trash (invisible to reads). The next
    refresh must restore it BEFORE sampling/assigning, and end with the
    full store consistent with the published centroids."""
    import numpy as np

    from external_benchmarks_spark.operators.deltadedup import (
        _assign_cells,
        build_vector_store,
        refresh_centroids,
    )

    rows = []
    vid = 0
    for i in range(4):
        e = [0.0] * 4
        e[i] = 1.0
        for _ in range(10):
            rows.append((vid, [float(x) for x in e]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    store = build_vector_store(
        spark, df, tag="t_refresh_crash", n_cells=4, centroids=np.eye(4)
    )
    n_total = df.count()
    # simulate the crash: cell=2 mid-swap
    os.rename(
        os.path.join(store.vectors_path, "cell=2"),
        os.path.join(store.vectors_path, ".compacting.cell=2"),
    )
    stats = refresh_centroids(spark, store)  # samples AFTER recovery
    stored = spark.read.parquet(store.vectors_path)
    assert stored.count() == n_total  # nothing lost
    cent_df = spark.read.parquet(store.centroids_path)
    expect = _assign_cells(stored.drop("cell"), cent_df).withColumnRenamed(
        "cell", "want"
    )
    bad = (
        stored.join(expect.select("vec_id", "want"), "vec_id")
        .filter(F.col("cell") != F.col("want"))
        .count()
    )
    assert bad == 0 and stats["n_cells"] == 4


def test_compact_signature_store_shingles_whole_dir_recovery(spark, sf_dir):
    """Whole-directory swap crash for the shingle table: live dir gone,
    copy at shingles.trash — the next compaction restores it and the
    delta join still answers."""
    from external_benchmarks_spark.operators.deltadedup import (
        compact_signature_store,
    )

    d = Catalog(spark, sf_dir).documents
    corpus = d.filter(F.col("doc_id") % 10 > 4)
    store = build_signature_store(spark, corpus, tag="t_shcrash")
    delta = d.filter(F.col("doc_id") % 10 == 4)
    want = sorted(tuple(r) for r in delta_dedup(spark, delta, store).collect())
    sh_path = os.path.join(store.root, "shingles")
    os.rename(sh_path, sh_path + ".trash")
    assert not os.path.isdir(sh_path)
    compact_signature_store(spark, store, max_files_per_bucket=99)
    assert os.path.isdir(sh_path) and not os.path.isdir(sh_path + ".trash")
    got = sorted(tuple(r) for r in delta_dedup(spark, delta, store).collect())
    assert got == want and len(got) > 0


def test_compact_inverted_index_rerun_after_partial_publish(spark, sf_dir, tmp_path):
    """The crash window between a piece's swap and its segment delete
    leaves BOTH the folded base and the stale segment on disk. A re-run
    must converge to the exact full-rebuild answers: postings re-merge
    by exact-row distinct and dfreq recomputes from the compacted
    postings, so nothing double-counts."""
    import shutil

    from external_benchmarks_spark.catalog import Catalog as Cat
    from external_benchmarks_spark.operators.tfidf import (
        _segment_files,
        append_to_inverted_index,
        bm25_from_index,
        build_inverted_index,
        compact_inverted_index,
    )

    docs = Cat(spark, sf_dir).documents
    cut = F.col("doc_id") % 10 < 8
    base, delta = docs.where(cut), docs.where(~cut)
    full_idx = str(tmp_path / "full")
    build_inverted_index(docs, full_idx, n_term_buckets=8)
    idx = str(tmp_path / "inc")
    build_inverted_index(base, idx, n_term_buckets=8)
    append_to_inverted_index(spark, idx, delta, n_term_buckets=8)
    # stash the segments, compact, then restore them = the crash state
    # "swaps published, segment deletes lost"
    stash = str(tmp_path / "stash")
    os.makedirs(stash)
    for piece in ("postings", "dfreq"):
        for f in _segment_files(os.path.join(idx, piece)):
            shutil.copy(f, os.path.join(stash, piece + "_" + os.path.basename(f)))
    assert compact_inverted_index(spark, idx, n_term_buckets=8)
    for piece in ("postings", "dfreq"):
        seg_dir = os.path.join(idx, piece, "_segments")
        os.makedirs(seg_dir, exist_ok=True)
        for f in os.listdir(stash):
            if f.startswith(piece + "_"):
                shutil.copy(
                    os.path.join(stash, f),
                    os.path.join(seg_dir, f[len(piece) + 1:]),
                )
    # re-run converges (idempotent) and answers equal the full rebuild
    assert compact_inverted_index(spark, idx, n_term_buckets=8)
    assert not _segment_files(os.path.join(idx, "postings"))
    want = bm25_from_index(spark, full_idx, ["the", "data"], k=50, n_term_buckets=8).collect()
    got = bm25_from_index(spark, idx, ["the", "data"], k=50, n_term_buckets=8).collect()
    assert [tuple(r) for r in want] == [tuple(r) for r in got]


def test_absorb_vectors_equals_frozen_centroid_store(spark, sf_dir):
    """Semantic twin: absorb keeps centroids FROZEN, so the reference
    store is a rebuild over corpus ∪ d1 with the ORIGINAL corpus
    centroids (not a resample over the union)."""
    import numpy as np

    from external_benchmarks_spark.operators.deltadedup import (
        absorb_delta_vectors,
        build_vector_store,
        delta_semdedup,
    )

    e = Catalog(spark, sf_dir).embeddings
    corpus = e.filter(F.col("vec_id") % 10 > 1)
    d1 = e.filter(F.col("vec_id") % 10 == 0)
    d2 = e.filter(F.col("vec_id") % 10 == 1)
    inc = build_vector_store(spark, corpus, tag="t_vabs_inc")
    absorb_delta_vectors(spark, d1, inc)
    got = sorted(
        tuple(r)
        for r in delta_semdedup(spark, d2, inc, threshold_fp=200_000).collect()
    )
    cent = np.array(
        [
            r._cv
            for r in spark.read.parquet(inc.centroids_path)
            .orderBy("_cid")
            .collect()
        ]
    )
    full = build_vector_store(
        spark,
        e.filter(F.col("vec_id") % 10 != 1),
        tag="t_vabs_full",
        centroids=cent,
    )
    want = sorted(
        tuple(r)
        for r in delta_semdedup(spark, d2, full, threshold_fp=200_000).collect()
    )
    assert got == want and len(got) > 0


def test_centroid_refresh_moves_only_argmax_changes(spark):
    """Explicit-centroid refresh on a crafted geometry: boundary points
    move between cells 0 and 1; cells 2 and 3 have zero movement and
    their files must be BYTE-IDENTICAL after the refresh; the store
    ends fully consistent with the new centroids; a second refresh with
    the same centroids is a no-op."""
    import numpy as np

    from external_benchmarks_spark.operators.deltadedup import (
        _assign_cells,
        build_vector_store,
        refresh_centroids,
    )

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return [float(x) for x in v / np.linalg.norm(v)]

    rows = []
    vid = 0
    for i in range(4):  # 10 tight points per axis cluster
        e = [0.0] * 4
        e[i] = 1.0
        for _ in range(10):
            rows.append((vid, [float(x) for x in e]))
            vid += 1
    for _ in range(5):  # boundary points lean toward axis 0
        rows.append((vid, unit([0.6, 0.4, 0.0, 0.0])))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    axes = np.eye(4)
    store = build_vector_store(
        spark, df, tag="t_refresh_syn", n_cells=4, centroids=axes
    )

    def cell_bytes(c):
        d = os.path.join(store.vectors_path, f"cell={c}")
        return {
            f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d))
            if not f.startswith(("_", "."))
        }

    b2, b3 = cell_bytes(2), cell_bytes(3)
    new_cent = np.array(
        [
            [1.0, 0.0, 0.0, 0.0],
            unit([0.5, 0.85, 0.0, 0.0]),
            [0.0, 0.0, 1.0, 0.0],
            [0.0, 0.0, 0.0, 1.0],
        ]
    )
    stats = refresh_centroids(spark, store, centroids=new_cent)
    # boundary points: dot vs c1' = 0.6*0.5+0.4*0.85 = 0.64 > 0.6 vs c0
    assert stats["moved"] == 5
    assert stats["dirty_cells"] == [0, 1]
    assert cell_bytes(2) == b2 and cell_bytes(3) == b3  # never rewritten
    # full consistency: every stored cell equals argmax vs new centroids
    stored = spark.read.parquet(store.vectors_path)
    cent_df = spark.read.parquet(store.centroids_path)
    expect = _assign_cells(
        stored.drop("cell"), cent_df
    ).withColumnRenamed("cell", "want")
    bad = (
        stored.join(expect.select("vec_id", "want"), "vec_id")
        .filter(F.col("cell") != F.col("want"))
        .count()
    )
    assert bad == 0
    # idempotent
    stats2 = refresh_centroids(spark, store, centroids=new_cent)
    assert stats2["moved"] == 0 and stats2["dirty_cells"] == []


def test_refresh_identical_resample_short_circuits(spark, sf_dir):
    """A refresh whose resampled matrix is byte-identical to the stored
    one skips the O(corpus) movement pass AND the centroid republish
    (r15): stats come from footer counts and match the full path's
    balance fields exactly; centroid + cell FILE IDENTITY is untouched
    (a byte-identical republish would still spuriously invalidate
    signature-based serving reloads)."""
    from external_benchmarks_spark.operators.deltadedup import (
        build_vector_store,
        refresh_centroids,
    )

    e = Catalog(spark, sf_dir).embeddings
    store = build_vector_store(
        spark, e.filter(F.col("vec_id") % 10 != 0), tag="t_refresh_sc"
    )

    def tree_ident(path):
        out = {}
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_ino, st.st_mtime_ns,
                                                 st.st_size)
        return out

    root = os.path.dirname(store.vectors_path)
    before = tree_ident(root)
    stats = refresh_centroids(spark, store)  # same corpus -> same sample
    assert stats["moved"] == 0 and stats["dirty_cells"] == []
    assert tree_ident(root) == before  # no file created, touched, or renamed
    # balance fields match a real per-cell count
    counts = (
        spark.read.parquet(store.vectors_path)
        .groupBy("cell").count().collect()
    )
    want_max = max(r["count"] for r in counts)
    assert stats["max_cell_before"] == want_max
    assert stats["max_cell_after"] == want_max
    assert stats["nonempty_cells_before"] == len(counts)
    assert stats["nonempty_cells_after"] == len(counts)
    assert stats["n_cells"] == stats["n_cells_before"]


def test_centroid_refresh_after_absorb_matches_rebuild(spark, sf_dir):
    """absorb + refresh == from-scratch store over corpus ∪ delta with
    freshly sampled centroids (refresh samples from the absorbed
    corpus, which IS the union — same md5 device)."""
    from external_benchmarks_spark.operators.deltadedup import (
        absorb_delta_vectors,
        build_vector_store,
        refresh_centroids,
    )

    e = Catalog(spark, sf_dir).embeddings
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    store = build_vector_store(spark, corpus, tag="t_refresh_abs")
    absorb_delta_vectors(spark, delta, store)
    stats = refresh_centroids(spark, store)
    got = sorted(
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(store.vectors_path)
        .select("vec_id", "cell")
        .collect()
    )
    rebuilt = build_vector_store(spark, e, tag="t_refresh_rebuild")
    want = sorted(
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(rebuilt.vectors_path)
        .select("vec_id", "cell")
        .collect()
    )
    assert got == want and len(got) == e.count()
    assert stats["moved"] > 0  # the resample genuinely moved something


def test_streaming_dedup_matches_sequential_batch(spark, sf_dir, tmp_path):
    """Driving the doc batches through a real file stream (dedup ->
    absorb per micro-batch) yields exactly the pairs a sequential batch
    replay produces: every pair touching batch i against
    corpus ∪ batches 1..i. Replayed batch ids are skipped."""
    from external_benchmarks_spark.operators.deltadedup import absorb_delta
    from external_benchmarks_spark.streaming.deltadedup import (
        StreamingDeltaDedup,
    )

    d = Catalog(spark, sf_dir).documents
    corpus = d.filter(F.col("doc_id") % 10 > 3)
    batches = d.filter(F.col("doc_id") % 10 <= 3).withColumn(
        "_b", (F.col("doc_id") % 10).cast("int")
    )

    # expected: sequential batch replay over a twin store
    exp_store = build_signature_store(spark, corpus, tag="t_sdd_exp")
    expected = []
    for b in range(4):
        batch = batches.filter(F.col("_b") == b).drop("_b")
        expected.extend(
            tuple(r) for r in delta_dedup(spark, batch, exp_store).collect()
        )
        absorb_delta(spark, batch, exp_store)

    # live: one file per batch, maxFilesPerTrigger=1 => 4 micro-batches
    src = str(tmp_path / "batches")
    batches.repartition("_b").write.partitionBy("_b").mode("overwrite").parquet(src)
    live_store = build_signature_store(spark, corpus, tag="t_sdd_live")
    acc = StreamingDeltaDedup(
        spark, live_store, pairs_path=str(tmp_path / "pairs")
    )
    stream = (
        spark.readStream.schema(batches.drop("_b").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(acc.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # Pairs come back from the PARQUET PAIR SINK — the stream keeps no
    # driver-side pair state (r9 verdict finding #1). Stream batching
    # may split differently than the %10 batches, so compare SETS of
    # pairs: both are "all pairs touching the new docs at the moment
    # their batch arrived" — identical iff absorb works.
    sink = acc.pairs_df()
    got = set(tuple(r) for r in sink.drop("batch_id").collect())
    assert sorted(got) == sorted(set(expected))
    assert len(got) > 0
    # batch_id tags every sink row with its emitting micro-batch
    assert sink.filter(F.col("batch_id").isNull()).count() == 0
    # replay protection: re-running an already-absorbed batch id is a no-op
    n = sink.count()
    acc.update(batches.filter(F.col("_b") == 0).drop("_b"), batch_id=0)
    assert acc.pairs_df().count() == n


def test_retiring_marker_never_resurrects(spark, tmp_path):
    """The r10 advice hole: a crash between the retirement rename and
    the rmtree used to leave the drained cell in .compacting. trash,
    which recovery RESTORED — permanently duplicating rows already
    published into other cells. Retirement now uses the distinct
    .retiring. marker, which recovery always deletes; a crashed SWAP
    (.compacting.) still restores."""
    from external_benchmarks_spark.pipeline.layout import (
        recover_partition_swaps,
        swap_partition_dir,
    )

    root = str(tmp_path / "store")
    os.makedirs(os.path.join(root, "cell=1"))
    open(os.path.join(root, "cell=1", "a.parquet"), "w").write("x")
    # crashed RETIREMENT: rename happened, rmtree lost
    swap_dirname = os.path.join(root, ".retiring.cell=9")
    os.makedirs(swap_dirname)
    open(os.path.join(swap_dirname, "dup.parquet"), "w").write("dup")
    # crashed SWAP: live gone, trash holds the only copy
    os.rename(
        os.path.join(root, "cell=1"), os.path.join(root, ".compacting.cell=1")
    )
    assert recover_partition_swaps(root) is True
    assert not os.path.exists(swap_dirname)  # retirement finished, not undone
    assert not os.path.exists(os.path.join(root, "cell=9"))
    assert os.path.isfile(os.path.join(root, "cell=1", "a.parquet"))  # restored
    # and the live retirement path itself lands under .retiring.
    swap_partition_dir(root, "cell=1", None)
    assert not os.path.exists(os.path.join(root, "cell=1"))
    assert recover_partition_swaps(root) is False  # clean root: no-op


def _axis_store(spark, tag, n_axes=4, per_cell=10):
    import numpy as np

    from external_benchmarks_spark.operators.deltadedup import (
        build_vector_store,
    )

    rows = []
    vid = 0
    for i in range(n_axes):
        e = [0.0] * n_axes
        e[i] = 1.0
        for _ in range(per_cell):
            rows.append((vid, [float(x) for x in e]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, build_vector_store(
        spark, df, tag=tag, centroids=np.eye(n_axes)
    )


def test_refresh_crash_before_centroid_publish_force_completes(spark):
    """The r10 advice crash window: refresh dies AFTER the dirty-cell
    swaps but BEFORE the centroid publish. recover_refresh (called by
    every store reader) must force-complete — publish the journaled
    pending centroids — so no reader ever assigns against stale
    geometry over new-geometry cells."""
    import numpy as np
    import pytest

    import external_benchmarks_spark.operators.deltadedup as dd

    df, store = _axis_store(spark, "t_refresh_crash_pub")
    new_cent = np.vstack([np.eye(4)[[1, 0]], np.eye(4)[2:]])  # swap cells 0/1
    real_swap_dir = dd.swap_dir

    def boom(path, staged):
        raise RuntimeError("injected crash before centroid publish")

    dd.swap_dir = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            dd.refresh_centroids(spark, store, centroids=new_cent)
    finally:
        dd.swap_dir = real_swap_dir
    # journal survives; pending centroids staged; live centroids still OLD
    root = os.path.dirname(store.vectors_path)
    assert os.path.exists(os.path.join(root, dd._REFRESH_JOURNAL))
    assert os.path.isdir(store.centroids_path + ".pending")
    assert dd.recover_refresh(store) is True
    assert not os.path.exists(os.path.join(root, dd._REFRESH_JOURNAL))
    cent_rows = sorted(
        (int(r["_cid"]), tuple(r["_cv"]))
        for r in spark.read.parquet(store.centroids_path).collect()
    )
    assert cent_rows[0][1][1] == 1.0  # cell 0's centroid IS the new axis-1
    stored = spark.read.parquet(store.vectors_path)
    assert stored.count() == df.count()
    cent_df = spark.read.parquet(store.centroids_path)
    expect = dd._assign_cells(stored.drop("cell"), cent_df).withColumnRenamed(
        "cell", "want"
    )
    bad = (
        stored.join(expect.select("vec_id", "want"), "vec_id")
        .filter(F.col("cell") != F.col("want"))
        .count()
    )
    assert bad == 0


def test_refresh_crash_midswap_resumes_bitexact(spark):
    """Crash INSIDE the cell-swap loop (some dirty cells published,
    others not): the journal replays the remaining swaps and the final
    state equals an uninjured refresh's, cell contents included."""
    import numpy as np
    import pytest

    import external_benchmarks_spark.operators.deltadedup as dd

    new_cent = np.vstack([np.eye(4)[[1, 0]], np.eye(4)[2:]])
    # uninjured twin for the expected end state
    _, twin = _axis_store(spark, "t_refresh_crash_twin")
    dd.refresh_centroids(spark, twin, centroids=new_cent)
    want = sorted(
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(twin.vectors_path).collect()
    )

    df, store = _axis_store(spark, "t_refresh_crash_mid")
    real = dd.swap_partition_dir
    calls = {"n": 0}

    def crashy(root, name, staged):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected mid-swap crash")
        return real(root, name, staged)

    dd.swap_partition_dir = crashy
    try:
        with pytest.raises(RuntimeError, match="injected"):
            dd.refresh_centroids(spark, store, centroids=new_cent)
    finally:
        dd.swap_partition_dir = real
    # a reader path force-completes via recover_refresh
    got_pairs = dd.delta_semdedup(
        spark,
        spark.createDataFrame(
            [(10_000, [1.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        ),
        store,
        threshold_fp=900_000,
    )
    assert got_pairs.count() == 10  # the 10 axis-0 docs, new geometry
    got = sorted(
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(store.vectors_path).collect()
    )
    assert got == want


def test_refresh_grows_cell_count(spark):
    """rows_per_cell re-derives the cell count from the corpus
    (target_cells) — the r10 scale valve. A 4-cell store over 640 rows
    refreshes into ceil(640/32)=20 cells, stays fully consistent, and
    keeps the grown count on the NEXT default refresh (self-describing
    via the centroid parquet, not the build-time handle)."""
    import external_benchmarks_spark.operators.deltadedup as dd
    from external_benchmarks_spark.operators.deltadedup import (
        store_cell_count,
        target_cells,
    )

    df, store = _axis_store(spark, "t_refresh_grow", n_axes=4, per_cell=160)
    assert store_cell_count(store) == 4
    stats = dd.refresh_centroids(spark, store, rows_per_cell=32)
    assert stats["n_cells"] == target_cells(640, 32) == 20
    assert stats["n_cells_before"] == 4
    assert store_cell_count(store) == 20
    stored = spark.read.parquet(store.vectors_path)
    assert stored.count() == 640
    cent_df = spark.read.parquet(store.centroids_path)
    expect = dd._assign_cells(stored.drop("cell"), cent_df).withColumnRenamed(
        "cell", "want"
    )
    assert (
        stored.join(expect.select("vec_id", "want"), "vec_id")
        .filter(F.col("cell") != F.col("want"))
        .count()
        == 0
    )
    # default refresh keeps the grown count (and is an idempotent no-op)
    stats2 = dd.refresh_centroids(spark, store)
    assert stats2["n_cells"] == 20 and stats2["moved"] == 0


def test_streaming_update_crash_is_exactly_once_across_restart(spark, sf_dir, tmp_path):
    """The r11 durability protocol: a mid-update PROCESS crash (here:
    after the pair-sink write and the bands append, before the shingles
    append — each step is job-atomic) must not double-apply on replay.
    A fresh StreamingDeltaDedup instance (the restart analog) recovers
    from the undo marker — store files return to the pre-batch listing,
    the batch's pair dir drops — and the replayed update applies
    exactly once: final pairs and store state equal an uninjured twin's."""
    import pytest

    import external_benchmarks_spark.operators.deltadedup as dd
    import external_benchmarks_spark.streaming.deltadedup as sdd_mod
    from external_benchmarks_spark.streaming.deltadedup import (
        StreamingDeltaDedup,
    )

    d = Catalog(spark, sf_dir).documents
    corpus = d.filter(F.col("doc_id") % 10 > 3)
    b0 = d.filter(F.col("doc_id") % 10 == 0)
    b1 = d.filter(F.col("doc_id") % 10 == 1)

    # uninjured twin
    twin_store = build_signature_store(spark, corpus, tag="t_sdd_x1_twin")
    twin = StreamingDeltaDedup(spark, twin_store)
    twin.update(b0, batch_id=0)
    twin.update(b1, batch_id=1)
    want_pairs = sorted(tuple(r) for r in twin.pairs_df().collect())
    want_bands = twin.spark.table(twin_store.bands_table).count()
    want_sh = twin.spark.table(twin_store.shingles_table).count()

    store = build_signature_store(spark, corpus, tag="t_sdd_x1")
    s1 = StreamingDeltaDedup(spark, store)
    s1.update(b0, batch_id=0)

    # crash batch 1 between absorb's two atomic jobs: bands committed,
    # shingles not (absorb_delta raises after the bands insertInto)
    real_absorb = sdd_mod.absorb_delta

    def crashy(spark_, batch_df, store_, key_col, content_col):
        from external_benchmarks_spark.operators.deltadedup import (
            band_hashes,
            doc_shingles,
        )

        sh = doc_shingles(batch_df, key_col, content_col, store_.n)
        (
            band_hashes(sh, store_.num_hashes, store_.bands, store_.seed)
            .repartition(store_.n_buckets, F.col("bh"))
            .select("doc_id", "bh", "pb")
            .write.mode("append")
            .insertInto(store_.bands_table)
        )
        raise RuntimeError("injected crash between absorb jobs")

    sdd_mod.absorb_delta = crashy
    try:
        with pytest.raises(RuntimeError, match="injected"):
            s1.update(b1, batch_id=1)
    finally:
        sdd_mod.absorb_delta = real_absorb
    assert os.path.exists(os.path.join(store.root, "_inflight_batch.json"))
    # bands got batch 1's rows, shingles did not — the half-applied state
    assert spark.table(store.bands_table).count() > want_bands - 1

    # restart analog: a FRESH instance recovers, then replays batch 1
    s2 = StreamingDeltaDedup(spark, store)
    assert not os.path.exists(os.path.join(store.root, "_inflight_batch.json"))
    assert s2._last_batch == 0  # ledger survived the crash
    s2.update(b1, batch_id=1)
    got_pairs = sorted(tuple(r) for r in s2.pairs_df().collect())
    assert got_pairs == want_pairs and len(got_pairs) > 0
    assert spark.table(store.bands_table).count() == want_bands
    assert spark.table(store.shingles_table).count() == want_sh
    # and a replay of an already-ledgered batch stays a no-op
    n = s2.pairs_df().count()
    s2.update(b0, batch_id=0)
    assert s2.pairs_df().count() == n


def test_rebuild_clears_stale_refresh_state(spark):
    """r12 advice (high): a crash mid-refresh leaves _refresh_journal.json,
    centroids.pending and vectors_refresh_staging at the store root; a
    SUBSEQUENT REBUILD of the store (refresh invalidates the layout
    fingerprint, so the next session rebuilds) must clear them — else the
    first reader's recover_refresh replays the stale journal against the
    FRESH store, retiring journaled 'drained' cells (deleting freshly
    built live cell dirs: silent row loss)."""
    import json

    import external_benchmarks_spark.operators.deltadedup as dd

    df, store = _axis_store(spark, "t_rebuild_stale_refresh")
    root = os.path.dirname(store.vectors_path)
    staging = store.vectors_path + "_refresh_staging"
    pending = store.centroids_path + ".pending"
    os.makedirs(staging, exist_ok=True)
    os.makedirs(pending, exist_ok=True)
    # previous life's journal: cell 1 'drained' (dirty, nothing staged) —
    # replayed against a fresh store this deletes live cell dir 1
    with open(os.path.join(root, dd._REFRESH_JOURNAL), "w") as fh:
        json.dump({"dirty": [1], "staged": [], "staging": staging}, fh)
    df2, store2 = _axis_store(spark, "t_rebuild_stale_refresh")  # rebuild
    assert not os.path.exists(os.path.join(root, dd._REFRESH_JOURNAL))
    assert not os.path.isdir(pending) and not os.path.isdir(staging)
    dd.recover_refresh(store2)  # the first reader's call — must be a no-op
    assert spark.read.parquet(store2.vectors_path).count() == df.count()
    assert os.path.isdir(os.path.join(store2.vectors_path, "cell=1"))


def test_streaming_recover_skips_ledgered_batch(spark, sf_dir):
    """r12 advice (medium): a crash BETWEEN _record_done(batch_id) and the
    marker removal leaves the batch in the ledger AND the undo marker on
    disk. recover() must consult the ledger: the batch committed, so it
    removes the marker WITHOUT undoing files — undoing would delete the
    committed rows while the ledger makes every replay skip (permanent
    row loss)."""
    import json

    from external_benchmarks_spark.streaming.deltadedup import (
        StreamingDeltaDedup,
    )

    d = Catalog(spark, sf_dir).documents
    corpus = d.filter(F.col("doc_id") % 10 > 3)
    b0 = d.filter(F.col("doc_id") % 10 == 0)
    store = build_signature_store(spark, corpus, tag="t_sdd_ledgermk")
    s1 = StreamingDeltaDedup(spark, store)
    pre_bands = spark.table(store.bands_table).count()
    s1.update(b0, batch_id=0)
    want_bands = spark.table(store.bands_table).count()
    assert want_bands > pre_bands
    want_pairs = s1.pairs_df().count()
    # simulate the crash window: re-create the marker batch 0 wrote
    # (pre-batch listing = what recover would roll BACK to) while the
    # ledger already records batch 0 as done
    marker = os.path.join(store.root, "_inflight_batch.json")
    with open(marker, "w") as fh:
        json.dump(
            {
                "batch_id": 0,
                "files": {"bands": [], "shingles": []},
                "pairs_dir": os.path.join(s1.pairs_path, "batch_id=0"),
            },
            fh,
        )
    s2 = StreamingDeltaDedup(spark, store)  # restart analog runs recover()
    assert not os.path.exists(marker)
    assert spark.table(store.bands_table).count() == want_bands
    assert s2.pairs_df().count() == want_pairs and want_pairs >= 0
    assert os.path.isdir(os.path.join(s1.pairs_path, "batch_id=0"))
    assert s2._last_batch == 0


def test_live_writer_blocks_orphan_sweep(spark):
    """r12 advice (low): recover_refresh's journal-less branch deletes an
    aged orphan staging/pending dir — but a LIVE refresh writer (claimed
    pid file) whose staging work exceeds the 1h mtime gate must not have
    its staging swept by a concurrent reader. Dead/released claims fall
    back to the age gate as before."""
    import external_benchmarks_spark.operators.deltadedup as dd
    from external_benchmarks_spark.pipeline.layout import (
        claim_writer,
        release_writer,
    )

    _, store = _axis_store(spark, "t_writer_gate")
    root = os.path.dirname(store.vectors_path)
    staging = store.vectors_path + "_refresh_staging"
    os.makedirs(staging, exist_ok=True)
    old = 7200.0
    past = os.path.getmtime(staging) - old
    os.utime(staging, (past, past))  # looks >1h stale
    claim_writer(root)  # our own live pid — the mid-staging writer
    try:
        dd.recover_refresh(store)
        assert os.path.isdir(staging)  # live writer: never swept
    finally:
        release_writer(root)
    dd.recover_refresh(store)  # claim released: age gate applies again
    assert not os.path.isdir(staging)


def test_compact_vector_store(spark, sf_dir):
    """After several absorbs every touched cell holds one file per
    batch (the r14 soak leak: +14 files/cycle, unbounded — the vector
    store was the one artifact with no compactor); compaction folds
    dirty cells to one file each, logical contents and the delta
    semdedup result are unchanged, and a second run is a no-op."""
    from external_benchmarks_spark.operators.deltadedup import (
        absorb_delta_vectors,
        build_vector_store,
        compact_vector_store,
        delta_semdedup,
    )

    e = Catalog(spark, sf_dir).embeddings
    corpus = e.filter(F.col("vec_id") % 10 > 4)
    store = build_vector_store(spark, corpus, tag="t_vcmp_store")
    for b in range(4):
        absorb_delta_vectors(
            spark, e.filter(F.col("vec_id") % 10 == b), store
        )

    def files_per_cell(path):
        out = {}
        for d in os.listdir(path):
            if d.startswith("cell="):
                out[d] = sum(
                    1
                    for f in os.listdir(os.path.join(path, d))
                    if not f.startswith(("_", "."))
                )
        return out

    before_files = files_per_cell(store.vectors_path)
    assert max(before_files.values()) > 4, before_files
    rows_before = sorted(
        tuple(r) for r in spark.read.parquet(store.vectors_path).collect()
    )
    delta = e.filter(F.col("vec_id") % 10 == 4)
    dd_before = sorted(
        tuple(r)
        for r in delta_semdedup(spark, delta, store, threshold_fp=200_000).collect()
    )

    compacted = compact_vector_store(spark, store, max_files_per_cell=4)
    assert compacted  # at least one dirty cell folded
    after_files = files_per_cell(store.vectors_path)
    assert max(after_files.values()) <= 4, after_files
    for cell in compacted:
        assert after_files[f"cell={cell}"] == 1
    rows_after = sorted(
        tuple(r) for r in spark.read.parquet(store.vectors_path).collect()
    )
    assert rows_after == rows_before and len(rows_after) > 0
    dd_after = sorted(
        tuple(r)
        for r in delta_semdedup(spark, delta, store, threshold_fp=200_000).collect()
    )
    assert dd_after == dd_before
    # second run: nothing dirty
    assert compact_vector_store(spark, store, max_files_per_cell=4) == []


def test_compact_vector_store_crash_recovery(spark, sf_dir):
    """A crash between a cell's two renames leaves a `.compacting.`
    trash with no live dir; the next compact (or any recover_refresh
    reader) restores it — no row loss, then the fold completes."""
    import shutil

    from external_benchmarks_spark.operators.deltadedup import (
        absorb_delta_vectors,
        build_vector_store,
        compact_vector_store,
    )

    e = Catalog(spark, sf_dir).embeddings
    corpus = e.filter(F.col("vec_id") % 10 > 2)
    store = build_vector_store(spark, corpus, tag="t_vcmp_crash")
    for b in range(3):
        absorb_delta_vectors(
            spark, e.filter(F.col("vec_id") % 10 == b), store
        )
    rows_before = sorted(
        tuple(r) for r in spark.read.parquet(store.vectors_path).collect()
    )
    # simulate the mid-swap crash: live renamed to trash, staged lost
    cells = sorted(
        d for d in os.listdir(store.vectors_path) if d.startswith("cell=")
    )
    victim = cells[0]
    os.rename(
        os.path.join(store.vectors_path, victim),
        os.path.join(store.vectors_path, f".compacting.{victim}"),
    )
    compact_vector_store(spark, store, max_files_per_cell=2)
    rows_after = sorted(
        tuple(r) for r in spark.read.parquet(store.vectors_path).collect()
    )
    assert rows_after == rows_before
