"""Upsert path: keyed MERGE semantics over the bucketed table, both as
direct micro-batches and through a real Structured Streaming query."""

from __future__ import annotations

import logging
import os
import tempfile
import time

import pyspark.sql.functions as F
import pytest

from external_benchmarks_spark.pipeline.embedding import embed_fields
from external_benchmarks_spark.streaming.upsert import UpsertTable, run_upsert_stream


def _base(spark, n=100):
    return spark.range(n).select(
        F.col("id"),
        F.concat_ws(" ", F.lit("title"), F.col("id")).alias("title"),
        (F.col("id") * 1.0).alias("price"),
    )


def _rows(spark, rows):
    return spark.createDataFrame(rows, "id long, title string, price double")


def _title(df, key):
    return df.filter(F.col("id") == key).collect()[0].title


def test_upsert_merge_semantics(spark):
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=4)
        t.init(_base(spark))
        assert t.read().count() == 100

        # update 5 existing + insert 3 new; duplicate key keeps max op_ts
        updates = spark.createDataFrame(
            [(i, f"updated {i}", 999.0, 1) for i in range(5)]
            + [(100 + i, f"new {i}", 1.0, 1) for i in range(3)]
            + [(0, "stale update", -1.0, 0)],  # older op_ts, must lose
            ["id", "title", "price", "op_ts"],
        )
        t.upsert(updates.drop("op_ts").withColumn("op_ts", F.lit(1)) if False else updates)
        out = t.read()
        assert out.count() == 103
        row0 = out.filter(F.col("id") == 0).collect()[0]
        assert row0.title == "updated 0" and row0.price == 999.0
        assert out.filter(F.col("id") == 101).count() == 1
        # untouched rows intact
        assert out.filter(F.col("id") == 50).collect()[0].title == "title 50"


def test_upsert_with_reembedding(spark):
    """The reference's update includes re-embedding (README.md:69-70)."""
    with tempfile.TemporaryDirectory() as d:
        base = embed_fields(_base(spark, 20), fields=("title",), dim=8)
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=2)
        t.init(base)
        old_emb = t.read().filter(F.col("id") == 1).collect()[0].embedding

        upd = spark.createDataFrame([(1, "changed title", 5.0)], ["id", "title", "price"])
        t.upsert(embed_fields(upd, fields=("title",), dim=8))
        new_emb = t.read().filter(F.col("id") == 1).collect()[0].embedding
        assert list(new_emb) != list(old_emb)  # text change re-embedded
        assert len(new_emb) == 8


def test_streaming_foreachbatch(spark):
    """End-to-end Structured Streaming: rate source -> foreachBatch MERGE."""
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=2)
        t.init(_base(spark, 10).withColumn("seen", F.lit(-1)))

        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", "50").load()
            .select(
                (F.col("value") % 20).alias("id"),
                F.concat_ws(" ", F.lit("title"), (F.col("value") % 20)).alias("title"),
                F.lit(0.0).alias("price"),
                F.col("value").alias("seen"),
            )
        )
        q = run_upsert_stream(t, stream, d, trigger_seconds=1)
        try:
            deadline = time.time() + 30
            while time.time() < deadline:
                try:
                    # A poll can race a concurrent bucket rewrite (snapshot
                    # isolation is what Delta adds on a real deployment —
                    # upsert.py module docstring); retry, don't fail.
                    if t.read().filter(F.col("seen") >= 0).count() > 0:
                        break
                except Exception:
                    pass
                time.sleep(1)
        finally:
            q.stop()
        merged = t.read()
        assert merged.filter(F.col("seen") >= 0).count() > 0
        # keys stayed unique through streamed merges
        assert merged.groupBy("id").count().filter(F.col("count") > 1).count() == 0


def test_upsert_compact_merges_versions(spark):
    """compact(): one version for every bucket, the same rows (NULL keys
    and duplicate base keys included), old version dirs vacuumed."""
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=4)
        t.init(_base(spark, 50).unionByName(_rows(spark, [(None, "n", 0.0), (7, "dup", 0.0)])))
        for i in range(3):  # a few micro-batches -> several versions
            t.upsert(_rows(spark, [(i * 10 + j, f"u{i}-{j}", 1.0) for j in range(5)]
                           + [(None, f"n{i}", 1.0)]))
        before = sorted(map(tuple, t.read().collect()), key=repr)
        t.compact()
        after = sorted(map(tuple, t.read().collect()), key=repr)
        assert after == before and len(after) == 55
        versions = [e for e in os.listdir(os.path.join(d, "t")) if e.startswith("v=")]
        assert len(versions) == 1


def test_time_travel_and_vacuum_pruning(spark):
    """A delta supersedes nothing, so vacuum() after it keeps every
    commit readable; compact() is the retention point: after it the
    older commits are unreadable and the current snapshot is intact."""
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=4)
        t.init(_base(spark))
        c0 = t.history()[-1]
        t.upsert(
            spark.createDataFrame(
                [(0, "v2 title", 1.0, 1)], ["id", "title", "price", "op_ts"]
            )
        )
        c1 = t.history()[-1]
        assert c1 > c0
        # latest sees the update; commit 0 still sees the original
        assert _title(t.read(), 0) == "v2 title"
        assert _title(t.read(at_commit=c0), 0) == "title 0"
        assert t.read(at_commit=c0).count() == 100
        t.vacuum()
        assert t.history() == [c0, c1]
        assert _title(t.read(at_commit=c0), 0) == "title 0"
        assert _title(t.read(at_commit=c1), 0) == "v2 title"
        t.compact()
        for c in (c0, c1):
            assert c not in t.history()
            with pytest.raises(ValueError, match="not found"):
                t.read(at_commit=c)
        # current snapshot unaffected
        assert t.read().count() == 100
        assert _title(t.read(), 0) == "v2 title"


def test_null_keys_accumulate_across_deltas(spark):
    """NULL-keyed rows always survive and delete nothing: one per delta
    adds up on top of the base's."""
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=2)
        t.init(_base(spark, 5).unionByName(_rows(spark, [(None, "base", 0.0)])))
        t.upsert(_rows(spark, [(None, "d1", 1.0), (1, "u1", 1.0)]))
        t.upsert(_rows(spark, [(None, "d2", 2.0)]))
        out = t.read()
        nulls = sorted(r.title for r in out.filter(F.col("id").isNull()).collect())
        assert nulls == ["base", "d1", "d2"]
        assert _title(out, 1) == "u1" and out.count() == 8


def test_duplicate_base_keys_kept_until_touched(spark):
    """An untouched base with duplicate keys reads as written, even when a
    delta lands in its bucket; a delta that carries the key replaces
    every base row of it."""
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=1)
        t.init(_rows(spark, [(3, "a", 0.0), (3, "b", 0.0), (5, "c", 0.0), (5, "d", 0.0)]))
        t.upsert(_rows(spark, [(5, "new", 1.0), (9, "ins", 1.0)]))
        rows = sorted((r.id, r.title) for r in t.read().collect())
        assert rows == [(3, "a"), (3, "b"), (5, "new"), (9, "ins")]


def test_read_at_commit_between_deltas(spark):
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=2)
        t.init(_base(spark, 4))
        t.upsert(_rows(spark, [(0, "a", 1.0)]))
        c1 = t.history()[-1]
        t.upsert(_rows(spark, [(0, "b", 2.0), (1, "b", 2.0)]))

        def titles(df):
            return sorted((r.id, r.title) for r in df.collect())

        assert titles(t.read(at_commit=c1)) == [
            (0, "a"), (1, "title 1"), (2, "title 2"), (3, "title 3")
        ]
        assert titles(t.read()) == [(0, "b"), (1, "b"), (2, "title 2"), (3, "title 3")]


def test_legacy_int_manifest_loads(spark):
    """A table written before merge-on-read maps bucket -> one version in
    its manifest and commit log; it reads, takes upserts and compacts."""
    import json

    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "t")
        UpsertTable(spark, root, key_col="id", n_buckets=4).init(_base(spark, 20))
        with open(os.path.join(root, "_manifest.json")) as f:
            legacy = {b: vs[0] for b, vs in json.load(f).items()}
        for path in ("_manifest.json", "_commits/0.json"):
            with open(os.path.join(root, path), "w") as f:
                json.dump(legacy, f)
        t = UpsertTable(spark, root, key_col="id", n_buckets=4)
        assert t.read().count() == 20 and t.read(at_commit=0).count() == 20
        t.upsert(_rows(spark, [(2, "new", 1.0)]))
        assert _title(t.read(), 2) == "new" and t.read().count() == 20
        t.compact()
        assert _title(t.read(), 2) == "new" and t.read().count() == 20


def test_upsert_cast_overflow_raises(spark):
    """A non-evolving batch is cast to the table's column types: a value
    that fits is stored at the column's type, one that overflows fails
    the commit loudly and publishes nothing."""
    from pyspark.sql.types import IntegerType

    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=2)
        t.init(_base(spark, 4).withColumn("qty", F.col("id").cast("int")))
        t.upsert(spark.createDataFrame([(1, "t", 1.0, 7)], "id long, title string, price double, qty long"))
        assert t.read().schema["qty"].dataType == IntegerType()
        commits = t.history()
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            t.upsert(spark.createDataFrame(
                [(2, "t", 1.0, 2**40)], "id long, title string, price double, qty long"
            ))
        assert t.history() == commits
        assert sorted(r.qty for r in t.read().collect()) == [0, 2, 3, 7]


def test_commit_writes_only_its_batch(spark, caplog):
    """Write amplification, host-immune: the newest version directory
    holds only the buckets the batch touched, and its bytes scale with
    the batch, not the table. The commit's log record says the same."""
    from external_benchmarks_spark.streaming.upsert import _bucket

    def du(vdir):  # the version's data files
        return sum(
            os.path.getsize(os.path.join(p, f))
            for p, _, fs in os.walk(vdir) for f in fs if f.endswith(".parquet")
        )

    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "t")
        t = UpsertTable(spark, root, key_col="id", n_buckets=8)
        t.init(spark.range(4000).select(
            "id", F.sha2(F.col("id").cast("string"), 256).alias("title"),
            (F.col("id") * 1.0).alias("price"),
        ))
        batch = _rows(spark, [(i * 500, "new", 0.0) for i in range(8)])
        touched = sorted(
            {str(r.b) for r in batch.select(_bucket(F.col("id"), 8).alias("b")).collect()},
            key=int,
        )
        with caplog.at_level(logging.INFO, logger="external_benchmarks_spark.streaming.upsert"):
            t.upsert(batch)
        rec = caplog.records[-1].commit
        newest = os.path.join(root, f"v={rec['version']}")
        assert sorted(e for e in os.listdir(newest) if e.startswith("bucket=")) == [
            f"bucket={b}" for b in sorted(touched)
        ]
        assert rec["rows"] == 8 and rec["buckets"] == touched
        assert rec["deltas_pending"] == {b: 1 for b in touched}
        assert rec["bytes"] == du(newest)
        assert rec["bytes"] * 10 < du(os.path.join(root, "v=0"))


WINDOW_CASES = {
    # (batch schema, key, base rows, batch rows, expected table); base
    # None is _base(spark, 10). Ties go to the lowest whole-row xxhash64:
    # tie-a, n2, z, the second NULL-key row, v and {"k": 2} hash lowest.
    "op_ts": (
        "id long, title string, price double, op_ts long", "id", None,
        [(1, "old", 1.0, 1), (1, "new", 2.0, 2), (None, "n", 0.0, 1), (20, "ins", 3.0, 1)],
        [(i, f"title {i}", float(i)) for i in range(10) if i != 1]
        + [(1, "new", 2.0), (None, "n", 0.0), (20, "ins", 3.0)],
    ),
    "op_ts_null_and_tie": (
        "id long, title string, price double, op_ts long", "id",
        [(1, "b1", 0.0), (2, "b2", 0.0), (3, "b3", 0.0), (4, "b4", 0.0)],
        [(1, "null-ts", 9.0, None), (1, "real", 1.0, 5), (2, "tie-b", 2.0, 7),
         (2, "tie-a", 1.0, 7), (3, "n1", 1.0, None), (3, "n2", 2.0, None)],
        [(1, "real", 1.0), (2, "tie-a", 1.0), (3, "n2", 2.0), (4, "b4", 0.0)],
    ),
    "op_ts_nan": (  # Spark orders NaN above every number, +inf included
        "id long, title string, price double, op_ts double", "id",
        [(1, "b1", 0.0), (2, "b2", 0.0), (3, "b3", 0.0), (4, "b4", 0.0)],
        [(1, "num", 1.0, 2.0), (1, "nan", 2.0, float("nan")), (2, "null", 0.0, None),
         (2, "nan2", 1.0, float("nan")), (3, "inf", 1.0, float("inf")),
         (3, "nan3", 2.0, float("nan")), (4, "x", 1.0, 1.5), (4, "y", 2.0, None)],
        [(1, "nan", 2.0), (2, "nan2", 1.0), (3, "nan3", 2.0), (4, "x", 1.0)],
    ),
    "no_op_ts": (
        "id long, title string, price double", "id",
        [(1, "b1", 0.0), (2, "b2", 0.0)],
        [(1, "x", 1.0), (1, "y", 2.0), (1, "z", 3.0), (5, "ins", 5.0)],
        [(1, "z", 3.0), (2, "b2", 0.0), (5, "ins", 5.0)],
    ),
    "string_keys": (
        "sku string, title string, price double", "sku",
        [("a", "ta", 1.0), ("b", "tb", 2.0), (None, "nb", 0.0)],
        [("a", "ta2", 1.5), (None, "n1", 0.0), (None, "n2", 1.0), ("c", "tc", 3.0)],
        [("a", "ta2", 1.5), ("b", "tb", 2.0), ("c", "tc", 3.0), (None, "n2", 1.0),
         (None, "nb", 0.0)],
    ),
    "array_float": (
        "id long, title string, emb array<float>", "id",
        [(1, "t1", [0.0, 0.0]), (2, "t2", [1.0, 1.0])],
        [(1, "u", [0.5, 0.25]), (1, "v", [0.75, 1.5]), (3, "w", [2.0, 3.0])],
        [(1, "v", [0.75, 1.5]), (2, "t2", [1.0, 1.0]), (3, "w", [2.0, 3.0])],
    ),
    "map_columns": (  # xxhash64 refuses maps: _h hashes their JSON text
        "id long, tags map<string,int>, nested array<map<string,int>>, op_ts long", "id",
        [(1, {"a": 1}, []), (2, None, [{"b": 2}])],
        [(1, {"k": 1}, [{"a": 1}], 3), (1, {"k": 2}, [{"a": 2}], 3), (2, None, None, 1)],
        [(1, {"k": 2}, [{"a": 2}]), (2, None, None)],
    ),
}


@pytest.mark.parametrize("case", list(WINDOW_CASES))
def test_window_path_matches_driver_path(spark, case):
    """A batch above SMALL_BATCH_MAX dedups with a window and writes with a
    bucket shuffle; it leaves the same table as the driver-side path: each
    key's row with the highest op_ts (NULL lowest), ties to the lowest
    whole-row hash, and one row for all NULL keys of the batch."""
    ddl, key, base, rows, expected = WINDOW_CASES[case]
    batch = spark.createDataFrame(rows, ddl)
    # the base rows hold the batch's first three columns
    base = _base(spark, 10) if base is None else spark.createDataFrame(
        base, ", ".join(ddl.split(", ")[:3])
    )
    with tempfile.TemporaryDirectory() as d:
        tables = []
        for name, cap in (("driver", UpsertTable.SMALL_BATCH_MAX), ("window", 2)):
            t = UpsertTable(spark, os.path.join(d, name), key_col=key, n_buckets=4)
            t.SMALL_BATCH_MAX = cap
            t.init(base)
            t.upsert(batch)
            tables.append(sorted(map(tuple, t.read().collect()), key=repr))
        assert tables[0] == tables[1] == sorted(expected, key=repr)


def test_prepare_runs_one_job(spark):
    """prepare() of a driver-sized batch is one Spark job: the bounded
    Arrow read, with the dedup on the driver."""
    batch = _rows(spark, [(i % 17, f"t{i}", float(i)) for i in range(20)])
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=4)
        sc = spark.sparkContext
        sc.setJobGroup("upsert-prepare-jobs", "upsert-prepare-jobs")
        try:
            prepared = t.prepare(batch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup("upsert-prepare-jobs")) == 1
        assert prepared["small"][1] == 17


def test_commit_log_write_is_atomic(spark, monkeypatch):
    """A crash while writing a commit-log entry leaves no truncated
    ``_commits/<k>.json`` behind: history() and vacuum() still parse
    every entry."""
    import json

    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=2)
        t.init(_base(spark, 4))
        k = t.history()[-1] + 1
        real_dump, calls = json.dump, []

        def torn_dump(obj, f):  # the second dump of a commit is its log entry
            calls.append(obj)
            if len(calls) == 2:
                f.write('{"0": [')
                raise OSError("disk full")
            real_dump(obj, f)

        monkeypatch.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            t.upsert(_rows(spark, [(0, "x", 1.0)]))
        monkeypatch.undo()
        cdir = os.path.join(d, "t", "_commits")
        assert f"{k}.json" not in os.listdir(cdir)
        assert sorted(os.listdir(cdir)) == ["0.json"]
        t.vacuum()
        assert t.history() == [0]


def test_upsert_schema_evolution(spark):
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=4)
        t.init(_base(spark))
        updates = spark.createDataFrame(
            [(0, "evolved", 5.0, 1, "en")],
            ["id", "title", "price", "op_ts", "lang"],  # NEW column: lang
        )
        t.upsert(updates, evolve_schema=True)
        out = t.read()
        assert "lang" in out.columns
        assert out.filter(F.col("id") == 0).collect()[0].lang == "en"
        # pre-evolution rows (touched and untouched buckets) read as null
        assert out.filter(F.col("lang").isNull()).count() == 99
        assert out.count() == 100
        # compact folds everything to one schema-uniform version
        t.compact()
        out2 = t.read()
        assert out2.count() == 100 and "lang" in out2.columns


def test_concurrent_writer_fails_loudly(spark):
    """Two writers on one table: the second fails with
    ConcurrentWriteError and the table stays uncorrupted."""
    import json as _json

    import pytest as _pytest

    from external_benchmarks_spark.streaming.upsert import (
        LOCKFILE,
        ConcurrentWriteError,
    )

    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "t")
        t1 = UpsertTable(spark, root, key_col="id", n_buckets=4)
        t1.init(_base(spark))
        t2 = UpsertTable(spark, root, key_col="id", n_buckets=4)
        updates = spark.createDataFrame(
            [(0, "w2", 1.0, 1)], ["id", "title", "price", "op_ts"]
        )
        with t1._writer_lease("upsert"):  # writer 1 mid-flight
            with _pytest.raises(ConcurrentWriteError, match="refusing concurrent"):
                t2.upsert(updates)
        # lease released -> writer 2 proceeds; no corruption either way
        t2.upsert(updates)
        out = t2.read()
        assert out.count() == 100
        assert out.filter(F.col("id") == 0).collect()[0].title == "w2"
        assert not os.path.exists(os.path.join(root, LOCKFILE))


def test_stale_lease_is_broken(spark):
    """A crashed writer's orphaned lease (older than the TTL) is broken
    and the new writer proceeds."""
    import json as _json
    import time as _time

    from external_benchmarks_spark.streaming.upsert import LOCKFILE

    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "t")
        t = UpsertTable(spark, root, key_col="id", n_buckets=4, lease_ttl_s=5.0)
        t.init(_base(spark))
        with open(os.path.join(root, LOCKFILE), "w") as f:
            _json.dump({"token": "dead", "pid": -1, "op": "upsert",
                        "ts": _time.time() - 60.0}, f)
        t.upsert(
            spark.createDataFrame([(0, "alive", 2.0, 1)],
                                  ["id", "title", "price", "op_ts"])
        )
        assert t.read().filter(F.col("id") == 0).collect()[0].title == "alive"
        assert not os.path.exists(os.path.join(root, LOCKFILE))


def test_compact_vacuum_reentrant_lease(spark):
    """compact() -> vacuum() nests the lease without deadlock or error."""
    with tempfile.TemporaryDirectory() as d:
        t = UpsertTable(spark, os.path.join(d, "t"), key_col="id", n_buckets=2)
        t.init(_base(spark, 20))
        t.upsert(spark.createDataFrame([(0, "u", 9.0, 1)],
                                       ["id", "title", "price", "op_ts"]))
        t.compact()
        assert t.read().count() == 20


def test_prepare_then_upsert_prepared_equals_plain_upsert(spark):
    """The double-buffered-writer seam: prepare() runs the batch-side
    work without the lease; upsert_prepared(prepare(u)) must produce
    the identical table as upsert(u) — including last-writer-wins and
    the brand-new-key path — and preparing the NEXT batch while the
    current one commits (the pipelined shape serving_write_tier runs)
    must serialize correctly."""
    from concurrent.futures import ThreadPoolExecutor

    with tempfile.TemporaryDirectory() as d:
        a = UpsertTable(spark, os.path.join(d, "a"), key_col="id", n_buckets=4)
        b = UpsertTable(spark, os.path.join(d, "b"), key_col="id", n_buckets=4)
        a.init(_base(spark))
        b.init(_base(spark))

        def batch(j):
            return spark.createDataFrame(
                [(i, f"b{j} upd {i}", float(j), j) for i in range(j, j + 8)]
                + [(200 + j, f"b{j} new", 1.0, j)],
                ["id", "title", "price", "op_ts"],
            )

        # plain path
        for j in range(3):
            a.upsert(batch(j))
        # pipelined path: prepare j+1 while j commits
        with ThreadPoolExecutor(max_workers=1) as pool:
            nxt = pool.submit(b.prepare, batch(0))
            for j in range(3):
                prep = nxt.result()
                if j + 1 < 3:
                    nxt = pool.submit(b.prepare, batch(j + 1))
                b.upsert_prepared(prep)

        rows_a = sorted(tuple(r) for r in a.read().drop("v").collect())
        rows_b = sorted(tuple(r) for r in b.read().drop("v").collect())
        assert rows_a == rows_b
        assert len(rows_a) == 103  # 100 base + 3 new keys
