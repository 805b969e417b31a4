"""Micro-batch upsert path — the reference's mixed read/write workload
(README.md:69-70: 20/200 QPS single-object upserts incl. re-embedding,
2 s p95 writes with concurrent reads).

Spark shape: updates arrive as a stream (rate/file/kafka source),
``foreachBatch`` applies a keyed MERGE into the table, and changed text
re-embeds inside the batch via the same Arrow UDF as the batch
pipeline. Without a Delta dependency the MERGE is **merge-on-read**
(the Delta Lake shape, Armbrust et al., VLDB 2020): rows are
hash-bucketed by key, a commit writes ONLY its deduplicated batch as a
new version directory of the buckets it touches, and a tiny manifest
mapping bucket → [base, delta, …] versions is swapped atomically
(write-temp + rename). Bytes written scale with the batch, not the table.
A driver-sized batch stays one Arrow table from the read through the
dedup to the commit's JVM-local scan (``prepare``); a larger one dedups
with a window. Both keep each key's winner by the one rule of
``_winner_order``.

A snapshot read scans every listed version and keeps a row iff its key
IS NULL or its ``v`` is the highest among that key's rows (``_resolve``).
Version directories are immutable and only the manifest swap publishes
them, so readers see a consistent snapshot. ``compact()`` folds the
deltas back to one version per bucket, off the write path: it bounds
read cost, and it is the retention point, because a delta supersedes
nothing and ``vacuum()`` only frees what a compaction replaced. On a
Delta/Iceberg deployment ``upsert_batch`` collapses to a single
``MERGE INTO``; the API and semantics here are identical, single-writer
— ENFORCED by an exclusive writer lease (``_lock``, O_CREAT|O_EXCL with
a TTL for crashed writers): a concurrent writer raises
ConcurrentWriteError loudly rather than interleaving manifest swaps.

Layout:  <root>/v=<j>/bucket=<i>/*.parquet  +  <root>/_manifest.json
         +  <root>/_commits/<k>.json (the manifest of each commit)
"""

from __future__ import annotations

import contextlib
import glob
import json
import logging
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 16
MANIFEST = "_manifest.json"
LOCKFILE = "_lock"

log = logging.getLogger(__name__)


class ConcurrentWriteError(RuntimeError):
    """Another writer holds this table's lease — the single-writer
    contract would be violated. Loud by design: the caller must retry,
    route through one writer, or investigate the stale holder."""


def _bucket(col, n: int):
    return F.pmod(F.hash(col), F.lit(n))


def _load_manifest(path: str) -> dict[str, list[int]]:
    """bucket -> [base version, delta versions ascending]. Manifests
    written before merge-on-read map bucket -> one version."""
    with open(path) as f:
        return {
            b: [int(x) for x in (v if isinstance(v, list) else [v])]
            for b, v in json.load(f).items()
        }


def _write_json(path: str, obj) -> None:
    """Write-temp + rename: a crash never leaves ``path`` truncated."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def _next_version(manifest: dict[str, list[int]]) -> int:
    return max((v for vs in manifest.values() for v in vs), default=-1) + 1


def _winner_order(columns: list[str]) -> list[tuple[str, str]]:
    """Last-writer-wins within a batch, as (column, order) sort keys: a
    key's first row wins. The highest ``op_ts`` first, a NULL ``op_ts``
    below every value and a NaN one above every number, as Spark orders
    them; ties, and batches without ``op_ts``, go to the lowest
    whole-row hash ``_h``, so every run picks the same row."""
    ts = [("op_ts", "descending")] if "op_ts" in columns else []
    return [*ts, ("_h", "ascending")]


class UpsertTable:
    """Hash-bucketed, merge-on-read parquet table with keyed MERGE: a
    commit writes its batch, reads resolve base ∪ deltas, and
    ``compact()`` bounds read cost (module docstring)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str,
        n_buckets: int = DEFAULT_BUCKETS,
        lease_ttl_s: float = 300.0,
    ):
        self.spark = spark
        self.root = root
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.lease_ttl_s = lease_ttl_s
        # Lazily-learned schema of the version files (with their bucket
        # and v directory columns); lets steady-state commits and reads
        # skip the footer-inference job.
        self._base_schema = None
        self._lease_token: str | None = None

    # -- writer lease ------------------------------------------------------
    @contextlib.contextmanager
    def _writer_lease(self, op: str):
        """Exclusive writer lease via O_CREAT|O_EXCL on <root>/_lock.

        Every mutating op (init/upsert/compact/vacuum) runs inside the
        lease; a second writer fails LOUDLY with ConcurrentWriteError
        instead of silently interleaving manifest swaps (the corruption
        mode the single-writer contract forbids). A lease older than
        ``lease_ttl_s`` is presumed orphaned (crashed writer) and is
        broken — mutating ops are idempotent-at-rest (version dirs are
        only referenced once the manifest swap lands), so breaking a
        dead writer's lease never exposes partial state. Reentrant
        within one instance (compact -> vacuum). On shared/object
        storage without O_EXCL semantics, point ``root`` at a posix
        scratch or replace this with the store's conditional-put."""
        if self._lease_token is not None:  # reentrant (compact->vacuum)
            yield
            return
        os.makedirs(self.root, exist_ok=True)
        path = os.path.join(self.root, LOCKFILE)
        token = uuid.uuid4().hex
        payload = json.dumps(
            {"token": token, "pid": os.getpid(), "op": op, "ts": time.time()}
        ).encode()
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, payload)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    with open(path) as f:
                        holder = json.load(f)
                except (OSError, ValueError):
                    holder = {}
                age = time.time() - float(holder.get("ts", 0))
                if age > self.lease_ttl_s:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(path)  # break the orphaned lease, retry
                    continue
                raise ConcurrentWriteError(
                    f"writer lease on {self.root} held by "
                    f"pid={holder.get('pid')} op={holder.get('op')} "
                    f"(age {age:.1f}s < ttl {self.lease_ttl_s}s); "
                    f"refusing concurrent {op}"
                ) from None
        self._lease_token = token
        try:
            yield
        finally:
            self._lease_token = None
            try:
                with open(path) as f:
                    cur = json.load(f)
                if cur.get("token") == token:  # release only our own lease
                    os.unlink(path)
            except (OSError, ValueError):
                pass

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def _read_manifest(self) -> dict[str, list[int]]:
        return _load_manifest(self._manifest_path())

    def _write_manifest(self, m: dict[str, list[int]]) -> None:
        _write_json(self._manifest_path(), m)  # atomic swap
        # Commit log for time travel: each write also snapshots the
        # manifest under _commits/<k>.json (Delta-transaction-log analog;
        # a JSON map per commit, never rewritten).
        cdir = os.path.join(self.root, "_commits")
        os.makedirs(cdir, exist_ok=True)
        k = max(self.history(), default=-1) + 1  # monotonic even after vacuum
        _write_json(os.path.join(cdir, f"{k}.json"), m)

    def _commit_manifest(self, commit: int) -> dict[str, list[int]]:
        path = os.path.join(self.root, "_commits", f"{commit}.json")
        if not os.path.exists(path):
            raise ValueError(
                f"commit {commit} not found (vacuumed or never written)"
            )
        return _load_manifest(path)

    def history(self) -> list[int]:
        """Commit ids still readable (ascending)."""
        cdir = os.path.join(self.root, "_commits")
        if not os.path.isdir(cdir):
            return []
        return sorted(
            int(e[: -len(".json")]) for e in os.listdir(cdir) if e.endswith(".json")
        )

    def _bucket_paths(self, manifest: dict[str, list[int]]) -> list[str]:
        return [
            os.path.join(self.root, f"v={v}", f"bucket={b}")
            for b, vs in manifest.items()
            for v in vs
        ]

    def _resolve(self, manifest: dict[str, list[int]], cached_schema: bool) -> DataFrame:
        """The snapshot ``manifest`` names, with its ``bucket`` and ``v``
        directory columns: a row is kept iff its key IS NULL or its ``v``
        is its key's highest. ``cached_schema`` reads with the schema this
        instance learned (no footer-inference job; files lacking evolved
        columns read them as null); otherwise mergeSchema fills the
        columns older versions lack with nulls (footer-only cost)."""
        paths = self._bucket_paths(manifest)
        if not paths:
            raise ValueError(f"empty table at {self.root}")
        if cached_schema and self._base_schema is not None:
            reader = self.spark.read.schema(self._base_schema)
        else:
            reader = self.spark.read.option("mergeSchema", "true")
        scan = reader.option("basePath", self.root).parquet(*paths)
        if all(len(vs) == 1 for vs in manifest.values()):
            return scan
        from pyspark.sql.window import Window

        key = F.col(self.key_col)
        latest = F.max("v").over(Window.partitionBy(key))
        return (
            scan.withColumn("_latest", latest)
            .filter(key.isNull() | (F.col("v") == F.col("_latest")))
            .drop("_latest")
        )

    def _write_version(
        self, df: DataFrame, version: int, manifest: dict, shuffle: bool = True
    ) -> dict:
        """Write ``df`` (carrying its ``bucket`` column) as version
        directory ``v=<version>``, list that version last for every bucket
        it wrote and swap ``manifest`` in; returns the commit's log record.
        ``shuffle`` repartitions by bucket first, which keeps a version at
        ONE file per bucket: without it every input partition writes a
        file into every bucket it holds and scans fragment (measured:
        95-file versions and 2x slower commits). A driver-sized batch
        comes as one partition instead: one file per bucket, one job."""
        vdir = os.path.join(self.root, f"v={version}")
        if shuffle:
            df = df.repartition(F.col("bucket"))
        df.write.mode("overwrite").partitionBy("bucket").parquet(vdir)
        files = glob.glob(os.path.join(glob.escape(vdir), "bucket=*", "*.parquet"))
        buckets = sorted(
            {os.path.basename(os.path.dirname(p)).split("=", 1)[1] for p in files},
            key=int,
        )
        for b in buckets:
            manifest.setdefault(b, []).append(version)
        self._write_manifest(manifest)
        return {
            "version": version,
            "rows": sum(pq.read_metadata(p).num_rows for p in files),
            "buckets": buckets,
            "bytes": sum(map(os.path.getsize, files)),
            "deltas_pending": {
                b: len(vs) - 1 for b, vs in manifest.items() if len(vs) > 1
            },
        }

    # -- table API ---------------------------------------------------------
    def init(self, df: DataFrame) -> None:
        with self._writer_lease("init"):
            self._write_version(
                df.withColumn("bucket", _bucket(F.col(self.key_col), self.n_buckets)),
                0,
                {},
            )

    def read(self, at_commit: int | None = None) -> DataFrame:
        """Snapshot read: resolve the manifest once; the returned frame is
        pinned to those version directories. ``at_commit`` time-travels to
        an earlier commit (valid until a compaction's vacuum drops its
        versions)."""
        manifest = (
            self._read_manifest()
            if at_commit is None
            else self._commit_manifest(at_commit)
        )
        return self._resolve(manifest, at_commit is None).drop("v", "bucket")

    # Micro-batches up to this size are read and deduplicated on the
    # driver in ONE job; larger batches take the distributed window form,
    # the only form for a batch the driver cannot hold. 10k rows of keyed
    # updates is far above the reference's 100-row batches and still
    # trivially driver-sized.
    SMALL_BATCH_MAX = 10_000

    def _probe(self, updates: DataFrame) -> DataFrame:
        """``updates`` with its ``bucket`` and its whole-row hash ``_h``,
        the winner rule's tie-break (:func:`_winner_order`). xxhash64
        refuses MAP values, so a column holding one is hashed as its JSON
        text."""
        row = [
            F.to_json(f.name) if "map<" in f.dataType.simpleString() else F.col(f.name)
            for f in updates.schema
        ]
        return updates.withColumn(
            "bucket", _bucket(F.col(self.key_col), self.n_buckets)
        ).withColumn("_h", F.xxhash64(*row))

    def upsert(self, updates: DataFrame, evolve_schema: bool = False) -> None:
        self.upsert_prepared(self.prepare(updates, evolve_schema))

    def prepare(self, updates: DataFrame, evolve_schema: bool = False) -> dict:
        """Run the batch-side work of a MERGE — evaluating ``updates``
        (any embedding/scoring UDFs in its lineage) and the driver-side
        dedup — WITHOUT the writer lease and without touching the table.
        The returned payload feeds :meth:`upsert_prepared`.

        One job reads at most ``SMALL_BATCH_MAX + 1`` rows of the batch,
        with their ``bucket`` and ``_h``, as one Arrow table. If the
        batch fits, one stable sort by :func:`_winner_order` and the
        first row per key (NULL keys form one group) leave its winners,
        handed to the commit as a JVM-local scan
        (``createDataFrame`` of the table): the write job runs no Python
        worker for the batch. A larger batch is left to the commit's
        window form.

        This is the double-buffered-writer seam: at a paced write tier
        (reference README.md:69-70) re-embedding is per-update work
        done as updates ARRIVE during the interval, so a pipelined
        deployment prepares batch j+1 while batch j's MERGE commits —
        only the commit belongs in the batch critical path. prepare()
        reads nothing from the table, so preparing ahead cannot
        observe — or race — the concurrent MERGE."""
        probe = self._probe(updates)
        tbl = probe.limit(self.SMALL_BATCH_MAX + 1).toArrow()
        small = None
        if len(tbl) <= self.SMALL_BATCH_MAX:
            keys = _winner_order(updates.columns)
            if "op_ts" in updates.columns and pa.types.is_floating(tbl["op_ts"].type):
                # Spark orders NaN above every number, Arrow's sort below
                tbl = tbl.append_column("_nan", pc.is_nan(tbl["op_ts"]))
                keys.insert(0, ("_nan", "descending"))
            order = pc.sort_indices(tbl, sort_keys=keys, null_placement="at_end")
            tbl = tbl.take(order).append_column("_i", pa.array(range(len(tbl)), pa.int64()))
            first = tbl.group_by(self.key_col, use_threads=False).aggregate([("_i", "min")])
            schema = probe.drop("_h").schema
            tbl = tbl.take(first["_i_min"]).select(schema.names)
            upd = self.spark.createDataFrame(tbl, schema=schema)
            small = (upd, len(tbl))
        return {"small": small, "updates": updates, "evolve": evolve_schema}

    def upsert_prepared(self, prepared: dict) -> None:
        """Commit a :meth:`prepare`d batch under the writer lease."""
        with self._writer_lease("upsert"):
            self._upsert_impl(
                prepared["updates"], prepared["evolve"], prepared["small"]
            )

    def _upsert_impl(
        self, updates: DataFrame, evolve_schema: bool, small
    ) -> None:
        """MERGE semantics: each batch row replaces every older row of its
        key; last-writer-wins within a batch by highest ``op_ts`` if
        present. NULL-keyed rows are inserted and replace nothing.

        The commit writes the deduplicated batch as a new delta version and
        swaps the manifest; it reads no base bucket. The batch is projected
        onto the table's columns with a ``cast`` to each column's type, so
        under ANSI mode (Spark's default) a value the column cannot hold
        fails the commit instead of widening some files only.
        ``evolve_schema=True`` is the Delta mergeSchema analog: new columns
        are kept (older rows read them as null), missing ones read as null
        for the batch's rows, and the next read merges footers.

        Write-latency shape (the reference's 2 s p95 target): a driver-
        sized batch (``small``, the deduplicated batch :meth:`prepare`
        read as one Arrow table; None when too large) is one bounded job
        in prepare() and ONE write job here. A larger batch dedups by the
        same :func:`_winner_order` in one window pass, one shuffle on the
        key."""
        if small is not None:
            upd, rows = small
            if not rows:
                return
        else:
            from pyspark.sql.window import Window

            w = Window.partitionBy(self.key_col).orderBy(*[
                F.col(c).desc_nulls_last() if how == "descending" else F.col(c).asc()
                for c, how in _winner_order(updates.columns)
            ])
            upd = (
                self._probe(updates)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_h")
            )
        manifest = self._read_manifest()
        if manifest:
            if self._base_schema is None:
                self._base_schema = self._resolve(manifest, cached_schema=False).schema
            types = {f.name: f.dataType for f in self._base_schema if f.name != "v"}
            # A batch already in the table's (name, type) order needs no
            # projection; skipping it saves its py4j round trips.
            if [(f.name, f.dataType) for f in upd.schema] != list(types.items()):
                cols = upd.columns if evolve_schema else list(types)
                upd = upd.select(*[F.col(c).cast(types[c]) if c in types else c for c in cols])
        rec = self._write_version(
            upd.coalesce(1) if small else upd, _next_version(manifest), manifest,
            shuffle=not small,
        )
        if evolve_schema:
            self._base_schema = None
        log.info("upsert commit %s", rec, extra={"commit": rec})

    def compact(self) -> None:
        """Fold every bucket's deltas into one fresh version (one file
        per bucket), then drop the superseded versions. The Delta
        OPTIMIZE analog and the retention point: commits that read the
        dropped versions become unreadable. Single-writer (enforced by
        the writer lease)."""
        with self._writer_lease("compact"):
            self._compact_impl()

    def _compact_impl(self) -> None:
        manifest = self._read_manifest()
        current = self._resolve(manifest, cached_schema=False)
        rec = self._write_version(current.drop("v"), _next_version(manifest), {})
        self._base_schema = current.schema
        log.info("compact commit %s", rec, extra={"commit": rec})
        self.vacuum()

    def vacuum(self) -> None:
        """Drop version directories no longer referenced by the manifest
        (lease-guarded; call when no readers hold older snapshots).
        Commits whose versions are dropped become unreadable — their log
        entries are removed too (Delta VACUUM retention analog). Deltas
        supersede nothing, so only a compaction leaves anything to drop."""
        with self._writer_lease("vacuum"):
            self._vacuum_impl()

    def _vacuum_impl(self) -> None:
        current = self._read_manifest()
        live = set(self._bucket_paths(current))
        for entry in os.listdir(self.root):
            if not entry.startswith("v="):
                continue
            vdir = os.path.join(self.root, entry)
            for bdir in os.listdir(vdir):
                p = os.path.join(vdir, bdir)
                if bdir.startswith("bucket=") and p not in live:
                    shutil.rmtree(p, ignore_errors=True)
            if not any(e.startswith("bucket=") for e in os.listdir(vdir)):
                shutil.rmtree(vdir, ignore_errors=True)
        # prune commit-log entries that reference vacuumed bucket versions
        for k in self.history():
            m = self._commit_manifest(k)
            if not set(self._bucket_paths(m)) <= live and m != current:
                os.remove(os.path.join(self.root, "_commits", f"{k}.json"))


def upsert_batch(table: UpsertTable, batch_df: DataFrame, batch_id: int) -> None:
    """foreachBatch sink body: stream.writeStream.foreachBatch(
    lambda df, i: upsert_batch(table, df, i))."""
    table.upsert(batch_df)


def run_upsert_stream(
    table: UpsertTable,
    updates_stream: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: int = 1,
):
    """Wire a streaming updates source into the upsert table. Returns the
    StreamingQuery (caller awaits/stops). Micro-batch latency == write p95
    analog in BASELINE.md."""
    return (
        updates_stream.writeStream.foreachBatch(
            lambda df, i: upsert_batch(table, df, i)
        )
        .option("checkpointLocation", os.path.join(checkpoint_dir, "upsert"))
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
