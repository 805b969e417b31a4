"""Dataset registry: logical name -> parquet path -> DataFrame / temp view.

Mirrors the reference's dataset registry (a dict of scale-variant name to
parquet filename, reference scripts/generate_benchmark_reports.py:44-49)
but generalized: a catalog is rooted at a directory and every ``<name>``
resolves to ``<root>/<name>.parquet``.

At 100 TB the "file" would be a partitioned parquet/Delta directory; the
API is unchanged because ``spark.read.parquet`` takes either.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Tables the driver's testdata provides (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize_events(df: DataFrame) -> DataFrame:
    """Normalize events.ts across testdata vintages and expose integer
    companions: ``ts`` (microsecond timestamp), ``ts_us`` (exact long
    microseconds), ``ts_ns`` (exact long nanoseconds).

    The driver's parquet has shipped ``ts`` either as TIMESTAMP(NANOS)
    (read as ns-since-epoch long under nanosAsLong) or as plain
    TIMESTAMP(MICROS) (read as timestamp / timestamp_ntz); all vintages
    converge to the same three columns — ``ts`` always ends up TIMESTAMP
    (LTZ), which ``withWatermark`` requires — so every downstream operator
    is vintage-independent.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # Integer division (DIV), not float division: ts_ns ~ 1.7e18 exceeds
        # double's 53-bit mantissa, so `/ 1000` would misround microseconds.
        df = (
            df.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_us", F.expr("ts_ns DIV 1000"))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
    elif dt in ("timestamp", "timestamp_ntz"):
        if dt == "timestamp":
            ts_us = F.unix_micros(F.col("ts"))
        else:
            # NTZ wall-clock interpreted as UTC. A cast (implicit or via
            # to_utc_timestamp) would go through the SESSION timezone and
            # silently shift epochs on non-UTC sessions, diverging from the
            # ns-long vintage and the DuckDB oracle's epoch_us — so derive
            # the epoch arithmetically from wall-clock fields instead.
            ts_us = (
                F.unix_date(F.col("ts").cast("date")).cast("long") * F.lit(86400000000)
                + (F.hour("ts") * 3600 + F.minute("ts") * 60).cast("long") * F.lit(1000000)
                + F.expr("CAST(extract(second FROM ts) * 1000000 AS BIGINT)")
            )
        df = (
            df.withColumn("ts_us", ts_us)
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
    elif dt is not None:
        raise TypeError(
            f"events.ts has unsupported dtype {dt!r}; expected bigint (ns-long "
            "vintage), timestamp, or timestamp_ntz"
        )
    return df


class Catalog:
    """Logical-name -> DataFrame resolver over a directory of parquet tables."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._cache: dict[str, DataFrame] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            if name == "events":
                # events.ts is parquet TIMESTAMP(NANOS); Spark needs this
                # session conf to read it (as ns-long). Set here so the
                # engine works on ANY caller-provided session, not only
                # ones built by session.get_spark().
                self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = self.spark.read.parquet(self.path(name))
            if name == "events":
                df = _normalize_events(df)
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TESTDATA_TABLES:
            return self.table(name)
        if name == "partsupp":
            return self.partsupp_table()
        raise AttributeError(name)

    def partsupp_table(self) -> DataFrame:
        """True-schema ``partsupp`` fixture (the driver's testdata ships
        no partsupp.parquet): part p's suppliers follow dbgen's
        assignment formula (TPC-H spec 4.2.3 / reference dbgen
        ``PART_SUPP_BRIDGE``): suppkey_i = (p + i*(S/4 + (p-1)/S)) % S
        + 1 for i in 0..3, over the REAL part/supplier tables, with
        deterministic integer-arithmetic availqty (1..9999) and
        supplycost (1.00..1000.00, exact integer cents) in dbgen's
        ranges. DISTINCT guards the (partkey, suppkey) primary key at
        toy scales where the stride can wrap (sf0.001: S=10).

        Materialized ONCE per source version as parquet in the tempdir
        (keyed on part.parquet's size+mtime) and read back, so TPC-H
        Q2/Q11/Q16/Q20 scan a real partsupp table with its own files
        and column statistics. The DuckDB oracles regenerate the same
        rows via the identical-arithmetic CTE
        (__spark_entry__.PARTSUPP_CTE) — every operation is integer
        math, so the two engines agree bit-for-bit.
        """
        import re
        import tempfile

        from pyspark.sql import functions as F

        if "partsupp" in self._cache:
            return self._cache["partsupp"]
        st = os.stat(self.path("part"))
        tag = re.sub(r"[^A-Za-z0-9_.-]", "_", self.root.strip("/"))
        out = os.path.join(
            tempfile.gettempdir(),
            f"ebs_partsupp_{tag}_{int(st.st_mtime)}_{st.st_size}",
        )
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            s_cnt = self.table("supplier").count()
            s4 = s_cnt // 4
            pairs = (
                self.table("part")
                .select("p_partkey")
                .crossJoin(self.spark.range(4).select(F.col("id").alias("i")))
                .select(
                    F.col("p_partkey").alias("ps_partkey"),
                    (
                        (
                            F.col("p_partkey")
                            + F.col("i")
                            * (
                                F.lit(s4)
                                + F.expr(f"(p_partkey - 1) DIV {s_cnt}")
                            )
                        )
                        % F.lit(s_cnt)
                        + 1
                    ).alias("ps_suppkey"),
                )
                .distinct()
            )
            (
                pairs.select(
                    "ps_partkey",
                    "ps_suppkey",
                    (
                        (F.col("ps_partkey") * 47 + F.col("ps_suppkey") * 31)
                        % 9999
                        + 1
                    ).alias("ps_availqty"),
                    (
                        (
                            F.col("ps_partkey") * 7919
                            + F.col("ps_suppkey") * 4621
                        )
                        % 99901
                        + 100
                    ).alias("ps_supplycost_c"),
                )
                .withColumn(
                    "ps_supplycost",
                    F.col("ps_supplycost_c").cast("double") / 100.0,
                )
                .repartition(1)
                .sortWithinPartitions("ps_partkey", "ps_suppkey")
                .write.mode("overwrite")
                .parquet(out)
            )
        self._cache["partsupp"] = self.spark.read.parquet(out)
        return self._cache["partsupp"]

    def register_views(self, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register each table as a temp view so spark.sql() can see them."""
        for name in names:
            if name == "partsupp":
                self.partsupp_table().createOrReplaceTempView(name)
            elif os.path.exists(self.path(name)):
                self.table(name).createOrReplaceTempView(name)
