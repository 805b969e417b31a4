#!/usr/bin/env python
"""Physical z-order file-skipping measurement (round 8): write the
orders table at $SPARK_GRAFT_SF_DIR (default sf0.1) twice — once
range-partitioned + sorted by the Morton z-value of
(o_custkey, days(o_orderdate)), once by o_custkey alone — then for the
three characteristic rectangle queries count the parquet FILES whose
footer min/max stats intersect the predicate (exactly what a pruning
reader must read; verified against the real footers via pyarrow), and
time the actual Spark filtered scans on both layouts.

Usage: python tools/zorder_skip.py
Prints one JSON line; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import timed  # noqa: E402
from external_benchmarks_spark.catalog import Catalog  # noqa: E402
from external_benchmarks_spark.operators.zorder import (  # noqa: E402
    DEFAULT_RECTS,
    with_zvalue,
)
from external_benchmarks_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/tmp/zorder_layouts"
BITS = 8
N_FILES = int(os.environ.get("ZORDER_N_FILES", "64"))
YEXPR = "datediff(o_orderdate, DATE'1992-01-01')"


def write_layouts(spark):
    orders = Catalog(spark, SF_DIR).orders
    z = with_zvalue(orders, "o_custkey", YEXPR, bits=BITS).withColumn(
        "_ydays", F.expr(YEXPR)
    )
    shutil.rmtree(OUT, ignore_errors=True)
    (
        z.repartitionByRange(N_FILES, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(f"{OUT}/zorder")
    )
    (
        z.repartitionByRange(N_FILES, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(f"{OUT}/linear")
    )


def footer_stats(path):
    """Per-file (min, max) of the two dims straight from the parquet
    footers — the stats any pruning reader consults."""
    out = []
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fn)).metadata
        xmn = xmx = ymn = ymx = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if st is None:
                    continue
                if name == "o_custkey":
                    xmn = st.min if xmn is None else min(xmn, st.min)
                    xmx = st.max if xmx is None else max(xmx, st.max)
                elif name == "_ydays":
                    ymn = st.min if ymn is None else min(ymn, st.min)
                    ymx = st.max if ymx is None else max(ymx, st.max)
        out.append((fn, xmn, xmx, ymn, ymx))
    return out


def rect_bounds(spark):
    orders = Catalog(spark, SF_DIR).orders
    b = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.expr(f"min({YEXPR})"), F.expr(f"max({YEXPR})"),
    ).collect()[0]
    xmn, xmx, ymn, ymx = (int(v) for v in b)
    rects = {}
    for name, (a, bb, c, d) in DEFAULT_RECTS:
        rects[name] = (
            xmn + (xmx - xmn) * a // 8, xmn + (xmx - xmn) * bb // 8,
            ymn + (ymx - ymn) * c // 8, ymn + (ymx - ymn) * d // 8,
        )
    return rects


def main():
    spark = get_spark("zorder-skip")
    _, build_s = timed(lambda: write_layouts(spark))
    build_s = round(build_s, 2)
    rects = rect_bounds(spark)
    res = {"sf_dir": SF_DIR, "bits": BITS, "n_files": N_FILES,
           "layout_build_s": build_s, "rects": {}}
    for name, (xlo, xhi, ylo, yhi) in rects.items():
        entry = {}
        for layout in ("zorder", "linear"):
            stats = footer_stats(f"{OUT}/{layout}")
            touched = sum(
                1 for _f, xmn, xmx, ymn, ymx in stats
                if xmn is not None and xmn <= xhi and xmx >= xlo
                and ymn <= yhi and ymx >= ylo
            )
            pred = (
                (F.col("o_custkey").between(xlo, xhi))
                & (F.col("_ydays").between(ylo, yhi))
            )
            runs = [
                timed(
                    lambda: spark.read.parquet(f"{OUT}/{layout}")
                    .filter(pred)
                    .agg(F.count(F.lit(1)))
                    .collect()[0][0]
                )
                for _ in range(3)
            ]
            n = runs[-1][0]
            reps = sorted(dt for _, dt in runs)
            entry[layout] = {
                "files_touched": touched,
                "files_total": len(stats),
                "rows": int(n),
                "scan_s_median": round(reps[1], 3),
            }
        res["rects"][name] = entry
        print(f"# {name}: {entry}", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
