#!/usr/bin/env python
"""Fresh-session best-rep forensics for bench legs flagged across rounds.

Covers any registry leg (it replaced a probe limited to the r11/r12 PQ
four): one fresh SparkSession, Arrow-worker warmup, a
fixed-work pure-JVM host-control probe BEFORE and AFTER the legs (so a
stall window indicts itself), then per leg 1 cold + N warm reps.

Interpretation protocol (memory: bench-noise-protocol; SCALE.md r12):
the host wobbles up to 2.4x rep-to-rep on fixed work, and stalls are
one-sided — a leg's fastest warm rep, control-normalized, exposes the
true plan cost. If best-rep matches the clean-round baseline, the
committed elevation was host weather; if best-rep stays elevated with
clean controls, the leg has a real cost and needs a stage split.

Usage: python tools/leg_forensics.py leg [leg ...] [--sf DIR] [--reps N]
       -> one JSON line on stdout.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from external_benchmarks_spark.session import get_spark

import __spark_entry__ as entry_mod


def jvm_probe(spark, n: int = 5) -> dict:
    reps = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(500_000_000).selectExpr("sum(id)").collect()
        reps.append(time.perf_counter() - t0)
    reps.sort()
    return {
        "min": round(reps[0], 3),
        "median": round(reps[len(reps) // 2], 3),
        "max": round(reps[-1], 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("legs", nargs="+")
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    spark = get_spark("leg-forensics")
    spark.range(1).count()
    q = dict(entry_mod.queries())
    # bench-only legs (e.g. sorted_export, cms_heavy_hitters_mg) resolve
    # through the bench's own map so they can be forensic'd too (r16)
    if any(name not in q for name in args.legs):
        import bench as bench_mod

        q.update(bench_mod.headline_queries())
    q["l2_norm"](spark, args.sf).count()  # Arrow worker warmup

    out: dict = {"sf": args.sf, "host_control_before": jvm_probe(spark)}
    print(f"# host_control_before: {out['host_control_before']}", file=sys.stderr)
    legs: dict[str, dict] = {}
    for name in args.legs:
        reps = []
        for _ in range(args.reps + 1):
            t0 = time.perf_counter()
            q[name](spark, args.sf).count()
            reps.append(time.perf_counter() - t0)
        warm = sorted(reps[1:])
        legs[name] = {
            "cold": round(reps[0], 3),
            "best": round(warm[0], 3),
            "median": round(warm[len(warm) // 2], 3),
            "max": round(warm[-1], 3),
        }
        print(f"# {name}: {legs[name]}", file=sys.stderr)
    out["legs"] = legs
    out["host_control_after"] = jvm_probe(spark)
    print(f"# host_control_after: {out['host_control_after']}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
