"""Run the 20-cycle 1.0r maintenance soak and print the slope split.

r15 (verdict item #6): re-runs the r14 20-cycle soak AFTER the
semantic vector store joined the per-cycle compaction set, with the
new per-stage cycle split, and attributes the cycle-time slope by
fitting a least-squares line per stage — naming the slope's owner
(data growth vs file counts vs host) instead of eyeballing totals.

Usage: python tools/soak_1r.py [n_cycles] ; prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed  # noqa: E402
from external_benchmarks_spark.session import get_spark  # noqa: E402
from external_benchmarks_spark.pipeline.soak import run_soak  # noqa: E402
from tools.scale_ladder import build_replica  # noqa: E402


def fit_slope(ys: list[float]) -> float:
    """Least-squares slope per cycle."""
    n = len(ys)
    if n < 2:
        return 0.0
    xs = list(range(n))
    mx, my = sum(xs) / n, sum(ys) / n
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = sum((x - mx) ** 2 for x in xs)
    return num / den if den else 0.0


def main() -> None:
    n_cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("soak-1r")
    rep = build_replica(spark)
    out, wall = timed(
        lambda: run_soak(spark, rep, tag="r15_soak1r", n_cycles=n_cycles)
    )
    wall = round(wall, 1)

    cycles = out["cycles"]
    stage_names = sorted(
        {k for c in cycles for k in c.get("stages", {})}
    )
    # refresh runs every 3rd cycle — fit its slope on its own series so
    # the zero cycles don't fake a flat line; everything else per-cycle
    slopes = {}
    totals = {}
    for s in stage_names:
        ys = [c["stages"].get(s, 0.0) for c in cycles]
        if s == "centroid_refresh":
            ys = [y for y in ys if y > 0]
        slopes[s] = round(fit_slope(ys), 4)
        totals[s] = round(sum(ys), 2)
    secs = [c["seconds"] for c in cycles]
    report = {
        "n_cycles": n_cycles,
        "wall_s": wall,
        "build_s": out["build_s"],
        "cycle_s": [round(s, 2) for s in secs],
        "cycle_slope_s_per_cycle": round(fit_slope(secs), 4),
        "stage_slopes_s_per_cycle": slopes,
        "stage_totals_s": totals,
        "files_first": out["files_first"],
        "files_last": out["files_last"],
        "serving_parity_ok": out["serving_parity_ok"],
        "stages_by_cycle": [c["stages"] for c in cycles],
        "refresh_moved": [c["refresh_moved"] for c in cycles],
        "vector_cells_compacted": [
            c["vector_cells_compacted"] for c in cycles
        ],
        "pq_cells_compacted": [c["pq_cells_compacted"] for c in cycles],
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
