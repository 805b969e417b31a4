#!/usr/bin/env python
"""Candidate-generation knob measurement for embedding near-dup
(round-7 verdict item 7): at the sf1.0r rung, sweep the sub-block cap
(``max_block_rows``) and the secondary sign-LSH band width
(``subblock_bits``) of ``dedup.embedding_neardup_pairs`` and measure
pairs produced, recall vs the exact (uncapped) pair set, and the
candidate-stage wall time. The cap is drop-only, so
recall = capped_pairs / exact_pairs exactly.

Also re-measures the candidate stage at sf0.1 vs sf1.0r under the
chosen defaults — the ladder rung showing candidate-stage growth vs
pair growth.

Usage: python tools/neardup_knobs.py
Prints one JSON line; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_ladder import SRC, build_replica  # noqa: E402

from bench import timed  # noqa: E402

from external_benchmarks_spark.catalog import Catalog  # noqa: E402
from external_benchmarks_spark.operators.dedup import (  # noqa: E402
    embedding_neardup_pairs,
)
from external_benchmarks_spark.session import get_spark  # noqa: E402

THRESHOLD = 0.2  # the registry entries' setting — dense giant-clique regime
CAPS = (1000, 2000, 5000)
BITS = (2, 4, 6)
REPS = 2


def _pairs(spark, sf_dir, cap=None, bits=2):
    return embedding_neardup_pairs(
        Catalog(spark, sf_dir).embeddings,
        block_col="label",
        threshold=THRESHOLD,
        use_arrow_fast_path=True,
        max_block_rows=cap,
        subblock_bits=bits,
    )


def _time_count(spark, sf_dir, cap=None, bits=2):
    runs = [
        timed(lambda: _pairs(spark, sf_dir, cap, bits).count())
        for _ in range(REPS)
    ]
    return runs[-1][0], round(min(dt for _, dt in runs), 3)


def main() -> None:
    spark = get_spark("neardup-knobs")
    spark.range(1).count()
    rep = build_replica(spark)

    out: dict = {"threshold": THRESHOLD}
    n_exact, t_exact = _time_count(spark, rep)
    out["exact_sf1.0r"] = {"pairs": n_exact, "sec": t_exact}
    print(f"# exact @1.0r: {out['exact_sf1.0r']}", file=sys.stderr)

    grid = {}
    for cap in CAPS:
        for bits in BITS:
            n, t = _time_count(spark, rep, cap, bits)
            grid[f"cap{cap}_bits{bits}"] = {
                "pairs": n,
                "recall": round(n / n_exact, 4) if n_exact else None,
                "sec": t,
            }
            print(f"# cap={cap} bits={bits}: {grid[f'cap{cap}_bits{bits}']}",
                  file=sys.stderr)
    out["grid"] = grid

    # ladder rung under the chosen defaults (cap=2000, bits=2 unless the
    # table says otherwise — see SCALE.md)
    rung = {}
    for label, sf_dir in (("0.1", SRC), ("1.0r", rep)):
        ne, te = _time_count(spark, sf_dir)
        nc, tc = _time_count(spark, sf_dir, 2000, 2)
        rung[label] = {
            "exact_pairs": ne, "exact_sec": te,
            "capped_pairs": nc, "capped_sec": tc,
            "recall": round(nc / ne, 4) if ne else None,
        }
        print(f"# rung @{label}: {rung[label]}", file=sys.stderr)
    out["rung_cap2000_bits2"] = rung
    print(json.dumps(out))


if __name__ == "__main__":
    main()
