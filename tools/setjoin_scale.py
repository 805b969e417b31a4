#!/usr/bin/env python
"""Full-corpus scale measurement for the prefix-filtered exact
similarity join (operators/setjoin.py) — the registry entry prices the
md5-sampled 300-doc form (oracle-bounded); THIS tool prices the real
thing: the whole documents table at each sf, reporting

    n_docs, potential pairs n(n-1)/2, candidates after prefix+length
    pruning, verified result pairs, and wall time

so the claim "pruning makes exactness affordable" is a measured ratio,
not an assertion. Run per-round; quoted in SCALE.md.

Usage: python tools/setjoin_scale.py [--thresholds 600000,800000]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed  # noqa: E402
from external_benchmarks_spark.operators.setjoin import (  # noqa: E402
    allpairs_jaccard_join,
    prefix_candidates,
    shingle_docs,
)
from external_benchmarks_spark.session import get_spark  # noqa: E402

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


def main() -> None:
    thresholds = (600_000, 800_000)
    for arg in sys.argv[1:]:
        if arg.startswith("--thresholds"):
            thresholds = tuple(
                int(x) for x in arg.split("=", 1)[1].split(",")
            )
    spark = get_spark("setjoin-scale")
    spark.range(1).count()
    out: dict = {}
    for sf in SFS:
        label = os.path.basename(sf)
        df = spark.read.parquet(f"{sf}/documents.parquet")
        n = df.count()
        out[label] = {"n_docs": n, "potential_pairs": n * (n - 1) // 2}
        for t in thresholds:
            spark.catalog.clearCache()  # comparable runs across loops
            docs = shingle_docs(df).persist()
            _, t_sh = timed(docs.count)  # materialize the persisted shingles
            n_cand, t_cand = timed(lambda: prefix_candidates(docs, t).count())
            # a fresh call owns its shingles (a lazy local checkpoint),
            # so this prices shingles + candidates + verify
            n_pairs, t_join = timed(
                lambda: allpairs_jaccard_join(df, threshold_ppm=t).count()
            )
            docs.unpersist()
            out[label][f"t{t // 10000}"] = {
                "candidates": n_cand,
                "pairs": n_pairs,
                "shingle_build_s": round(t_sh, 3),
                "candidate_stage_s": round(t_cand, 3),
                "join_call_s": round(t_join, 3),
            }
            print(f"# {label} t={t}: {out[label][f't{t // 10000}']}",
                  file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
