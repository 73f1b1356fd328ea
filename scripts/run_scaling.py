#!/usr/bin/env python
"""Scaling curves for the headline queries: run each at several data
scales (sf0.01, sf0.1, and the x10-tiled sf1.0-equivalent produced by
scripts/make_scaled_data.py) and record best-of-n wall seconds per
query in SCALING.json — evidence that the plans scale linearly (or
better, where broadcast/pruning keep work sublinear) instead of
quadratically.

Usage: python scripts/run_scaling.py [out_json] [label=dir ...]
Default scales: sf0.01, sf0.1, sf1.0x10tile=/tmp/rspark_scaled_x10.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rialto_airflow_spark.plans.queries import REGISTRY, queries
from rialto_airflow_spark.session import get_spark

queries()

RUNS = int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "2"))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SCALING.json"
    scales = [s.split("=", 1) for s in sys.argv[2:]] or [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1.0(x10 tile)", "/tmp/rspark_scaled_x10"),
    ]
    spark = get_spark("rialto-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    headline = sorted(n for n, s in REGISTRY.items() if s.headline)

    result: dict[str, dict] = {
        "runs": RUNS,
        "headline": headline,
        # round-12 ADVICE: the first scale measured in a cold session
        # carried a JIT/codegen warm-up artifact that read as a phantom
        # regression across commits; the session is now warmed on the
        # FIRST scale's data before any timed pass, and this note
        # travels with the artifact so cross-commit tile comparisons
        # know the methodology
        "methodology_note": (
            "best-of-%d wall seconds per query per scale; session "
            "JIT/codegen warmed by one untimed pass of every headline "
            "query at the first scale before timing begins — compare "
            "tiles only against tiles carrying this note" % RUNS
        ),
        "scales": {},
    }
    warmed = False
    for label, d in scales:
        if not os.path.isdir(d):
            print(f"skip {label}: {d} missing", file=sys.stderr)
            continue
        if not warmed:
            # full-registry warm pass at the first available scale:
            # JIT + codegen + parquet footers, untimed
            for name in headline:
                REGISTRY[name].fn(spark, d).collect()
            warmed = True
        REGISTRY[headline[0]].fn(spark, d).collect()  # warm footers
        timings: dict[str, float] = {}
        for _ in range(RUNS):
            for name in headline:
                fn = REGISTRY[name].fn
                t0 = time.perf_counter()
                fn(spark, d).collect()
                dt = round(time.perf_counter() - t0, 3)
                if name not in timings or dt < timings[name]:
                    timings[name] = dt
        result["scales"][label] = {
            "dir": d,
            "queries": timings,
            "total": round(sum(timings.values()), 3),
        }
        print(label, json.dumps(timings))
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print("wrote", out_path)
    spark.stop()


if __name__ == "__main__":
    main()
