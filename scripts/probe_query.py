#!/usr/bin/env python
"""Isolated per-query probe with steal-time accounting.

Runs one registered query N times in a single session and prints each
run's wall seconds plus the host steal ticks consumed during the run —
on a noisy-steal box the steal column tells you which samples to trust.

    python scripts/probe_query.py q36_dedup_clusters [n_runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rialto_airflow_spark.plans.queries import REGISTRY, queries  # noqa: E402
from rialto_airflow_spark.session import get_spark  # noqa: E402
from bench import steal_ticks  # noqa: E402

queries()


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["q01_pricing_summary"].fn(spark, sf_dir).collect()  # warm

    fn = REGISTRY[name].fn
    best = None
    for i in range(n):
        s0, t0 = steal_ticks(), time.perf_counter()
        fn(spark, sf_dir).collect()
        dt, ds = time.perf_counter() - t0, steal_ticks() - s0
        best = dt if best is None else min(best, dt)
        print(f"run {i}: {dt:.3f}s steal={ds} ticks", flush=True)
    print(f"BEST {name} {best:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
