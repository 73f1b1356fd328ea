#!/usr/bin/env python
"""In-session interleaved A/B probe for env-toggled code paths.

    python scripts/probe_ab.py <query> <reps> VAR=a,b [VAR2=x,y ...]

Alternates the two env settings rep by rep inside ONE session, so box
noise (steal bursts) hits both arms alike; prints per-arm samples with
steal ticks and the per-arm min over low-steal samples (cutoff ticks
from $PROBE_AB_STEAL_MAX, default 100). Arm order alternates per rep
(ABBA) so within-rep warm-up drift cannot favor one arm.

REQUIREMENT on the toggle variable: the code path under test must
read the env var AT CALL TIME (inside the operator/query function),
not at import or session build — os.environ.update here happens after
the SparkSession exists, so a var consumed only by session.py
compares two identical arms. Add a call-time read (the
RIALTO_*-style knobs) before probing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rialto_airflow_spark.plans.queries import REGISTRY, queries  # noqa: E402
from rialto_airflow_spark.session import get_spark  # noqa: E402
from bench import query_kwargs, steal_ticks  # noqa: E402

queries()


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2])
    arms: list[dict[str, str]] = [{}, {}]
    for spec in sys.argv[3:]:
        var, vals = spec.split("=", 1)
        a, b = vals.split(",", 1)
        arms[0][var] = a
        arms[1][var] = b
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe-ab")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["q01_pricing_summary"].fn(spark, sf_dir).collect()

    fn = REGISTRY[name].fn
    kwargs = query_kwargs(fn)
    # low-steal cutoff is env-tunable (PROBE_AB_STEAL_MAX, ticks):
    # 100 suits this box's HZ/burst profile; a box where every sample
    # exceeds it would otherwise print nan for lowsteal_min
    steal_max = int(os.environ.get("PROBE_AB_STEAL_MAX", "100"))
    samples: list[list[tuple[float, int]]] = [[], []]
    for i in range(reps):
        # ABBA ordering: alternate which arm runs first each rep, so
        # warm-cache/JIT drift inside a rep cannot systematically
        # favor the second arm (round-12 ADVICE)
        order = (0, 1) if i % 2 == 0 else (1, 0)
        for arm in order:
            os.environ.update(arms[arm])
            s0, t0 = steal_ticks(), time.perf_counter()
            fn(spark, sf_dir, **kwargs).collect()
            dt, ds = time.perf_counter() - t0, steal_ticks() - s0
            samples[arm].append((dt, ds))
            print(f"rep {i} arm{arm} {arms[arm]}: {dt:.3f}s steal={ds}", flush=True)
    for arm in (0, 1):
        xs = samples[arm]
        lo = [d for d, s in xs if s <= steal_max]
        print(
            f"ARM{arm} {arms[arm]} min={min(d for d, _ in xs):.3f} "
            f"lowsteal_min={min(lo) if lo else float('nan'):.3f} "
            f"n_lowsteal={len(lo)} steal_max={steal_max}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
