#!/usr/bin/env python
"""Capture .explain("formatted") for every registered query into
plans/r12/<query>_<tag>.txt (tag = before/after, argv[1]).

Optional argv[2]: comma-separated query-name filter.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rialto_airflow_spark.plans.queries import REGISTRY, queries  # noqa: E402
from rialto_airflow_spark.session import get_spark  # noqa: E402

queries()


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("rialto-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    for name in sorted(REGISTRY):
        if only and name not in only:
            continue
        fn = REGISTRY[name].fn
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            text = f"ERROR: {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(text)
        print(f"{name}: {len(text)} bytes")
    spark.stop()


if __name__ == "__main__":
    main()
