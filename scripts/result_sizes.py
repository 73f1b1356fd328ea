#!/usr/bin/env python
"""One-off: rows × columns returned by every registered query at
$SPARK_GRAFT_SF_DIR — evidence for choosing which bench queries sink
to the executor-side checksum instead of a driver collect()."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rialto_airflow_spark.plans.queries import REGISTRY, queries  # noqa: E402
from rialto_airflow_spark.session import get_spark  # noqa: E402
from bench import query_kwargs  # noqa: E402

queries()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("rialto-result-sizes")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in sorted(REGISTRY):
        fn = REGISTRY[name].fn
        kwargs = query_kwargs(fn)
        try:
            df = fn(spark, sf_dir, **kwargs)
            ncols = len(df.columns)
            nrows = df.count()
            out[name] = {"rows": nrows, "cols": ncols, "cells": nrows * ncols}
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        print(name, out[name], flush=True)
    with open("/tmp/result_sizes.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
