#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds one SparkSession on
``local[<nproc>]``, runs the workload's one fixed batch of work with
one closed-loop client (``--seconds`` is accepted and not used),
checks every output, and prints as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
README.md). The line before it is a human-readable summary that also
carries host steal ticks, the contamination flag and sample counts.

Everything the run writes goes under ``.bench_work/`` in the checkout
and is removed at exit, except the span dump and the result history in
``.bench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("registry", "weekly_pipeline")
# a run whose steal ticks exceed this share of its CPU ticks was
# measured inside a hypervisor burst: flagged, not hidden
STEAL_SHARE_LIMIT = 0.05


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM at
    ``work`` before the JVM starts, so the run writes nowhere else."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    cpus = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job and stage of the run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        # no hsperfdata file under /tmp: the JVM writes only in ``work``
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _start_spark():
    from rialto_airflow_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _history(path: str, workload: str) -> dict[str, list[float]]:
    """End-to-end values of earlier untraced runs of ``workload``."""
    out: dict[str, list[float]] = {}
    if not os.path.exists(path):
        return out
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec["workload"] == workload and not rec["trace"]:
                for k, v in rec["e2e"].items():
                    out.setdefault(k, []).append(v)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rialto_airflow_spark")):
        print(
            f"perfbench: no rialto_airflow_spark package next to {HERE}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    traces = os.path.join(ROOT, ".bench_traces")
    _environment(work)
    sys.path[:0] = [ROOT, HERE]

    import obs
    from metrics import E2E_UNITS, LAYER_UNITS

    if args.workload == "registry":
        import wl_registry as wl
    else:
        import wl_weekly as wl
    try:
        prep = wl.prepare(args, work)
        t0 = time.perf_counter()
        spark = _start_spark()
        session_s = time.perf_counter() - t0
        try:
            tracer = obs.Tracer(spark, run_id, enabled=bool(args.trace))
            pids = [os.getpid(), jvm_pid(spark)]
            res = wl.run(spark, tracer, args, work, pids, prep)
            res.e2e["setup_s"] += session_s
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ticks = res.steal_ticks
    cpu_ticks = max(1.0, res.timed_s * 100 * (os.cpu_count() or 1))
    contaminated = ticks / cpu_ticks > STEAL_SHARE_LIMIT
    os.makedirs(traces, exist_ok=True)
    hist_path = os.path.join(traces, "history.jsonl")
    info = dict(res.info, steal_ticks=ticks, contaminated=contaminated,
                error_rate=res.failed / max(1, res.attempted))
    if args.trace:
        tracer.dump(os.path.join(traces, f"{run_id}.spans.json"))
        hist = _history(hist_path, args.workload)
        info["traced_e2e"] = res.e2e
        info["trace_overhead"] = {
            k: v - statistics.median(hist[k])
            for k, v in res.e2e.items() if hist.get(k)
        }
    with open(hist_path, "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "e2e": res.e2e,
                             "contaminated": contaminated}) + "\n")
    units = LAYER_UNITS if args.trace else E2E_UNITS
    values = res.e2e if not args.trace else res.layers
    print("perfbench " + json.dumps(info, sort_keys=True, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
