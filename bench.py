#!/usr/bin/env python
"""Benchmark harness: runs the registered queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rialto_airflow_spark.plans.queries import REGISTRY, queries  # noqa: E402
from rialto_airflow_spark.session import get_spark  # noqa: E402

queries()  # load extension registries


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks (/proc/stat cpu line, field 8
    after the 'cpu' tag). This box takes multi-minute steal bursts
    (round-12 verdict: a whole driver bench was contaminated and
    unidentifiable after the fact) — recording the per-run delta makes
    a burst visible IN the artifact. Returns 0 where unavailable."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8])
    except Exception:  # noqa: BLE001 — non-Linux / sandboxed
        return 0


def query_kwargs(fn) -> dict:
    """Call kwargs for a registered query function. Queries exposing a
    ``self_check`` knob (q34's built-in-vs-manual twin) run WITHOUT it
    in every harness: they measure the operator, not its verification
    — the correctness run keeps the check."""
    import inspect

    if "self_check" in inspect.signature(fn).parameters:
        return {"self_check": False}
    return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("rialto-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure
    # the query, not session startup
    REGISTRY["q01_pricing_summary"].fn(spark, sf_dir).collect()

    # n runs, per-query minimum: single-run numbers on a shared box mix
    # ambient load into the signal — round-2 "regressions" on untouched
    # queries were exactly this noise (round-2 verdict #6).
    # Failure-isolated (round-3 verdict #2): one query that throws at
    # plan or execution time records null + its error and the rest of
    # the bench still produces numbers — BENCH must never be empty.
    import statistics

    from pyspark.sql import functions as F

    def collect_sink(df):
        df.collect()

    def checksum_sink(df):
        # executor-side reduction to ONE row (bit_xor of row hashes:
        # order-insensitive, no ANSI overflow) — measures the plan,
        # not py4j serialization of a large driver-bound result set
        df.agg(F.bit_xor(F.xxhash64(*df.columns))).collect()

    # large-result queries sink to a checksum: their collect() numbers
    # were ~60% py4j serialization at the x10 tile (round-6 verdict),
    # which no cluster deployment pays — production sinks are writes.
    # sink_compare below still records BOTH sinks once for continuity
    # with pre-round-8 BENCH history.
    # Round 12 (OPTIMIZATION_r12.md §sinks) extends the set by a
    # measured rule — every query whose result exceeds 100k cells
    # (rows × cols) at sf0.1, where the py4j row serialization the
    # checksum sink removes is 0.6-1.0 s of the old numbers: q09
    # (589k cells), q43 (500k), q15 (450k), q11 (294k), q35 (100k).
    # The guide-§1.4 rationale is unchanged: time the computation,
    # not the driver-bound result transfer; sink_compare keeps
    # recording the old collect() number for every entry here.
    CHECKSUM_SINK = {
        "q09_any_agg",
        "q11_piped_set",
        "q15_merge_upsert",
        "q34_sessionize",
        "q35_asof_join",
        "q43_stream_dedup",
        "q51_session_window",
    }

    samples: dict[str, list[float]] = {}
    steal_samples: dict[str, list[int]] = {}
    timings: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    steal_bench_start = steal_ticks()
    for _ in range(runs):
        for name in sorted(REGISTRY):
            if name in errors:
                continue
            fn = REGISTRY[name].fn
            kwargs = query_kwargs(fn)
            sink = checksum_sink if name in CHECKSUM_SINK else collect_sink
            s0 = steal_ticks()
            t0 = time.perf_counter()
            try:
                sink(fn(spark, sf_dir, **kwargs))
            except Exception as exc:  # noqa: BLE001 — isolate per query
                # a query that succeeded on an earlier run but failed
                # now is NOT counted in the total — errors wins
                timings[name] = None
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            dt = round(time.perf_counter() - t0, 3)
            samples.setdefault(name, []).append(dt)
            steal_samples.setdefault(name, []).append(steal_ticks() - s0)
            if timings.get(name) is None or dt < timings[name]:
                timings[name] = dt

    # per-query {min, median, spread}: min stays the headline (and the
    # cross-round comparable), median+spread expose ambient box noise
    # so a flat-code round's "speedup" reads as the noise it is
    # (round-7 verdict: min-only reporting invited exactly that)
    query_stats = {
        name: {
            "min": min(ts),
            "median": round(statistics.median(ts), 3),
            "spread": round(max(ts) - min(ts), 3),
            # host steal ticks consumed during each run, in run order
            # (aligned with the successful samples): a run whose ticks
            # are high was measured inside a hypervisor burst and its
            # time is environment, not code
            "steal_ticks": steal_samples.get(name, []),
        }
        for name, ts in samples.items()
    }

    # both sinks, once, for the checksum-sunk queries: the delta IS the
    # driver-serialization cost the main numbers now exclude
    sink_compare: dict[str, dict[str, float]] = {}
    for name in sorted(CHECKSUM_SINK & set(REGISTRY)):
        if name in errors:
            continue
        fn = REGISTRY[name].fn
        # same self_check suppression as the main loop: the comparison
        # must isolate the SINK cost, so both numbers need the same
        # (verification-free) plan or the delta stops meaning
        # "driver-serialization cost"
        kwargs = query_kwargs(fn)
        try:
            cmp_entry = {}
            for sink_name, sink in (("collect", collect_sink), ("checksum", checksum_sink)):
                t0 = time.perf_counter()
                sink(fn(spark, sf_dir, **kwargs))
                cmp_entry[sink_name] = round(time.perf_counter() - t0, 3)
            sink_compare[name] = cmp_entry
        except Exception:  # noqa: BLE001 — comparison is best-effort
            pass

    total = round(sum(t for t in timings.values() if t is not None), 3)
    steal_total = steal_ticks() - steal_bench_start

    # q38 build-vs-probe split (round-12 verdict item 5): the main
    # q38 number amortizes the persisted IVF index across runs (the
    # production shape — the index write is a one-off layout job), so
    # record the two components separately: a FRESH index build into a
    # throwaway dir, and the probe+rerank against it. Additions-only;
    # outside the per-query timed loop.
    aux_timings: dict[str, float] = {}
    try:
        import shutil
        import tempfile

        from rialto_airflow_spark.operators import similarity as S
        from rialto_airflow_spark.session import load_tables

        emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
        ivf_dir = tempfile.mkdtemp(prefix="rspark_bench_ivf_")
        t0 = time.perf_counter()
        S.write_ivf_index(emb, ivf_dir, "vec_id", "embedding", n_centroids=8)
        aux_timings["q38_ivf_index_build"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        S.ivf_topk_indexed(
            spark, ivf_dir, emb.where(F.col("vec_id") < 20),
            "vec_id", "embedding", k=10, nprobe=2,
        ).collect()
        aux_timings["q38_ivf_probe_only"] = round(time.perf_counter() - t0, 3)
        shutil.rmtree(ivf_dir, ignore_errors=True)
    except Exception:  # noqa: BLE001 — aux detail must never fail the bench
        pass
    # The driver's BENCH artifact keeps only a bounded TAIL of stdout,
    # and round 8's single fat line (query_stats + sink_compare +
    # embedded scaling) overflowed it — the committed artifact
    # truncated mid-JSON (parsed: null). Split the output: the rich
    # per-query stats go to BENCH_DETAIL.json (committed alongside the
    # repo, self-contained across rounds), and stdout's LAST line is a
    # compact headline that always fits the tail budget.
    detail = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_stats": query_stats,
        "sink_compare": sink_compare,
        "sf": sf,
        "runs": runs,
        "steal_ticks_total": steal_total,
        "aux_timings": aux_timings,
    }
    if errors:
        detail["errors"] = errors
    # scaling curves are expensive (x10 data gen + runs), so they are
    # produced out-of-band by scripts/run_scaling.py; embed the recorded
    # results in the DETAIL file if present (SCALING.md has the story)
    here = os.path.dirname(os.path.abspath(__file__))
    scaling_path = os.path.join(here, "SCALING.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as fh:
            detail["scaling"] = json.load(fh)
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    out = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs": runs,
        "steal_ticks_total": steal_total,
    }
    if errors:
        out["errors"] = {k: v[:80] for k, v in errors.items()}
    line = json.dumps(out)
    if len(line) > 1900:  # stay inside the driver's tail window
        out.pop("queries", None)
        out["detail"] = "BENCH_DETAIL.json"
        line = json.dumps(out)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
