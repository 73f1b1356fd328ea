"""weekly_pipeline workload: a full harvest into a manifest store, the
publish run, then closed-loop author lookups against the stored tables.

Set-up generates the corpus (three times; the median counts) and stages
it. The timed part runs ``build_harvest_dag()`` in full mode with
``ctx['pubs_store']`` set (so ``complete`` persists publications and
both edge tables as manifest tables), records the harvest as finished,
runs ``build_publish_dag()`` into a fresh reports store with download
CSVs, and then, after one untimed warm-up, makes ``LOOKUPS`` closed-loop
``publications_for_author_from_store`` calls, authors drawn Zipf-like
over productivity. A run is this one fixed batch of work, whatever
``--seconds`` says. Every output is checked against the generator's
ground truth.
"""

from __future__ import annotations

import collections
import os
import statistics
import time

import gen_corpus
import obs
import pipeline
from metrics import PIPELINE_SPANS, Result, p50_p90

N_PUBS = 1000
SETUP_REPEATS = 3
LOOKUPS = 3
# ctx['pubs_manifest_buckets']: bucket count sized to the corpus
N_BUCKETS = 4
_INGEST = ("setup", "load_authors", "link_authors")
_MARTS = ("publish_publications", "publish_by_school",
          "publish_by_department", "publish_by_author")


def _span_name(task: str) -> str:
    if task in _INGEST or task.startswith(("harvest_", "fill_in_")):
        return "ingest"
    if task in _MARTS:
        return "publish_marts"
    return task


def _traced(dag, tracer):
    """Wrap every task of ``dag`` in a span named for its layer."""
    for task in dag.tasks.values():
        def wrapped(ctx, fn=task.fn, name=_span_name(task.name)):
            with tracer.span(name):
                fn(ctx)
        task.fn = wrapped
    return dag


class _StoreCalls:
    """Counts and times calls to chosen methods of TableStore instances
    (instance attributes shadow the class methods)."""

    def __init__(self):
        self.calls = collections.Counter()
        self.wall = collections.Counter()

    def wrap(self, store, methods: dict[str, str]):
        for meth, kind in methods.items():
            fn = getattr(store, meth)

            def wrapped(*a, _fn=fn, _kind=kind, **k):
                t0 = time.perf_counter()
                try:
                    return _fn(*a, **k)
                finally:
                    self.calls[_kind] += 1
                    self.wall[_kind] += time.perf_counter() - t0

            setattr(store, meth, wrapped)


def _fingerprint(df):
    """(rows, order-insensitive hash) over sorted column names."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
    ).collect()[0]
    return r["n"], r["h"]


def _check_harvest(spark, corpus, store, ctx) -> list[str]:
    """Ground-truth facts after harvest and publish; returns the
    failures."""
    from pyspark.sql import functions as F

    bad = []
    stored = store.read(spark, "publications")
    bad += corpus.check_ids({r["id"] for r in stored.select("id").collect()})
    sample = sorted(corpus.survivors)[::25]
    got = {r["id"]: r for r in stored.where(F.col("id").isin(sample)).collect()}
    if any(got[p][f"{s}_json"] != corpus.pubs[p - 1][f"{s}_json"]
           for p in sample for s in gen_corpus.SOURCES):
        bad.append("a stored <source>_json differs from the harvested payload")
    for table, key in (("publications", "pubs"),
                       ("pub_author_edges", "author_edges"),
                       ("pub_funder_edges", "funder_edges")):
        if _fingerprint(store.read(spark, table)) != _fingerprint(ctx[key]):
            bad.append(f"stored {table} differs from the run's final frame")
    for mart, key in (("mart_publications", "publications"),
                      ("mart_by_school", "by_school"),
                      ("mart_by_department", "by_department"),
                      ("mart_by_author", "by_author")):
        n = ctx[mart].where(F.col("doi").isNotNull()).count()
        if n != corpus.mart_doi_rows[key]:
            bad.append(f"{mart}: {n} DOI rows, expected {corpus.mart_doi_rows[key]}")
    snap = ctx["reports_store"].read_snapshot(spark, "publications")
    if _fingerprint(snap) != _fingerprint(ctx["mart_publications"]):
        bad.append("reports snapshot differs from the publications mart")
    for d in ("mart_publications", "mart_by_author"):
        path = os.path.join(ctx["download_dir"], d)
        if not any(f.endswith(".csv") for f in os.listdir(path)):
            bad.append(f"no download CSV for {d}")
    return bad


def prepare(args, work: str) -> dict:
    """Set-up that needs no Spark: generate the corpus (the median of
    ``SETUP_REPEATS`` generations counts)."""
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        corpus = gen_corpus.generate(N_PUBS, args.seed)
        gen_s.append(time.perf_counter() - t0)
    return {"corpus": corpus, "setup_s": statistics.median(gen_s)}


def run(spark, tracer, args, work, pids, prep) -> Result:
    from rialto_airflow_spark.dag import build_harvest_dag, build_publish_dag
    from rialto_airflow_spark.plans.cli import publications_for_author_from_store
    from rialto_airflow_spark.storage import TableStore

    res = Result()
    L = res.layers

    # --- set-up --------------------------------------------------------
    corpus = prep["corpus"]
    t0 = time.perf_counter()
    staged = pipeline.stage(spark, corpus, os.path.join(work, "stage"))
    res.e2e["setup_s"] = prep["setup_s"] + time.perf_counter() - t0

    # --- timed: harvest, publish ------------------------------------------
    store_dir = os.path.join(work, "store")
    store = TableStore(store_dir)
    reports = TableStore(os.path.join(work, "reports"))
    calls = _StoreCalls()
    calls.wrap(store, {"read": "read", "write_manifest": "write",
                       "replace_keys_manifest": "write"})
    calls.wrap(reports, {"publish_snapshot": "write"})
    failures: list[str] = []
    obs.reset_peak_rss(pids)
    steal0 = obs.steal_ticks()
    cpu0 = obs.tree_cpu_s(os.getpid())
    t_timed = time.perf_counter()
    with tracer.span("harvest", spark_jobs=False) as h_sp:
        ctx = pipeline.harvest_context(spark, staged, store, N_BUCKETS)
        _traced(build_harvest_dag(), tracer).run(ctx)
    pipeline.finish_harvest(spark, ctx)
    ctx["reports_store"] = reports
    ctx["download_dir"] = os.path.join(work, "downloads")
    with tracer.span("publish", spark_jobs=False) as p_sp:
        _traced(build_publish_dag(), tracer).run(ctx)
    harvest_s, publish_s = h_sp.wall_s, p_sp.wall_s
    cpu_s = obs.tree_cpu_s(os.getpid()) - cpu0
    written = obs.dir_stats(store_dir)

    # --- timed: lookups against the stored tables ---------------------------
    lk_store = TableStore(store_dir)
    lk_calls = _StoreCalls()
    lk_calls.wrap(lk_store, {"read_keys": "read_keys"})
    lk_store.write(ctx["funders"], "funders")  # the CLI's dimension tables
    lk_store.write(ctx["authors"], "authors")
    edges = lk_store.read(spark, "pub_author_edges")
    authors = lk_store.read(spark, "authors")
    f_edges = lk_store.read(spark, "pub_funder_edges")
    funders = lk_store.read(spark, "funders")
    schedule = gen_corpus.lookup_schedule(corpus, LOOKUPS + 1, args.seed, LOOKUPS)

    def lookup(a):
        rows = publications_for_author_from_store(
            f"au{a:05d}", spark, lk_store, "publications",
            edges, authors, f_edges, funders,
        ).collect()
        reason = corpus.check_lookup(a, [r["doi"] for r in rows])
        if reason:
            failures.append(reason)
        return rows

    # one untimed lookup first, so the timed ones find the read path's
    # code generated and the stored tables' metadata cached; the timed
    # ones are the head of the schedule, one whole stratified block
    lookup(schedule[-1])
    lookup_walls, lookup_rows, lookup_spans = [], 0, []
    cpu0 = obs.tree_cpu_s(os.getpid())
    for a in schedule[:-1]:
        with tracer.span("lookup") as sp:
            rows = lookup(a)
        lookup_walls.append(sp.wall_s)
        lookup_spans.append(sp)
        lookup_rows += len(rows)
    res.e2e["work_cpu_s"] = cpu_s + obs.tree_cpu_s(os.getpid()) - cpu0
    res.timed_s = time.perf_counter() - t_timed
    res.steal_ticks = obs.steal_ticks() - steal0
    peak_rss = obs.peak_rss_mb(pids)
    p50, p90 = p50_p90(lookup_walls)

    # --- checks (outside timing) --------------------------------------------
    t0 = time.perf_counter()
    failures += _check_harvest(spark, corpus, lk_store, ctx)
    check_s = time.perf_counter() - t0
    # operations: the two DAG runs plus every lookup (the warm-up one
    # too); a failed lookup is counted as itself, every other failed fact
    # against the DAG runs
    lookup_fail = sum(f.startswith("lookup ") for f in failures)
    res.attempted = 2 + 1 + len(lookup_walls)
    res.failed = lookup_fail + min(2, len(failures) - lookup_fail)

    # --- per-layer (traced runs) ----------------------------------------
    if tracer.enabled:
        tracer.collect_stats()
        for sp in tracer.spans:
            if sp.name in PIPELINE_SPANS:
                L[f"pipeline.{sp.name}.wall_s"] += sp.wall_s
                for m in ("driver_s", "jobs", "stages", "cpu_s"):
                    L[f"pipeline.{sp.name}.{m}"] += sp.stats[m]
            elif sp.name == "ingest":
                L["pipeline.ingest.wall_s"] += sp.wall_s
                L["pipeline.ingest.driver_s"] += sp.stats["driver_s"]
            if sp.stats and sp.parent in ("harvest", "publish"):
                L[f"pipeline.{sp.parent}.shuffle_mb"] += sp.stats["shuffle_mb"]
        L["pipeline.storage.read.calls"] = calls.calls["read"]
        L["pipeline.storage.read.wall_s"] = calls.wall["read"]
        L["pipeline.storage.write.calls"] = calls.calls["write"]
        L["pipeline.storage.write.wall_s"] = calls.wall["write"]
        files, size = written
        L["pipeline.storage.write.mb"] = size / 1e6
        L["pipeline.storage.write.files"] = len(files)
        # a full harvest changes every surviving row
        L["pipeline.storage.write.bytes_per_changed_row"] = (
            size / len(corpus.survivors)
        )
        n = len(lookup_spans)
        L["lookup.wall_p50_ms"] = p50 * 1e3
        L["lookup.read_keys_ms"] = lk_calls.wall["read_keys"] / n * 1e3
        L["lookup.driver_ms"] = statistics.median(
            s.stats["driver_s"] for s in lookup_spans) * 1e3
        L["lookup.jobs"] = statistics.median(s.stats["jobs"] for s in lookup_spans)
        L["lookup.stages"] = statistics.median(
            s.stats["stages"] for s in lookup_spans)
        L["lookup.input_mb"] = statistics.median(
            s.stats["input_mb"] for s in lookup_spans)
        L["lookup.input_rows_per_row"] = sum(
            s.stats["input_rows"] for s in lookup_spans) / max(1, lookup_rows)
        L["trace.instrument_s"] = tracer.instrument_s
        L["host.peak_rss_mb"] = peak_rss

    res.info = {
        "workload": "weekly_pipeline",
        "pubs": N_PUBS,
        "harvest_wall_s": harvest_s,
        "publish_wall_s": publish_s,
        "lookups": len(lookup_walls),
        "lookup_p50_ms": p50 * 1e3,
        "lookup_p90_ms": p90 * 1e3,
        "peak_rss_mb": peak_rss,
        "check_s": check_s,
        "failures": failures[:10],
    }
    return res
