"""Registry-query hygiene: NULL semantics the generated test data
cannot exercise (it holds no NULLs), and scratch dirs that must not
outlive the process."""

from __future__ import annotations

import atexit
import datetime
import os

from pyspark.sql import functions as F

from rialto_airflow_spark.functions.perf import scratch_dir
from rialto_airflow_spark.plans.queries import REGISTRY, queries
from rialto_airflow_spark.session import load_tables

queries()  # load extension registries


def test_scratch_dir_removed_by_registered_cleanup(monkeypatch):
    registered = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *a, **kw: registered.append((fn, a, kw))
    )
    path = scratch_dir("rspark_test_scratch_")
    with open(os.path.join(path, "f"), "w") as fh:
        fh.write("x")
    assert os.path.isdir(path)
    assert len(registered) == 1
    fn, a, kw = registered[0]
    fn(*a, **kw)
    assert not os.path.exists(path)


def _null_events(spark, sf_dir: str) -> None:
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # a: users 1, 1, 2 and a NULL user — 2 distinct
        (1, t0, 1, "a", 1.0, "{}"),
        (2, t0, 1, "a", 2.0, "{}"),
        (3, t0, 2, "a", 3.0, "{}"),
        (4, t0, None, "a", 4.0, "{}"),
        # NULL event_type: its own group, user 3 twice and a NULL user
        (5, t0, 3, None, 5.0, "{}"),
        (6, t0, None, None, 6.0, "{}"),
        (7, t0, 3, None, 7.0, "{}"),
        # b: only NULL users — 0 distinct
        (8, t0, None, "b", 8.0, "{}"),
        (9, t0, None, "b", 9.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(os.path.join(sf_dir, "events.parquet"))


def test_q40_null_keys_match_single_aggregate(spark, tmp_path):
    """q40 splits its exact distinct count out of the percentile
    aggregate; on NULL event types and NULL users it must still equal
    the one-aggregate countDistinct form."""
    sf_dir = str(tmp_path)
    _null_events(spark, sf_dir)
    ev = load_tables(spark, sf_dir, "events")["events"]
    want = {
        tuple(r)
        for r in ev.groupBy("event_type").agg(
            F.round(F.percentile("value", 0.5), 4).alias("p50"),
            F.round(F.percentile("value", 0.9), 4).alias("p90"),
            F.round(F.percentile("value", 0.99), 4).alias("p99"),
            F.countDistinct("user_id").alias("n_exact"),
            F.lit(True).alias("approx_ok"),
        ).collect()
    }
    got = REGISTRY["q40_percentiles"].fn(spark, sf_dir)
    assert got.columns == [
        "event_type", "p50", "p90", "p99", "n_exact", "approx_ok"
    ]
    rows = {tuple(r) for r in got.collect()}
    assert rows == want
    assert {r[0] for r in rows} == {"a", "b", None}


def test_q40_value_payload_crosses_one_exchange(spark, sf_dir):
    """The percentile buffers (the value payload) shuffle once, keyed
    by event_type; only the distinct branch's (event_type, user_id)
    keys cross their own exchanges."""
    df = REGISTRY["q40_percentiles"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan()
    initial = plan.toString()
    if "Initial Plan" in initial:
        initial = initial.split("== Initial Plan ==", 1)[1]
    lines = initial.splitlines()
    # percentile aggregates: one partial, one final, never a
    # merge-only step (the two-phase distinct rewrite's extra hop)
    pct_aggs = [ln for ln in lines if "percentile(" in ln and "Aggregate" in ln]
    assert len(pct_aggs) == 2, pct_aggs
    final_i = next(i for i, ln in enumerate(lines) if "percentile(" in ln)
    partial_i = max(i for i, ln in enumerate(lines) if "percentile(" in ln)
    between = lines[final_i + 1:partial_i]
    assert sum("Exchange" in ln for ln in between) == 1, between
