"""Tests for the skew operators and merge metrics."""

from __future__ import annotations

from pyspark.sql import functions as F

from rialto_airflow_spark.operators.merge import merge_metrics
from rialto_airflow_spark.operators.skew import salted_agg, salted_join


def test_salted_agg_matches_plain(spark, sf_dir):
    from rialto_airflow_spark.session import load_tables

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    plain = {
        (r["l_returnflag"],): (r["n"], round(r["s"], 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["n"], round(r["s"], 2))
        for r in salted_agg(
            li.select("l_returnflag", "l_quantity"),
            ["l_returnflag"],
            partial=lambda: [
                F.count(F.lit(1)).alias("pn"),
                F.sum("l_quantity").alias("ps"),
            ],
            final=lambda: [
                F.sum("pn").alias("n"),
                F.sum("ps").alias("s"),
            ],
            buckets=8,
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    from rialto_airflow_spark.session import load_tables

    t = load_tables(spark, sf_dir, "customer", "nation")
    plain = (
        t["customer"]
        .withColumnRenamed("c_nationkey", "n_nationkey")
        .join(t["nation"], "n_nationkey")
        .count()
    )
    salted = salted_join(
        t["customer"].withColumnRenamed("c_nationkey", "n_nationkey"),
        t["nation"],
        "n_nationkey",
        buckets=4,
    ).count()
    assert salted == plain


def test_merge_metrics(spark):
    existing = spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"
    )
    batch = spark.createDataFrame(
        [("a", 1), ("b", 9), ("c", 3), (None, 4)], "k string, v int"
    )
    m = merge_metrics(existing, batch, "k")
    assert m == {"new": 2, "updated": 1, "noop": 1, "processed": 4}


def test_snapshot_diff_oracle(spark, sf_dir):
    """CDC derivation vs a DuckDB full-outer replay on perturbed
    orders snapshots."""
    import duckdb

    from rialto_airflow_spark.operators.merge import snapshot_diff
    from rialto_airflow_spark.session import load_tables

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    old = orders.where(F.col("o_orderkey") % 10 != 0)  # new inserts the 0s
    new = orders.where(F.col("o_orderkey") % 10 != 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    ).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderstatus")),
    )
    got = sorted(
        (r["o_orderkey"], r["op"], tuple(sorted(r["changed_cols"])))
        for r in snapshot_diff(old, new, "o_orderkey").collect()
    )
    sql = f"""
    WITH o AS (SELECT * FROM read_parquet('{sf_dir}/orders.parquet') WHERE o_orderkey % 10 != 0),
         n0 AS (SELECT * FROM read_parquet('{sf_dir}/orders.parquet') WHERE o_orderkey % 10 != 1),
         n AS (SELECT * REPLACE (
                 CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
                 CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus)
               FROM n0)
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
           CASE WHEN o.o_orderkey IS NULL THEN \'insert\'
                WHEN n.o_orderkey IS NULL THEN \'delete\'
                ELSE \'update\' END AS op,
           CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN []
                ELSE list_filter([
                  CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN \'o_totalprice\' END,
                  CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN \'o_orderstatus\' END
                ], x -> x IS NOT NULL) END AS changed
    FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    """
    want = sorted(
        (k, op, tuple(sorted(ch)))
        for k, op, ch in duckdb.sql(sql).fetchall()
    )
    assert got == want and len(got) > 0


def test_snapshot_diff_null_transitions(spark):
    from rialto_airflow_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, None, "x"), (2, "b", "y"), (3, "c", "z")],
        "k long, a string, b string",
    )
    new = spark.createDataFrame(
        [(1, "set", "x"), (2, None, "y"), (4, "d", "w")],
        "k long, a string, b string",
    )
    got = {
        r["k"]: (r["op"], tuple(sorted(r["changed_cols"])))
        for r in snapshot_diff(old, new, "k").collect()
    }
    assert got == {
        1: ("update", ("a",)),  # NULL -> value is a change
        2: ("update", ("a",)),  # value -> NULL is a change
        3: ("delete", ()),
        4: ("insert", ()),
    }


def test_skew_stats_profile_and_oracle(spark, sf_dir):
    """skew_stats vs a DuckDB replay of the same profile (exact
    fields; p99 compared leniently since Spark's percentile_approx
    is a sketch), plus the decision semantics on a constructed
    hot-key table."""
    from rialto_airflow_spark.operators.skew import skew_stats
    from rialto_airflow_spark.session import load_tables
    from tests.oracle_util import duckdb_run

    ev = load_tables(spark, sf_dir, "events")["events"]
    got = skew_stats(ev, ["event_type"]).collect()[0]
    cols, rows, _ = duckdb_run(
        """
        WITH pk AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
        SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
               max(n)::BIGINT AS max_key_rows,
               round(max(n) / sum(n), 6) AS top_share,
               (SELECT sum(n) FROM (SELECT n FROM pk ORDER BY n DESC LIMIT 5))
                 / sum(n) AS top5_share,
               round(avg(n), 2) AS mean_key_rows,
               round(max(n) / avg(n), 2) AS skew_ratio
        FROM pk
        """,
        sf_dir,
    )
    want = dict(zip(cols, rows[0]))
    assert got["n_rows"] == want["n_rows"]
    assert got["n_keys"] == want["n_keys"]
    assert got["max_key_rows"] == want["max_key_rows"]
    assert got["top_share"] == float(want["top_share"])
    assert abs(got["top5_share"] - float(want["top5_share"])) < 1e-6
    assert got["mean_key_rows"] == float(want["mean_key_rows"])
    assert got["skew_ratio"] == float(want["skew_ratio"])
    assert got["p99_key_rows"] <= got["max_key_rows"]

    # uniform keys → ratio 1, salting buys nothing
    uni = spark.range(1000).select((F.col("id") % 10).alias("k"))
    u = skew_stats(uni, ["k"]).collect()[0]
    assert u["skew_ratio"] == 1.0 and u["suggested_buckets"] == 1

    # one hot key with ~32x the mean → suggested buckets reaches it
    hot = spark.range(310).select(
        F.when(F.col("id") < 300, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    h = skew_stats(hot, ["k"]).collect()[0]
    assert h["max_key_rows"] == 300 and h["n_keys"] == 11
    assert h["suggested_buckets"] >= 16
    # bounded plan: the top-N cut is TakeOrdered, never a global sort
    plan = skew_stats(ev, ["event_type"])._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_salted_join_salt_is_content_derived_and_replayable(spark, sf_dir):
    """Round-6 "wrong" #2 regression: the probe salt used to come
    from monotonically_increasing_id(), which changes across task
    retries/repartitioning — violating the module's no-RNG
    replayability rule. The salt must now hash row CONTENT: no mii
    in the plan, and the full result (not just the count) must be
    identical across a repartition of the probe side."""
    from rialto_airflow_spark.session import load_tables

    t = load_tables(spark, sf_dir, "customer", "nation")
    probe = t["customer"].withColumnRenamed("c_nationkey", "n_nationkey")
    out = salted_join(probe, t["nation"], "n_nationkey", buckets=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "monotonically" not in plan, plan

    a = sorted(
        (r["c_custkey"], r["n_name"])
        for r in out.select("c_custkey", "n_name").collect()
    )
    b = sorted(
        (r["c_custkey"], r["n_name"])
        for r in salted_join(
            probe.repartition(7), t["nation"], "n_nationkey", buckets=4
        ).select("c_custkey", "n_name").collect()
    )
    assert a == b


def test_incremental_group_agg_equals_full_recompute(spark):
    """Incremental aggregate-mart maintenance (round 9): recompute
    ONLY groups whose membership changed — covering update-in-place,
    key migration BETWEEN groups (both sides must refresh), insert
    into a new group, whole-group deletion, and the NULL group —
    and the result must equal the full groupBy over the new table."""
    from pyspark.sql import functions as F

    from rialto_airflow_spark.operators.merge import (
        apply_mart_parts,
        changed_rows,
        mart_parts,
    )

    def incremental_group_agg(
        old, new, old_mart, key, grp, aggs, compare_cols=None
    ):
        parts = mart_parts(
            *changed_rows(old, new, key, compare_cols=compare_cols),
            new,
            grp,
            lambda rows: rows.groupBy(grp).agg(*aggs),
        )
        return apply_mart_parts(old_mart, *parts, grp)

    schema = "k bigint, grp string, v double, updated_at timestamp"
    TS1, TS2 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"

    def mk(rows, ts=TS1):
        import datetime

        t = datetime.datetime.fromisoformat(ts)
        return spark.createDataFrame([(*r, t) for r in rows], schema)

    old = mk(
        [
            (1, "a", 1.0), (2, "a", 2.0),      # group a
            (3, "b", 3.0),                      # group b (will empty)
            (4, "c", 4.0),                      # group c (untouched)
            (5, None, 5.0),                     # NULL group
        ]
    )
    # new: k1 value updated; k3 deleted (group b empties); k2 migrates
    # a→d; k6 inserted into NULL group; k4/(group c) untouched
    new = mk([(4, "c", 4.0)]).unionByName(
        mk([(1, "a", 10.0), (2, "d", 2.0), (6, None, 6.0), (5, None, 5.0)], TS2)
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v"), 2).alias("total"),
    ]
    old_mart = old.groupBy("grp").agg(*aggs)
    full = new.groupBy("grp").agg(*aggs)
    inc = incremental_group_agg(old, new, old_mart, "k", "grp", aggs)

    def rows(df):
        return sorted(
            ((r["grp"] or "", r["grp"] is None, r["n"], r["total"])
             for r in df.collect())
        )

    assert rows(inc) == rows(full)
    got = {
        (None if r[1] else r[0]): (r[2], r[3]) for r in rows(inc)
    }
    assert got == {"a": (1, 10.0), "c": (1, 4.0), "d": (1, 2.0), None: (2, 11.0)}
    assert "b" not in got  # emptied group really disappeared

    # the thin-compare production shape finds the same result: k5's
    # row is byte-identical (stamp untouched) so only real changes
    # drive the refresh
    inc_thin = incremental_group_agg(
        old, new, old_mart, "k", "grp", aggs, compare_cols=["updated_at"]
    )
    assert rows(inc_thin) == rows(full)
