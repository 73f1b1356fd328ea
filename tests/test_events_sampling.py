"""Unit tests for event operators (sessionize / as-of join),
deterministic sampling, connected components, and IVF ANN —
edge-case semantics the oracle queries don't isolate."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from rialto_airflow_spark.operators import dedup as D
from rialto_airflow_spark.operators import events as E
from rialto_airflow_spark.operators import sampling as SA
from rialto_airflow_spark.operators import similarity as S


def _ts(minute, second=0):
    return datetime.datetime(2024, 1, 1, 12, minute, second)


def test_sessionize_gap_boundaries(spark):
    rows = [
        # user 1: 3 events, second exactly at the gap (no new session),
        # third one second past it (new session)
        (1, _ts(0), 10),
        (1, _ts(30), 11),  # gap == 1800s -> same session
        (1, _ts(0) + datetime.timedelta(seconds=3601), 12),
        # user 2: single event
        (2, _ts(5), 20),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    out = E.sessionize(df, "user_id", "ts", 1800, ["event_id"]).collect()
    by_event = {r.event_id: r for r in out}
    assert by_event[10].session_seq == 1 and by_event[10].is_session_start
    assert by_event[11].session_seq == 1 and not by_event[11].is_session_start
    assert by_event[12].session_seq == 2 and by_event[12].is_session_start
    assert by_event[20].session_seq == 1


def test_session_window_agrees_with_manual_twin(spark, sf_dir):
    """q34's ``builtin_agrees`` pin, checked here instead of in the
    query: on the sf0.01 events, Spark's BUILT-IN ``F.session_window``
    (the session operator Structured Streaming uses) yields the same
    (user, session_start, n) multiset as a manual lag+running-sum
    twin. The twin uses ``>=`` gap semantics on exact (sub-second)
    timestamps because session windows are half-open [start,
    last+gap); q34's own output keeps the reference-style strict-``>``
    floor-seconds sessionization."""
    import os

    from pyspark.sql.window import Window

    from rialto_airflow_spark.session import load_tables

    sf01 = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.01")
    ev = load_tables(spark, sf01, "events")["events"]
    # ts reads as TIMESTAMP_NTZ, which Spark refuses to cast to DOUBLE
    # (and an NTZ->LTZ round-trip would be session-timezone/DST
    # dependent), so the sub-second gap is micros since an NTZ epoch
    epoch_s = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ) / 1e6
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    prev_s = F.lag(epoch_s).over(w)
    ns = prev_s.isNull() | (epoch_s - prev_s >= 1800.0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    twin = (
        ev.withColumn("__sid", F.sum(ns.cast("int")).over(run))
        .groupBy("user_id", "__sid")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n"))
        .select("user_id", "session_start", "n")
    )
    builtin = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("session_start"), "n")
    )
    # multiset equality via signed counts: one aggregation over the union
    signed = twin.withColumn("__s", F.lit(1)).unionByName(
        builtin.withColumn("__s", F.lit(-1))
    )
    diff = (
        signed.groupBy("user_id", "session_start", "n")
        .agg(F.sum("__s").alias("__d"))
        .where(F.col("__d") != 0)
    )
    assert twin.count() > 0
    assert diff.limit(5).collect() == []


def test_session_stats_duration(spark):
    rows = [(1, _ts(0), 1), (1, _ts(10), 2), (1, _ts(50), 3)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    stats = {
        r.session_seq: r
        for r in E.session_stats(df, "user_id", "ts", 1800, ["event_id"]).collect()
    }
    assert stats[1].n_events == 2 and stats[1].duration_s == 600
    assert stats[2].n_events == 1 and stats[2].duration_s == 0


def test_asof_join_backward_and_ties(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10), "p1"),  # after r@5 -> matches 5
            (1, _ts(5), "p2"),   # ties r@5 -> >= includes equality
            (1, _ts(1), "p3"),   # before any right row -> nulls
            (2, _ts(10), "p4"),  # user with no right rows -> nulls
        ],
        ["user_id", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 100.0), (1, _ts(9), 200.0)],
        ["user_id", "ts", "v"],
    )
    out = {
        r.tag: r
        for r in E.asof_join(left, right, "user_id", "ts", ["v"]).collect()
    }
    assert out["p1"].v == 200.0 and out["p1"].asof_ts == _ts(9)
    assert out["p2"].v == 100.0  # equality matches (>= semantics)
    assert out["p3"].v is None and out["p3"].asof_ts is None
    assert out["p4"].v is None
    assert len(out) == 4  # left rows never multiply


def test_hash_split_deterministic_and_partition_stable(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = SA.hash_split(df, "k").groupBy("split").count().collect()
    b = (
        SA.hash_split(df.repartition(7), "k")
        .groupBy("split")
        .count()
        .collect()
    )
    assert {(r.split, r["count"]) for r in a} == {
        (r.split, r["count"]) for r in b
    }
    counts = {r.split: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 2000 - 0.8) < 0.05


def test_deterministic_sample_is_subset_monotone(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    small = {r.k for r in SA.deterministic_sample(df, "k", 0.1).collect()}
    big = {r.k for r in SA.deterministic_sample(df, "k", 0.3).collect()}
    assert small <= big  # raising the fraction only adds rows
    assert 0 < len(small) < len(big) < 1000


def test_stratified_sample_per_stratum(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "lang"])
    out = SA.stratified_sample(
        df, "k", ["lang"], {"en": 0.5, "fr": 0.0}, default_fraction=0.0
    )
    langs = {r.lang for r in out.collect()}
    assert langs == {"en"}  # fr stratum fully excluded
    n_en = out.count()
    assert abs(n_en / 500 - 0.5) < 0.15


def test_connected_components_chain_and_triangle(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {
        r.id: r.cluster_id for r in D.connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_deep_chain(spark):
    """A 100-node chain needs ~100 plain-propagation rounds — far
    past max_iter — but pointer jumping resolves it in O(log n)
    rounds, so the default settings must label it fully."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id_a", "id_b"]
    )
    got = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(101)}


def test_connected_components_empty_pairs(spark):
    """No edges → no labels, and the loop still terminates promptly
    (the round-0 convergence probe is skipped — round-12 job-count
    optimization — so the empty case must exit via round 1)."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(pairs).collect() == []


def test_connected_components_assume_canonical_matches_general(spark):
    """assume_canonical=True (round 13: skips the re-canonicalize +
    distinct exchange for producers that guarantee distinct strict
    id_a < id_b pairs — the lsh_candidate_pairs contract) must label
    identically to the general path on a canonical pair set, and on
    REAL minhash pairs both paths must agree."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    general = {
        r.id: r.cluster_id for r in D.connected_components(pairs).collect()
    }
    canon = {
        r.id: r.cluster_id
        for r in D.connected_components(
            pairs, assume_canonical=True
        ).collect()
    }
    assert canon == general

    docs = spark.createDataFrame(
        [
            (i, "alpha beta gamma delta epsilon zeta eta theta " + tail)
            for i, tail in [
                (1, "one"), (2, "one"), (3, "three"), (4, "four xx yy zz"),
            ]
        ],
        ["doc_id", "text"],
    )
    mh = D.minhash_near_dups(docs, "doc_id", "text")
    g2 = {r.id: r.cluster_id for r in D.connected_components(mh).collect()}
    c2 = {
        r.id: r.cluster_id
        for r in D.connected_components(mh, assume_canonical=True).collect()
    }
    assert c2 == g2


def test_cluster_survivors_keeps_min_and_unclustered(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 99)], ["doc_id", "text"]
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["id", "cluster_id"]
    )
    kept = {r.doc_id for r in D.cluster_survivors(df, clusters, "doc_id").collect()}
    assert kept == {1, 99}


def test_ivf_topk_finds_identical_vector(spark):
    # 12 near-orthogonal-ish vectors; vec 10 duplicates vec 3's direction
    rows = []
    for i in range(10):
        v = [0.0] * 8
        v[i % 8] = 1.0
        v[(i + 3) % 8] = 0.5 if i >= 8 else 0.0
        rows.append((i, v))
    rows.append((10, [x * 2.0 for x in rows[3][1]]))  # same direction as 3
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.ivf_topk(
        emb,
        emb.where(F.col("vec_id") == 3),
        "vec_id",
        "embedding",
        k=1,
        n_centroids=4,
        nprobe=2,
    ).collect()
    assert len(out) == 1
    assert out[0].neighbor_id == 10 and abs(out[0].score - 1.0) < 1e-9


def test_probe_buckets_distinct_and_sized(spark):
    df = spark.createDataFrame(
        [(1, [0.9, -0.1, 0.05, -0.8, 0.3, -0.02, 0.6, -0.4])],
        ["vec_id", "embedding"],
    )
    for nprobe in (1, 3, 9, 20):
        got = df.select(
            S.probe_buckets(F.col("embedding"), bits=8, nprobe=nprobe).alias("b")
        ).collect()[0].b
        want = min(max(nprobe, 1), 9)  # bits + 1 is the ceiling
        assert len(got) == want
        assert len(set(got)) == want  # buckets pairwise distinct
        # base bucket first; flips are single-bit XORs of it
        base = got[0]
        assert all(bin(b ^ base).count("1") == 1 for b in got[1:])
    # least-confident dimension (|v| = 0.02, index 5) flips first
    two = df.select(
        S.probe_buckets(F.col("embedding"), bits=8, nprobe=2).alias("b")
    ).collect()[0].b
    assert two[1] == two[0] ^ (1 << 5)


def test_lsh_multiprobe_recall_monotone(spark, sf_dir):
    """Multi-probe recall must not drop as nprobe grows, and probing
    all Hamming-1 neighbors must strictly beat single-probe on the
    fixed sf0.001 query set (deterministic data → deterministic
    recall)."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qs = emb.where(F.col("vec_id") < 30)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, qs, "vec_id", "embedding", k=3).collect()
    }
    recall = {}
    for nprobe in (1, 2, 8):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.lsh_topk(
                emb, qs, "vec_id", "embedding", k=3, bits=8, nprobe=nprobe
            ).collect()
        }
        recall[nprobe] = len(got & truth) / len(truth)
    assert recall[1] <= recall[2] <= recall[8]
    assert recall[8] > recall[1]


def test_asof_join_dedup_right(spark):
    """dedup_right=True collapses duplicate (key, ts) right rows to
    the greatest value tuple, so left rows never multiply and the
    carried value is deterministic."""
    left = spark.createDataFrame(
        [(1, _ts(10), "p1")], ["user_id", "ts", "tag"]
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 100.0), (1, _ts(5), 300.0), (1, _ts(5), 200.0)],
        ["user_id", "ts", "v"],
    )
    out = E.asof_join(
        left, right, "user_id", "ts", ["v"], dedup_right=True
    ).collect()
    assert len(out) == 1
    assert out[0].v == 300.0 and out[0].asof_ts == _ts(5)


def test_ensure_parallelism_conf_gate(spark):
    """With the check conf off, ensure_parallelism is an identity —
    no partition probe, no repartition (round-3 verdict #8)."""
    from rialto_airflow_spark.functions.perf import (
        PARALLELISM_CHECK_CONF,
        ensure_parallelism,
    )

    df = spark.range(0, 10).coalesce(1)
    assert ensure_parallelism(df).rdd.getNumPartitions() > 1
    spark.conf.set(PARALLELISM_CHECK_CONF, "false")
    try:
        assert ensure_parallelism(df) is df
    finally:
        spark.conf.unset(PARALLELISM_CHECK_CONF)


def test_lsh_index_roundtrip_matches_inmemory(spark, sf_dir, tmp_path):
    """The persisted sign-bucket index must return the identical
    top-k as the in-memory lsh_topk, and its scan must be partition-
    pruned to the probed buckets (the 100-TB read path: non-probed
    directories are never listed)."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qs = emb.where(F.col("vec_id") < 20)
    path = str(tmp_path / "lsh_index")
    S.write_lsh_index(emb, path, "vec_id", "embedding", bits=8)

    got = S.lsh_topk_indexed(
        spark, path, qs, "vec_id", "embedding", k=3, bits=8, nprobe=2
    )
    want = S.lsh_topk(
        emb, qs, "vec_id", "embedding", k=3, bits=8, nprobe=2
    )
    assert got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0

    # the probed-bucket filter lands in PartitionFilters, not a
    # post-scan Filter: pruning happens at file-listing time
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "lsh_index" in l
    )
    part = scan.split("PartitionFilters")[1]
    assert "bucket" in part.split("]")[0]


def test_ivf_index_roundtrip_matches_inmemory(spark, sf_dir, tmp_path):
    """The persisted IVF index (inverted lists partitioned by
    centroid_id + centroid table) must return the identical top-k as
    the in-memory ivf_topk, with the probe scan partition-pruned to
    the probed lists."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qs = emb.where(F.col("vec_id") < 20)
    path = str(tmp_path / "ivf_index")
    S.write_ivf_index(emb, path, "vec_id", "embedding", n_centroids=8)

    got = S.ivf_topk_indexed(
        spark, path, qs, "vec_id", "embedding", k=3, nprobe=2
    )
    want = S.ivf_topk(
        emb, qs, "vec_id", "embedding", k=3, n_centroids=8, nprobe=2
    )
    assert got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    # the inverted-list scan is the one carrying vec_norm; its probed
    # centroid filter must be a PartitionFilter (file-listing prune)
    scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "vec_norm" in l
    ]
    assert scans, plan
    part = scans[0].split("PartitionFilters")[1]
    assert "centroid_id" in part.split("]")[0]


def test_kmeans_centroids_recover_separated_clusters(spark):
    """On three well-separated direction clusters, the trained
    quantizer aligns one centroid with each true direction (cosine
    > 0.99), and the triple plugs into ivf_topk unchanged."""
    import numpy as np

    rng = [
        # three orthogonal base directions with tiny deterministic jitter
        ([10.0, 0.1, 0.0, 0.0], 0),
        ([10.0, -0.1, 0.1, 0.0], 1),
        ([10.0, 0.0, -0.1, 0.1], 2),
        ([0.0, 10.0, 0.1, 0.0], 3),
        ([0.1, 10.0, 0.0, -0.1], 4),
        ([0.0, 10.0, -0.1, 0.1], 5),
        ([0.0, 0.1, 10.0, 0.0], 6),
        ([0.1, 0.0, 10.0, -0.1], 7),
        ([-0.1, 0.0, 10.0, 0.1], 8),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for v, i in rng],
        "vec_id long, embedding array<double>",
    )
    cids, cmat, cnorms = S.kmeans_centroids(
        df, "vec_id", "embedding", k=3, max_iters=4
    )
    assert cmat.shape == (3, 4) and np.isfinite(cmat).all()
    bases = np.eye(4)[:3] * 10.0
    used = set()
    for b in bases:
        cos = (cmat @ b) / (np.sqrt((cmat * cmat).sum(1)) * np.sqrt(b @ b))
        j = int(np.argmax(cos))
        assert cos[j] > 0.99 and j not in used
        used.add(j)

    out = S.ivf_topk(
        df, df.where(F.col("vec_id") < 2), "vec_id", "embedding",
        k=2, centroids=(cids, cmat, cnorms),
    )
    # neighbors of cluster-0 members come from cluster 0
    assert {r.neighbor_id for r in out.collect()} <= {0, 1, 2}


def test_quantize_embeddings_roundtrip_bounded_error(spark, sf_dir):
    """int8 codes carry per-element error <= scale/2, zero vectors
    stay zero, and top-1 neighbors on a well-separated set survive
    quantization."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].limit(200)
    q = S.quantize_embeddings(emb, "embedding")
    dq = S.dequantize_embeddings(q)
    err = dq.select(
        F.array_max(
            F.zip_with(
                F.col("embedding"),
                F.col("vec"),
                lambda a, b: F.abs(a.cast("double") - b),
            )
        ).alias("e"),
        (F.col("qscale") / 2.0 + F.lit(1e-12)).alias("bound"),
    )
    assert err.where(F.col("e") > F.col("bound")).count() == 0
    # codes are genuinely int8
    assert dict(q.dtypes)["qvec"] == "array<tinyint>"

    zero = spark.createDataFrame([(1, [0.0, 0.0])], ["vec_id", "embedding"])
    zr = S.dequantize_embeddings(
        S.quantize_embeddings(zero, "embedding")
    ).first()
    assert zr.qvec == [0, 0] and zr.vec == [0.0, 0.0]

    # separated clusters: the quantized corpus returns the same top-1
    sep = spark.createDataFrame(
        [
            (0, [10.0, 0.0, 0.1, 0.0]),
            (1, [10.0, 0.1, 0.0, 0.0]),
            (2, [0.0, 10.0, 0.0, 0.1]),
            (3, [0.1, 10.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    deq = S.dequantize_embeddings(
        S.quantize_embeddings(sep, "embedding")
    ).select("vec_id", F.col("vec").alias("embedding"))
    want = {
        r.query_id: r.neighbor_id
        for r in S.brute_force_topk(sep, sep, "vec_id", "embedding", k=1).collect()
    }
    got = {
        r.query_id: r.neighbor_id
        for r in S.brute_force_topk(deq, deq, "vec_id", "embedding", k=1).collect()
    }
    assert got == want == {0: 1, 1: 0, 2: 3, 3: 2}


def test_ivf_index_quantized_recall_and_pruning(spark, sf_dir, tmp_path):
    """write_ivf_index(quantize=True) stores int8 codes + per-vector
    scale (8x smaller lists); the quantized probe path dequantizes in
    the scorer and its results stay within the int8 reconstruction
    bound: matched pairs' scores differ by <= eps (the per-corpus
    cosine perturbation bound sqrt(d)*scale/||v||), any dropped
    neighbor is a near-tie within 2*eps of the kept set, recall@3 >=
    0.9, and the probed-list partition pruning is intact."""
    import math

    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qs = emb.where(F.col("vec_id") < 20)
    path = str(tmp_path / "ivf_q")
    S.write_ivf_index(emb, path, "vec_id", "embedding", n_centroids=8, quantize=True)

    lists = spark.read.parquet(S.index_data_dir(path, "lists"))
    assert dict(lists.dtypes)["qvec"] == "array<tinyint>"
    assert "vec" not in lists.columns  # floats are gone from storage

    got_df = S.ivf_topk_indexed(
        spark, path, qs, "vec_id", "embedding", k=3, nprobe=2, quantized=True
    )
    got = {(r.query_id, r.neighbor_id): r.score for r in got_df.collect()}
    want = {
        (r.query_id, r.neighbor_id): r.score
        for r in S.ivf_topk(
            emb, qs, "vec_id", "embedding", k=3, n_centroids=8, nprobe=2
        ).collect()
    }

    # eps: cosine perturbation bound from the quantizer —
    # ||dv|| <= scale/2 * sqrt(d), |d cos| <= 2||dv||/||v||
    dim = len(emb.first().embedding)
    eps = (
        S.quantize_embeddings(emb, "embedding")
        .select(
            (
                F.col("qscale")
                * F.lit(math.sqrt(dim))
                / F.sqrt(
                    F.aggregate(
                        F.col("embedding"),
                        F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x,
                    )
                )
            ).alias("e")
        )
        .agg(F.max("e"))
        .first()[0]
    ) + 1e-6  # rounding slack (scores round to 6 places)

    inter = set(got) & set(want)
    assert len(inter) / len(want) >= 0.9  # measured: 0.98 at sf0.001
    assert all(abs(got[p] - want[p]) <= eps for p in inter)
    # a neighbor the quantized path dropped must be a near-tie: its
    # float score sits within 2*eps of the lowest score it DID keep
    kept_min = {}
    for (q, _n), s in got.items():
        kept_min[q] = min(s, kept_min.get(q, float("inf")))
    for (q, n), s in want.items():
        if (q, n) not in got:
            assert s <= kept_min[q] + 2 * eps, (q, n, s, kept_min[q], eps)

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "qvec" in l
    ]
    assert scans, plan
    part = scans[0].split("PartitionFilters")[1]
    assert "centroid_id" in part.split("]")[0]


def test_pq_adc_identity_and_training(spark, sf_dir):
    """Product quantization: (a) ADC scores equal the cosine of the
    query against the reconstructed vector EXACTLY (the identity ADC
    is built on); (b) Lloyd training does not increase reconstruction
    MSE; (c) encoding is deterministic with tinyint codes of length m;
    (d) recall on the synthetic (near-random) embeddings beats chance
    by an order of magnitude."""
    import numpy as np

    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    n_corpus = emb.count()
    books = S.train_pq_codebooks(emb, "vec_id", "embedding", m=8, ksub=16, max_iters=5)
    assert books.shape == (8, 16, 8) and np.isfinite(books).all()

    codes_df = S.pq_encode(emb, "vec_id", "embedding", books)
    assert dict(codes_df.dtypes)["pq_codes"] == "array<tinyint>"
    codes = {r.pq_id: list(r.pq_codes) for r in codes_df.collect()}
    again = {r.pq_id: list(r.pq_codes) for r in S.pq_encode(emb, "vec_id", "embedding", books).collect()}
    assert codes == again  # deterministic
    assert all(len(c) == 8 for c in codes.values())

    qs = emb.where(F.col("vec_id") < 20)
    got = S.pq_topk(codes_df, qs, "vec_id", "embedding", books, k=5).collect()
    qvecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in qs.collect()}
    for r in got[:50]:  # ADC identity on a sample
        rec = S.pq_reconstruct(codes[r.neighbor_id], books)
        qv = qvecs[r.query_id]
        cos = float(qv @ rec / (np.linalg.norm(qv) * np.linalg.norm(rec)))
        assert abs(round(cos, 6) - r.score) <= 2e-6

    # recall beats chance (k/N ~ 0.01) by 10x even on random-ish data
    want = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, qs, "vec_id", "embedding", k=5).collect()
    }
    g = {(r.query_id, r.neighbor_id) for r in got}
    assert len(g & want) / len(want) >= 10 * 5.0 / n_corpus

    # Lloyd training helps: 5-iter MSE <= 1-iter MSE
    b1 = S.train_pq_codebooks(emb, "vec_id", "embedding", m=8, ksub=16, max_iters=1)
    vs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    c1 = {r.pq_id: list(r.pq_codes) for r in S.pq_encode(emb, "vec_id", "embedding", b1).collect()}

    def mse(cmap, bk):
        return float(
            np.mean([
                np.sum((vs[i] - S.pq_reconstruct(cmap[i], bk)) ** 2) for i in vs
            ])
        )

    assert mse(codes, books) <= mse(c1, b1) + 1e-9


def test_pq_topk_separated_clusters_exact(spark):
    """On well-separated direction clusters PQ recovers the exact
    nearest neighbors: subspace centroids align with the cluster
    directions, so ADC ranking matches brute force."""
    # dim 16, m=4 (dsub 4); clusters on distinct axes with jitter
    import numpy as np

    vecs = []
    for cl in range(4):
        for i in range(4):
            v = np.zeros(16)
            v[cl * 4] = 10.0
            v[(cl * 4 + 1 + i) % 16] = 0.1 * (i + 1)
            vecs.append((cl * 4 + i, [float(x) for x in v]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    books = S.train_pq_codebooks(df, "vec_id", "embedding", m=4, ksub=8, max_iters=4)
    codes = S.pq_encode(df, "vec_id", "embedding", books)
    qs = df.where(F.col("vec_id").isin(0, 4, 8, 12))
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in S.pq_topk(codes, qs, "vec_id", "embedding", books, k=2).collect()
    }
    # each query's top-2 stay inside its own cluster
    for (q, _rk), n in got.items():
        assert n // 4 == q // 4, (q, n)


def test_cap_per_group_oracle_and_properties(spark, sf_dir):
    """cap_per_group: exactly min(k, |group|) rows per group, subset
    of input, stable under repartitioning, and bit-identical to the
    DuckDB replay of the same salted-hash order."""
    from rialto_airflow_spark.operators import sampling as SA
    from rialto_airflow_spark.session import load_tables
    from tests.oracle_util import compare

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    out = SA.cap_per_group(docs, "doc_id", ["source"], k=5).select(
        "doc_id", "source"
    )
    rows = out.collect()

    sizes = {r["source"]: r["n"] for r in docs.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    got_sizes = {}
    for r in rows:
        got_sizes[r.source] = got_sizes.get(r.source, 0) + 1
    assert got_sizes == {s: min(5, n) for s, n in sizes.items()}

    # subset of input + stability under a different partitioning
    ids = {r.doc_id for r in rows}
    assert ids <= {r.doc_id for r in docs.select("doc_id").collect()}
    again = {
        r.doc_id
        for r in SA.cap_per_group(
            docs.repartition(3, "doc_id"), "doc_id", ["source"], k=5
        ).collect()
    }
    assert again == ids

    sql = """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST('0x' || substr(md5(doc_id::VARCHAR || '#cap'), 1, 8) AS BIGINT)
                        / 4294967296.0, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """
    compare(out, sql, str(sf_dir), "cap_per_group")


def test_ivf_pq_index_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    """IVF-PQ: lists persist as m tinyint codes + true norm (no float
    vectors); probing EVERY list reproduces exactly the full-corpus
    ADC ranking (IVF adds no error when nothing is pruned), and a
    1-probe query reads partition-pruned lists."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qs = emb.where(F.col("vec_id") < 10)
    books = S.train_pq_codebooks(emb, "vec_id", "embedding", m=8, ksub=16, max_iters=3)
    path = str(tmp_path / "ivf_pq")
    S.write_ivf_index(
        emb, path, "vec_id", "embedding", n_centroids=8, pq_codebooks=books
    )

    lists = spark.read.parquet(S.index_data_dir(path, "lists"))
    assert dict(lists.dtypes)["pq_codes"] == "array<tinyint>"
    assert "vec" not in lists.columns and "qvec" not in lists.columns

    # probe all 8 lists -> identical to full-corpus ADC
    got = S.ivf_pq_topk_indexed(
        spark, path, qs, "vec_id", "embedding", k=3, nprobe=8
    )
    codes = S.pq_encode(emb, "vec_id", "embedding", books)
    want = S.pq_topk(codes, qs, "vec_id", "embedding", books, k=3)
    assert got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0

    # single probe: pruned read, results a subset-shaped approximation
    one = S.ivf_pq_topk_indexed(
        spark, path, qs, "vec_id", "embedding", k=3, nprobe=1
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "pq_codes" in l
    ]
    assert scans, plan
    part = scans[0].split("PartitionFilters")[1]
    assert "centroid_id" in part.split("]")[0]
    assert one.count() > 0


def test_pq_topk_empty_queries(spark, sf_dir):
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].limit(20)
    books = S.train_pq_codebooks(emb, "vec_id", "embedding", m=8, ksub=4, max_iters=1)
    codes = S.pq_encode(emb, "vec_id", "embedding", books)
    out = S.pq_topk(
        codes, emb.where(F.col("vec_id") < 0), "vec_id", "embedding", books, k=3
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "rank", "neighbor_id", "score"]


def test_lsh_index_quantized_bounded_and_pruned(spark, sf_dir, tmp_path):
    """write_lsh_index(quantize=True): int8 storage, scores within the
    reconstruction eps of the float index on shared pairs, pruning
    intact — the LSH twin of the quantized IVF contract."""
    import math

    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    qs = emb.where(F.col("vec_id") < 20)
    path = str(tmp_path / "lsh_q")
    S.write_lsh_index(emb, path, "vec_id", "embedding", bits=8, quantize=True)
    idx = spark.read.parquet(S.index_data_dir(path, "buckets"))
    assert dict(idx.dtypes)["qvec"] == "array<tinyint>" and "vec" not in idx.columns

    got_df = S.lsh_topk_indexed(
        spark, path, qs, "vec_id", "embedding", k=3, bits=8, nprobe=2, quantized=True
    )
    got = {(r.query_id, r.neighbor_id): r.score for r in got_df.collect()}
    want = {
        (r.query_id, r.neighbor_id): r.score
        for r in S.lsh_topk(emb, qs, "vec_id", "embedding", k=3, bits=8, nprobe=2).collect()
    }
    dim = len(emb.first().embedding)
    eps = (
        S.quantize_embeddings(emb, "embedding")
        .select(
            (
                F.col("qscale") * F.lit(math.sqrt(dim))
                / F.sqrt(
                    F.aggregate(
                        F.col("embedding"), F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x,
                    )
                )
            ).alias("e")
        )
        .agg(F.max("e"))
        .first()[0]
    ) + 1e-6
    inter = set(got) & set(want)
    assert len(inter) / len(want) >= 0.9
    assert all(abs(got[p] - want[p]) <= eps for p in inter)

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    # the index scan is the one carrying qvec (plan Location strings
    # truncate at 100 chars, so matching the path is not reliable now
    # that versions nest under {path}/v.../buckets)
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "qvec" in l
    )
    assert "bucket" in scan.split("PartitionFilters")[1].split("]")[0]


def test_indexed_readers_autodetect_quantized(spark, sf_dir, tmp_path):
    """Reading a quantized index without passing quantized=True must
    auto-detect from the schema and return the same results."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].limit(100)
    qs = emb.where(F.col("vec_id") < 5)
    p1 = str(tmp_path / "lshq"); p2 = str(tmp_path / "ivfq")
    S.write_lsh_index(emb, p1, "vec_id", "embedding", bits=8, quantize=True)
    S.write_ivf_index(emb, p2, "vec_id", "embedding", n_centroids=4, quantize=True)
    a = S.lsh_topk_indexed(spark, p1, qs, "vec_id", "embedding", k=3, bits=8)
    b = S.lsh_topk_indexed(spark, p1, qs, "vec_id", "embedding", k=3, bits=8, quantized=True)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0
    c = S.ivf_topk_indexed(spark, p2, qs, "vec_id", "embedding", k=3)
    d = S.ivf_topk_indexed(spark, p2, qs, "vec_id", "embedding", k=3, quantized=True)
    assert c.exceptAll(d).unionAll(d.exceptAll(c)).count() == 0


def test_append_ivf_index_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Building an index on half the corpus then appending the other
    half must answer probes identically to an index built on the full
    corpus with the SAME centroids (append assigns under the persisted
    quantizer, exactly like FAISS add())."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    qs = emb.where(F.col("vec_id") < 10)

    # the incremental index: build on half, append the rest
    inc = str(tmp_path / "ivf_inc")
    S.write_ivf_index(first, inc, "vec_id", "embedding", n_centroids=8)
    S.append_ivf_index(second, inc, "vec_id", "embedding")

    # the oracle: one build over everything, pinned to the SAME
    # centroids the incremental index persisted (first-half lowest ids)
    cents = S._pick_centroids(first, "vec_id", "embedding", 8)
    full = str(tmp_path / "ivf_full")
    S.write_ivf_index(emb, full, "vec_id", "embedding", centroids=cents)

    a = S.ivf_topk_indexed(spark, inc, qs, "vec_id", "embedding", k=3, nprobe=2)
    b = S.ivf_topk_indexed(spark, full, qs, "vec_id", "embedding", k=3, nprobe=2)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0
    # appended rows really landed in the partitioned layout
    n = spark.read.parquet(S.index_data_dir(inc, "lists")).count()
    assert n == emb.count()


def test_append_ivf_index_matches_existing_format(spark, sf_dir, tmp_path):
    """Appending to an int8 or PQ index re-encodes the batch in the
    index's own format — schemas never mix, and probes over the
    combined index equal a full build with the same quantizer state."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    qs = emb.where(F.col("vec_id") < 6)
    cents = S._pick_centroids(first, "vec_id", "embedding", 8)

    # int8 variant
    inc = str(tmp_path / "q_inc"); full = str(tmp_path / "q_full")
    S.write_ivf_index(first, inc, "vec_id", "embedding", centroids=cents, quantize=True)
    S.append_ivf_index(second, inc, "vec_id", "embedding")
    lists = spark.read.parquet(S.index_data_dir(inc, "lists"))
    assert dict(lists.dtypes)["qvec"] == "array<tinyint>" and "vec" not in lists.columns
    assert lists.count() == emb.count()
    S.write_ivf_index(emb, full, "vec_id", "embedding", centroids=cents, quantize=True)
    a = S.ivf_topk_indexed(spark, inc, qs, "vec_id", "embedding", k=3, nprobe=2)
    b = S.ivf_topk_indexed(spark, full, qs, "vec_id", "embedding", k=3, nprobe=2)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0

    # PQ variant
    books = S.train_pq_codebooks(first, "vec_id", "embedding", m=8, ksub=8, max_iters=2)
    pinc = str(tmp_path / "pq_inc"); pfull = str(tmp_path / "pq_full")
    S.write_ivf_index(first, pinc, "vec_id", "embedding", centroids=cents, pq_codebooks=books)
    S.append_ivf_index(second, pinc, "vec_id", "embedding")
    plists = spark.read.parquet(S.index_data_dir(pinc, "lists"))
    assert dict(plists.dtypes)["pq_codes"] == "array<tinyint>"
    assert plists.count() == emb.count()
    S.write_ivf_index(emb, pfull, "vec_id", "embedding", centroids=cents, pq_codebooks=books)
    c = S.ivf_pq_topk_indexed(spark, pinc, qs, "vec_id", "embedding", k=3, nprobe=8)
    d = S.ivf_pq_topk_indexed(spark, pfull, qs, "vec_id", "embedding", k=3, nprobe=8)
    assert c.exceptAll(d).unionAll(d.exceptAll(c)).count() == 0


def test_compact_ivf_index_dedupes_and_survives_append_race(
    spark, sf_dir, tmp_path
):
    """IVF compaction (round 9, the compact_minhash_index story on
    the ANN side): duplicate appended vectors collapse, probes are
    unchanged, centroids/format carry over — and an append injected
    between the compactor's list read and its commit conflicts the
    CAS, forcing a re-read that keeps the appended vectors."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    qs = emb.where(F.col("vec_id") < 10)

    p = str(tmp_path / "ivf")
    S.write_ivf_index(first, p, "vec_id", "embedding", n_centroids=8)
    S.append_ivf_index(second, p, "vec_id", "embedding")
    S.append_ivf_index(second, p, "vec_id", "embedding")  # redelivery
    lists = spark.read.parquet(S.index_data_dir(p, "lists"))
    assert lists.count() > emb.count()  # duplicates really exist

    want = S.ivf_topk_indexed(
        spark, p, qs, "vec_id", "embedding", k=3, nprobe=2
    ).collect()
    # probe-side dedup (round-9 fix): duplicate index rows must not
    # occupy multiple rank slots — every (query, neighbor) appears
    # once even while the lists still hold duplicates
    seen = {}
    for r in want:
        key = (r["query_id"], r["neighbor_id"])
        assert key not in seen, f"duplicate neighbor in top-k: {key}"
        seen[key] = r["rank"]
    S.compact_ivf_index(spark, p)
    store = S._index_store(p)
    assert store.current()["compacted"] is True
    assert store.current()["n_centroids"] == 8  # payload carried
    lists2 = spark.read.parquet(S.index_data_dir(p, "lists"))
    assert lists2.count() == emb.count()
    got = S.ivf_topk_indexed(
        spark, p, qs, "vec_id", "embedding", k=3, nprobe=2
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # the race: an append lands inside the compaction window
    extra = emb.where(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 700_000).alias("vec_id"), "embedding"
    )
    fired = {"n": 0}

    def inject():
        if fired["n"] == 0:
            fired["n"] += 1
            S.append_ivf_index(extra, p, "vec_id", "embedding")

    S.compact_ivf_index(spark, p, _after_read=inject)
    assert fired["n"] == 1
    lists3 = spark.read.parquet(S.index_data_dir(p, "lists"))
    assert lists3.count() == emb.count() + 4  # nothing lost
    ids = {r["neighbor_id"] for r in lists3.select("neighbor_id").collect()}
    assert {700_000, 700_001, 700_002, 700_003} <= ids


def test_range_join_fixture_boundaries(spark):
    """Containment is inclusive on both ends; intervals spanning
    multiple buckets still match exactly once; zero-length intervals
    match their instant; non-overlapping rows drop."""
    left = spark.createDataFrame(
        [
            (1, 7, _ts(10)),     # inside w1
            (2, 7, _ts(0)),      # == w1 start (inclusive)
            (3, 7, _ts(20)),     # == w1 end (inclusive)
            (4, 7, _ts(21)),     # past w1
            (5, 7, _ts(40)),     # inside long w2 (spans many buckets)
            (6, 8, _ts(10)),     # other key, no windows
            (7, 7, _ts(30)),     # == zero-length w3 instant
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (7, "w1", _ts(0), _ts(20)),
            (7, "w2", _ts(35), _ts(59)),
            (7, "w3", _ts(30), _ts(30)),
        ],
        ["user_id", "win", "w_start", "w_end"],
    )
    out = E.range_join(
        left, right, "user_id", "ts", "w_start", "w_end", bucket_seconds=120
    )
    got = sorted((r.event_id, r.win) for r in out.collect())
    assert got == [(1, "w1"), (2, "w1"), (3, "w1"), (5, "w2"), (7, "w3")]


def test_range_join_matches_bruteforce_on_sessions(spark, sf_dir):
    """Purchases range-joined to session windows equal the O(n*m)
    per-key brute-force model — every purchase lands back inside a
    session window of its own user (windows from session_stats)."""
    from rialto_airflow_spark.session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    wins = E.session_stats(ev, "user_id", "ts", 1800).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = E.range_join(
        purch, wins, "user_id", "ts", "session_start", "session_end",
        bucket_seconds=900,
    )
    got = {(r.event_id, r.session_seq) for r in out.collect()}

    wrows = {}
    for r in wins.collect():
        wrows.setdefault(r.user_id, []).append(r)
    want = set()
    for p in purch.collect():
        for w in wrows.get(p.user_id, []):
            if w.session_start <= p.ts <= w.session_end:
                want.add((p.event_id, w.session_seq))
    assert got == want and len(got) > 0


# ---------------------------------------------------------------- DSIR


def _dsir_model(spark, raw_rows, target_rows, n_buckets=64, smoothing=1.0):
    """Pure-Python DSIR model. Bucket ids come from Spark itself (the
    one thing Python can't replicate is xxhash64), so the model checks
    the probability/smoothing/log-ratio ARITHMETIC independently."""
    import math

    def buckets_of(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: list(r["b"])
            for r in df.select(
                "doc_id", SA._gram_buckets("text", n_buckets).alias("b")
            ).collect()
        }

    raw_b, tgt_b = buckets_of(raw_rows), buckets_of(target_rows)

    def probs(per_doc):
        counts = [smoothing] * n_buckets
        for bs in per_doc.values():
            for b in bs:
                counts[b] += 1
        tot = sum(counts)
        return [c / tot for c in counts]

    p, q = probs(tgt_b), probs(raw_b)
    return {
        i: sum(math.log(p[b] / q[b]) for b in bs) for i, bs in raw_b.items()
    }


def test_dsir_weights_match_model(spark):
    raw = [
        (1, "cat dog cat dog pets are great"),
        (2, "stock market trading volume rises"),
        (3, "dog cat dog cat animals"),
        (4, "bond yields fall as trading slows"),
    ]
    target = [(10, "cat dog pets"), (11, "dog cat animals are great")]
    raw_df = spark.createDataFrame(raw, "doc_id long, text string")
    tgt_df = spark.createDataFrame(target, "doc_id long, text string")
    got = {
        r["doc_id"]: r["dsir_logw"]
        for r in SA.dsir_weights(raw_df, tgt_df, n_buckets=64).collect()
    }
    want = _dsir_model(spark, raw, target, n_buckets=64)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9, i
    # pet docs must outscore finance docs against a pet target
    assert min(got[1], got[3]) > max(got[2], got[4])


def test_dsir_identical_corpora_is_zero(spark):
    rows = [(i, f"some text number {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = SA.dsir_weights(df, df, n_buckets=128).collect()
    assert all(abs(r["dsir_logw"]) < 1e-9 for r in out)


def test_dsir_select_deterministic_topk(spark):
    rows = [(i, "cat dog" if i % 2 else "stock market") for i in range(40)]
    raw_df = spark.createDataFrame(rows, "doc_id long, text string")
    tgt_df = spark.createDataFrame([(0, "cat dog cat")], "doc_id long, text string")
    scored = SA.dsir_weights(raw_df, tgt_df, n_buckets=256)
    a = sorted(r["doc_id"] for r in SA.dsir_select(scored, "doc_id", 10).collect())
    b = sorted(
        r["doc_id"]
        for r in SA.dsir_select(scored.repartition(7), "doc_id", 10).collect()
    )
    assert a == b and len(a) == 10
    # overwhelming majority of the selection should be target-like docs
    assert sum(1 for i in a if i % 2) >= 8


# ------------------------------------------------------------- rolling


def test_rolling_agg_oracle(spark, sf_dir):
    """Trailing-window aggregates vs DuckDB's identical RANGE frame."""
    import duckdb

    from rialto_airflow_spark.session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    got = sorted(
        (r["event_id"], r["roll_n"], r["roll_sum"], r["roll_mean"])
        for r in E.rolling_agg(
            ev, "user_id", "ts", "value", window_seconds=3600
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            f"""
            SELECT event_id,
                   count(*) OVER w AS roll_n,
                   round(sum(value) OVER w, 6) AS roll_sum,
                   round(avg(value) OVER w, 6) AS roll_mean
            FROM read_parquet('{sf_dir}/events.parquet')
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_rolling_agg_window_semantics(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0),
        (2, t0 + datetime.timedelta(seconds=30), 20.0),
        (3, t0 + datetime.timedelta(seconds=61), 40.0),  # first falls out
    ]
    df = spark.createDataFrame(
        [(i, ts, v, 1) for i, ts, v in rows], "id long, ts timestamp, value double, u int"
    )
    got = {
        r["id"]: (r["roll_n"], r["roll_sum"])
        for r in E.rolling_agg(df, "u", "ts", "value", window_seconds=60).collect()
    }
    assert got[1] == (1, 10.0)
    assert got[2] == (2, 30.0)
    assert got[3] == (2, 60.0)  # rows at t+1..t+61: events 2 and 3


# ---------------------------------------------------------------- SCD2


def test_scd2_join_versions_and_gaps(spark):
    import datetime

    def d(day):
        return datetime.datetime(2024, 1, day)

    dim = spark.createDataFrame(
        [
            (1, d(1), d(10), "bronze"),
            (1, d(10), d(20), "silver"),
            (1, d(20), None, "gold"),     # current version, open-ended
            (2, d(5), d(8), "trial"),      # expires; gap after day 8
        ],
        "cust long, valid_from timestamp, valid_to timestamp, tier string",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, d(1)),    # boundary: valid_from inclusive
            (101, 1, d(9)),    # bronze
            (102, 1, d(10)),   # boundary: new version starts
            (103, 1, d(25)),   # open-ended current
            (104, 2, d(6)),    # trial
            (105, 2, d(9)),    # in the GAP -> no valid version
            (106, 2, d(4)),    # before any version
        ],
        "fact_id long, cust long, ts timestamp",
    )
    got = {
        r["fact_id"]: (r["tier"], r["version_start"])
        for r in E.scd2_join(facts, dim, "cust", "ts").collect()
    }
    assert got[100] == ("bronze", d(1))
    assert got[101] == ("bronze", d(1))
    assert got[102] == ("silver", d(10))
    assert got[103] == ("gold", d(20))
    assert got[104] == ("trial", d(5))
    assert got[105] == (None, None)  # expired, not carried from older
    assert got[106] == (None, None)


def test_scd2_join_matches_range_join_on_closed_intervals(spark, sf_dir):
    """On a closed-interval SCD history the as-of factorization must
    agree with the bucketized interval join."""
    import datetime

    from rialto_airflow_spark.session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"].select(
        "event_id", "user_id", "ts"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo).total_seconds()
    # three consecutive versions per user covering the span
    bounds = [lo + datetime.timedelta(seconds=span * f) for f in (0, 0.33, 0.66, 1.01)]
    users = ev.select("user_id").distinct()
    vers = None
    for i in range(3):
        v = users.select(
            "user_id",
            F.lit(bounds[i]).alias("valid_from"),
            F.lit(bounds[i + 1]).alias("valid_to"),
            F.lit(f"v{i}").alias("tag"),
        )
        vers = v if vers is None else vers.unionByName(v)
    got = E.scd2_join(ev, vers, "user_id", "ts").select(
        "event_id", "tag"
    )
    want = E.range_join(
        ev,
        vers.withColumn(
            "valid_to_incl", F.col("valid_to") - F.expr("INTERVAL 1 second")
        ).select("user_id", "valid_from", "valid_to_incl", "tag"),
        "user_id",
        "ts",
        "valid_from",
        "valid_to_incl",
        bucket_seconds=int(span / 3) + 1,
    ).select("event_id", "tag")
    # scd2 emits every fact (left join); range_join emits matches only
    matched = got.where(F.col("tag").isNotNull())
    assert matched.count() == want.count()
    assert matched.exceptAll(want).unionAll(want.exceptAll(matched)).count() == 0


def test_semantic_dedup_injected_centroids_match_model(spark):
    """SemDeDup on two well-separated direction clusters with planted
    near-dup groups, against a pure-Python model (nearest-centroid
    assign -> within-cluster cosine pairs -> union-find -> keep min
    id). Injected centroids make the run fully deterministic."""
    import numpy as np

    from rialto_airflow_spark.operators.dedup import semantic_dedup

    vecs = {
        # cluster A (x-direction): 1,2 near-identical; 3 distinct
        1: [10.0, 0.0, 0.1, 0.0],
        2: [10.0, 0.0, 0.11, 0.0],
        3: [10.0, 3.0, 0.0, 0.0],
        # cluster B (y-direction): 4,5,6 a chained dup group; 7 distinct
        4: [0.0, 10.0, 0.0, 0.1],
        5: [0.0, 10.0, 0.0, 0.12],
        6: [0.0, 10.0, 0.01, 0.13],
        7: [0.0, 10.0, 3.0, 0.0],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    cmat = np.array([[1.0, 0, 0, 0], [0, 1.0, 0, 0]])
    cents = (
        np.arange(2, dtype=np.int64),
        cmat,
        np.sqrt((cmat * cmat).sum(1)),
    )
    thr = 0.999
    out = {
        r["vec_id"]: (r["centroid_id"], r["keep"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=thr, centroids=cents
        ).collect()
    }

    # pure-Python model
    ids = sorted(vecs)
    V = {i: np.asarray(vecs[i]) for i in ids}
    assign = {
        i: int(np.argmax((cmat @ V[i]) / np.linalg.norm(V[i]))) for i in ids
    }
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in ids:
        for b in ids:
            if a < b and assign[a] == assign[b]:
                cos = V[a] @ V[b] / (
                    np.linalg.norm(V[a]) * np.linalg.norm(V[b])
                )
                if cos >= thr:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    want = {
        i: (assign[i], find(i) == i) for i in ids
    }
    assert out == want
    # sanity on the planted structure: one survivor per dup group
    assert out[1][1] and not out[2][1]
    assert out[4][1] and not out[5][1] and not out[6][1]
    assert out[3][1] and out[7][1]


def test_semantic_dedup_trains_quantizer_when_absent(spark, sf_dir):
    """Without injected centroids the operator trains k-means itself;
    flags must cover every row exactly once and survivors must form a
    maximal independent prefix (every dropped row has a kept
    representative with smaller id in the same duplicate group)."""
    from rialto_airflow_spark.operators.dedup import semantic_dedup
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].limit(150)
    dup = emb.where(F.col("vec_id") < 15).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    corpus = emb.unionByName(dup)
    out = semantic_dedup(
        corpus, "vec_id", "embedding", threshold=0.9999, k=4, max_iters=2
    )
    rows = out.collect()
    assert len(rows) == corpus.count()
    kept = {r["vec_id"] for r in rows if r["keep"]}
    # every planted twin pair loses exactly its high-id copy (identical
    # vectors always share a cluster and have cosine 1)
    for i in range(15):
        assert i in kept and (i + 10_000) not in kept


def test_semantic_dedup_default_k_scales_with_corpus(spark, sf_dir):
    """Round-6 task #3: with no explicit k, the operator derives
    k = max(8, n // target_cluster_size) from the corpus — the
    linear-pair-work scale contract. Observable: the trained
    quantizer's distinct centroid count is bounded by that k, exceeds
    the old fixed 8 when the corpus demands it, and the parity
    behavior (twins dropped, uniques kept) holds under the default."""
    from rialto_airflow_spark.operators.dedup import semantic_dedup
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].limit(200)
    dup = emb.where(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    corpus = emb.unionByName(dup)  # n = 210
    out = semantic_dedup(
        corpus,
        "vec_id",
        "embedding",
        threshold=0.9999,
        max_iters=1,
        target_cluster_size=10,  # → k = max(8, 210 // 10) = 21
    )
    rows = out.collect()
    assert len(rows) == 210
    n_cent = len({r["centroid_id"] for r in rows})
    # more clusters than the old fixed default, bounded by derived k
    assert 8 < n_cent <= 21, n_cent
    kept = {r["vec_id"] for r in rows if r["keep"]}
    for i in range(10):
        assert i in kept and (i + 10_000) not in kept
    # tiny-corpus floor: k clamps to the row count, never crashes
    tiny = emb.limit(3)
    assert semantic_dedup(
        tiny, "vec_id", "embedding", max_iters=1
    ).count() == 3


def _py_mmr(cands, k, lam):
    """Greedy MMR model: cands = [(id, rel, vec)]; ties by (-rel, id)."""
    import numpy as np

    order = sorted(cands, key=lambda c: (-c[1], c[0]))
    vecs = [np.asarray(c[2], dtype=float) for c in order]
    unit = []
    for v in vecs:
        n = np.linalg.norm(v)
        unit.append(v / n if n > 0 else v * 0.0)
    sel, out = [], []
    for r in range(min(k, len(order))):
        best, best_s = None, None
        for i in range(len(order)):
            if i in sel:
                continue
            pen = max((unit[i] @ unit[j] for j in sel), default=0.0)
            s = lam * order[i][1] - (0.0 if not sel else (1 - lam) * pen)
            if best is None or s > best_s + 1e-12:
                best, best_s = i, s
        sel.append(best)
        out.append((order[best][0], r + 1, round(best_s, 6)))
    return out


def test_mmr_rerank_matches_model_and_diversifies(spark):
    """Two queries: one with a near-duplicate pair at the top (MMR
    must demote the twin below a diverse lower-scored candidate), one
    with orthogonal candidates (MMR must preserve relevance order)."""
    rows = [
        # q1: ids 1,2 near-identical high-rel; 3 orthogonal mid-rel
        (1, 1, [1.0, 0.0, 0.0], 0.99),
        (1, 2, [1.0, 0.001, 0.0], 0.98),
        (1, 3, [0.0, 1.0, 0.0], 0.60),
        (1, 4, [0.0, 0.0, 1.0], 0.40),
        # q2: all orthogonal
        (2, 5, [1.0, 0.0, 0.0], 0.9),
        (2, 6, [0.0, 1.0, 0.0], 0.8),
        (2, 7, [0.0, 0.0, 1.0], 0.7),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, vec array<double>, score double"
    )
    got = {
        (r["query_id"], r["mmr_rank"]): (r["neighbor_id"], r["mmr_score"])
        for r in S.mmr_rerank(df, k=3, lam=0.5).collect()
    }
    for q in (1, 2):
        cands = [(i, s, v) for (qq, i, v, s) in rows if qq == q]
        for nid, rank, score in _py_mmr(cands, k=3, lam=0.5):
            assert got[(q, rank)] == (nid, score), (q, rank)
    # the diversity claim itself: q1 rank-2 is the orthogonal doc 3,
    # not the near-twin 2; q2 keeps pure relevance order
    assert got[(1, 1)][0] == 1 and got[(1, 2)][0] == 3
    assert [got[(2, r)][0] for r in (1, 2, 3)] == [5, 6, 7]


def test_mmr_rerank_on_ann_shortlist(spark, sf_dir):
    """End-to-end composition: brute-force shortlist -> join vectors
    -> MMR. Every query gets exactly k rows, rank-1 equals the
    shortlist's top hit, and no candidate appears twice."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].limit(300)
    qs = emb.where(F.col("vec_id") < 5)
    short = S.brute_force_topk(emb, qs, "vec_id", "embedding", k=20)
    cands = short.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("vec"),
        ),
        "neighbor_id",
    )
    out = S.mmr_rerank(cands, k=5, lam=0.7).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in short.where(F.col("rank") == 1).collect()
    }
    for q, rows_ in by_q.items():
        assert len(rows_) == 5
        ids = [r["neighbor_id"] for r in sorted(rows_, key=lambda r: r["mmr_rank"])]
        assert len(set(ids)) == 5
        assert ids[0] == top1[q]  # first pick is pure relevance


def test_zero_norm_vectors_never_link_as_duplicates(spark):
    """Review regression: a zero embedding has NaN cosine to
    everything, and Spark orders NaN above every number — without the
    norm filter, NaN >= threshold silently chains zero vectors to
    their whole block. Both the blocked-pair primitive and SemDeDup
    must keep zero vectors out of the pair stage (flagged keep=true,
    linked to nothing)."""
    import numpy as np

    from rialto_airflow_spark.operators.dedup import (
        embedding_near_dups,
        semantic_dedup,
    )

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 0.0], 0),  # zero vector, same block
        (3, [0.0, 0.0, 0.0], 0),  # second zero vector
        (4, [0.9999, 0.01, 0.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, block int"
    )
    pairs = embedding_near_dups(
        df, "vec_id", "embedding", "block", threshold=0.95
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 4)}

    cmat = np.eye(2, 3)
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            df.select("vec_id", "embedding"),
            "vec_id",
            "embedding",
            threshold=0.95,
            centroids=(np.arange(2), cmat, np.sqrt((cmat * cmat).sum(1))),
        ).collect()
    }
    assert out == {1: True, 2: True, 3: True, 4: False}


def test_mmr_rerank_drops_null_vectors(spark):
    """Review regression: a candidate whose vector join missed must
    shorten the shortlist, not crash the stage."""
    df = spark.createDataFrame(
        [
            (1, 10, [1.0, 0.0], 0.9),
            (1, 11, None, 0.8),
            (1, 12, [0.0, 1.0], 0.7),
        ],
        "query_id long, neighbor_id long, vec array<double>, score double",
    )
    got = [
        r["neighbor_id"]
        for r in sorted(
            S.mmr_rerank(df, k=3, lam=0.5).collect(),
            key=lambda r: r["mmr_rank"],
        )
    ]
    assert got == [10, 12]


def test_ann_recall_measures_ivf_against_brute_force(spark, sf_dir):
    """ann_recall composed over the real index pair: probe-all IVF
    must reach recall 1.0 against brute force; a planted
    partial-overlap fixture yields the exact fractional recall."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].limit(200)
    qs = emb.where(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, qs, "vec_id", "embedding", k=5)
    approx = S.ivf_topk(
        emb, qs, "vec_id", "embedding", k=5, n_centroids=4, nprobe=4
    )
    rec = S.ann_recall(approx, exact)
    rows = rec.collect()
    assert len(rows) == 5
    assert all(r["recall"] == 1.0 and r["n_exact"] == 5 for r in rows)

    # fixture: approx finds 2 of 4 exact neighbors for q1, none for q2
    exact_f = spark.createDataFrame(
        [(1, i) for i in (10, 11, 12, 13)] + [(2, j) for j in (20, 21)],
        "query_id long, neighbor_id long",
    )
    approx_f = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99)], "query_id long, neighbor_id long"
    )
    got = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in S.ann_recall(approx_f, exact_f).collect()
    }
    assert got[1] == (4, 2, 0.5)
    assert got[2] == (2, 0, 0.0)  # missed query still reported


def test_ann_recall_requires_rank_for_k_truncation(spark):
    """k without a rank column on BOTH sides must raise — silently
    skipping the truncation would report recall at a different k
    than requested (round-5 advice)."""
    import pytest

    ranked = spark.createDataFrame(
        [(1, 10, 1)], "query_id long, neighbor_id long, rank int"
    )
    unranked = spark.createDataFrame(
        [(1, 10)], "query_id long, neighbor_id long"
    )
    with pytest.raises(ValueError, match="exact lack"):
        S.ann_recall(ranked, unranked, k=3)
    with pytest.raises(ValueError, match="approx"):
        S.ann_recall(unranked, ranked, k=3)
    # both ranked: truncation applies
    assert S.ann_recall(ranked, ranked, k=1).collect()[0]["recall"] == 1.0
    # no k: rank-free sides are fine
    assert S.ann_recall(unranked, unranked).count() == 1


def test_mmr_rerank_rejects_non_integral_ids(spark):
    """String ids would silently cast to NULL longs, collapsing every
    query group into one — TypeError up front instead."""
    import pytest

    df = spark.createDataFrame(
        [("q1", "n1", [1.0, 0.0], 0.9)],
        "query_id string, neighbor_id string, vec array<double>, score double",
    )
    with pytest.raises(TypeError, match="integral id"):
        S.mmr_rerank(df)


def test_release_on_gc_unpersists_cached_prefix(spark):
    """Registry queries persist expensive prefixes; release_on_gc must
    evict them when the RESULT is garbage-collected (a try/finally
    would evict before the driver ever collects), so caches don't
    accumulate across registry runs in a long-lived session."""
    import gc

    from pyspark.sql import functions as F

    from rialto_airflow_spark.functions.perf import release_on_gc

    cached = spark.range(100).withColumn("v", F.col("id") * 2).persist()
    result = release_on_gc(cached.groupBy().sum("v"), cached)
    assert result.collect()[0][0] == 9900
    assert cached.storageLevel.useMemory  # still cached while alive
    del result
    gc.collect()
    assert not cached.storageLevel.useMemory  # evicted after GC


def test_hold_alive_chains_cache_lifetime_to_derived_plan(spark):
    """The q49 shape (round-8 ADVICE #4): a registry function derives
    a LAZY plan from a release_on_gc-wrapped intermediate and returns
    only the derivation. Without hold_alive the intermediate dies at
    function return and its cache evicts BEFORE the driver collects;
    with it, eviction waits for the derived plan itself to drop."""
    import gc

    from pyspark.sql import functions as F

    from rialto_airflow_spark.functions.perf import hold_alive, release_on_gc

    def registry_query():
        cached = spark.range(100).withColumn("v", F.col("id") * 2).persist()
        wrapped = release_on_gc(cached.where(F.col("v") % 4 == 0), cached)
        # lazy derivation, wrapped local about to go out of scope
        return hold_alive(wrapped.groupBy().count(), wrapped), cached

    result, cached = registry_query()
    gc.collect()
    # the wrapped local died at return — but the cache must survive
    # because result holds it
    assert cached.storageLevel.useMemory
    assert result.collect()[0][0] == 50
    del result
    gc.collect()
    assert not cached.storageLevel.useMemory  # evicted with the plan


def test_mmr_rerank_negative_cosine_rewards_diversity(spark):
    """Regression (round-6): the diversity penalty must use the TRUE
    max similarity to the selected set — negative for anti-correlated
    candidates, which then score ABOVE pure relevance. A zeros-
    initialized running max silently floored the penalty at 0."""
    rows = [
        # rank 1 pick: id 1 (rel .9). Candidate 2 is ANTI-correlated
        # with it (cosine -1 => mmr = .5*.5 + .5*1 = .75), candidate 3
        # is orthogonal but higher-rel (mmr = .5*.6 = .30). With the
        # zero floor both would score lam*rel and 3 would win.
        (1, 1, [1.0, 0.0], 0.9),
        (1, 2, [-1.0, 0.0], 0.5),
        (1, 3, [0.0, 1.0], 0.6),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, vec array<double>, score double"
    )
    got = {
        r["mmr_rank"]: (r["neighbor_id"], r["mmr_score"])
        for r in S.mmr_rerank(df, k=3, lam=0.5).collect()
    }
    assert got[1] == (1, 0.45)
    assert got[2] == (2, 0.75)  # anti-correlated beats higher-rel orthogonal
    # python model agrees
    cands = [(i, s, v) for (_, i, v, s) in rows]
    assert [(nid, sc) for nid, _, sc in _py_mmr(cands, k=3, lam=0.5)] == [
        (got[r][0], got[r][1]) for r in (1, 2, 3)
    ]


def test_mine_hard_negatives_oracle_and_exclusions(spark, sf_dir):
    """Hard-negative mining (round 6): per labeled query, top-k by
    cosine excluding self AND labeled positives, replayed in DuckDB.
    The positive exclusion must apply BEFORE the top-k cut — a query
    whose nearest neighbor is its positive still gets k negatives."""
    from rialto_airflow_spark.session import load_tables
    from tests.oracle_util import compare

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # labels: queries 0..9; positives = each query's two successors
    positives = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.array(F.col("vec_id") + 1, F.col("vec_id") + 2)
        ).alias("positive_id"),
    )
    out = S.mine_hard_negatives(
        emb, positives, "vec_id", "embedding", k=4
    )
    sql = """
    WITH pos AS (
      SELECT vec_id AS query_id, vec_id + 1 AS positive_id FROM embeddings WHERE vec_id < 10
      UNION ALL
      SELECT vec_id, vec_id + 2 FROM embeddings WHERE vec_id < 10
    ),
    q AS (
      SELECT DISTINCT p.query_id, e.embedding AS qv
      FROM pos p JOIN embeddings e ON e.vec_id = p.query_id
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(sum(qv[d.i]::DOUBLE * c.embedding[d.i]::DOUBLE)
             / (sqrt(sum(qv[d.i]::DOUBLE * qv[d.i]::DOUBLE))
                * sqrt(sum(c.embedding[d.i]::DOUBLE * c.embedding[d.i]::DOUBLE))), 6) AS score
      FROM q JOIN embeddings c ON c.vec_id != q.query_id
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
      GROUP BY q.query_id, c.vec_id, qv, c.embedding
    ),
    neg AS (
      SELECT s.* FROM scored s
      WHERE NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.query_id = s.query_id
                          AND p.positive_id = s.neighbor_id)
    )
    SELECT query_id, rank, neighbor_id, score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
      FROM neg
    ) WHERE rank <= 4
    """
    compare(out, sql, sf_dir, "mine_hard_negatives")
    rows = out.collect()
    # structural guarantees: k rows per query, no self, no positives
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert r["neighbor_id"] != r["query_id"]
        assert r["neighbor_id"] not in (r["query_id"] + 1, r["query_id"] + 2)
    assert set(per_q) == set(range(10))
    assert all(len(v) == 4 for v in per_q.values())


def test_mine_hard_negatives_broadcasts_labels_not_corpus(spark, sf_dir):
    """Scale pin: both label-sized sides (queries, positive pairs)
    broadcast; the corpus is never hash-shuffled on its row id —
    the only Exchange is the per-query top-k window."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    positives = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") + 1).alias("positive_id"),
    )
    df = S.mine_hard_negatives(emb, positives, "vec_id", "embedding", k=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan  # queries + positives
    assert "hashpartitioning(neighbor_id" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_duckdb_replay_and_laws(spark, sf_dir):
    """Efraimidis–Spirakis draw replayed in DuckDB (same salted-md5
    uniform as hash_split, key = ln(u)/w, top-n), plus the structural
    laws: subset of input, stable under repartitioning, nonpositive
    and NULL weights excluded."""
    from rialto_airflow_spark.operators import sampling as SA
    from rialto_airflow_spark.session import load_tables
    from tests.oracle_util import compare

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", F.col("n_chars").cast("double").alias("w")
    )
    out = SA.weighted_sample(docs, "doc_id", "w", n=25, salt="wsample")
    sql = """
    SELECT doc_id, w FROM (
      SELECT doc_id, n_chars::DOUBLE AS w,
             ln(CAST('0x' || substr(md5(doc_id::VARCHAR || '#wsample'), 1, 8) AS BIGINT)
                / 4294967296.0) / n_chars::DOUBLE AS wkey
      FROM documents
      WHERE n_chars > 0
    ) ORDER BY wkey DESC, doc_id ASC LIMIT 25
    """
    compare(out, sql, sf_dir, "weighted_sample")

    # stability under repartitioning
    again = SA.weighted_sample(
        docs.repartition(5, "doc_id"), "doc_id", "w", n=25, salt="wsample"
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )

    # weight guards
    weird = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None)], "doc_id long, w double"
    )
    got = SA.weighted_sample(weird, "doc_id", "w", n=10).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_weighted_sample_prefers_heavy_rows(spark):
    """Statistical law over many salts: a row with 50x the weight of
    the others must be sampled far more often (A-ES inclusion is
    weight-proportional without replacement)."""
    from rialto_airflow_spark.operators import sampling as SA

    rows = [(i, 50.0 if i == 0 else 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    heavy_hits, light_hits = 0, 0
    for s in range(30):
        ids = {
            r["doc_id"]
            for r in SA.weighted_sample(df, "doc_id", "w", n=5, salt=f"s{s}").collect()
        }
        assert len(ids) == 5
        heavy_hits += 0 in ids
        light_hits += 1 in ids
    assert heavy_hits >= 25  # ~always in a top-5 of 40 at 50x weight
    assert light_hits <= heavy_hits - 10


def test_weighted_sample_per_group_stratified(spark, sf_dir):
    """group_cols: per-group top-n by the same key — stratified
    weighted sampling, n rows per group (fewer if the group is
    smaller), each group's draw equal to sampling it alone."""
    from rialto_airflow_spark.operators import sampling as SA
    from rialto_airflow_spark.session import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("w")
    )
    out = SA.weighted_sample(docs, "doc_id", "w", n=3, group_cols=["lang"])
    by_lang = {}
    for r in out.collect():
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    sizes = {
        r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()
    }
    assert set(by_lang) == set(sizes)
    for lang, ids in by_lang.items():
        assert len(ids) == min(3, sizes[lang])
        solo = {
            r["doc_id"]
            for r in SA.weighted_sample(
                docs.where(F.col("lang") == lang), "doc_id", "w", n=3
            ).collect()
        }
        assert ids == solo, lang


def test_ivf_drift_stats_flags_distribution_shift(spark, sf_dir, tmp_path):
    """Drift monitor (round 6): a same-distribution batch shows
    ~zero drift against the index's own fit; a shifted batch (vectors
    pushed toward a constant direction) fits the stored centroids
    measurably worse — the retrain signal append_ivf_index's
    docstring promises. Also pins the int8-list path and the PQ
    rejection."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    path = str(tmp_path / "ivf")
    S.write_ivf_index(emb, path, "vec_id", "embedding", n_centroids=8)

    same = S.ivf_drift_stats(emb, path, "vec_id", "embedding").collect()[0]
    assert abs(same["drift"]) < 1e-6  # identical data, identical fit
    assert same["n_index"] == same["n_batch"]

    shifted = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x.cast("double") * 0.1 + 5.0
        ).alias("embedding"),
    )
    moved = S.ivf_drift_stats(shifted, path, "vec_id", "embedding").collect()[0]
    # the all-positive shifted cloud clusters around the ones-vector;
    # old centroids fit it differently — drift magnitude is clearly
    # nonzero where the same-data drift was exactly zero
    assert abs(moved["drift"]) > 0.01, moved

    # int8 index: same-data drift stays ~zero within quantization error
    qpath = str(tmp_path / "ivfq")
    S.write_ivf_index(emb, qpath, "vec_id", "embedding", n_centroids=8, quantize=True)
    qsame = S.ivf_drift_stats(emb, qpath, "vec_id", "embedding").collect()[0]
    assert abs(qsame["drift"]) < 0.01

    import pytest

    from rialto_airflow_spark.operators.similarity import train_pq_codebooks

    cb = train_pq_codebooks(emb, "vec_id", "embedding", m=4, ksub=4, max_iters=1)
    ppath = str(tmp_path / "ivfpq")
    S.write_ivf_index(emb, ppath, "vec_id", "embedding", n_centroids=8, pq_codebooks=cb)
    with pytest.raises(ValueError, match="PQ"):
        S.ivf_drift_stats(emb, ppath, "vec_id", "embedding")


def test_mine_hard_negatives_excludes_zero_norm_vectors(spark):
    """Round-7 ADVICE #4 regression: a zero-norm corpus row used to
    score NaN against every query, and NaN sorts FIRST under
    score DESC — so the degenerate row became the rank-1 "hardest
    negative" for all queries. It must now be excluded before the
    window, and no NaN score may survive."""
    import math

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [0.0, 0.0]),  # zero-norm: must never appear
        ],
        "vec_id long, embedding array<double>",
    )
    positives = spark.createDataFrame(
        [(0, 1)], "query_id long, positive_id long"
    )
    rows = S.mine_hard_negatives(
        corpus, positives, "vec_id", "embedding", k=3
    ).collect()
    assert rows, "expected negatives for query 0"
    assert all(r["neighbor_id"] != 3 for r in rows), rows
    assert all(
        r["score"] is not None and not math.isnan(r["score"]) for r in rows
    ), rows
    # rank 1 is the true nearest non-positive (vec 2), not the NaN row
    top = next(r for r in rows if r["rank"] == 1)
    assert top["neighbor_id"] == 2, rows


def test_weighted_sample_u_zero_row_still_drawable(spark, monkeypatch):
    """Round-6 "wrong" #1 regression: hash_uniform can return exactly
    0 (p = 2^-32 per row); F.log(0) is NULL and NULLs sort out of
    EVERY draw — a silent permanent dropout. Plant u=0 on one row by
    patching hash_uniform; with overwhelming weight that row must
    still win a slot (old code: never sampled, at any weight)."""
    real = SA.hash_uniform

    def planted(col, salt=""):
        c = F.col(col) if isinstance(col, str) else col
        return F.when(c.cast("long") == 7, F.lit(0.0)).otherwise(
            real(col, salt)
        )

    monkeypatch.setattr(SA, "hash_uniform", planted)
    df = spark.createDataFrame(
        [(i, 1.0 if i != 7 else 1e12) for i in range(50)],
        "doc_id long, w double",
    )
    got = {r["doc_id"] for r in SA.weighted_sample(df, "doc_id", "w", n=5).collect()}
    assert 7 in got, got
    # and the stratified path shares the key expression
    df2 = df.withColumn("g", F.lit("a"))
    got2 = {
        r["doc_id"]
        for r in SA.weighted_sample(
            df2, "doc_id", "w", n=5, group_cols=["g"]
        ).collect()
    }
    assert 7 in got2, got2


def test_ivf_append_marker_cas_never_reverts_a_concurrent_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """IVF twin of the MinHash marker-CAS test (round-9 "What's
    wrong" #2): a rebuild committing between append_ivf_index's seq
    post-check and its marker commit must conflict the marker's CAS
    and surface the documented re-run error — never silently
    re-point the head at the superseded pre-rebuild version."""
    import pytest

    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_race")
    S.write_ivf_index(first, path, "vec_id", "embedding", n_centroids=4)

    real_store_fn = S._index_store
    fired = {"n": 0}

    class RebuildBetweenCheckAndMarker:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def commit(self, *a, **kw):
            extra = kw.get("extra") or {}
            if extra.get("appended") and fired["n"] == 0:
                fired["n"] += 1
                S.write_ivf_index(
                    first, path, "vec_id", "embedding", n_centroids=4
                )
            return self._inner.commit(*a, **kw)

    monkeypatch.setattr(
        S, "_index_store",
        lambda p: RebuildBetweenCheckAndMarker(real_store_fn(p)),
    )
    with pytest.raises(RuntimeError, match="re-run the append"):
        S.append_ivf_index(second, path, "vec_id", "embedding")
    assert fired["n"] == 1

    # head stayed on the rebuild's version — no appended marker on it
    monkeypatch.setattr(S, "_index_store", real_store_fn)
    assert "appended" not in (S._index_store(path).current() or {})

    # documented recovery: re-run the append, then probes cover the
    # full corpus
    S.append_ivf_index(second, path, "vec_id", "embedding")
    n = spark.read.parquet(S.index_data_dir(path, "lists")).count()
    assert n == emb.count()


def test_ivf_append_retries_past_a_sibling_append_marker(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A SIBLING append's marker landing between append_ivf_index's
    pointer post-check and its marker commit wins the seq but leaves
    the pointer where it was. The outer append must retry its marker
    CAS instead of raising, neither batch may be lost, and the head
    payload must keep describing the index."""
    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    first = emb.where(F.col("vec_id") % 3 == 0)
    outer = emb.where(F.col("vec_id") % 3 == 1)
    sibling = emb.where(F.col("vec_id") % 3 == 2)
    path = str(tmp_path / "ivf_sibling")
    S.write_ivf_index(first, path, "vec_id", "embedding", n_centroids=4)

    real_store_fn = S._index_store
    fired = {"n": 0}

    class SiblingAppendBeforeMarker:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def commit(self, *a, **kw):
            extra = kw.get("extra") or {}
            if extra.get("appended") and fired["n"] == 0:
                fired["n"] += 1
                # the sibling's marker lands after the outer append's
                # post-check passed, before its own marker commit
                S.append_ivf_index(sibling, path, "vec_id", "embedding")
            return self._inner.commit(*a, **kw)

    monkeypatch.setattr(
        S, "_index_store",
        lambda p: SiblingAppendBeforeMarker(real_store_fn(p)),
    )
    S.append_ivf_index(outer, path, "vec_id", "embedding")
    assert fired["n"] == 1
    monkeypatch.setattr(S, "_index_store", real_store_fn)

    lists = S._read_lists(spark, path)
    assert lists.count() == emb.count()
    assert {r["neighbor_id"] for r in lists.select("neighbor_id").collect()} == {
        r["vec_id"] for r in emb.select("vec_id").collect()
    }
    payload = S._index_store(path).current()
    assert payload["appended"] is True
    assert (payload["kind"], payload["n_centroids"], payload["format"]) == (
        "ivf", 4, "float",
    )


def test_ivf_dirty_compaction_rewrites_only_appended_lists(
    spark, sf_dir, tmp_path
):
    """Round-10 task #4 (IVF side): appends dirty a few centroid
    lists; compact_ivf_index_dirty rewrites only those and carries
    the rest via lists_manifest — probes through the manifest answer
    exactly like a full build, appends afterwards still land, and
    vacuum pins the referenced carrier."""
    import os

    from rialto_airflow_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 6))
    third = emb.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= 6))
    qs = emb.where(F.col("vec_id") < 10)
    cents = S._pick_centroids(first, "vec_id", "embedding", 8)

    path = str(tmp_path / "ivf")
    S.write_ivf_index(first, path, "vec_id", "embedding", centroids=cents)
    v0 = S._index_store(path).current_path()
    S.append_ivf_index(second, path, "vec_id", "embedding")

    vc = S.compact_ivf_index_dirty(spark, path, max_files=1)
    assert vc is not None
    payload = S._index_store(path).current()
    manifest = payload["lists_manifest"]
    rewrote = {k for k, bases in manifest.items() if bases == [vc]}
    carried = {k for k, bases in manifest.items() if bases == [v0]}
    assert rewrote and (rewrote | carried) == set(manifest)
    # the new version's lists dir holds ONLY the dirty centroids
    present = {
        d.split("=", 1)[1]
        for d in os.listdir(os.path.join(vc, "lists"))
        if d.startswith("centroid_id=")
    }
    assert present == rewrote

    # probe equivalence vs a full build pinned to the same centroids
    full = str(tmp_path / "ivf_full")
    S.write_ivf_index(
        first.unionByName(second), full, "vec_id", "embedding",
        centroids=cents,
    )
    a = S.ivf_topk_indexed(spark, path, qs, "vec_id", "embedding", k=3, nprobe=2)
    b = S.ivf_topk_indexed(spark, full, qs, "vec_id", "embedding", k=3, nprobe=2)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0

    # idempotent under the threshold
    assert S.compact_ivf_index_dirty(spark, path, max_files=1) is None

    # an append on the manifest head extends carrier lists and probes
    # see it
    S.append_ivf_index(third, path, "vec_id", "embedding")
    payload2 = S._index_store(path).current()
    assert any(len(bs) > 1 for bs in payload2["lists_manifest"].values())
    n = S._read_lists(spark, path).count()
    assert n == emb.count()

    # vacuum pins the carrier the manifest references
    removed = S.index_vacuum(path, keep=1)
    assert v0 not in removed and os.path.isdir(v0)
    a2 = S.ivf_topk_indexed(spark, path, qs, "vec_id", "embedding", k=3, nprobe=2)
    full2 = str(tmp_path / "ivf_full2")
    S.write_ivf_index(emb, full2, "vec_id", "embedding", centroids=cents)
    b2 = S.ivf_topk_indexed(spark, full2, qs, "vec_id", "embedding", k=3, nprobe=2)
    assert a2.exceptAll(b2).unionAll(b2.exceptAll(a2)).count() == 0

    # full compaction re-homes everything → next vacuum reclaims.
    # The demoted carrier's log entries were pruned while it was
    # pinned (log boundedness), so it reclaims via the ORPHAN path —
    # grace 0 here, the known-single-writer shortcut
    S.compact_ivf_index(spark, path)
    removed2 = S.index_vacuum(path, keep=1, orphan_grace_s=0)
    assert v0 in removed2 and vc in removed2
    a3 = S.ivf_topk_indexed(spark, path, qs, "vec_id", "embedding", k=3, nprobe=2)
    assert a3.exceptAll(b2).unionAll(b2.exceptAll(a3)).count() == 0


def test_training_order_deterministic_and_shard_stable(spark):
    """Shard assignment depends only on (id, seed) — stable under
    repartitioning AND under corpus append (new docs never move old
    docs' shards; the hash_split property). pos is a permutation of
    0..|shard|-1 per shard and is NOT ingest order."""
    docs = spark.range(500).withColumn("text", F.lit("x"))
    a = {
        r["id"]: (r["shard_id"], r["pos"])
        for r in SA.training_order(docs, "id", 16, seed="s").collect()
    }
    b = {
        r["id"]: (r["shard_id"], r["pos"])
        for r in SA.training_order(
            docs.repartition(13), "id", 16, seed="s"
        ).collect()
    }
    assert a == b
    # per-shard pos = dense permutation
    by_shard: dict[int, list[int]] = {}
    for sid, pos in a.values():
        by_shard.setdefault(sid, []).append(pos)
    for sid, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))
    # order within a shard is the salted-hash order, not id order
    some = max(by_shard, key=lambda s: len(by_shard[s]))
    ids_in_order = sorted(
        (v[1], k) for k, v in a.items() if v[0] == some
    )
    assert [k for _p, k in ids_in_order] != sorted(
        k for k, v in a.items() if v[0] == some
    )
    # append stability: grow the corpus; old ids keep their shard
    grown = spark.range(800).withColumn("text", F.lit("x"))
    g = {
        r["id"]: r["shard_id"]
        for r in SA.training_order(grown, "id", 16, seed="s").collect()
    }
    assert all(g[i] == a[i][0] for i in a)


def test_write_training_shards_layout_and_manifest(spark, tmp_path):
    """One shard_id=N dir per present shard, files sorted by pos
    within, manifest counts match disk, and a directory scan still
    works with the underscore-prefixed manifest file present."""
    import glob as _glob
    import json as _json
    import os as _os

    import pyarrow.parquet as _pq

    docs = spark.range(300).withColumn("text", F.lit("x")).withColumn(
        "n_tokens", (F.col("id") % 5 + 1).cast("int")
    )
    path = str(tmp_path / "shards")
    man = SA.write_training_shards(
        docs, path, "id", 8, seed="s", token_col="n_tokens"
    )
    assert man["rows"] == 300 and man["n_shards"] == 8
    # token-aware manifest: per-shard totals sum to the corpus total
    assert man["tokens"] == sum(
        r["s"] for r in docs.agg(F.sum("n_tokens").alias("s")).collect()
    )
    assert sum(man["shard_tokens"].values()) == man["tokens"]
    # totality: every shard id in range(n_shards) has an entry, even
    # zero-row shards (the loader iterates range(n_shards))
    assert sorted(man["shard_rows"]) == sorted(str(s) for s in range(8))
    assert sorted(man["shard_tokens"]) == sorted(str(s) for s in range(8))
    assert _os.path.exists(_os.path.join(path, "_shards_manifest.json"))
    on_disk = _json.load(open(_os.path.join(path, "_shards_manifest.json")))
    assert on_disk == man
    got = spark.read.parquet(path)  # manifest file ignored by the scan
    assert got.count() == 300
    per = {
        int(r["shard_id"]): int(r["n"])
        for r in got.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {int(k): v for k, v in man["shard_rows"].items()}
    # in-file pos order: the loader's replay contract
    for f in _glob.glob(path + "/shard_id=*/*.parquet"):
        ps = _pq.read_table(f, columns=["pos"]).column("pos").to_pylist()
        assert ps == sorted(ps)
    # tok_cum is the per-shard running token offset (seekable loaders)
    for sid, rows in (
        spark.read.parquet(path)
        .select("shard_id", "pos", "n_tokens", "tok_cum")
        .toPandas()
        .groupby("shard_id")
    ):
        rows = rows.sort_values("pos")
        assert list(rows["tok_cum"]) == list(rows["n_tokens"].cumsum())


def test_write_training_shards_footer_certification_no_spark_read(
    spark, tmp_path, monkeypatch
):
    """The default (footer) certification never re-reads the export
    through Spark: with DataFrameReader.parquet poisoned, the write +
    manifest still succeed, and the manifest equals the independent
    scan certification bit-for-bit — including multi-file shards
    (maxRecordsPerFile forces several files per shard, so the
    footer max-over-files/row-groups logic is exercised)."""
    import pyspark.sql.readwriter as _rw

    docs = spark.range(400).withColumn(
        "n_tokens", (F.col("id") % 7 + 1).cast("int")
    )
    p_footer = str(tmp_path / "footer")
    p_scan = str(tmp_path / "scan")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try:
        man_scan = SA.write_training_shards(
            docs, p_scan, "id", 8, seed="s", token_col="n_tokens",
            certify="scan",
        )
        orig = _rw.DataFrameReader.parquet

        def _boom(self, *a, **k):
            raise AssertionError("footer certification must not scan")

        monkeypatch.setattr(_rw.DataFrameReader, "parquet", _boom)
        try:
            man_footer = SA.write_training_shards(
                docs, p_footer, "id", 8, seed="s", token_col="n_tokens",
                certify="footer",
            )
        finally:
            monkeypatch.setattr(_rw.DataFrameReader, "parquet", orig)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert man_footer == man_scan
    # several files per shard actually landed (the option took effect)
    import glob as _glob

    some_shard = _glob.glob(p_footer + "/shard_id=*")[0]
    assert len(_glob.glob(some_shard + "/*.parquet")) > 1


def test_write_training_shards_zero_shards_explicit(spark, tmp_path):
    """A shard hashing to zero rows gets an explicit 0 manifest entry
    and no directory — the loader contract is total over
    range(n_shards) (round-10 ADVICE)."""
    import os as _os

    docs = spark.range(3).withColumn("n_tokens", F.lit(2).cast("int"))
    path = str(tmp_path / "sparse")
    man = SA.write_training_shards(
        docs, path, "id", 32, seed="s", token_col="n_tokens"
    )
    assert set(man["shard_rows"]) == {str(s) for s in range(32)}
    assert set(man["shard_tokens"]) == {str(s) for s in range(32)}
    assert man["rows"] == 3 and man["tokens"] == 6
    present_dirs = {
        int(d.split("=")[1])
        for d in _os.listdir(path)
        if d.startswith("shard_id=")
    }
    zero_ids = {int(s) for s, n in man["shard_rows"].items() if n == 0}
    assert zero_ids and zero_ids.isdisjoint(present_dirs)
    assert len(present_dirs) + len(zero_ids) == 32
