"""Persisted MinHash dedup index: batch equivalence vs the one-shot
operator, append semantics, partition pruning, and the streaming
ingest loop (accept → merge → index-append) with replay convergence.

The 100-TB contract under test: dedup of a NEW batch against corpus
HISTORY must need only the batch's text plus the history's thin
signature rows — and must find exactly the cross pairs a full
recompute over (history ∪ batch) would.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rialto_airflow_spark.operators import dedup as D
from rialto_airflow_spark.session import load_tables
import pytest

# slow integration battery — excluded from the default lane (see
# pyproject.toml); run with: pytest tests/ -m slowlane
pytestmark = pytest.mark.slowlane


def _corpus(spark, sf_dir):
    return (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "text")
    )


def _near_batch(docs, mod, offset):
    """Perturbed near-dup copies of every ``mod``-th doc plus the
    same ids shifted — guaranteed cross-collisions with the base."""
    return docs.where(F.col("doc_id") % mod == 0).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz near dup token pad")).alias("text"),
    )


def _cross_pairs_full(history, batch):
    """Oracle: one-shot minhash_near_dups over the union, restricted
    to (history, batch) cross pairs, normalized to (new, old)."""
    hist_ids = {r["doc_id"] for r in history.select("doc_id").collect()}
    pairs = D.minhash_near_dups(
        history.unionByName(batch), "doc_id", "text"
    ).collect()
    out = set()
    for r in pairs:
        a, b = r["id_a"], r["id_b"]
        if (a in hist_ids) != (b in hist_ids):
            new, old = (b, a) if a in hist_ids else (a, b)
            out.add((new, old))
    return out


def test_index_probe_equals_full_recompute(spark, sf_dir, tmp_path):
    history = _corpus(spark, sf_dir)
    batch = _near_batch(history, 7, 1_000_000)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    got = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(batch, path).collect()
    }
    want = _cross_pairs_full(history, batch)
    assert got == want
    assert got, "fixture must produce cross collisions"


def test_append_extends_index_like_a_rebuild(spark, sf_dir, tmp_path):
    history = _corpus(spark, sf_dir)
    day2 = _near_batch(history, 11, 2_000_000)
    probe = _near_batch(history, 7, 1_000_000).unionByName(
        _near_batch(day2, 1, 3_000_000)
    )
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    D.write_minhash_index(history, inc)
    D.append_minhash_index(day2, inc)
    D.write_minhash_index(history.unionByName(day2), full)
    got_inc = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, inc).collect()
    }
    got_full = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, full).collect()
    }
    assert got_inc == got_full
    # pairs against BOTH generations of the index must be present
    assert any(old >= 2_000_000 for _, old in got_inc)
    assert any(old < 1_000_000 for _, old in got_inc)


def test_small_probe_prunes_index_partitions(spark, sf_dir, tmp_path):
    """A one-document probe must reach the index through a
    PartitionFilters IN list on pbucket — only its ~bands bucket
    directories of the history are listed, the rest never read."""
    history = _corpus(spark, sf_dir)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    one = history.where(F.col("doc_id") == 7).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    pairs = D.minhash_dups_against_index(one, path)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "pbucket" in l
    )
    assert "PartitionFilters: [pbucket" in scan.replace(
        "PartitionFilters: [ pbucket", "PartitionFilters: [pbucket"
    ) or "pbucket IN" in scan, scan
    # a perturbed copy of doc 7 collides with it — asserted directly:
    # the old `or pairs.count() >= 0` escape hatch was vacuous
    # (always true), so partition pruning could have broken collision
    # detection without this test noticing (round-7 ADVICE #1)
    assert {(r["new_id"], r["index_id"]) for r in pairs.collect()} >= {
        (500_007, 7)
    }


def test_stream_minhash_dedup_accepts_once_and_replays_converge(
    spark, sf_dir, tmp_path
):
    from rialto_airflow_spark.storage import TableStore
    from rialto_airflow_spark.streaming import events as SE

    docs = _corpus(spark, sf_dir).where(F.col("doc_id") < 60)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    index = str(tmp_path / "mh")
    store = TableStore(str(tmp_path / "store"))

    # batch 1: base docs + one internal near-dup pair (1000 ~ 0)
    b1 = docs.unionByName(
        docs.where(F.col("doc_id") == 0).select(
            F.lit(1000).alias("doc_id"),
            F.concat("text", F.lit(" zz pad")).alias("text"),
        )
    )
    b1.coalesce(1).write.parquet(in_dir)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string").parquet(in_dir)
        )
        SE.stream_minhash_dedup(stream, index, store, "docs_clean", ckpt)

    run()
    got1 = {r["doc_id"] for r in store.read(spark, "docs_clean").collect()}
    assert 0 in got1 and 1000 not in got1  # within-batch survivor only
    # oracle: the batch-mode survivor set over the same input (the
    # base corpus contains natural near-dup clusters of its own)
    want1 = {
        r["doc_id"]
        for r in D.cluster_survivors(
            b1,
            D.connected_components(D.minhash_near_dups(b1, "doc_id", "text")),
            "doc_id",
        ).collect()
    }
    assert got1 == want1

    # batch 2: near-dups of accepted history + genuinely new docs
    b2 = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat("text", F.lit(" zz pad")).alias("text"),
    ).unionByName(
        _corpus(spark, sf_dir)
        .where((F.col("doc_id") >= 60) & (F.col("doc_id") < 70))
        .select((F.col("doc_id") + 3000).alias("doc_id"), "text")
    )
    b2.coalesce(1).write.parquet(in_dir, mode="append")
    run()
    got2 = {r["doc_id"] for r in store.read(spark, "docs_clean").collect()}
    # history near-dups dropped, new docs accepted
    assert not any(2000 <= d < 3000 for d in got2)
    assert {3060 + i for i in range(10)} <= got2

    # replay: wipe the checkpoint so both staged files re-deliver —
    # the output table must converge to the same content
    import shutil

    shutil.rmtree(ckpt)
    run()
    got3 = {r["doc_id"] for r in store.read(spark, "docs_clean").collect()}
    assert got3 == got2


def test_stream_minhash_dedup_compaction_bounds_index_growth(
    spark, sf_dir, tmp_path
):
    """compact_every bounds what an indefinite ingest accretes: with
    per-batch compaction + vacuum, the index holds ONE version and an
    O(1) commit log after every batch — while cross-batch dedup
    semantics stay exactly the same (history collisions still drop,
    new docs still land, probes still work over the compacted
    index)."""
    from rialto_airflow_spark.storage import TableStore
    from rialto_airflow_spark.streaming import events as SE

    docs = _corpus(spark, sf_dir).where(F.col("doc_id") < 60)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    index = str(tmp_path / "mh")
    store = TableStore(str(tmp_path / "store"))

    docs.coalesce(1).write.parquet(in_dir)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string").parquet(in_dir)
        )
        SE.stream_minhash_dedup(
            stream, index, store, "docs_clean", ckpt, compact_every=1
        )

    run()
    n1 = store.read(spark, "docs_clean").count()
    assert n1 > 0

    # batch 2: history near-dups + genuinely new docs
    b2 = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat("text", F.lit(" zz pad")).alias("text"),
    ).unionByName(
        _corpus(spark, sf_dir)
        .where((F.col("doc_id") >= 60) & (F.col("doc_id") < 70))
        .select((F.col("doc_id") + 3000).alias("doc_id"), "text")
    )
    b2.coalesce(1).write.parquet(in_dir, mode="append")
    run()
    got = {r["doc_id"] for r in store.read(spark, "docs_clean").collect()}
    assert not any(2000 <= d < 3000 for d in got)  # history dups dropped
    assert {3060 + i for i in range(10)} <= got  # new docs accepted

    # growth is BOUNDED: one retained version, O(1) log after the
    # compact+vacuum — not one version/marker per lifetime batch
    vstore = D._minhash_store(index)
    assert len(vstore.versions()) == 1
    assert len(vstore.log.history()) == 1
    assert vstore.current()["compacted"] is True
    # and the compacted index still answers probes correctly
    probe = docs.where(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 9000).alias("doc_id"),
        F.concat("text", F.lit(" zz pad")).alias("text"),
    )
    assert D.minhash_dups_against_index(probe, index).count() >= 1


def test_pair_metrics_oracle_and_edge_cases(spark, sf_dir):
    """pair_metrics vs a DuckDB replay (canonicalized unordered
    pairs, semi-join hit count), and the empty-side conventions. The
    integration case scores the LSH candidate set against verified
    n-gram-Jaccard truth — the num_perm/bands tuning read-out."""
    from pyspark.sql import functions as F

    from rialto_airflow_spark.plans.llm_queries import _spark_near_corpus
    from tests.oracle_util import compare

    pred = spark.createDataFrame(
        [(1, 2), (3, 4), (6, 5), (9, 9)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame(
        [(2, 1), (5, 6), (7, 8)], "id_a long, id_b long"
    )
    out = D.pair_metrics(pred, truth)
    sql = """
    WITH p AS (SELECT DISTINCT least(id_a,id_b) AS a, greatest(id_a,id_b) AS b
               FROM (VALUES (1,2),(3,4),(6,5),(9,9)) AS t(id_a,id_b)),
         tr AS (SELECT DISTINCT least(id_a,id_b) AS a, greatest(id_a,id_b) AS b
               FROM (VALUES (2,1),(5,6),(7,8)) AS t(id_a,id_b)),
         h AS (SELECT tr.a, tr.b FROM tr JOIN p USING (a, b))
    SELECT (SELECT count(*) FROM p)::BIGINT AS n_predicted,
           (SELECT count(*) FROM tr)::BIGINT AS n_truth,
           (SELECT count(*) FROM h)::BIGINT AS n_hit,
           round((SELECT count(*) FROM h) / (SELECT count(*) FROM p), 6) AS precision,
           round((SELECT count(*) FROM h) / (SELECT count(*) FROM tr), 6) AS recall,
           round(2.0 * ((SELECT count(*) FROM h) / (SELECT count(*) FROM p))
                     * ((SELECT count(*) FROM h) / (SELECT count(*) FROM tr))
                 / (((SELECT count(*) FROM h) / (SELECT count(*) FROM p))
                    + ((SELECT count(*) FROM h) / (SELECT count(*) FROM tr))), 6) AS f1
    """
    compare(out, sql, sf_dir, "pair_metrics")

    empty = spark.createDataFrame([], "id_a long, id_b long")
    r = D.pair_metrics(empty, truth).collect()[0]
    assert r["precision"] == 1.0 and r["recall"] == 0.0
    r2 = D.pair_metrics(pred, empty).collect()[0]
    assert r2["recall"] == 1.0 and r2["precision"] == 0.0

    # integration: LSH candidates scored against the PLANTED truth of
    # the tiled near-dup corpus (every doc_id % 10 == 0 has a
    # perturbed twin at +1000000 by construction) — the
    # num_perm/bands tuning read-out
    corpus = _spark_near_corpus(spark, sf_dir)
    cand = D.minhash_near_dups(corpus, "doc_id", "text")
    truth_pairs = corpus.where(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1_000_000)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    )
    m = D.pair_metrics(cand, truth_pairs).collect()[0]
    assert m["n_truth"] > 0
    assert m["recall"] >= 0.9  # banded LSH finds ~all planted twins
    assert 0 < m["precision"] <= 1.0  # extra candidates are allowed


def test_lsh_parameter_sweep_orders_configs(spark, sf_dir):
    """The sweep returns one scored row per config; recall is
    monotone-ish in banding aggressiveness on the planted-twin truth,
    and the divisibility guard fires."""
    import pytest

    from rialto_airflow_spark.plans.llm_queries import _spark_near_corpus

    corpus = _spark_near_corpus(spark, sf_dir)
    truth = corpus.where(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1_000_000)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    )
    out = D.lsh_parameter_sweep(
        corpus, truth, grid=[(12, 4), (12, 2)]
    ).collect()
    assert len(out) == 2
    by_bands = {r["bands"]: r for r in out}
    # 4 bands of 3 rows is a laxer threshold than 2 bands of 6 rows:
    # recall can only go up, candidates can only grow
    assert by_bands[4]["recall"] >= by_bands[2]["recall"]
    assert by_bands[4]["n_candidates"] >= by_bands[2]["n_candidates"]
    assert by_bands[4]["threshold"] < by_bands[2]["threshold"]
    with pytest.raises(ValueError, match="divisible"):
        D.lsh_parameter_sweep(corpus, truth, grid=[(10, 4)])


def test_index_rebuild_is_atomic_pointer_swap(spark, sf_dir, tmp_path):
    """A rebuild publishes a fresh version dir and commits it to the
    shared commit log — probes never see half-written rows or a
    meta/rows mismatch, and the superseded version stays on disk
    until explicitly removed."""
    import glob
    import os

    history = _corpus(spark, sf_dir)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path, num_perm=12, bands=4)
    ptr1 = os.path.dirname(D.minhash_index_current(path)[0])
    probe = _near_batch(history, 7, 1_000_000)
    got1 = {tuple(r) for r in D.minhash_dups_against_index(probe, path).collect()}
    assert got1

    # rebuild with DIFFERENT parameters: pointer moves, old dir stays
    D.write_minhash_index(history, path, num_perm=24, bands=8)
    ptr2 = os.path.dirname(D.minhash_index_current(path)[0])
    assert ptr2 != ptr1 and os.path.isdir(ptr1)
    assert len(glob.glob(os.path.join(path, "v*"))) == 2
    # probes now fingerprint under the NEW meta automatically
    got2 = {tuple(r) for r in D.minhash_dups_against_index(probe, path).collect()}
    assert got2  # 24/8 banding is laxer — twins still collide
    assert got2 >= got1


def test_lsh_pair_cache_released_on_gc(spark, sf_dir):
    """Round-6 review fix: the banded MEMORY_AND_DISK cache inside
    lsh_candidate_pairs must die with the pair plan — loop callers
    (streaming micro-batches, parameter sweeps) would otherwise leak
    one cache per invocation forever."""
    import gc

    def cached_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    gc.collect()
    before = cached_ids()
    pairs = D.minhash_near_dups(_corpus(spark, sf_dir), "doc_id", "text")
    pairs.collect()
    new_ids = cached_ids() - before
    assert new_ids  # banded cache materialized
    del pairs
    gc.collect()
    # the ids THIS test introduced are gone (id-set, not a count:
    # other tests' GC-tied caches may release concurrently)
    assert not (cached_ids() & new_ids)


def test_minhash_index_vacuum_keeps_current(spark, sf_dir, tmp_path):
    import glob
    import json
    import os

    history = _corpus(spark, sf_dir)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    D.write_minhash_index(history, path)  # rebuild → 2 versions
    assert len(glob.glob(os.path.join(path, "v*"))) == 2
    removed = D.minhash_index_vacuum(path, keep=1)
    assert len(removed) == 1
    left = glob.glob(os.path.join(path, "v*"))
    assert len(left) == 1
    cur = os.path.dirname(D.minhash_index_current(path)[0])
    assert os.path.abspath(left[0]) == os.path.abspath(cur)
    # index still probes after vacuum
    probe = _near_batch(history, 7, 1_000_000)
    assert D.minhash_dups_against_index(probe, path).count() > 0


def test_append_detects_concurrent_rebuild_pointer_swap(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-7 ADVICE #2 regression: append resolves the INDEX.json
    pointer, writes into that version's rows dir, and a concurrent
    write_minhash_index pointer swap used to strand the appended
    batch in the superseded version SILENTLY — probes would never
    see it and vacuum could delete it. The fix re-reads the pointer
    after the append and raises on a swap. Simulate the race by
    feeding append a stale resolution while the real pointer has
    already moved on."""
    import pytest

    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    stale = D.minhash_index_current(path)  # v1 resolution

    # the "concurrent" rebuild: pointer now names v2
    D.write_minhash_index(history, path)
    assert D.minhash_index_current(path)[0] != stale[0]

    calls = {"n": 0}
    real = D.minhash_index_current

    def first_call_stale(p):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(p)

    monkeypatch.setattr(D, "minhash_index_current", first_call_stale)
    batch = _near_batch(history, 7, 1_000_000)
    with pytest.raises(RuntimeError, match="pointer moved"):
        D.append_minhash_index(batch, path)

    # and the live version was NOT polluted by the stranded batch:
    # probing the current index still behaves like history-only
    monkeypatch.setattr(D, "minhash_index_current", real)
    got = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(batch, path).collect()
    }
    assert got == _cross_pairs_full(history, batch)


def test_append_rebuild_race_recovery_loses_no_signatures(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The RECOVERY the append/rebuild race error prescribes, driven
    end-to-end: an appender loses to a concurrent rebuild (its batch
    stranded in the superseded version, RuntimeError raised), catches
    the error, and RE-RUNS the append against the new current
    version. Afterwards NO signatures are lost — a probe of the
    appended batch finds every cross pair a full recompute over
    (history ∪ batch) would, i.e. the batch genuinely lives in the
    live version, not the stranded one."""
    import pytest

    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    stale = D.minhash_index_current(path)
    D.write_minhash_index(history, path)  # concurrent rebuild → v2

    calls = {"n": 0}
    real = D.minhash_index_current

    def first_call_stale(p):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(p)

    monkeypatch.setattr(D, "minhash_index_current", first_call_stale)
    batch = _near_batch(history, 7, 2_000_000)
    with pytest.raises(RuntimeError, match="re-run the append"):
        D.append_minhash_index(batch, path)

    # the documented recovery: re-run against the (now-current) v2
    D.append_minhash_index(batch, path)

    # no signature loss: a FRESH batch probing the index collides
    # with both history docs and the re-appended batch docs, exactly
    # as a full recompute over the union would
    probe = _near_batch(history, 7, 3_000_000)
    indexed = history.unionByName(batch)
    got = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, path).collect()
    }
    assert got == _cross_pairs_full(indexed, probe)
    # and the probe really found batch members, not just history
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert any(old in batch_ids for _new, old in got)


def test_compact_collapses_duplicate_appends(spark, sf_dir, tmp_path):
    """Re-applied appends leave duplicate signature rows (harmless
    for probe correctness, costly in files + join width). Compaction
    rewrites the current version distinct(), preserving the pbucket
    layout and probe results exactly."""
    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    batch = _near_batch(history, 7, 1_000_000)
    D.append_minhash_index(batch, path)
    D.append_minhash_index(batch, path)  # redelivery → duplicate rows

    rows_dir, _ = D.minhash_index_current(path)
    before = spark.read.parquet(rows_dir)
    n_before, n_distinct = before.count(), before.distinct().count()
    assert n_before > n_distinct  # duplicates really exist

    probe = _near_batch(history, 7, 3_000_000)
    want = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, path).collect()
    }

    new_base = D.compact_minhash_index(spark, path)
    rows_dir2, _ = D.minhash_index_current(path)
    assert rows_dir2.startswith(new_base)
    after = spark.read.parquet(rows_dir2)
    assert after.count() == n_distinct
    # layout preserved: pbucket partition dirs still present
    import os

    assert any(
        d.startswith("pbucket=") for d in os.listdir(rows_dir2)
    )
    got = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, path).collect()
    }
    assert got == want


def test_append_commits_marker_so_compaction_can_detect_it(
    spark, sf_dir, tmp_path
):
    """Appends mutate the live rows dir without moving the pointer, so
    they must leave a log entry (files first, marker second) for the
    compactor's CAS to order against — a commit with a stale expected
    head must conflict after an append."""
    import pytest

    from rialto_airflow_spark.commitlog import CommitConflict

    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    store = D._minhash_store(path)
    seq0 = store.current_seq()
    base0 = store.current_path()

    D.append_minhash_index(_near_batch(history, 7, 1_000_000), path)
    # same version path, new marker entry
    assert store.current_path() == base0
    assert store.current_seq() > seq0
    assert store.current()["appended"] is True
    with pytest.raises(CommitConflict):
        store.commit("/stale-compaction-output", expected=seq0)


def test_compact_retries_past_concurrent_append_keeping_signatures(
    spark, sf_dir, tmp_path
):
    """The full race, driven through the fault-injection hook: an
    append lands BETWEEN the compactor's read and its commit. The
    CAS conflicts, compaction re-reads and republishes — and the
    appended batch's signatures survive into the compacted index (a
    probe finds them)."""
    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    batch = _near_batch(history, 7, 2_000_000)

    fired = {"n": 0}

    def inject_append():
        if fired["n"] == 0:
            fired["n"] += 1
            D.append_minhash_index(batch, path)

    D.compact_minhash_index(spark, path, _after_read=inject_append)
    assert fired["n"] == 1  # the race really ran (and only once)
    assert D._minhash_store(path).current()["compacted"] is True

    probe = _near_batch(history, 7, 3_000_000)
    indexed = history.unionByName(batch)
    got = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, path).collect()
    }
    assert got == _cross_pairs_full(indexed, probe)


def test_append_marker_cas_never_reverts_a_concurrent_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-9 "What's wrong" #2: the third interleaving the
    compact/append contract didn't cover — a REBUILD commits in the
    window between the appender's pointer post-check (which passes)
    and its marker commit. An unconditional marker would then
    re-point the head BACK at the superseded pre-rebuild version:
    both callers return success, yet probes read the old corpus.
    With the marker CAS'd against the post-check head seq, the
    append must instead raise the documented re-run error and the
    head must stay on the rebuild's version."""
    import pytest

    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    rebuilt = _corpus(spark, sf_dir).where(F.col("doc_id") < 60)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)

    real_store_fn = D._minhash_store
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
                # the concurrent rebuild, landing AFTER the pointer
                # post-check passed but BEFORE the marker commit
                D.write_minhash_index(rebuilt, path)
            return self._inner.commit(*a, **kw)

    monkeypatch.setattr(
        D, "_minhash_store", lambda p: RebuildBetweenCheckAndMarker(real_store_fn(p))
    )
    batch = _near_batch(history, 7, 1_000_000)
    with pytest.raises(RuntimeError, match="re-run the append"):
        D.append_minhash_index(batch, path)
    assert fired["n"] == 1

    # the head NEVER reverted: it still names the rebuild's version,
    # and its payload is a plain rebuild commit, not an append marker
    monkeypatch.setattr(D, "_minhash_store", real_store_fn)
    store = D._minhash_store(path)
    assert "appended" not in (store.current() or {})

    # the documented recovery re-runs the append against the rebuilt
    # index; afterwards probes see exactly (rebuilt ∪ batch)
    D.append_minhash_index(batch, path)
    probe = _near_batch(rebuilt, 5, 3_000_000)
    indexed = rebuilt.unionByName(batch)
    got = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, path).collect()
    }
    assert got == _cross_pairs_full(indexed, probe)


def test_dirty_compaction_rewrites_only_appended_buckets(
    spark, sf_dir, tmp_path
):
    """Round-10 task #4: full compaction rewrites EVERY pbucket even
    when appends dirtied three; compact_minhash_index_dirty rewrites
    only partitions over the file threshold and CARRIES the rest by
    reference (rows_manifest) — and probes, pruned or not, still find
    exactly what a full recompute would."""
    import os

    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    v0 = D._minhash_store(path).current_path()

    # appends accrete files in a handful of pbuckets
    b1 = _near_batch(history, 13, 1_000_000)
    b2 = _near_batch(history, 13, 2_000_000)
    for b in (b1, b2):
        D.append_minhash_index(b, path)

    vc = D.compact_minhash_index_dirty(spark, path, max_files=1)
    assert vc is not None
    payload = D._minhash_store(path).current()
    manifest = payload["rows_manifest"]
    rewrote = {k for k, bases in manifest.items() if bases == [vc]}
    carried = {k for k, bases in manifest.items() if bases == [v0]}
    assert rewrote and carried  # partial rewrite, not a full one
    assert rewrote | carried == set(manifest)
    # the new version's rows dir holds ONLY the dirty buckets
    present = {
        d.split("=", 1)[1]
        for d in os.listdir(os.path.join(vc, "rows"))
        if d.startswith("pbucket=")
    }
    assert present == rewrote

    # probe equivalence, pruned AND unpruned, through the manifest
    indexed = history.unionByName(b1).unionByName(b2)
    probe = _near_batch(history, 7, 3_000_000)
    want = _cross_pairs_full(indexed, probe)
    for prune in (True, False):
        got = {
            (r["new_id"], r["index_id"])
            for r in D.minhash_dups_against_index(
                probe, path, prune=prune
            ).collect()
        }
        assert got == want, f"prune={prune}"

    # idempotent: nothing dirty after the pass
    assert D.compact_minhash_index_dirty(spark, path, max_files=1) is None


def test_append_on_manifest_head_extends_carrier_lists(
    spark, sf_dir, tmp_path
):
    """An append AFTER a dirty compaction must extend the touched
    buckets' carrier lists in its marker commit — probes through the
    manifest see the new batch immediately."""
    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    D.append_minhash_index(_near_batch(history, 13, 1_000_000), path)
    D.append_minhash_index(_near_batch(history, 13, 2_000_000), path)
    vc = D.compact_minhash_index_dirty(spark, path, max_files=1)
    assert vc is not None

    b3 = _near_batch(history, 11, 4_000_000)
    D.append_minhash_index(b3, path)
    payload = D._minhash_store(path).current()
    assert payload["appended"] is True
    # at least one bucket now lists the head version as an extra carrier
    assert any(len(bases) > 1 for bases in payload["rows_manifest"].values())

    indexed = (
        history.unionByName(_near_batch(history, 13, 1_000_000))
        .unionByName(_near_batch(history, 13, 2_000_000))
        .unionByName(b3)
    )
    probe = _near_batch(history, 7, 5_000_000)
    got = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, path).collect()
    }
    assert got == _cross_pairs_full(indexed, probe)


def test_vacuum_pins_manifest_carriers(spark, sf_dir, tmp_path):
    """Vacuum after a dirty compaction must NOT reclaim the bootstrap
    dir the new manifest still references (it carries the clean
    buckets); after a FULL compaction re-homes everything, the next
    vacuum reclaims the old dirs."""
    import os

    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 80)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    v0 = D._minhash_store(path).current_path()
    D.append_minhash_index(_near_batch(history, 13, 1_000_000), path)
    vc = D.compact_minhash_index_dirty(spark, path, max_files=1)
    assert vc is not None

    removed = D.minhash_index_vacuum(path, keep=1, orphan_grace_s=0)
    assert v0 not in removed and os.path.isdir(v0)  # pinned carrier

    probe = _near_batch(history, 7, 3_000_000)
    indexed = history.unionByName(_near_batch(history, 13, 1_000_000))
    got = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, path).collect()
    }
    assert got == _cross_pairs_full(indexed, probe)

    # full compaction (manifest-aware read) → self-contained version;
    # carriers become unpinned and the next vacuum reclaims them
    D.compact_minhash_index(spark, path)
    removed2 = D.minhash_index_vacuum(path, keep=1, orphan_grace_s=0)
    assert v0 in removed2 and vc in removed2
    got2 = {
        (r["new_id"], r["index_id"])
        for r in D.minhash_dups_against_index(probe, path).collect()
    }
    assert got2 == got


def test_dirty_compaction_works_on_split_plane_backend(
    spark, sf_dir, tmp_path
):
    """Fragmentation detection must route through the DATA plane: with
    MemoryBackend installed (commits in memory, parquet on disk — the
    object-store deployment spec), a metadata-plane list_dir returns
    [] for version dirs, which silently no-ops the compactor forever
    while appends accrete files unbounded."""
    from rialto_airflow_spark.commitlog import (
        MemoryBackend,
        set_default_backend,
    )

    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 60)
    path = str(tmp_path / "mh")
    set_default_backend(MemoryBackend())
    try:
        D.write_minhash_index(history, path)
        for off in (1_000_000, 2_000_000):
            D.append_minhash_index(_near_batch(history, 13, off), path)
        vc = D.compact_minhash_index_dirty(spark, path, max_files=1)
        assert vc is not None  # dirty buckets FOUND, not silently none
        manifest = D._minhash_store(path).current()["rows_manifest"]
        assert any(bases == [vc] for bases in manifest.values())
        # probes still resolve through the manifest
        probe = _near_batch(history, 13, 3_000_000)
        assert D.minhash_dups_against_index(probe, path).count() > 0
    finally:
        set_default_backend(None)


def test_index_vacuum_bounds_log_despite_pinned_carriers(
    spark, sf_dir, tmp_path
):
    """A dirty-compacted lineage pins its carrier dirs forever (the
    head's manifest references them); the LOG prune must not anchor
    on the carrier's seq or it never prunes — one entry per append,
    unbounded head() LISTs on an indefinitely-appending index."""
    history = _corpus(spark, sf_dir).where(F.col("doc_id") < 60)
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path)
    D.append_minhash_index(_near_batch(history, 13, 1_000_000), path)
    assert D.compact_minhash_index_dirty(spark, path, max_files=1) is not None
    for i in range(3):
        D.append_minhash_index(
            _near_batch(history, 13, (i + 2) * 1_000_000), path
        )
        # keep=1 demotes the bootstrap dir to a pure CARRIER (still
        # pinned — the head's manifest references it) — a carrier's
        # seq must not anchor the prune
        D.minhash_index_vacuum(path, keep=1, orphan_grace_s=0)
    store = D._minhash_store(path)
    # compact's first commit + one marker per post-compact append;
    # everything below the compact anchor (bootstrap + first append
    # marker) pruned despite the carrier surviving on disk
    assert len(list(store.log.history())) <= 4
    # the lineage still probes correctly through its carriers
    probe = _near_batch(history, 13, 9_000_000)
    assert D.minhash_dups_against_index(probe, path).count() > 0


def test_probe_missing_every_manifest_bucket_keeps_index_id_type(
    spark, sf_dir, tmp_path
):
    """A probe whose pbuckets miss every key of a manifest head selects
    no carrier at all. The result must be empty AND typed like the
    non-empty case: ``index_id`` carries the INDEX corpus's id type
    (string here), not the probe's (long) — a long-probe/string-index
    setup would otherwise type-break only on the empty case."""
    buckets = 1024
    docs = _corpus(spark, sf_dir)
    history = docs.where(F.col("doc_id") < 6).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    path = str(tmp_path / "mh")
    D.write_minhash_index(history, path, buckets=buckets)
    D.append_minhash_index(
        _near_batch(docs.where(F.col("doc_id") < 6), 2, 1_000_000).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ),
        path,
    )
    assert D.compact_minhash_index_dirty(spark, path, max_files=1) is not None
    manifest = D._minhash_store(path).current()["rows_manifest"]

    # candidates: docs none of whose pbuckets the manifest holds
    pb = D.banded_rows(docs.where(F.col("doc_id") >= 100), "doc_id", "text").select(
        "doc_id",
        D._pbucket(F.col("band_idx"), F.col("band_hash"), 4, buckets).alias("pb"),
    )
    hit = pb.where(F.col("pb").cast("string").isin(list(manifest)))
    miss_ids = [
        r["doc_id"]
        for r in pb.select("doc_id").distinct().join(hit, "doc_id", "left_anti")
        .orderBy("doc_id").limit(3).collect()
    ]
    assert miss_ids
    probe = docs.where(F.col("doc_id").isin(miss_ids)).select("doc_id", "text")

    got = D.minhash_dups_against_index(probe, path)
    assert dict(got.dtypes) == {"new_id": "bigint", "index_id": "string"}
    assert got.count() == 0
