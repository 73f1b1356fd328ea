"""Tests for the shared versioned-store commit layer
(``rialto_airflow_spark.commitlog``): the one commit protocol behind
TableStore, the MinHash index, and the LSH/IVF indexes.

The fault-injection cases here pin the crash anatomy the module
docstring promises: orphaned data dirs, torn pointer writes, and
lost CAS races must all fail CLOSED (old version keeps serving, or a
loud error) — never serve a half-published version."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rialto_airflow_spark.commitlog import (
    ANY,
    CommitConflict,
    CommitLog,
    MemoryBackend,
    PosixBackend,
    VersionedStore,
)


# ---------------------------------------------------------------- log


def test_commit_log_orders_and_resolves(tmp_path):
    log = CommitLog(str(tmp_path / "_commits"))
    assert log.head() is None
    s1 = log.commit({"path": "/a"})
    s2 = log.commit({"path": "/b"})
    assert (s1, s2) == (1, 2)
    seq, payload = log.head()
    assert seq == 2 and payload["path"] == "/b"
    assert "committed_at" in payload
    assert [p["path"] for _s, p in log.history()] == ["/a", "/b"]


def test_put_if_absent_has_one_winner(tmp_path):
    b = PosixBackend()
    p = str(tmp_path / "x" / "00001.json")
    assert b.put_if_absent(p, b"first")
    assert not b.put_if_absent(p, b"second")
    assert b.read(p) == b"first"  # never overwritten
    # and no temp litter left behind
    assert all(
        not n.startswith(".put.") for n in os.listdir(tmp_path / "x")
    )


def test_cas_commit_conflict(tmp_path):
    """expected=<seq> is a true CAS: the put-if-absent at seq+1 IS the
    check, so two writers expecting the same head have exactly one
    winner and the loser gets CommitConflict, not silent last-wins."""
    log = CommitLog(str(tmp_path / "_commits"))
    s1 = log.commit({"path": "/a"})
    assert log.commit({"path": "/b"}, expected=s1) == 2
    with pytest.raises(CommitConflict):
        log.commit({"path": "/c"}, expected=s1)
    # unconditional commit still proceeds past the contention
    assert log.commit({"path": "/d"}) == 3
    # expected=None asserts an EMPTY log
    with pytest.raises(CommitConflict):
        log.commit({"path": "/e"}, expected=None)


def test_torn_entries_never_committed_never_block(tmp_path):
    """Torn commit objects (a writer died mid-publish, or a
    non-atomic backend exposed partial bytes) are never-committed:
    resolution takes the highest PARSEABLE entry — a torn tail of ANY
    length (two crashed writers stack two garbage entries) only
    delays visibility, and new commits sequence ABOVE the garbage so
    stuck objects can't block writes."""
    d = tmp_path / "_commits"
    log = CommitLog(str(d))
    log.commit({"path": "/a"})
    log.commit({"path": "/b"})
    # two crashed publishes: a torn tail of length 2
    (d / f"{3:020d}.json").write_bytes(b'{"path": "/c", "comm')
    (d / f"{4:020d}.json").write_bytes(b"\xff\xfe not json")
    seq, payload = log.head()
    assert (seq, payload["path"]) == (2, "/b")
    # new commits go above the torn names, which stay inert
    assert log.commit({"path": "/d"}) == 5
    assert log.head()[1]["path"] == "/d"
    # history skips garbage, keeps every real commit in order
    assert [p["path"] for _s, p in log.history()] == ["/a", "/b", "/d"]


# ------------------------------------------------------- store faults


def _write_version(store: VersionedStore, tag: str) -> str:
    p = store.new_version_path()
    os.makedirs(p)
    with open(os.path.join(p, "data.txt"), "w") as f:
        f.write(tag)
    return p


def test_crash_between_data_write_and_commit_fails_closed(tmp_path):
    """Fault injection #1: data lands, writer dies before commit.
    Readers keep resolving the OLD version; the orphan is visible in
    versions() as committed=False. A DEFAULT vacuum spares it — a
    fresh uncommitted dir is indistinguishable from a concurrent
    writer's in-flight version, so reclaiming it would race the
    commit it is seconds away from — and grace=0 (known single
    writer) reclaims it."""
    store = VersionedStore(str(tmp_path / "s"))
    v1 = _write_version(store, "v1")
    store.commit(v1)
    orphan = _write_version(store, "crashed")  # no commit — the crash

    assert store.current_path() == v1
    vs = store.versions()
    assert {v["path"]: v["committed"] for v in vs} == {v1: True, orphan: False}
    # default grace: the seconds-old dir might be an in-flight writer
    assert store.vacuum(keep=1) == [] and os.path.isdir(orphan)
    removed = store.vacuum(keep=1, orphan_grace_s=0)
    assert removed == [orphan] and os.path.isdir(v1)


def test_torn_pointer_write_fails_closed(tmp_path):
    """Fault injection #2: the commit OBJECT is torn (simulating a
    backend without atomic visibility). The store must keep serving
    the previous version, and the next publish must succeed."""
    store = VersionedStore(str(tmp_path / "s"))
    v1 = _write_version(store, "v1")
    store.commit(v1)
    v2 = _write_version(store, "v2")
    # torn commit: partial JSON bytes appear at the head name
    with open(os.path.join(store.log.dir, f"{2:020d}.json"), "wb") as f:
        f.write(b'{"path": "' + v2.encode()[: len(v2) // 2])

    assert store.current_path() == v1  # fails closed
    # recovery: a fresh publish sequences above the torn entry
    v3 = _write_version(store, "v3")
    store.commit(v3)
    assert store.current_path() == v3


def test_store_cas_append_guard(tmp_path):
    """The maintenance-path CAS: work resolved against seq N can
    detect a concurrent rebuild atomically via expected=N."""
    store = VersionedStore(str(tmp_path / "s"))
    v1 = _write_version(store, "v1")
    store.commit(v1)
    seq = store.current_seq()
    # concurrent rebuild publishes v2
    v2 = _write_version(store, "v2")
    store.commit(v2)
    v3 = _write_version(store, "v3")
    with pytest.raises(CommitConflict):
        store.commit(v3, expected=seq)
    assert store.current_path() == v2


def test_restore_is_a_commit_and_versions_keep_commit_order(tmp_path):
    store = VersionedStore(str(tmp_path / "s"))
    vs = [_write_version(store, t) for t in "abc"]
    for v in vs:
        store.commit(v)
    store.restore(os.path.basename(vs[0]))
    assert store.current_path() == vs[0]
    # restore re-commits an old path but does NOT reorder history
    assert [v["path"] for v in store.versions()] == vs
    assert [v["current"] for v in store.versions()] == [True, False, False]
    # age-based retention: nothing is old enough to reclaim
    assert store.vacuum(keep=1, older_than_s=3600) == []
    # count-based without the age guard reclaims all but newest+current
    removed = store.vacuum(keep=1)
    assert set(removed) == {vs[1]}  # vs[0] current, vs[2] newest


def test_vacuum_age_reclaims_old_orphans(tmp_path):
    store = VersionedStore(str(tmp_path / "s"))
    v1 = _write_version(store, "v1")
    store.commit(v1)
    # an orphan whose embedded timestamp is ancient (1970)
    old = os.path.join(store.root, "v1000-deadbeef")
    os.makedirs(old)
    assert store.vacuum(keep=0, older_than_s=3600) == [old]
    assert os.path.isdir(v1)  # current survives even keep=0


def test_cas_commit_sequences_past_torn_garbage(tmp_path):
    """A torn object above the head must not wedge the CAS path
    forever: commit(expected=head) skips over garbage names (claiming
    the next FREE name, with a post-win audit that the skipped gap
    holds no real commit) instead of demanding exactly head+1 — the
    recovery the CommitConflict docstring promises ('re-resolve and
    redo') would otherwise livelock, since re-resolving yields the
    same blocked head every time."""
    d = tmp_path / "_commits"
    log = CommitLog(str(d))
    s1 = log.commit({"path": "/a"})
    (d / f"{2:020d}.json").write_bytes(b"\xff torn")
    # CAS against the real head succeeds above the garbage
    s2 = log.commit({"path": "/b"}, expected=s1)
    assert s2 == 3
    assert log.head()[1]["path"] == "/b"
    # stale CAS still conflicts
    with pytest.raises(CommitConflict):
        log.commit({"path": "/c"}, expected=s1)


def test_delayed_writer_cannot_land_below_head_after_prune(tmp_path):
    """The pruned-name ABA: a writer whose listing predates a prune
    computes a seq that the prune later freed; its put_if_absent
    would WIN there (name free again) while real commits sit above —
    a silent lost publish. The floor marker makes commit() detect
    the stale win, delete it, and re-sequence above the head."""
    log = CommitLog(str(tmp_path / "_commits"))
    for i in range(5):
        log.commit({"tag": i})  # seqs 1..5
    log.prune(5)  # frees 1..4, publishes floor.5

    # delayed writer: its one pre-put scan (entries AND floor) is
    # stale — predates the prune — so its put at seq 2 WINS because
    # prune freed the name. The post-win scan is fresh — that is the
    # guard under test.
    stale_scans = [([1], 0)]
    real_scan = log._scan
    log._scan = lambda: (
        stale_scans.pop(0) if stale_scans else real_scan()
    )
    seq = log.commit({"tag": "delayed"})
    log._scan = real_scan

    # the stale win at 2 was rolled back; the commit landed above 5
    assert seq == 6
    assert log.head() == (6, log.head()[1])
    assert log.head()[1]["tag"] == "delayed"
    assert not os.path.exists(log._entry_path(2))


def test_memory_backend_put_is_atomic_under_threads(tmp_path):
    """MemoryBackend ships as the executable spec of the backend
    contract — 'concurrent puts of the same name have exactly one
    winner' must hold under threads, not just sequentially."""
    import threading

    b = MemoryBackend()
    wins = []
    barrier = threading.Barrier(8)

    def worker(i):
        barrier.wait()
        for k in range(50):
            if b.put_if_absent(f"/x/{k}", f"w{i}".encode()):
                wins.append((k, i))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # exactly one winner per name, and the stored bytes are the
    # winner's (never overwritten by a losing racer)
    assert sorted(k for k, _i in wins) == list(range(50))
    for k, i in wins:
        assert b.objects[f"/x/{k}"] == f"w{i}".encode()


def test_concurrent_unconditional_commits_all_land(tmp_path):
    """N writers committing unconditionally race the put-if-absent:
    every writer lands (losers re-read and re-sequence), seqs are the
    contiguous 1..N, and no commit is ever overwritten."""
    import threading

    log = CommitLog(str(tmp_path / "_commits"))
    results, errors = [], []

    def worker(i):
        try:
            results.append((i, log.commit({"path": f"/w{i}"})))
        except Exception as e:  # noqa: BLE001 — surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert sorted(s for _i, s in results) == list(range(1, 9))
    # every payload is retrievable at the seq its writer was told
    by_seq = dict(log.history())
    for i, s in results:
        assert by_seq[s]["path"] == f"/w{i}"


def test_vacuum_prunes_log_entries_below_retained(tmp_path):
    """Retention bounds the LOG too: entries below the oldest
    retained version's first commit are dead metadata (their data
    dirs are gone), and a streaming writer — one commit per
    micro-batch — would otherwise grow head()'s LIST without bound.
    Retained versions keep their committed_at lineage; the head is
    never prunable."""
    store = VersionedStore(str(tmp_path / "s"))
    vs = [_write_version(store, t) for t in "abcd"]
    store.commit(vs[0])  # seq 1
    store.commit(vs[1])  # seq 2
    # a writer crashed mid-publish at seq 3; later commits sequenced past
    with open(os.path.join(store.log.dir, f"{3:020d}.json"), "wb") as f:
        f.write(b"garbage")
    store.commit(vs[2])  # seq 4
    store.commit(vs[3])  # seq 5

    def committed_at(path):
        # when ``path`` FIRST went live, from the log
        return next(
            p["committed_at"] for _s, p in store.log.history()
            if p["path"] == path
        )

    ts_keep = {v: committed_at(v) for v in vs[2:]}

    removed = store.vacuum(keep=2)
    assert set(removed) == set(vs[:2])
    # log now starts at the oldest RETAINED version's first commit —
    # the pruned range includes the torn seq-3 name
    assert [s for s, _p in store.log.history()] == [4, 5]
    assert store.current_path() == vs[3]
    assert not os.path.exists(os.path.join(store.log.dir, f"{3:020d}.json"))
    # lineage of retained versions is intact
    assert {v: committed_at(v) for v in vs[2:]} == ts_keep
    # keep=1 collapses to just the head entry — never past it
    store.vacuum(keep=1)
    assert [s for s, _p in store.log.history()] == [5]


# --------------------------------------------- object-store seam (e2e)


def test_tablestore_runs_on_rename_free_backend(spark, tmp_path):
    """The seam, proven end-to-end: TableStore with MemoryBackend —
    a backend with ONLY put-if-absent, no rename/replace — supports
    write, swap, time travel, restore, and vacuum. Parquet data still
    lands on the local filesystem (Spark's job); every COMMIT routes
    through the backend, so nothing on the metadata path ever needed
    POSIX atomicity. Swap MemoryBackend for a conditional-PUT S3/GCS
    client and the same code runs against an object store."""
    from rialto_airflow_spark.storage import TableStore

    backend = MemoryBackend()
    store = TableStore(str(tmp_path / "t"), backend=backend)
    store.write(spark.range(3).withColumn("v", F.lit("a")), "tbl")
    store.write(spark.range(5).withColumn("v", F.lit("b")), "tbl")
    assert store.read(spark, "tbl").count() == 5
    # commits live in the backend, and NO pointer file on disk
    assert any("_commits" in k for k in backend.objects)
    assert not os.path.exists(tmp_path / "t" / "tbl.version.json")

    vs = store.versions("tbl")
    assert [v["current"] for v in vs] == [False, True]
    store.restore("tbl", vs[0]["version"])
    assert store.read(spark, "tbl").count() == 3
    # keep=0 reclaims everything except the (restored) current version
    removed = store.vacuum("tbl", keep=0)
    assert removed == [vs[1]["path"]]
    assert store.read(spark, "tbl").count() == 3


def test_maintenance_path_routes_through_backend(spark, tmp_path):
    """The round-8 seam covered COMMITS; this pins the MAINTENANCE
    half: version listing, existence checks (time travel + snapshot
    reads + restore), and vacuum's deletes all route through the
    backend's data plane — zero os-level fallbacks in the store code.
    A spy backend counts every data-plane decision; behaviorally the
    store must list/read/vacuum correctly AND every one of those
    decisions must have passed through the spy."""
    from collections import Counter

    from rialto_airflow_spark.storage import TableStore

    calls = Counter()

    class SpyBackend(MemoryBackend):
        def data_exists(self, path):
            calls["exists"] += 1
            return super().data_exists(path)

        def list_data(self, dirpath):
            calls["list"] += 1
            return super().list_data(dirpath)

        def delete_data(self, path):
            calls["delete"] += 1
            return super().delete_data(path)

    backend = SpyBackend()
    store = TableStore(str(tmp_path / "t"), backend=backend)

    # three versions of one table + a two-table snapshot
    store.write(spark.range(3).withColumn("v", F.lit("a")), "tbl")
    store.write(spark.range(5).withColumn("v", F.lit("b")), "tbl")
    seq = store.publish_snapshot(
        {
            "tbl": spark.range(7).withColumn("v", F.lit("c")),
            "other": spark.range(2),
        }
    )

    # versions(): the listing decision
    calls.clear()
    vs = store.versions("tbl")
    assert len(vs) == 3 and vs[-1]["current"]
    assert calls["list"] >= 1

    # time travel + snapshot read: the existence decisions
    calls.clear()
    assert store.read_version(spark, "tbl", vs[0]["version"]).count() == 3
    assert store.read_snapshot(spark, "tbl", seq=seq).count() == 7
    assert store.read_snapshot(spark, "other", seq=seq).count() == 2
    assert calls["exists"] >= 3

    # vacuum: the delete decision (and it really reclaims). The
    # snapshot pins the 7-row version; keep=1 retains the newest
    # UNPINNED version too, so exactly the oldest goes.
    calls.clear()
    removed = store.vacuum("tbl", keep=1, orphan_grace_s=0)
    assert removed == [vs[0]["path"]]
    assert calls["delete"] == 1
    assert not any(os.path.isdir(p) for p in removed)

    # a vacuumed-version read now fails loudly THROUGH the backend
    calls.clear()
    with pytest.raises(FileNotFoundError):
        store.read_version(spark, "tbl", vs[0]["version"])
    assert calls["exists"] >= 1
    # restore of a vacuumed version: same loud failure, same plane
    with pytest.raises(FileNotFoundError):
        store.restore("tbl", vs[0]["version"])
    # the current version still reads
    assert store.read(spark, "tbl").count() == 7


def test_crash_mid_prune_delete_loop_fails_safe(tmp_path):
    """Fault injection for the advisory-floor residual: a pruner that
    dies PARTWAY through its delete loop — floor marker already
    published, only some entries below it deleted — must leave the
    log resolvable (head untouched), writable (new commits sequence
    above the floor), and re-prunable (a later prune finishes the
    job). The marker-then-delete ordering makes the crash window
    conservative: freed names are already fenced, surviving
    sub-floor entries are just garbage-to-be."""

    class DyingBackend(PosixBackend):
        def __init__(self):
            self.deletes_left: int | None = None

        def delete(self, path):
            if self.deletes_left is not None:
                if self.deletes_left == 0:
                    raise RuntimeError("simulated crash mid-prune")
                self.deletes_left -= 1
            super().delete(path)

    b = DyingBackend()
    log = CommitLog(str(tmp_path / "_c"), backend=b)
    for i in range(6):
        log.commit({"path": f"/v{i}"})  # seqs 1..6
    log.prune(3)  # completes: frees 1,2 under floor.3

    # second pruner: deletes seq 3, then dies before 4 and 5
    b.deletes_left = 1
    with pytest.raises(RuntimeError):
        log.prune(6)
    b.deletes_left = None

    # head never moved; history tolerates the half-pruned gap
    assert log.head()[0] == 6
    assert [s for s, _p in log.history()] == [4, 5, 6]
    # new commits sequence above the (already-published) floor.6
    assert log.commit({"path": "/v7"}) == 7
    # a delayed writer whose stale listing predates BOTH prunes puts
    # at seq 3 — the name the crashed prune DID free — and wins; the
    # floor.6 fence (published before any delete) rolls the win back
    # and the commit re-sequences above the head
    stale_scans = [([2], 0)]
    real_scan = log._scan
    log._scan = lambda: stale_scans.pop(0) if stale_scans else real_scan()
    assert log.commit({"path": "/v8"}) == 8
    log._scan = real_scan
    assert not os.path.exists(log._entry_path(3))

    # re-running the prune finishes the crashed pruner's job
    log.prune(8)
    assert [s for s, _p in log.history()] == [8]
    assert log.head()[1]["path"] == "/v8"


def test_prune_sweeps_crashed_writer_tmp_files(tmp_path):
    """PosixBackend.put_if_absent unlinks its private temp in a
    finally — which never runs on SIGKILL. Crashed writers therefore
    leave .put.*.tmp residue that _scan ignores (correctness holds)
    but directory listings pay for forever. prune() sweeps residue
    older than an hour; fresh temps (a LIVE writer between write and
    link) are left alone."""
    log = CommitLog(str(tmp_path / "_c"))
    log.commit({"path": "/a"})
    log.commit({"path": "/b"})
    stale = os.path.join(log.dir, ".put.deadbeef.tmp")
    fresh = os.path.join(log.dir, ".put.cafebabe.tmp")
    for p in (stale, fresh):
        with open(p, "wb") as f:
            f.write(b"{}")
    os.utime(stale, (0, 0))  # ancient
    log.prune(2)
    names = os.listdir(log.dir)
    assert ".put.deadbeef.tmp" not in names  # corpse swept
    assert ".put.cafebabe.tmp" in names  # live writer untouched
    assert log.head()[0] == 2


def test_hadoop_fs_backend_end_to_end(spark, tmp_path):
    """HadoopFsBackend — the CLUSTER deployment shape — drives the
    full protocol through Spark's own Hadoop FileSystem layer on
    local file:// URIs: put-if-absent one-winner, commit/head, torn
    tolerance, prune, and a TableStore e2e whose data-plane decisions
    (listing, existence, vacuum deletes) all go through the same FS
    abstraction. (Atomicity of create-no-overwrite on the LOCAL FS is
    weaker than HDFS/S3A-conditional — documented in the class; what
    this test pins is protocol correctness through the JVM seam.)"""
    from rialto_airflow_spark.commitlog import HadoopFsBackend
    from rialto_airflow_spark.storage import TableStore

    b = HadoopFsBackend(spark)

    # primitive: one winner, loser sees False, content never replaced
    p = str(tmp_path / "c" / "x.json")
    assert b.put_if_absent(p, b"first")
    assert not b.put_if_absent(p, b"second")
    assert b.read(p) == b"first"
    assert b.read(str(tmp_path / "c" / "missing.json")) is None
    assert b.list_dir(str(tmp_path / "c")) == ["x.json"]

    # commit log over the JVM seam, torn garbage tolerated
    log = CommitLog(str(tmp_path / "_commits"), backend=b)
    s1 = log.commit({"path": "/a"})
    (tmp_path / "_commits" / f"{2:020d}.json").write_bytes(b"\xff torn")
    s2 = log.commit({"path": "/b"}, expected=s1)
    assert s2 == 3 and log.head()[1]["path"] == "/b"
    log.prune(3)
    assert [s for s, _p in log.history()] == [3]

    # TableStore: commits AND maintenance decisions through Hadoop FS
    store = TableStore(str(tmp_path / "t"), backend=b)
    store.write(spark.range(3).withColumn("v", F.lit("a")), "tbl")
    store.write(spark.range(5).withColumn("v", F.lit("b")), "tbl")
    assert store.read(spark, "tbl").count() == 5
    vs = store.versions("tbl")
    assert [v["current"] for v in vs] == [False, True]
    assert store.read_version(spark, "tbl", vs[0]["version"]).count() == 3
    removed = store.vacuum("tbl", keep=1, orphan_grace_s=0)
    assert removed == [vs[0]["path"]]
    assert not os.path.isdir(vs[0]["path"])  # delete really recursed
    with pytest.raises(FileNotFoundError):
        store.read_version(spark, "tbl", vs[0]["version"])
    assert store.read(spark, "tbl").count() == 5


def test_tablestore_on_uri_root(spark, tmp_path):
    """A TableStore rooted at a URI (file:// here; hdfs://|s3a:// on
    a cluster) with HadoopFsBackend runs the full lifecycle — write,
    read, versions, time travel, snapshots, compact, vacuum. Pins
    the URI-safety work: no os.makedirs on the scheme root, path
    EQUALITY via scheme-aware canonicalization (abspath would mangle
    's3a://…' into '/cwd/s3a:/…'), compaction sizing and partition
    inference through the backend's data plane."""
    from rialto_airflow_spark.commitlog import HadoopFsBackend
    from rialto_airflow_spark.storage import TableStore

    root = f"file://{tmp_path}/t"
    store = TableStore(root, backend=HadoopFsBackend(spark))
    # no literal "file:" directory was created in the cwd or tmp_path
    assert not os.path.exists(os.path.join(str(tmp_path), "file:"))

    df1 = spark.range(6).withColumn("v", F.lit("a")).withColumn(
        "part", (F.col("id") % 2).cast("int")
    )
    store.write(df1, "tbl", partition_by=["part"])
    store.write(
        spark.range(10).withColumn("v", F.lit("b")).withColumn(
            "part", (F.col("id") % 2).cast("int")
        ),
        "tbl",
        partition_by=["part"],
    )
    assert store.read(spark, "tbl").count() == 10
    vs = store.versions("tbl")
    assert [v["current"] for v in vs] == [False, True]
    assert store.read_version(spark, "tbl", vs[0]["version"]).count() == 6

    # cross-table snapshot on the URI root
    seq = store.publish_snapshot({"other": spark.range(3)})
    assert store.read_snapshot(spark, "other", seq=seq).count() == 3

    # compact: sizing + partition-layout inference through the
    # backend; the layout survives (col=value dirs in the new version)
    store.compact(spark, "tbl")
    cur = store.current_version("tbl")
    assert cur.startswith("file://")
    kids = HadoopFsBackend(spark).list_data(cur)
    assert any(k.startswith("part=") for k in kids)
    assert store.read(spark, "tbl").count() == 10

    # vacuum (keep current + compacted predecessor's protection is
    # count-based here): current never reclaimed, equality checks are
    # scheme-aware
    removed = store.vacuum("tbl", keep=1, orphan_grace_s=0)
    assert cur not in removed
    assert store.read(spark, "tbl").count() == 10


# ------------------------------------------------- default backend


def test_default_backend_routes_index_stores(spark, sf_dir, tmp_path):
    """set_default_backend is the one-line cloud switch: with a
    rename-free MemoryBackend installed process-wide, the MinHash
    index — whose write/probe paths never take a backend parameter —
    publishes its commits through it end-to-end: no INDEX.json, no
    _commits files on disk, and probes resolve through the in-memory
    log."""
    import glob

    from pyspark.sql import functions as F

    from rialto_airflow_spark.commitlog import (
        MemoryBackend,
        set_default_backend,
    )
    from rialto_airflow_spark.operators import dedup as D
    from rialto_airflow_spark.session import load_tables

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "text")
        .limit(60)
    )
    path = str(tmp_path / "mh")
    backend = MemoryBackend()
    set_default_backend(backend)
    try:
        D.write_minhash_index(docs, path, num_perm=12, bands=4)
        # commits live in the backend, not on disk
        assert any("_commits" in k for k in backend.objects)
        assert not os.path.exists(os.path.join(path, "INDEX.json"))
        assert not glob.glob(os.path.join(path, "_commits", "*.json"))
        # resolution + probe work through the in-memory log
        rows_dir, _meta = D.minhash_index_current(path)
        assert os.path.isdir(rows_dir)  # parquet data IS on disk
        probe = docs.limit(5).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        assert D.minhash_dups_against_index(probe, path).count() >= 5
    finally:
        set_default_backend(None)
    # with the default restored, a fresh store no longer sees the
    # in-memory commits — the index is invisible on the POSIX side
    assert D.minhash_index_current(path) is None


# ------------------------------------------------- model-based (hypothesis)


def test_commit_log_random_op_sequences_hold_invariants():
    """Model-based check over random op interleavings: after any mix
    of commits, torn writes, CAS attempts, prunes, and prunes that
    CRASH partway through their delete loop, (1) head() is the newest
    real commit, (2) history() is exactly the surviving real commits
    in order, (3) stale CAS always conflicts, (4) prune never removes
    the head. The crashed-prune op (round-8 verdict: the model
    "randomizes ops but not mid-op crashes") deletes a random PREFIX
    of its sorted targets — marker already published, the rest left
    as sub-floor stragglers — and every invariant must keep holding
    through and after the wreckage, including for later ops that run
    on top of it."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    class CrashingMemoryBackend(MemoryBackend):
        def __init__(self):
            super().__init__()
            self.deletes_left: int | None = None

        def delete(self, path):
            if self.deletes_left is not None:
                if self.deletes_left == 0:
                    raise RuntimeError("simulated crash mid-prune")
                self.deletes_left -= 1
            super().delete(path)

    ops_strategy = st.lists(
        st.sampled_from(
            ["commit", "torn", "cas_ok", "cas_stale", "prune", "prune_crash"]
        ),
        max_size=25,
    )

    @settings(max_examples=60, deadline=None)
    @given(ops=ops_strategy, data=st.data())
    def run(ops, data):
        backend = CrashingMemoryBackend()
        log = CommitLog("/log", backend)
        model: list[tuple[int, int]] = []  # (seq, tag) of real commits
        torn: set[int] = set()  # torn entry names still on disk
        tag = 0
        for op in ops:
            if op == "commit":
                tag += 1
                seq = log.commit({"tag": tag})
                model.append((seq, tag))
            elif op == "torn":
                seqs = log._entries()
                nxt = (seqs[-1] if seqs else 0) + 1
                backend.put_if_absent(
                    log._entry_path(nxt), b"\xff not json"
                )
                torn.add(nxt)
            elif op == "cas_ok":
                # a CAS against the TRUE head must always succeed
                # single-threaded — including past torn garbage names
                # (the pre-hardening code wedged forever there), after
                # prunes (floor-aware sequencing), and after crashed
                # prunes (stragglers below the floor)
                expected = model[-1][0] if model else None
                tag += 1
                seq = log.commit({"tag": tag}, expected=expected)
                model.append((seq, tag))
            elif op == "cas_stale":
                with pytest.raises(CommitConflict):
                    log.commit(
                        {"tag": -1},
                        expected=(model[-1][0] + 7) if model else 7,
                    )
            elif op == "prune":
                # with no head, prune doesn't clamp and wipes every
                # torn name; with one, it deletes all names < cut
                cut = model[-1][0] if model else 10**6
                log.prune(cut)
                model = [m for m in model if m[0] >= cut]
                torn = {s for s in torn if s >= cut}
            elif op == "prune_crash":
                if not model:
                    continue  # prune clamps to head; nothing to crash
                cut = model[-1][0]
                targets = sorted(
                    s for s in ({m[0] for m in model} | torn) if s < cut
                )
                if not targets:
                    continue
                k = data.draw(
                    st.integers(0, len(targets) - 1), label="crash_after"
                )
                backend.deletes_left = k
                with pytest.raises(RuntimeError):
                    log.prune(cut)
                backend.deletes_left = None
                deleted = set(targets[:k])
                model = [m for m in model if m[0] not in deleted]
                torn -= deleted

            head = log.head()
            if model:
                assert head is not None
                assert (head[0], head[1]["tag"]) == model[-1]
            else:
                assert head is None
            assert [
                (s, p["tag"]) for s, p in log.history()
            ] == model

    run()


def test_hadoop_fs_read_tolerates_delete_race(spark, tmp_path):
    """exists/open TOCTOU (round-9 ADVICE): a concurrent prune
    deleting an entry between fs.exists and fs.open must read as
    None — the missing-entry tolerance head()/history() rely on —
    not leak a py4j FileNotFoundException to the reader."""
    from rialto_airflow_spark.commitlog import HadoopFsBackend

    b = HadoopFsBackend(spark)
    p = str(tmp_path / "race" / "e.json")
    assert b.put_if_absent(p, b"payload")

    class OpenRaces:
        """exists says yes, then the file vanishes before open."""

        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def open(self, jp):
            self._fs.delete(jp, False)  # the concurrent prune
            return self._fs.open(jp)    # raises FileNotFoundException

    real = b._fs
    b._fs = lambda jp: OpenRaces(real(jp))
    assert b.read(p) is None


def test_hadoop_fs_warns_on_local_scheme(spark, tmp_path):
    """Deploying HadoopFsBackend over file:// silently weakens
    put_if_absent's one-winner guarantee (check-then-create on the
    local FS) — a misconfigured cluster must hear about it loudly,
    once (round-9 ADVICE)."""
    import warnings

    from rialto_airflow_spark.commitlog import HadoopFsBackend

    b = HadoopFsBackend(spark)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert b.put_if_absent(str(tmp_path / "w" / "a.json"), b"x")
        assert b.put_if_absent(str(tmp_path / "w" / "b.json"), b"y")
    hits = [x for x in w if "NOT atomic on file://" in str(x.message)]
    assert len(hits) == 1  # warned, and only once per backend
