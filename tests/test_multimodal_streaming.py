"""Tests for the multimodal binary plumbing and the availableNow
streaming ingest."""

from __future__ import annotations

import hashlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rialto_airflow_spark.operators import multimodal as MM
from rialto_airflow_spark.session import load_tables
from rialto_airflow_spark.streaming import events as SE

# slow integration battery — excluded from the default lane (see
# pyproject.toml); run with: pytest tests/ -m slowlane
pytestmark = pytest.mark.slowlane


def test_attach_and_extract_features(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")["documents"].limit(50)
    media = MM.attach_binary(docs, "doc_id", "text", "image")
    feats = MM.extract_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(rows) == set(src)
    for i, text in src.items():
        b = text.encode("utf-8")
        r = rows[i]
        assert r["n_bytes"] == len(b)
        assert r["content_md5"] == hashlib.md5(b).hexdigest()
        assert r["magic_int"] == (
            int.from_bytes(b[:8].ljust(8, b"\0"), "big") >> 1
        )
        assert r["feature"] == f"image:{hashlib.md5(b).hexdigest()[:8]}"


def test_decode_stub_rejects_unknown_kind():
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"xx", "hologram")


def test_sample_frames(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")["documents"].limit(5)
    media = MM.attach_binary(docs, "doc_id", "text", "video")
    frames = MM.sample_frames(media, every_n_bytes=64)
    got = frames.groupBy("media_id").count().collect()
    want = {r["media_id"]: max(1, r["n_bytes"] // 64) for r in media.collect()}
    assert {r["media_id"]: r["count"] for r in got} == want


def test_streaming_available_now(spark, sf_dir):
    workdir = tempfile.mkdtemp(prefix="rspark_stream_")
    in_dir, ckpt, out_dir = (
        f"{workdir}/in",
        f"{workdir}/ckpt",
        f"{workdir}/out",
    )
    # stage input as micros-timestamp parquet (the engine's own format)
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.write.parquet(in_dir)

    stream = SE.read_event_stream(spark, in_dir)
    SE.run_available_now(SE.windowed_counts(stream), ckpt, out_dir)
    out1 = spark.read.parquet(out_dir)
    n1 = out1.count()
    assert n1 > 0

    # emitted rows must agree with the batch computation of the same
    # windows (append mode only finalizes windows past the watermark)
    batch = SE.windowed_counts_batch(ev)
    joined = out1.alias("s").join(
        batch.alias("b"),
        (F.col("s.window_start") == F.col("b.window_start"))
        & (F.col("s.event_type") == F.col("b.event_type")),
    )
    assert joined.count() == n1
    mismatch = joined.where(
        (F.col("s.n") != F.col("b.n"))
        | (F.col("s.total_value") != F.col("b.total_value"))
    )
    assert mismatch.count() == 0

    # re-run with no new files: exactly-once, nothing appended
    stream2 = SE.read_event_stream(spark, in_dir)
    SE.run_available_now(SE.windowed_counts(stream2), ckpt, out_dir)
    assert spark.read.parquet(out_dir).count() == n1
    shutil.rmtree(workdir, ignore_errors=True)


def test_demux_frames_matches_builtin_fanout(spark, sf_dir):
    """The vectorized mapInPandas demux path (the shape a real frame
    decoder needs) must emit the identical row set as the built-in
    explode fan-out."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].limit(50)
    media = MM.attach_binary(docs, "doc_id", "text", "video")
    a = MM.sample_frames(media, every_n_bytes=64)
    b = MM.demux_frames(media, every_n_bytes=64)
    # same names and types (nullability flags differ: codegen proves
    # explode output non-null, mapInPandas can't)
    assert [(f.name, f.dataType) for f in a.schema] == [
        (f.name, f.dataType) for f in b.schema
    ]
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0


def test_streaming_sessionization_matches_batch(spark, sf_dir):
    """session_window over a stream (complete-mode drain, no
    watermark) must emit exactly the batch session_window aggregation
    — the streaming sessionization twin of q34/q51."""
    workdir = tempfile.mkdtemp(prefix="rspark_sess_")
    in_dir, ckpt = f"{workdir}/in", f"{workdir}/ckpt"
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.write.parquet(in_dir)

    stream = SE.read_event_stream(spark, in_dir)
    SE.run_available_now_memory(
        SE.session_counts_stream(stream, "30 minutes", late=None),
        ckpt,
        "sess_drain",
        mode="complete",
    )
    got = spark.table("sess_drain")
    want = SE.session_counts_batch(ev, "30 minutes")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0
    shutil.rmtree(workdir, ignore_errors=True)


def test_stateful_sessionizer_matches_batch_minus_tails(spark, sf_dir):
    """The applyInPandasWithState sessionizer emits exactly the batch
    operator's sessions MINUS each user's final (still-open) one —
    same strict-> floor-seconds gap rule as operators.events."""
    from rialto_airflow_spark.operators import events as EV

    workdir = tempfile.mkdtemp(prefix="rspark_sess_state_")
    in_dir, ckpt = f"{workdir}/in", f"{workdir}/ckpt"
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.write.parquet(in_dir)

    stream = SE.read_event_stream(spark, in_dir)
    SE.run_available_now_memory(
        SE.sessionize_stateful(stream, gap_seconds=1800),
        ckpt,
        "sess_state",
        mode="append",
    )
    got = {
        (r.user_id, r.start_s, r.end_s, r.n_events)
        for r in spark.table("sess_state").collect()
    }

    stats = EV.session_stats(ev, "user_id", "ts", 1800)
    last = stats.groupBy("user_id").agg(
        F.max("session_seq").alias("last_seq")
    )
    want = {
        (r.user_id, r.start_s, r.end_s, r.n_events)
        for r in stats.join(last, "user_id")
        .where(F.col("session_seq") < F.col("last_seq"))
        .select(
            "user_id",
            F.unix_timestamp("session_start").alias("start_s"),
            F.unix_timestamp("session_end").alias("end_s"),
            "n_events",
        )
        .collect()
    }
    assert len(got) > 0
    assert got == want
    shutil.rmtree(workdir, ignore_errors=True)


def test_stateful_sessionizer_event_time_timeout_flushes_tails(spark):
    """timeout=True: a user's OPEN tail session emits once the
    event-time watermark passes its close + gap — the flush NoTimeout
    can't do — and matches the batch session_stats row exactly.
    Three single-file micro-batches: user 1's only session arrives in
    batch 1, batches 2-3 advance the watermark far past it."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rialto_airflow_spark.operators import events as EV

    workdir = tempfile.mkdtemp(prefix="rspark_sess_timeout_")
    in_dir, ckpt = f"{workdir}/in", f"{workdir}/ckpt"
    os.makedirs(in_dir)

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [
                        datetime.datetime(1970, 1, 1)
                        + datetime.timedelta(seconds=r[1])
                        for r in rows
                    ],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["x"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        p = os.path.join(in_dir, name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    # gap=100s, watermark delay=10s
    write("b1.parquet", [(1, 1000, 1), (2, 1010, 1)], 1_700_000_000)
    write("b2.parquet", [(3, 100_000, 2)], 1_700_000_100)
    # batch 3 runs with watermark ~99_990 >> 1010+100 -> user 1 times out
    write("b3.parquet", [(4, 200_000, 2)], 1_700_000_200)

    stream = (
        spark.readStream.schema(SE.EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = SE.sessionize_stateful(
        stream.withWatermark("ts", "10 seconds"), gap_seconds=100, timeout=True
    )
    with SE.few_state_partitions(spark):
        SE.run_available_now_memory(agg, ckpt, "sess_timeout", mode="append")
    got = {
        (r.user_id, r.start_s, r.end_s, r.n_events)
        for r in spark.table("sess_timeout").collect()
    }

    # batch oracle over the same files
    ev = spark.read.schema(SE.EVENTS_DDL).parquet(in_dir)
    stats = {
        (r.user_id, r.start_s, r.end_s, r.n_events)
        for r in EV.session_stats(ev, "user_id", "ts", 100)
        .select(
            "user_id",
            F.unix_timestamp("session_start").alias("start_s"),
            F.unix_timestamp("session_end").alias("end_s"),
            "n_events",
        )
        .collect()
    }
    # user 1's tail flushed by the timeout, matching batch exactly
    assert (1, 1000, 1010, 2) in got
    # user 2's first session closed normally by the batch-3 event
    assert (2, 100_000, 100_000, 1) in got
    # user 2's final session is still open (watermark never passed it)
    assert (2, 200_000, 200_000, 1) not in got
    # everything emitted agrees with the batch operator
    assert got <= stats
    shutil.rmtree(workdir, ignore_errors=True)


def test_stateful_sessionizer_out_of_order_across_batches(spark):
    """An event OLDER than the stored tail (cross-batch out-of-order
    arrival inside the same session) must extend the session with
    last=max — not drag `last` backwards and split what follows."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    workdir = tempfile.mkdtemp(prefix="rspark_sess_ooo_")
    in_dir, ckpt = f"{workdir}/in", f"{workdir}/ckpt"
    os.makedirs(in_dir)

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [
                        datetime.datetime(1970, 1, 1)
                        + datetime.timedelta(seconds=r[1])
                        for r in rows
                    ],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["x"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        p = os.path.join(in_dir, name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    # gap=100. Batch 1 leaves tail last=1050; batch 2's event at 1000
    # is older than the tail but within the session. With the old
    # `last = t` bug the tail would regress to 1000 and the batch-3
    # event at 1120 (gap 120 > 100 from 1000, but only 70 from 1050)
    # would wrongly open a NEW session.
    write("b1.parquet", [(1, 950, 7), (2, 1050, 7)], 1_700_000_000)
    write("b2.parquet", [(3, 1000, 7)], 1_700_000_100)
    write("b3.parquet", [(4, 1120, 7), (5, 9000, 7)], 1_700_000_200)

    stream = (
        spark.readStream.schema(SE.EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = SE.sessionize_stateful(stream, gap_seconds=100)
    with SE.few_state_partitions(spark):
        SE.run_available_now_memory(agg, ckpt, "sess_ooo", mode="append")
    got = {
        (r.user_id, r.start_s, r.end_s, r.n_events)
        for r in spark.table("sess_ooo").collect()
    }
    # one closed session spanning all four early events (950..1120);
    # the event at 9000 opened the (unemitted) tail that closed it
    assert got == {(7, 950, 1120, 4)}
    shutil.rmtree(workdir, ignore_errors=True)


def test_extract_features_injected_decoder(spark, sf_dir):
    """A user-supplied decoder drops into extract_features without
    touching plan code — the connector-style injection seam."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].limit(10)
    media = MM.attach_binary(docs, "doc_id", "text", "image")

    def fake_decoder(content, kind):
        return {"magic_int": len(content) * 2, "feature": f"real:{kind}:{len(content)}"}

    rows = {r["media_id"]: r for r in MM.extract_features(media, decode=fake_decoder).collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(rows) == set(src)
    for i, text in src.items():
        b = text.encode("utf-8")
        assert rows[i]["magic_int"] == len(b) * 2
        assert rows[i]["feature"] == f"real:image:{len(b)}"


def test_resize_images_injected_codec(spark, sf_dir):
    """An injected resize callable replaces the payload and the
    byte-length/hash metadata are recomputed from the new bytes."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].limit(5)
    media = MM.attach_binary(docs, "doc_id", "text", "image")

    def fake_resize(content, w, h):
        return content[: w * h]  # deterministic truncation stands in

    out = {r["media_id"]: r for r in MM.resize_images(media, 4, 8, resize=fake_resize).collect()}
    src = {r["doc_id"]: r["text"].encode("utf-8") for r in docs.collect()}
    for i, b in src.items():
        want = b[:32]
        assert bytes(out[i]["content"]) == want
        assert out[i]["n_bytes"] == len(want)
        assert out[i]["content_md5"] == hashlib.md5(want).hexdigest()
        assert out[i]["target"] == "4x8"


def test_tws_sessionizer_matches_applyinpandaswithstate(spark, sf_dir):
    """The transformWithStateInPandas (state v2) sessionizer must emit
    the identical closed-session set as the applyInPandasWithState
    implementation on an availableNow drain — both equal the batch
    operator minus each user's open tail.

    Skipped when google.protobuf is absent: Spark's state-v2 Python
    driver worker imports its protobuf-generated StateMessage module,
    so the API cannot initialize without it (this container ships no
    protobuf; the applyInPandasWithState twin covers the semantics)."""
    pytest.importorskip("google.protobuf.descriptor")
    workdir = tempfile.mkdtemp(prefix="rspark_sess_tws_")
    in_dir = f"{workdir}/in"
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.write.parquet(in_dir)

    out = {}
    for name, fn in [
        ("tws", lambda s: SE.sessionize_tws(s, 1800)),
        ("aip", lambda s: SE.sessionize_stateful(s, 1800)),
    ]:
        stream = SE.read_event_stream(spark, in_dir)
        with SE.few_state_partitions(spark):
            SE.run_available_now_memory(
                fn(stream), f"{workdir}/ckpt_{name}", f"sess_{name}", mode="append"
            )
        out[name] = {
            (r.user_id, r.start_s, r.end_s, r.n_events)
            for r in spark.table(f"sess_{name}").collect()
        }
    assert len(out["tws"]) > 0
    assert out["tws"] == out["aip"]
    shutil.rmtree(workdir, ignore_errors=True)


def test_fold_sessions_unit():
    """Pure-python unit coverage of the session fold BOTH stateful
    APIs share (the TWS adapter's entire logic surface): closure on
    strict->gap, out-of-order min/max extension, empty input,
    state carry-in."""
    import pandas as pd

    from rialto_airflow_spark.streaming.events import _fold_sessions

    def s(*secs):
        return [pd.Series(pd.to_datetime(list(secs), unit="s"))]

    # fresh key: two sessions close, tail stays
    st, closed = _fold_sessions(None, s(10, 20, 200, 210, 500), gap_seconds=100)
    assert closed == {"start_s": [10, 200], "end_s": [20, 210], "n_events": [2, 2]}
    assert st == (500, 500, 1)
    # carry-in state extends, out-of-order event keeps last=max
    st2, closed2 = _fold_sessions((500, 550, 2), s(540, 560), gap_seconds=100)
    assert closed2["start_s"] == [] and st2 == (500, 560, 4)
    # empty batch: state unchanged, nothing closed
    st3, closed3 = _fold_sessions((1, 2, 3), [], gap_seconds=100)
    assert st3 == (1, 2, 3) and closed3["start_s"] == []
    # no state, no input
    st4, _ = _fold_sessions(None, [], gap_seconds=100)
    assert st4 is None


def test_enrich_stream_matches_batch_join(spark, sf_dir):
    """Stream-static broadcast enrichment: the availableNow drain of
    the enriched stream equals the batch join, and a re-run with the
    same checkpoint appends nothing."""
    workdir = tempfile.mkdtemp(prefix="rspark_enrich_")
    in_dir, ckpt, out_dir = f"{workdir}/in", f"{workdir}/ck", f"{workdir}/out"
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.write.parquet(in_dir)
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 3).cast("string"))
    )
    enriched = SE.enrich_stream(SE.read_event_stream(spark, in_dir), dim, "user_id")
    SE.run_available_now(enriched, ckpt, out_dir)
    got = spark.read.parquet(out_dir)
    want = ev.join(dim, "user_id")
    assert got.count() == ev.count()
    assert got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0
    SE.run_available_now(
        SE.enrich_stream(SE.read_event_stream(spark, in_dir), dim, "user_id"),
        ckpt,
        out_dir,
    )
    assert spark.read.parquet(out_dir).count() == ev.count()
    shutil.rmtree(workdir, ignore_errors=True)


def test_stream_upsert_merges_batches_idempotently(spark, tmp_path):
    """foreachBatch MERGE sink: two staged input files drain into a
    TableStore with M2 semantics (latest-by-ts per key wins, replays
    converge); a checkpointed re-run commits no new version content."""
    from rialto_airflow_spark.storage import TableStore

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    import datetime

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    batch1 = [
        (1, ts(0), 10, "view", 1.0, "{}"),
        (1, ts(5), 10, "click", 2.0, "{}"),  # same key, later ts → wins
        (2, ts(1), 11, "view", 3.0, "{}"),
    ]
    mk(batch1).coalesce(1).write.parquet(in_dir)
    SE.stream_upsert(
        SE.read_event_stream(spark, in_dir), store, "events_cur", "event_id", ckpt
    )
    got1 = {
        r["event_id"]: (r["event_type"], r["value"])
        for r in store.read(spark, "events_cur").collect()
    }
    assert got1 == {1: ("click", 2.0), 2: ("view", 3.0)}

    # second micro-batch: update key 1, insert key 3
    batch2 = [
        (1, ts(9), 10, "purchase", 9.0, "{}"),
        (3, ts(2), 12, "view", 4.0, "{}"),
    ]
    mk(batch2).coalesce(1).write.parquet(in_dir, mode="append")
    SE.stream_upsert(
        SE.read_event_stream(spark, in_dir), store, "events_cur", "event_id", ckpt
    )
    got2 = {
        r["event_id"]: (r["event_type"], r["value"])
        for r in store.read(spark, "events_cur").collect()
    }
    assert got2 == {
        1: ("purchase", 9.0),
        2: ("view", 3.0),
        3: ("view", 4.0),
    }

    # no new files → no new batch; the table is unchanged
    v_before = store.current_version("events_cur")
    SE.stream_upsert(
        SE.read_event_stream(spark, in_dir), store, "events_cur", "event_id", ckpt
    )
    assert store.current_version("events_cur") == v_before
    assert {
        r["event_id"]: (r["event_type"], r["value"])
        for r in store.read(spark, "events_cur").collect()
    } == got2


def test_stream_upsert_maintains_aggregate_mart_incrementally(
    spark, tmp_path
):
    """Streaming materialized-view maintenance (round 9): the opt-in
    ``mart`` config re-folds ONLY groups touched by each micro-batch
    (``operators.merge.mart_parts`` over the rows the batch changed,
    against the version the mart was built from). After three drains
    — insert, cross-group update, new group — the mart equals a full
    groupBy recompute of the final table, and the incremental path
    (not a full refresh) demonstrably ran: batch 2's update leaves
    untouched groups' mart rows with their batch-1 content."""
    import datetime

    from pyspark.sql import functions as F

    from rialto_airflow_spark.storage import TableStore

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    mart = {
        "table": "by_type",
        "group_col": "event_type",
        "agg_exprs": [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        ],
    }

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    def drain():
        SE.stream_upsert(
            SE.read_event_stream(spark, in_dir),
            store, "ev", "event_id", ckpt, mart=mart,
        )

    def mart_rows():
        return {
            r["event_type"]: (r["n"], r["total"])
            for r in store.read(spark, "by_type").collect()
        }

    # batch 1: two views, one click
    mk([
        (1, t0, 10, "view", 1.0, "{}"),
        (2, t0, 11, "view", 2.0, "{}"),
        (3, t0, 12, "click", 3.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir)
    drain()
    assert mart_rows() == {"view": (2, 3.0), "click": (1, 3.0)}

    # batch 2: key 1 migrates view→purchase (both groups refresh),
    # key 4 inserts a click
    mk([
        (1, t0 + datetime.timedelta(minutes=5), 10, "purchase", 9.0, "{}"),
        (4, t0 + datetime.timedelta(minutes=1), 13, "click", 4.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    drain()
    assert mart_rows() == {
        "view": (1, 2.0),
        "click": (2, 7.0),
        "purchase": (1, 9.0),
    }

    # batch 3: brand-new group only — every other mart row must be
    # carried, not recomputed
    mk([
        (5, t0 + datetime.timedelta(minutes=2), 14, "signup", 0.5, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    drain()

    # drain-equality with a full recompute of the final table
    final = store.read(spark, "ev")
    full = {
        r["event_type"]: (r["n"], r["total"])
        for r in final.groupBy("event_type").agg(*mart["agg_exprs"]).collect()
    }
    assert mart_rows() == full
    assert full["signup"] == (1, 0.5)
    # version history: one mart version per batch (no silent full
    # refresh collapsing the lineage), all readable for time travel
    assert len(store.versions("by_type")) == 3


def test_stream_upsert_mart_never_runs_snapshot_diff(
    spark, tmp_path, monkeypatch
):
    """Round-10 verdict #1: the streaming mart's change detection must
    come from the in-hand micro-batch (plus bucket-pruned slice reads
    on manifest tables), NEVER from snapshot_diff over two full table
    versions — that was an O(table) READ per 10-second trigger. With
    snapshot_diff poisoned, both mart shapes still converge across an
    insert batch, an update batch and a carried-groups batch, on a
    manifest table AND a plain one."""
    import datetime

    from pyspark.sql import functions as F

    from rialto_airflow_spark.operators import merge as M
    from rialto_airflow_spark.storage import TableStore

    def _boom(*a, **k):
        raise AssertionError(
            "streaming mart maintenance must not snapshot_diff"
        )

    monkeypatch.setattr(M, "snapshot_diff", _boom)

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    for label, manifest_buckets, m_buckets in (
        ("manifest", 8, 4),
        ("plain", None, None),
    ):
        in_dir = str(tmp_path / f"in_{label}")
        ckpt = str(tmp_path / f"ck_{label}")
        store = TableStore(str(tmp_path / f"store_{label}"))
        mart = {
            "table": "by_type",
            "group_col": "event_type",
            "agg_exprs": [
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total"),
            ],
        }
        if m_buckets:
            mart["manifest_buckets"] = m_buckets

        def drain():
            SE.stream_upsert(
                SE.read_event_stream(spark, in_dir),
                store, "ev", "event_id", ckpt,
                mart=mart, manifest_buckets=manifest_buckets,
            )

        mk([
            (1, t0, 10, "view", 1.0, "{}"),
            (2, t0, 11, "click", 3.0, "{}"),
        ]).coalesce(1).write.parquet(in_dir)
        drain()
        mk([
            (1, t0 + datetime.timedelta(minutes=5), 10, "purchase", 9.0, "{}"),
            (3, t0 + datetime.timedelta(minutes=1), 13, "click", 4.0, "{}"),
        ]).coalesce(1).write.parquet(in_dir, mode="append")
        drain()
        mk([
            (4, t0 + datetime.timedelta(minutes=2), 14, "signup", 0.5, "{}"),
        ]).coalesce(1).write.parquet(in_dir, mode="append")
        drain()
        final = store.read(spark, "ev")
        full = {
            r["event_type"]: (r["n"], r["total"])
            for r in final.groupBy("event_type")
            .agg(*mart["agg_exprs"])
            .collect()
        }
        got = {
            r["event_type"]: (r["n"], r["total"])
            for r in store.read(spark, "by_type").collect()
        }
        assert got == full, label
        # event 1 migrated view→purchase: the emptied view group must
        # DISAPPEAR from the mart (replace semantics), not linger
        assert "view" not in got and got["purchase"] == (1, 9.0), label
        assert got["signup"] == (1, 0.5) and got["click"] == (2, 7.0), label


def test_stream_upsert_retention_bounds_versions_and_log(spark, tmp_path):
    """retention=N vacuums after every merge: an indefinitely-running
    stream keeps at most N table versions and an O(N) commit log
    (10-second triggers = ~8.6k versions + log entries per day
    unbounded), while the merged STATE stays exactly right — vacuum
    only reclaims superseded snapshots."""
    import datetime

    from rialto_airflow_spark.storage import TableStore

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    for i in range(4):  # four micro-batches, one file each
        mk([(i, t0 + datetime.timedelta(minutes=i), 10, "view", float(i), "{}")]
           ).coalesce(1).write.parquet(in_dir, mode="append")
        SE.stream_upsert(
            SE.read_event_stream(spark, in_dir),
            store, "ev", "event_id", ckpt, retention=2,
        )

    # all four merges applied — state is complete
    assert store.read(spark, "ev").count() == 4
    # but only the newest 2 versions (and their log entries) retained
    assert len(store.versions("ev")) == 2
    assert len(store._store("ev").log.history()) <= 2


def test_stream_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join: drained inner matches equal the
    batch join of the two event slices under the identical interval
    condition."""
    workdir = tempfile.mkdtemp(prefix="rspark_ssj_")
    in_dir, ckpt, out_dir = f"{workdir}/in", f"{workdir}/ck", f"{workdir}/out"
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.write.parquet(in_dir)

    def split(df):
        a = df.where(F.col("event_id") % 2 == 0).select(
            "event_id", "ts", "user_id", "value"
        )
        b = df.where(F.col("event_id") % 2 == 1).select(
            "event_id", "ts", "user_id", "value"
        )
        return a, b

    with SE.few_state_partitions(spark):
        sa, sb = split(SE.read_event_stream(spark, in_dir))
        joined = SE.stream_interval_join(sa, sb, "user_id", bound="30 minutes")
        SE.run_available_now(joined, ckpt, out_dir)
    got = spark.read.parquet(out_dir)

    ba, bb = split(ev)
    for c in bb.columns:
        if c != "user_id":
            bb = bb.withColumnRenamed(c, c + "_r")
    want = ba.alias("l").join(
        bb.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("ts_r") >= F.col("ts") - F.expr("INTERVAL 30 minutes"))
        & (F.col("ts_r") <= F.col("ts") + F.expr("INTERVAL 30 minutes")),
    ).drop(F.col("r.user_id"))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0
    shutil.rmtree(workdir, ignore_errors=True)


def test_stream_distinct_sketches_match_batch(spark, sf_dir, tmp_path):
    """Two staged deliveries drain into stored per-group sketches whose
    estimates equal the single-pass batch sketch of ALL the data —
    the union-of-sketches ≡ sketch-of-union identity surviving the
    stream/store roundtrip."""
    from rialto_airflow_spark.operators.sketches import distinct_sketches
    from rialto_airflow_spark.storage import TableStore

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.where(F.col("event_id") % 2 == 0).write.parquet(in_dir)

    with SE.few_state_partitions(spark):
        SE.stream_distinct_sketches(
            SE.read_event_stream(spark, in_dir), store, "uniq",
            ["event_type"], "user_id", ckpt,
        )
        ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
        SE.stream_distinct_sketches(
            SE.read_event_stream(spark, in_dir), store, "uniq",
            ["event_type"], "user_id", ckpt,
        )
    got = {
        r["event_type"]: r["approx_distinct"]
        for r in store.read(spark, "uniq").collect()
    }
    want = {
        r["event_type"]: r["approx_distinct"]
        for r in distinct_sketches(ev, ["event_type"], "user_id").collect()
    }
    assert got == want


def test_gated_stream_upsert_quarantines_bad_batch(spark, tmp_path):
    """A batch violating the gate never reaches the published table;
    it lands in quarantine with the failing check names, and a clean
    batch publishes normally."""
    import datetime

    from rialto_airflow_spark.operators import quality as Q
    from rialto_airflow_spark.storage import TableStore

    in_dir, ck1, ck2 = (
        str(tmp_path / "in"),
        str(tmp_path / "ck1"),
        str(tmp_path / "ck2"),
    )
    store = TableStore(str(tmp_path / "store"))
    t0 = datetime.datetime(2024, 1, 1, 12)
    checks = [Q.in_range("value", 0, 100)]

    bad = spark.createDataFrame(
        [(1, t0, 10, "view", -5.0, "{}")], SE.EVENTS_DDL
    )
    bad.coalesce(1).write.parquet(in_dir)
    SE.gated_stream_upsert(
        SE.read_event_stream(spark, in_dir), store, "cur", "event_id",
        ck1, checks=checks, quarantine_table="bad",
    )
    try:
        store.read(spark, "cur")
        raise AssertionError("bad batch must not publish")
    except FileNotFoundError:
        pass
    qrows = store.read(spark, "bad").collect()
    assert len(qrows) == 1
    assert "in_range(value,[0,100])" in qrows[0]["__failed_checks"]

    good = spark.createDataFrame(
        [(2, t0, 11, "view", 5.0, "{}")], SE.EVENTS_DDL
    )
    good.coalesce(1).write.parquet(in_dir, mode="append")
    SE.gated_stream_upsert(
        SE.read_event_stream(spark, in_dir), store, "cur", "event_id",
        ck1, checks=checks, quarantine_table="bad",
    )
    pub = store.read(spark, "cur").collect()
    assert [r["event_id"] for r in pub] == [2]


def test_stream_histogram_sketch_matches_batch_and_skips_replay(
    spark, sf_dir, tmp_path
):
    """Two staged deliveries add into stored per-group histograms that
    equal the single-pass batch sketch of ALL the data; a drained
    same-checkpoint rerun is a no-op (the engine delivers nothing);
    and a FRESH checkpoint against the stamped table is refused —
    batch ids are checkpoint-scoped, so merging would double-count."""
    from rialto_airflow_spark.operators.sketches import histogram_sketch
    from rialto_airflow_spark.storage import TableStore

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.where(F.col("event_id") % 2 == 0).write.parquet(in_dir)

    with SE.few_state_partitions(spark):
        SE.stream_histogram_sketch(
            SE.read_event_stream(spark, in_dir), store, "hist",
            ["event_type"], "value", ckpt,
        )
        ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(
            in_dir
        )
        SE.stream_histogram_sketch(
            SE.read_event_stream(spark, in_dir), store, "hist",
            ["event_type"], "value", ckpt,
        )
        got = {
            (r["event_type"], r["bin"]): r["cnt"]
            for r in store.read(spark, "hist").collect()
        }
        want = {
            (r["event_type"], r["bin"]): r["cnt"]
            for r in histogram_sketch(ev, ["event_type"], "value").collect()
        }
        assert got == want

        # same-checkpoint rerun: no new files -> engine produces no
        # batches -> counters unchanged
        SE.stream_histogram_sketch(
            SE.read_event_stream(spark, in_dir), store, "hist",
            ["event_type"], "value", ckpt,
        )
        again = {
            (r["event_type"], r["bin"]): r["cnt"]
            for r in store.read(spark, "hist").collect()
        }
        assert again == got

        # checkpoint-scope guard: a fresh checkpoint would redeliver
        # everything as batch 0 against a table stamped batch>=0 by
        # another checkpoint — the merge must REFUSE, not double-count
        import pytest

        # the ValueError surfaces wrapped in StreamingQueryException
        with pytest.raises(Exception, match="checkpoint-scoped"):
            SE.stream_histogram_sketch(
                SE.read_event_stream(spark, in_dir), store, "hist",
                ["event_type"], "value", str(tmp_path / "ck2"),
            )
        assert {
            (r["event_type"], r["bin"]): r["cnt"]
            for r in store.read(spark, "hist").collect()
        } == got


def test_stream_kmv_sketches_match_batch_and_intersect(spark, sf_dir, tmp_path):
    """KMV streaming rollup: two staged deliveries drain into stored
    per-group bottom-k sketches ARRAY-identical to the single-pass
    batch sketch of all the data (bottom-k is exactly mergeable), and
    the stored rows still support the set-algebra read path
    (intersection of two event types' user sets)."""
    from rialto_airflow_spark.operators.sketches import (
        kmv_set_estimates,
        kmv_sketch,
    )
    from rialto_airflow_spark.storage import TableStore

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.where(F.col("event_id") % 2 == 0).write.parquet(in_dir)

    with SE.few_state_partitions(spark):
        SE.stream_kmv_sketches(
            SE.read_event_stream(spark, in_dir), store, "kmv_uniq",
            ["event_type"], "user_id", ckpt, k=64,
        )
        ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
        SE.stream_kmv_sketches(
            SE.read_event_stream(spark, in_dir), store, "kmv_uniq",
            ["event_type"], "user_id", ckpt, k=64,
        )
    stored = store.read(spark, "kmv_uniq")
    got = {r["event_type"]: list(r["kmv"]) for r in stored.collect()}
    want = {
        r["event_type"]: list(r["kmv"])
        for r in kmv_sketch(ev, ["event_type"], "user_id", k=64).collect()
    }
    assert got == want  # arrays identical, not just estimates

    # set-algebra read path over the STORED rows: the jaccard of two
    # event types' user sets is a sane fraction (users overlap across
    # types in the synthetic data)
    types = sorted(got)[:2]
    a = stored.where(F.col("event_type") == types[0])
    b = stored.where(F.col("event_type") == types[1])
    est = kmv_set_estimates(a.drop("event_type"), b.drop("event_type"),
                            None, k=64).collect()[0]
    assert 0.0 <= est["jaccard_est"] <= 1.0
    assert est["union_est"] >= max(
        r["approx_distinct"] for r in stored.where(
            F.col("event_type").isin(types)).collect()
    ) * 0.5


def test_stream_cm_sketch_matches_batch_and_guards_replay(
    spark, sf_dir, tmp_path
):
    """Count-min streaming rollup (the additive branch of the
    streaming sketch family): two staged deliveries add into stored
    counters identical to the single-pass batch sketch; point
    estimates never undercount the true frequencies; a foreign
    checkpoint is refused."""
    import pytest

    from rialto_airflow_spark.operators.sketches import cm_estimate, cm_sketch
    from rialto_airflow_spark.storage import TableStore

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    ev = load_tables(spark, sf_dir, "events")["events"]
    ev.where(F.col("event_id") % 2 == 0).write.parquet(in_dir)

    with SE.few_state_partitions(spark):
        SE.stream_cm_sketch(
            SE.read_event_stream(spark, in_dir), store, "cms",
            "event_type", ckpt, width=256, depth=3,
        )
        ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(in_dir)
        SE.stream_cm_sketch(
            SE.read_event_stream(spark, in_dir), store, "cms",
            "event_type", ckpt, width=256, depth=3,
        )
    stored = store.read(spark, "cms").drop("__last_batch", "__ckpt")
    got = {
        (r["depth_idx"], r["pos"]): r["cnt"] for r in stored.collect()
    }
    want = {
        (r["depth_idx"], r["pos"]): r["cnt"]
        for r in cm_sketch(ev, "event_type", width=256, depth=3).collect()
    }
    assert got == want  # counters identical, not just close

    # point estimates over the STORED sketch: never undercount
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    keys = ev.select("event_type").distinct()
    est = {
        r["event_type"]: r["cm_count"]
        for r in cm_estimate(stored, keys, "event_type", width=256, depth=3).collect()
    }
    for k, n in truth.items():
        assert est[k] >= n

    # foreign checkpoint: refused, not double-counted
    ckpt2 = str(tmp_path / "ck2")
    with SE.few_state_partitions(spark):
        with pytest.raises(Exception, match="checkpoint"):
            SE.stream_cm_sketch(
                SE.read_event_stream(spark, in_dir), store, "cms",
                "event_type", ckpt2, width=256, depth=3,
            )


def test_stream_sketch_refuses_unstamped_seed_table(spark, sf_dir, tmp_path):
    """Round-6 review fix: a sketch table seeded by a BATCH write has
    no replay stamps; the additive streams must refuse it with the
    designed error instead of dying on an unresolved-column
    exception."""
    import pytest

    from rialto_airflow_spark.operators.sketches import cm_sketch
    from rialto_airflow_spark.storage import TableStore

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    ev = load_tables(spark, sf_dir, "events")["events"]
    store.write(cm_sketch(ev, "event_type", width=64, depth=2), "freq")
    ev.limit(50).write.parquet(in_dir)
    with SE.few_state_partitions(spark):
        with pytest.raises(Exception, match="stamps"):
            SE.stream_cm_sketch(
                SE.read_event_stream(spark, in_dir), store, "freq",
                "event_type", ckpt, width=64, depth=2,
            )


def test_stream_upsert_mart_survives_crash_between_merge_and_mart_write(
    spark, tmp_path, monkeypatch
):
    """Round-9 ADVICE (medium): if the sink crashes AFTER the table
    merge commits but BEFORE the mart write, the replayed batch used
    to diff the already-merged version against itself — an empty
    diff that silently and permanently dropped the batch's group
    updates from the mart. The fix records built_from (the source
    version the mart was derived from) in the mart's commit payload
    and diffs from THAT: the replay re-surfaces the lost changes."""
    import datetime

    import pytest
    from pyspark.sql import functions as F

    from rialto_airflow_spark.storage import TableStore

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    mart = {
        "table": "by_type",
        "group_col": "event_type",
        "agg_exprs": [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        ],
    }

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    def drain():
        SE.stream_upsert(
            SE.read_event_stream(spark, in_dir),
            store, "ev", "event_id", ckpt, mart=mart,
        )

    mk([
        (1, t0, 10, "view", 1.0, "{}"),
        (2, t0, 11, "click", 3.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir)
    drain()

    # batch 2 — and the injected crash: table merge commits, mart
    # write raises before publishing
    mk([
        (3, t0 + datetime.timedelta(minutes=1), 12, "view", 5.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")

    real_write = TableStore.write

    def crash_on_mart(self, df, name, partition_by=None, extra=None):
        if name == "by_type":
            raise RuntimeError("injected crash before mart write")
        return real_write(self, df, name, partition_by=partition_by, extra=extra)

    monkeypatch.setattr(TableStore, "write", crash_on_mart)
    with pytest.raises(Exception, match="injected crash"):
        drain()
    monkeypatch.setattr(TableStore, "write", real_write)

    # the crash really landed in the window: table has batch 2, mart
    # does not
    assert store.read(spark, "ev").count() == 3
    assert {
        r["event_type"] for r in store.read(spark, "by_type").collect()
    } == {"view", "click"}
    assert store.read(spark, "by_type").where(
        F.col("event_type") == "view"
    ).first()["n"] == 1

    # replay: the checkpoint never committed batch 2, so the restart
    # re-runs it — the merge is idempotent and the mart refresh must
    # re-surface the batch's group updates
    drain()
    got = {
        r["event_type"]: (r["n"], r["total"])
        for r in store.read(spark, "by_type").collect()
    }
    final = store.read(spark, "ev")
    full = {
        r["event_type"]: (r["n"], r["total"])
        for r in final.groupBy("event_type").agg(*mart["agg_exprs"]).collect()
    }
    assert got == full == {"view": (2, 6.0), "click": (1, 3.0)}


def test_stream_upsert_maintains_join_mart_incrementally(spark, tmp_path):
    """Round-10 task #5: the JOIN-shaped mart twin of the group-agg
    maintenance — mart rows are a per-user fan-out join into a
    dimension table, and each micro-batch rebuilds only the touched
    users' mart rows (``operators.merge.mart_parts`` through the same
    built_from replay-safe hook). After every drain the mart equals
    the full mart definition over the final table."""
    import datetime

    from pyspark.sql import functions as F

    from rialto_airflow_spark.storage import TableStore

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    segments = spark.createDataFrame(
        [(10, "gold"), (11, "silver"), (12, "bronze"), (13, "gold")],
        "user_id long, segment string",
    )

    def build(rows):
        return (
            rows.join(F.broadcast(segments), "user_id", "left")
            .groupBy("user_id", "segment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )

    mart = {"table": "by_user", "fan_key": "user_id", "build": build}

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    def drain():
        SE.stream_upsert(
            SE.read_event_stream(spark, in_dir),
            store, "ev", "event_id", ckpt, mart=mart,
        )

    def mart_rows():
        return {
            (r["user_id"], r["segment"]): (r["n_events"], r["total_value"])
            for r in store.read(spark, "by_user").collect()
        }

    mk([
        (1, t0, 10, "view", 1.0, "{}"),
        (2, t0, 11, "view", 2.0, "{}"),
        (3, t0, 10, "click", 3.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir)
    drain()
    assert mart_rows() == {(10, "gold"): (2, 4.0), (11, "silver"): (1, 2.0)}

    # batch 2: event 1 migrates user 10 → 12 (both users' groups
    # refresh), new event for unknown user 99 (null dim row)
    mk([
        (1, t0 + datetime.timedelta(minutes=5), 12, "view", 1.5, "{}"),
        (4, t0 + datetime.timedelta(minutes=1), 99, "view", 7.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    # fan_key != merge key and no cluster_buckets: the table-scan
    # re-fold warning names the caller's stream_upsert line
    with pytest.warns(UserWarning, match="cluster_buckets") as rec:
        drain()
    assert any(w.filename == __file__ for w in rec)
    assert mart_rows() == {
        (10, "gold"): (1, 3.0),
        (11, "silver"): (1, 2.0),
        (12, "bronze"): (1, 1.5),
        (99, None): (1, 7.0),
    }

    # batch 3: untouched users' mart rows carry; final mart equals the
    # full mart definition over the final table
    mk([
        (5, t0 + datetime.timedelta(minutes=2), 13, "buy", 9.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    drain()
    final = store.read(spark, "ev")
    want = {
        (r["user_id"], r["segment"]): (r["n_events"], r["total_value"])
        for r in build(final).collect()
    }
    assert mart_rows() == want
    assert len(store.versions("by_user")) == 3  # one mart version/batch


def _wav_bytes(freq=440, rate=8000, n=800, amp=12000):
    """A real 16-bit mono PCM WAV, built with the stdlib wave module."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack("<h", int(amp * math.sin(2 * math.pi * freq * i / rate)))
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def _bmp_bytes(width=4, height=3, rgb=(10, 200, 30)):
    """A real uncompressed 24-bit BMP, hand-packed (BI_RGB,
    bottom-up, 4-byte padded rows)."""
    import struct

    row = bytes([rgb[2], rgb[1], rgb[0]]) * width
    pad = b"\0" * ((4 - (width * 3) % 4) % 4)
    pixels = (row + pad) * height
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(pixels), 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + len(dib) + len(pixels), 0, 0,
                      14 + len(dib))
    return hdr + dib + pixels


def test_stdlib_wav_decode_is_real():
    """Round-10 task #7: the WAV path decodes REAL bytes — fields
    come from the RIFF chunks and the peak from the actual samples,
    not a fake."""
    wav = _wav_bytes(freq=440, rate=8000, n=800, amp=12000)
    got = MM.decode_wav(wav)
    assert got["sample_rate"] == 8000 and got["n_channels"] == 1
    assert got["bits"] == 16 and got["n_samples"] == 800
    assert abs(got["duration_s"] - 0.1) < 1e-9
    # the sine peaks within quantization of the requested amplitude
    assert 11900 <= got["peak"] <= 12000
    # truncated/garbage payloads fail loudly, never fake-decode
    with pytest.raises(ValueError):
        MM.decode_wav(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError):
        MM.decode_wav(b"not audio at all")


def test_stdlib_bmp_decode_is_real():
    bmp = _bmp_bytes(width=4, height=3, rgb=(10, 200, 30))
    got = MM.decode_bmp(bmp)
    assert (got["width"], got["height"]) == (4, 3)
    assert (got["mean_r"], got["mean_g"], got["mean_b"]) == (10.0, 200.0, 30.0)
    with pytest.raises(ValueError):
        MM.decode_bmp(b"BM but not really a bitmap header....")


def test_extract_features_with_stdlib_decoder(spark):
    """The real decoders ride the SAME injected seam and Arrow batch
    plumbing as the fakes: a mixed WAV/BMP/text frame extracts
    through mapInPandas with per-kind real decoding, text falling
    back to the stub."""
    rows = [
        (1, "audio", bytearray(_wav_bytes())),
        (2, "image", bytearray(_bmp_bytes())),
        (3, "text", bytearray(b"plain payload")),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    media = df.select(
        "media_id", "kind", "content",
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )
    feats = {
        r["media_id"]: (r["magic_int"], r["feature"])
        for r in MM.extract_features(
            media, decode=MM.stdlib_decode_media
        ).collect()
    }
    assert feats[1][0] == 800  # n_samples from the real WAV decode
    assert feats[1][1].startswith("wav:8000hz x1 16bit peak=")
    assert feats[2][0] == 12  # 4x3 pixels from the real BMP decode
    assert feats[2][1].startswith("bmp:4x3 rgb=(10.0,200.0,30.0)")
    assert feats[3][1].startswith("text:")  # stub seam retained


DEL_DDL = SE.EVENTS_DDL + ", is_deleted boolean"


def _del_stream(spark, path):
    return spark.readStream.schema(DEL_DDL).parquet(path)


def test_stream_upsert_delete_col_tombstones_manifest(spark, tmp_path):
    """Round-12 task #2: a delete-flagged key vanishes from the
    MANIFEST table (O(matched files) rewrite), the mart re-folds the
    groups the deletes leave — including a group the delete EMPTIES —
    and a checkpointed replay converges to the same state."""
    import datetime

    from rialto_airflow_spark.storage import TableStore

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))
    mart = {
        "table": "by_type",
        "group_col": "event_type",
        "agg_exprs": [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        ],
        "manifest_buckets": 4,
        "cluster_buckets": 4,
    }

    def mk(rows):
        return spark.createDataFrame(rows, DEL_DDL)

    def drain():
        SE.stream_upsert(
            _del_stream(spark, in_dir), store, "ev", "event_id", ckpt,
            mart=mart, manifest_buckets=8, delete_col="is_deleted",
        )

    rows1 = [
        (i, t0, 10 + i, "view" if i % 2 else "click", float(i), "{}", False)
        for i in range(20)
    ] + [(100, t0, 50, "purchase", 7.0, "{}", False)]
    mk(rows1).coalesce(1).write.parquet(in_dir)
    drain()
    assert store.read(spark, "ev").count() == 21

    # trigger 2: update key 2, DELETE key 3 (view shrinks), DELETE
    # key 100 (purchase group EMPTIES), insert key 200, and a
    # within-batch key whose latest row is a tombstone (key 4)
    rows2 = [
        (2, t0 + datetime.timedelta(minutes=1), 12, "click", 20.0, "{}", False),
        (3, t0 + datetime.timedelta(minutes=1), 13, "view", 0.0, "{}", True),
        (100, t0 + datetime.timedelta(minutes=1), 50, "purchase", 0.0, "{}", True),
        (200, t0 + datetime.timedelta(minutes=1), 60, "signup", 5.0, "{}", False),
        (4, t0 + datetime.timedelta(minutes=1), 14, "click", 44.0, "{}", False),
        (4, t0 + datetime.timedelta(minutes=2), 14, "click", 0.0, "{}", True),
    ]
    mk(rows2).coalesce(1).write.parquet(in_dir, mode="append")
    drain()

    final = store.read(spark, "ev")
    assert "is_deleted" not in final.columns
    ids = {r["event_id"] for r in final.select("event_id").collect()}
    assert 3 not in ids and 4 not in ids and 100 not in ids
    assert 200 in ids and 2 in ids
    want = {
        r["event_type"]: (r["n"], r["total"])
        for r in final.groupBy("event_type").agg(*mart["agg_exprs"]).collect()
    }
    got = {
        r["event_type"]: (r["n"], r["total"])
        for r in store.read(spark, "by_type").collect()
    }
    assert got == want
    assert "purchase" not in got  # emptied group's mart row removed

    # replay: a fresh checkpoint re-applies everything — same state
    ckpt2 = str(tmp_path / "ck2")
    store2 = TableStore(str(tmp_path / "store2"))
    SE.stream_upsert(
        _del_stream(spark, in_dir), store2, "ev", "event_id", ckpt2,
        mart=mart, manifest_buckets=8, delete_col="is_deleted",
    )
    got2 = {
        r["event_id"] for r in store2.read(spark, "ev").collect()
    }
    assert got2 == ids


def test_stream_upsert_delete_col_plain_table(spark, tmp_path):
    """Tombstones on the PLAIN (non-manifest) path: the per-batch
    full-version rewrite applies deletes too."""
    import datetime

    from rialto_airflow_spark.storage import TableStore

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    store = TableStore(str(tmp_path / "store"))

    def mk(rows):
        return spark.createDataFrame(rows, DEL_DDL)

    mk([
        (1, t0, 10, "view", 1.0, "{}", False),
        (2, t0, 11, "view", 2.0, "{}", False),
    ]).coalesce(1).write.parquet(in_dir)
    SE.stream_upsert(
        _del_stream(spark, in_dir), store, "ev", "event_id", ckpt,
        delete_col="is_deleted",
    )
    mk([
        (1, t0 + datetime.timedelta(minutes=1), 10, "view", 0.0, "{}", True),
        (3, t0, 12, "click", 3.0, "{}", False),
        # a null-key tombstone is dropped (null keys are insert-only)
        (None, t0, 13, "click", 9.0, "{}", True),
        (None, t0, 14, "click", 8.0, "{}", False),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    SE.stream_upsert(
        _del_stream(spark, in_dir), store, "ev", "event_id", ckpt,
        delete_col="is_deleted",
    )
    got = {
        (r["event_id"], r["value"])
        for r in store.read(spark, "ev").collect()
    }
    assert got == {(2, 2.0), (3, 3.0), (None, 8.0)}


def test_stream_mart_fan_key_eq_key_refolds_without_table_scan(
    spark, tmp_path, monkeypatch
):
    """Round-12 task #3: when the mart's group column IS the merge
    key, the re-fold serves from the table's own bucket-pruned reads
    — no cluster projection, no table scan (snapshot_diff AND the
    full-table read poisoned after bootstrap), no __cluster table."""
    import datetime

    from rialto_airflow_spark.operators import merge as M
    from rialto_airflow_spark.storage import TableStore

    monkeypatch.setattr(
        M, "snapshot_diff",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("diff ran")),
    )
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    st = TableStore(str(tmp_path / "store"))
    mart = {
        "table": "by_id",
        "group_col": "event_id",
        "agg_exprs": [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        ],
        "manifest_buckets": 4,
        # explicitly set: must be IGNORED (redundant copy) because
        # group_col == merge key
        "cluster_buckets": 4,
    }

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    def drain():
        SE.stream_upsert(
            SE.read_event_stream(spark, in_dir), st, "ev", "event_id",
            ckpt, mart=mart, manifest_buckets=8,
        )

    mk([
        (i, t0, 10 + i, "view" if i % 2 else "click", float(i), "{}")
        for i in range(20)
    ]).coalesce(1).write.parquet(in_dir)
    drain()
    assert st.current_info("by_id__cluster") is None

    from rialto_airflow_spark.storage import TableStore as TS

    real_read = TS.read

    def poisoned_read(self, spark_, name):
        df = real_read(self, spark_, name)
        if name == "ev":
            return df.where(
                F.raise_error(F.lit("full-table scan on the ev read"))
                .cast("string").isNull()
            )
        return df

    monkeypatch.setattr(TS, "read", poisoned_read)
    mk([
        (3, t0 + datetime.timedelta(minutes=5), 13, "view", 9.0, "{}"),
        (99, t0 + datetime.timedelta(minutes=1), 99, "signup", 4.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    drain()
    monkeypatch.setattr(TS, "read", real_read)
    assert st.current_info("by_id__cluster") is None
    final = st.read(spark, "ev")
    want = {
        r["event_id"]: (r["n"], r["total"])
        for r in final.groupBy("event_id").agg(*mart["agg_exprs"]).collect()
    }
    got = {
        r["event_id"]: (r["n"], r["total"])
        for r in st.read(spark, "by_id").collect()
    }
    assert got == want


def test_stream_mart_cluster_refold_includes_null_key_rows(
    spark, tmp_path
):
    """Round-11 ADVICE (medium): a fan-key group containing null-
    merge-key rows must re-fold with them — they live in the table
    (null keys insert) but not in the cluster projection, so the
    re-fold unions them from the table's null bucket. Also: a batch's
    OWN null-key rows refresh their groups, including a group no
    keyed row ever touched."""
    import datetime

    from rialto_airflow_spark.storage import TableStore

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    st = TableStore(str(tmp_path / "store"))
    mart = {
        "table": "by_type",
        "group_col": "event_type",
        "agg_exprs": [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        ],
        "manifest_buckets": 4,
        "cluster_buckets": 4,
    }

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    def drain():
        SE.stream_upsert(
            SE.read_event_stream(spark, in_dir), st, "ev", "event_id",
            ckpt, mart=mart, manifest_buckets=8,
        )

    # bootstrap: 'view' carries a NULL-key member row from the start
    mk([
        (i, t0, 10 + i, "view" if i % 2 else "click", float(i), "{}")
        for i in range(10)
    ] + [(None, t0, 90, "view", 100.0, "{}")]).coalesce(1).write.parquet(
        in_dir
    )
    drain()

    def want_got():
        final = st.read(spark, "ev")
        want = {
            r["event_type"]: (r["n"], r["total"])
            for r in final.groupBy("event_type")
            .agg(*mart["agg_exprs"])
            .collect()
        }
        got = {
            r["event_type"]: (r["n"], r["total"])
            for r in st.read(spark, "by_type").collect()
        }
        return want, got

    w, g = want_got()
    assert g == w and g["view"][1] >= 100.0

    # trigger 2: a KEYED 'view' row changes — the re-fold must keep
    # the null-key member (the ADVICE divergence: without the null
    # union, view's total drops by 100)
    mk([
        (1, t0 + datetime.timedelta(minutes=1), 11, "view", 50.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    drain()
    w, g = want_got()
    assert g == w and g["view"][1] >= 150.0

    # trigger 3: a NULL-key row lands in a BRAND-NEW group — no keyed
    # row touches it, yet its mart row must appear; and another
    # null-key row extends 'view'
    mk([
        (None, t0 + datetime.timedelta(minutes=2), 91, "nullgrp", 7.0, "{}"),
        (None, t0 + datetime.timedelta(minutes=2), 92, "view", 1.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    drain()
    w, g = want_got()
    assert g == w and g["nullgrp"] == (1, 7.0)
    # the cluster projection stays null-free
    cl = st.read(spark, "by_type__cluster")
    assert cl.where(F.col("event_id").isNull()).count() == 0


def test_stream_mart_table_refold_warns_once(spark, tmp_path, recwarn):
    """fan_key != key with no cluster_buckets: correct, but the sink
    warns (once) that the re-fold is table-sized."""
    import datetime
    import warnings as _w

    from rialto_airflow_spark.storage import TableStore

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    st = TableStore(str(tmp_path / "store"))
    mart = {
        "table": "by_type",
        "group_col": "event_type",
        "agg_exprs": [F.count(F.lit(1)).alias("n")],
        "manifest_buckets": 4,
    }

    def mk(rows):
        return spark.createDataFrame(rows, SE.EVENTS_DDL)

    mk([
        (i, t0, 10 + i, "view", float(i), "{}") for i in range(5)
    ]).coalesce(1).write.parquet(in_dir)
    SE.stream_upsert(
        SE.read_event_stream(spark, in_dir), st, "ev", "event_id", ckpt,
        mart=mart, manifest_buckets=8,
    )
    mk([
        (1, t0 + datetime.timedelta(minutes=1), 11, "view", 9.0, "{}"),
    ]).coalesce(1).write.parquet(in_dir, mode="append")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        SE.stream_upsert(
            SE.read_event_stream(spark, in_dir), st, "ev", "event_id",
            ckpt, mart=mart, manifest_buckets=8,
        )
    msgs = [str(x.message) for x in rec if "re-fold" in str(x.message)]
    assert len(msgs) == 1
    got = {
        r["event_type"]: r["n"]
        for r in st.read(spark, "by_type").collect()
    }
    assert got == {"view": 5}


def _png_bytes(rows, channels, filters):
    """Minimal PNG encoder for the decoder tests: 8-bit, explicit
    per-row filter types, correct chunk CRCs — real bytes any PNG
    reader accepts."""
    import struct
    import zlib

    height = len(rows)
    width = len(rows[0]) // channels
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def flt(ftype, cur, prev):
        out = bytearray()
        for i, x in enumerate(cur):
            a = cur[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if ftype == 0:
                out.append(x)
            elif ftype == 1:
                out.append((x - a) & 0xFF)
            elif ftype == 2:
                out.append((x - b) & 0xFF)
            elif ftype == 3:
                out.append((x - ((a + b) >> 1)) & 0xFF)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c
                )
                out.append((x - pred) & 0xFF)
        return bytes(out)

    raw = bytearray()
    prev = bytes(len(rows[0]))
    for r, f in zip(rows, filters):
        raw.append(f)
        raw += flt(f, r, prev)
        prev = r

    def chunk(cid, body):
        return (
            struct.pack(">I", len(body)) + cid + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_all_filter_types(spark):
    """Round-12 task #4: the pure-stdlib PNG decoder — zlib inflate +
    all five filter reconstructions — recovers exact dimensions and
    pixel means from real synthesized PNG bytes, one row per filter
    type, for RGB, RGBA and grayscale."""
    import random

    rng = random.Random(7)
    # 5 rows x 6 px RGB, one row per filter type 0..4
    rows = [bytes(rng.randrange(256) for _ in range(18)) for _ in range(5)]
    png = _png_bytes(rows, 3, [0, 1, 2, 3, 4])
    got = MM.decode_png(png)
    assert (got["width"], got["height"], got["channels"]) == (6, 5, 3)
    flat = b"".join(rows)
    n = 30
    assert abs(got["mean_r"] - sum(flat[0::3]) / n) < 1e-9
    assert abs(got["mean_g"] - sum(flat[1::3]) / n) < 1e-9
    assert abs(got["mean_b"] - sum(flat[2::3]) / n) < 1e-9

    # RGBA with Paeth-heavy filters
    rows4 = [bytes(rng.randrange(256) for _ in range(16)) for _ in range(4)]
    png4 = _png_bytes(rows4, 4, [4, 4, 3, 1])
    got4 = MM.decode_png(png4)
    assert (got4["width"], got4["height"], got4["channels"]) == (4, 4, 4)
    flat4 = b"".join(rows4)
    assert abs(got4["mean_r"] - sum(flat4[0::4]) / 16) < 1e-9

    # grayscale: luma replicated across RGB
    rowsg = [bytes([10, 20, 30]), bytes([40, 50, 60])]
    pngg = _png_bytes(rowsg, 1, [2, 4])
    gotg = MM.decode_png(pngg)
    assert (gotg["width"], gotg["height"]) == (3, 2)
    assert gotg["mean_r"] == gotg["mean_b"] == 35.0

    # malformed payloads fail loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MM.decode_png(b"not a png")
    with _pytest.raises(ValueError):
        MM.decode_png(_png_bytes(rows, 3, [0, 1, 2, 3, 4])[:40])


def test_stdlib_decode_dispatches_png(spark):
    """stdlib_decode_media routes PNG payloads by magic bytes through
    the real decoder, end-to-end through the Arrow-batched
    extract_features plan."""
    rows = [bytes([255, 0, 0] * 4), bytes([0, 0, 255] * 4)]
    png = _png_bytes(rows, 3, [0, 2])
    df = spark.createDataFrame([(1, png)], "media_id bigint, payload binary")
    media = df.select(
        "media_id",
        F.lit("image").alias("kind"),
        F.col("payload").alias("content"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
    )
    out = MM.extract_features(
        media, decode=MM.stdlib_decode_media
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["magic_int"] == 8  # 4x2 px
    assert r["feature"].startswith("png:4x2 ")
    assert "rgb=(127.5,0.0,127.5)" in r["feature"]


def _gif_bytes(rows, palette, interlaced=False, extra_frames=0):
    """Minimal GIF89a encoder for the decoder tests: literal LZW
    codes with a clear code re-emitted before the table would force a
    width bump (the classic 'uncompressed GIF' trick), real sub-block
    framing, a skippable extension block, optional interlace row
    reordering and trailing 1x1 frames — bytes any GIF reader
    accepts."""
    import struct

    h, w = len(rows), len(rows[0])
    n_colors = len(palette) // 3
    mc = max(2, (n_colors - 1).bit_length())
    k = 0
    while (2 << k) < n_colors:
        k += 1
    pal = palette + bytes(3 * ((2 << k) - n_colors))
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | k, 0, 0) + pal
    # a graphic-control extension the decoder must skip
    out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])

    def lzw(pixels):
        clear, end, width = 1 << mc, (1 << mc) + 1, mc + 1
        acc = nbits = 0
        data = bytearray()

        def emit(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                data.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(clear)
        run = max(clear - 2, 1)
        for i, p in enumerate(pixels):
            if i and i % run == 0:
                emit(clear)
            emit(p)
        emit(end)
        if nbits:
            data.append(acc & 0xFF)
        return bytes(data)

    def frame(fw, fh, pixels, fpacked):
        body = bytearray()
        body += b"\x2C" + struct.pack("<HHHHB", 0, 0, fw, fh, fpacked)
        body.append(mc)
        data = lzw(pixels)
        for i in range(0, len(data), 255):
            blk = data[i:i + 255]
            body.append(len(blk))
            body += blk
        body.append(0)
        return body

    if interlaced:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        stream_rows = [rows[r] for r in order]
    else:
        stream_rows = rows
    out += frame(
        w, h, [p for r in stream_rows for p in r],
        0x40 if interlaced else 0,
    )
    for _ in range(extra_frames):
        out += frame(1, 1, [0], 0)
    out += b"\x3B"
    return bytes(out)


def test_decode_gif_lzw_palette_and_interlace(spark):
    """The pure-stdlib GIF decoder (second compressed codec family —
    LZW where PNG is DEFLATE): exact dimensions, frame count, and
    palette-resolved pixel means from real synthesized GIF bytes,
    plus the ORDER-sensitive pixel_crc that pins the interlace
    de-weave (means are permutation-invariant, so only the crc can
    catch a mis-ordered pass)."""
    import random
    import zlib as _zlib

    rng = random.Random(11)
    # 6x5, 4-color palette: min code size 2, clears every 2 literals
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 40, 50, 60])
    rows = [[rng.randrange(4) for _ in range(6)] for _ in range(5)]
    got = MM.decode_gif(_gif_bytes(rows, pal))
    assert (got["width"], got["height"], got["n_frames"]) == (6, 5, 1)
    flat = [p for r in rows for p in r]
    assert abs(got["mean_r"] - sum(pal[3 * p] for p in flat) / 30) < 1e-9
    assert abs(got["mean_b"] - sum(pal[3 * p + 2] for p in flat) / 30) < 1e-9
    assert got["pixel_crc"] == _zlib.crc32(bytes(flat)) & 0xFFFFFFFF

    # interlaced 8-row image, every row a distinct index: the decoded
    # index SEQUENCE must equal the source rows' — the crc pins the
    # 8/8/4/2 pass order exactly
    pal8 = bytes(v for i in range(8) for v in (i * 30, 255 - i * 30, i))
    rows8 = [[i] * 4 for i in range(8)]
    gi = MM.decode_gif(_gif_bytes(rows8, pal8, interlaced=True))
    flat8 = bytes(p for r in rows8 for p in r)
    assert gi["pixel_crc"] == _zlib.crc32(flat8) & 0xFFFFFFFF

    # animated: later frames counted, first frame decoded
    ga = MM.decode_gif(_gif_bytes(rows, pal, extra_frames=2))
    assert ga["n_frames"] == 3 and ga["mean_r"] == got["mean_r"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        MM.decode_gif(b"not a gif")
    with _pytest.raises(ValueError):
        MM.decode_gif(_gif_bytes(rows, pal)[:-8])  # truncated pixels


def test_decode_gif_kwkwk_and_width_growth(spark):
    """The LZW corner cases, hand-crafted: the self-referential KwKwK
    code (code == next table slot) and dictionary growth across a
    code-width bump — no encoder shortcut exercises these, so the
    codes are laid out by hand."""
    import struct

    # palette: 4 colors; mc=2 -> clear=4, end=5, width starts at 3
    pal = bytes([10, 0, 0, 0, 20, 0, 0, 0, 30, 1, 2, 3])
    codes, width = [4, 0, 6, 5], 3  # clear, literal 0, KwKwK, end
    acc = nbits = 0
    data = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    gif = (
        b"GIF89a" + struct.pack("<HHBBB", 3, 1, 0x81, 0, 0) + pal
        + b"\x2C" + struct.pack("<HHHHB", 0, 0, 3, 1, 0)
        + bytes([2, len(data)]) + bytes(data) + b"\x00\x3B"
    )
    got = MM.decode_gif(gif)
    # KwKwK: output is [0, 0, 0] -> solid color 0
    assert (got["width"], got["height"]) == (3, 1)
    assert (got["mean_r"], got["mean_g"], got["mean_b"]) == (10.0, 0.0, 0.0)

    # width growth: a long literal run with NO re-clears must bump the
    # decoder's code width exactly when the encoder's does; _gif_lzw
    # is driven directly with an encoder that mirrors the table growth
    mc, n_px = 2, 40
    clear, end = 1 << mc, (1 << mc) + 1
    pixels = [(i * 7) % 4 for i in range(n_px)]
    acc = nbits = 0
    data = bytearray()
    w2 = mc + 1
    size = clear + 2

    def emit(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, w2)
    for i, p in enumerate(pixels):
        emit(p, w2)
        if i:  # decoder adds an entry for every literal after the first
            size += 1
            if size == (1 << w2) and w2 < 12:
                w2 += 1
    emit(end, w2)
    if nbits:
        data.append(acc & 0xFF)
    out = MM._gif_lzw(mc, bytes(data), n_px)
    assert list(out) == pixels


def test_stdlib_decode_dispatches_gif(spark):
    """stdlib_decode_media routes GIF payloads by magic bytes through
    the real decoder, end-to-end through the Arrow-batched
    extract_features plan."""
    pal = bytes([200, 0, 0, 0, 0, 200, 0, 0, 0, 0, 0, 0])
    gif = _gif_bytes([[0, 1, 0, 1], [1, 0, 1, 0]], pal, extra_frames=1)
    df = spark.createDataFrame([(9, gif)], "media_id bigint, payload binary")
    media = df.select(
        "media_id",
        F.lit("image").alias("kind"),
        F.col("payload").alias("content"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
    )
    out = MM.extract_features(media, decode=MM.stdlib_decode_media).collect()
    assert out[0]["magic_int"] == 8
    assert out[0]["feature"].startswith("gif:4x2 f2 rgb=(100.0,0.0,100.0)")


def test_decode_gif_property_roundtrip(spark):
    """Property: for random dimensions, palettes, pixel contents and
    interlacing, decode_gif recovers the exact source index sequence
    (pixel_crc) and exact palette-resolved means from _gif_bytes
    output — the encoder and decoder share no code, so agreement pins
    both sides of the LZW + framing + de-weave contract."""
    import zlib as _zlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        n_colors=st.integers(2, 17),
        interlaced=st.booleans(),
        data=st.data(),
    )
    def check(w, h, n_colors, interlaced, data):
        pal = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=3 * n_colors,
                    max_size=3 * n_colors,
                )
            )
        )
        rows = [
            data.draw(
                st.lists(
                    st.integers(0, n_colors - 1), min_size=w, max_size=w
                )
            )
            for _ in range(h)
        ]
        got = MM.decode_gif(_gif_bytes(rows, pal, interlaced=interlaced))
        flat = [p for r in rows for p in r]
        assert (got["width"], got["height"]) == (w, h)
        assert got["pixel_crc"] == _zlib.crc32(bytes(flat)) & 0xFFFFFFFF
        n = w * h
        assert abs(got["mean_g"] - sum(pal[3 * p + 1] for p in flat) / n) < 1e-9

    check()
