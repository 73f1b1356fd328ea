"""Measurement helpers: spans tied to Spark job groups, the status-store
reads that turn a span into jobs/stages/CPU/shuffle numbers, a
streaming progress listener, and host readings (steal ticks, peak RSS,
temp-dir contents).

Spans live in memory and are written out once, when the run ends. A
span's ``driver_s`` is its wall time minus the union of the Spark job
intervals inside it: the time the driver spent planning, collecting and
waiting on Python rather than running tasks.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str | None = None
    run_id: str = ""
    stats: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. With ``enabled=False`` every call is a no-op
    except the wall clock the caller reads from the returned span, so
    untraced runs set no job groups and read no status store."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        # time spent inside tracing code itself (group bookkeeping and
        # status-store reads): the traced-run overhead, measured directly
        self.instrument_s = 0.0

    def span(self, name: str, spark_jobs: bool = True):
        return _SpanCtx(self, name, spark_jobs)

    # -- status store ---------------------------------------------------
    def collect_stats(self) -> None:
        """Attach jobs/stages/CPU/shuffle/input numbers to every span
        that set a job group (one pass over the status store)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        by_group: dict[str, list] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            sub = j.submissionTime()
            done = j.completionTime()
            ids = j.stageIds()
            by_group.setdefault(g.get(), []).append(
                (
                    sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    done.get().getTime() / 1000.0 if done.isDefined() else None,
                    [ids.apply(k) for k in range(ids.size())],
                )
            )
        stages: dict[int, dict] = {}
        gw = self.sc._gateway
        sl = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            if str(s.status().toString()) == "SKIPPED":
                continue
            cur = stages.setdefault(
                s.stageId(),
                {"cpu_ns": 0, "shuffle_w": 0, "in_b": 0, "in_rows": 0},
            )
            cur["cpu_ns"] += s.executorCpuTime()
            cur["shuffle_w"] += s.shuffleWriteBytes()
            cur["in_b"] += s.inputBytes()
            cur["in_rows"] += s.inputRecords()
        for sp in self.spans:
            if sp.group is None:
                continue
            js = by_group.get(sp.group, [])
            stage_ids = {sid for _s, _e, ids in js for sid in ids if sid in stages}
            intervals = sorted(
                (max(s, sp.start), min(e if e is not None else sp.end, sp.end))
                for s, e, _ids in js
                if s is not None
            )
            busy, cur_s, cur_e = 0.0, None, None
            for s, e in intervals:
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        busy += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                busy += cur_e - cur_s
            agg = {k: sum(stages[i][k] for i in stage_ids)
                   for k in ("cpu_ns", "shuffle_w", "in_b", "in_rows")}
            sp.stats = {
                "jobs": len(js),
                "stages": len(stage_ids),
                "driver_s": max(0.0, sp.wall_s - busy),
                "cpu_s": agg["cpu_ns"] / 1e9,
                "shuffle_mb": agg["shuffle_w"] / 1e6,
                "input_mb": agg["in_b"] / 1e6,
                "input_rows": agg["in_rows"],
            }
        self.instrument_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run_id": s.run_id, **s.stats}
                    for s in self.spans
                ],
                fh,
                indent=1,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, spark_jobs: bool):
        self.t = tracer
        self.name = name
        self.spark_jobs = spark_jobs

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1].name if t._stack else None
        self.sp = Span(self.name, 0.0, parent=parent, run_id=t.run_id)
        if t.enabled:
            t0 = time.perf_counter()
            if self.spark_jobs:
                self.sp.group = f"{t.run_id}:{next(t._ids)}:{self.name}"
                t.sc.setJobGroup(self.sp.group, self.name)
            t._stack.append(self.sp)
            t.instrument_s += time.perf_counter() - t0
        self.sp.start = time.time()
        return self.sp

    def __exit__(self, *exc) -> None:
        t = self.t
        self.sp.end = time.time()
        if t.enabled:
            t0 = time.perf_counter()
            t._stack.pop()
            if self.spark_jobs:
                outer = next(
                    (s.group for s in reversed(t._stack) if s.group), None
                )
                if outer:
                    t.sc.setJobGroup(outer, "")
                else:
                    t.sc.setLocalProperty("spark.jobGroup.id", None)
            t.spans.append(self.sp)
            t.instrument_s += time.perf_counter() - t0


class StreamingProgress:
    """Sums the per-trigger phase durations of every streaming query
    (``StreamingQueryProgress.durationMs``) through a listener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        totals = self.totals = {
            "batches": 0, "trigger_ms": 0.0, "add_batch_ms": 0.0,
            "wal_commit_ms": 0.0, "query_planning_ms": 0.0,
        }
        self.events = 0

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                outer.events += 1
                if event.progress.numInputRows > 0:
                    totals["batches"] += 1
                totals["trigger_ms"] += d.get("triggerExecution", 0)
                totals["add_batch_ms"] += d.get("addBatch", 0)
                totals["wal_commit_ms"] += d.get("walCommit", 0)
                totals["query_planning_ms"] += d.get("queryPlanning", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)
        self.spark = spark

    def drain(self, timeout_s: float = 5.0) -> dict:
        """Wait until the asynchronous listener bus stops delivering."""
        deadline = time.time() + timeout_s
        last = -1
        while time.time() < deadline and last != self.events:
            last = self.events
            time.sleep(0.3)
        self.spark.streams.removeListener(self.listener)
        return dict(self.totals)


# -- host readings ---------------------------------------------------------


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks across all CPUs (/proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every process
    under it (the driver JVM, the Python workers it forks), counting
    children already reaped. The kernel leaves hypervisor steal out of
    these counts, so they do not grow when the host takes CPU away."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # fields after the parenthesised command name
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        pid = int(entry)
        parent[pid] = int(f[1])
        ticks[pid] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's VmHWM so the next reading is the peak of
    the window that starts now."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def dir_stats(root: str) -> tuple[set[str], int]:
    """(set of file paths, total bytes) under ``root``."""
    files, size = set(), 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            files.add(p)
            try:
                size += os.path.getsize(p)
            except OSError:
                pass
    return files, size
