"""Plan-shaping helpers used across operators.

These exist because two engine-wide costs dominate CPU-bound text
work on Spark:

  * CollapseProject inlines a projected expression into every
    downstream reference, so "compute once, use N times" silently
    becomes "compute N times" (``bind_once`` defeats this by binding
    the value as a higher-order-function lambda variable);
  * small parquet inputs scan as 1-2 partitions, serializing
    per-row-heavy stages regardless of cores (``ensure_parallelism``
    repartitions only when under-partitioned — a no-op at real data
    scale where the file layout already provides parallelism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bind_once(expensive: Column, body) -> Column:
    """Evaluate ``expensive`` once per row and feed the bound value to
    ``body``. Lambda variables are bound values, not substituted
    expressions, so wrapping as a 1-element array transform forces
    single evaluation."""
    return F.transform(F.array(expensive), body)[0]


def materialize_cut(df: DataFrame) -> DataFrame:
    """Eagerly materialize a multi-consumer frame AND bound the
    planner at it.

    Two driver costs meet at a frame consumed more than once inside
    one action: (1) AQE submits the consumers' stages concurrently,
    so a LAZY persist lets them race and each recompute the full
    prefix before the cache exists; (2) every later action that plans
    on top of the frame re-runs Catalyst analysis/optimization over
    its whole logical lineage (measured round 12: q47 paid 0.4-0.8 s
    of planning gap per pipeline section). Local mode:
    ``localCheckpoint`` — one job, lineage replaced by materialized
    blocks, both costs gone (executor-local blocks are safe where
    executors can't be lost). Cluster: ``persist`` + an eager
    ``count()`` — recoverable lineage, cache built once before any
    consumer races, and consumers plan against InMemoryRelation
    (bounded) after cache substitution."""
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint()
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def local_df(spark, data, schema: str, slices: int = 1) -> DataFrame:
    """``createDataFrame`` for DRIVER-SMALL data without the
    defaultParallelism fan-out.

    ``spark.createDataFrame(list, ...)`` parallelizes the rows into
    ``defaultParallelism`` slices — 32 on this engine's sessions — so
    every downstream scan of a 4-row dimension or probe frame
    schedules 32 tasks (31 of them empty). Measured round 12: two
    such scans cost ~0.6 s of pure task-scheduling overhead in q52
    alone. A driver-small frame belongs in ONE slice (or a handful,
    when the caller immediately fans per-row work out of it — pass
    ``slices``). ``schema`` must be a DDL string: a bare column-name
    list would trigger a type-inference job over the RDD."""
    sc = spark.sparkContext
    n = max(1, min(slices, len(data))) if data else 1
    return spark.createDataFrame(sc.parallelize(data, n), schema)


PARALLELISM_CHECK_CONF = "spark.rialto.ensureParallelism.check"


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the input is under-partitioned for CPU-bound
    per-row work.

    The partition-count probe (``df.rdd.getNumPartitions()``) forces a
    physical-planning pass per call — cheap here, real overhead when
    hundreds of plans are constructed per job. Cluster reads are
    already spread by ``spark.sql.files.maxPartitionBytes``, so for
    the many-plans case set ``spark.rialto.ensureParallelism.check``
    to ``false`` and this becomes a zero-cost no-op (round-3 verdict
    #8)."""
    if (
        df.sparkSession.conf.get(PARALLELISM_CHECK_CONF, "true").lower()
        == "false"
    ):
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def release_on_gc(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie a cached prefix's lifetime to the result plan built on it.

    Registry query functions return a PLAN; the driver collects it
    later, so a ``try/finally`` unpersist inside the function would
    evict the cache before it's ever read. Instead, each ``cached``
    DataFrame is unpersisted when ``result`` is garbage-collected —
    once the driver has collected and dropped the result, the cached
    partitions leave executor memory instead of accumulating across
    registry runs in a long-lived session (round-5 advice: q50's
    fingerprint persist leaked).

    ``unpersist(blocking=False)`` inside a guard: at interpreter
    shutdown or after ``spark.stop()`` the JVM side may be gone —
    a failed eviction must never surface as a GC-time error.

    CALLER CONTRACT (hold a local): the finalizer fires when THIS
    returned DataFrame object is collected — derived plans do NOT
    keep it alive. ``minhash_near_dups(df).where(...)`` drops the
    intermediate immediately, evicting the banded cache BEFORE the
    first read and silently recomputing the full prefix (round-7
    ADVICE #3). If you chain on a wrapped function's result, bind
    the result to a local for the duration of the actions that
    should hit the cache::

        pairs = minhash_near_dups(df)        # hold this local
        hot = pairs.where(...); hot.count()  # cache is live
        del pairs                            # now eviction may run

    Every public function returning through this wrapper carries a
    "hold a local" note. Registry queries are NOT automatically
    exempt: the driver holds the DERIVED result it was returned, not
    the wrapped intermediate that owns the finalizer — a registry
    function that builds a lazy plan on top of a wrapped result and
    lets the local go out of scope evicts the cache before the
    driver ever collects (round-8 ADVICE: q49). Either consume the
    wrapped result eagerly inside the function (an action/checkpoint
    while the local is alive — what connected_components does), or
    chain the lifetime forward with :func:`hold_alive` so the
    intermediate lives exactly as long as the plan the driver
    holds."""
    import weakref

    def _evict(c: DataFrame) -> None:
        try:
            c.unpersist(blocking=False)
        except Exception:
            pass

    for c in cached:
        weakref.finalize(result, _evict, c)
    return result


def hold_alive(result: DataFrame, *deps: DataFrame) -> DataFrame:
    """Chain a :func:`release_on_gc` lifetime forward: keep ``deps``
    referenced from ``result`` so their GC-time cache eviction cannot
    fire before ``result`` itself is dropped.

    Use when a function derives a LAZY plan from a wrapped
    intermediate and returns only the derivation (the registry-query
    shape): ``return hold_alive(pair_metrics(pred, truth), pred)``.
    The driver then holds ``result`` → ``result`` holds ``pred`` →
    the banded cache stays live until the driver drops the collected
    plan, which is exactly when the finalizer should run. A plain
    attribute is enough — finalizers key on reachability, and
    DataFrame instances accept ad-hoc attributes."""
    result._rialto_hold = deps
    return result


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir that is removed at interpreter exit — for the
    functions whose RETURNED plan reads the dir lazily (streaming
    checkpoints and sinks, a query-local table store): they cannot
    reclaim it themselves, because their caller collects only
    after they return, so the dir lives as long as the process instead of
    outliving it."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
