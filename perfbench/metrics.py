"""Metric names and units, shared by both workloads and by
BENCHMARK.json (``test_perfbench.py`` keeps the two in step).

Every run reports every metric of its mode. A per-layer metric of a
layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

E2E_UNITS = {
    "setup_s": "s",
    "work_cpu_s": "s",
}

_SPAN = ("wall_s", "driver_s", "jobs", "stages", "cpu_s")
_UNIT = {"wall_s": "s", "driver_s": "s", "jobs": "count", "stages": "count",
         "cpu_s": "s", "shuffle_mb": "MB"}
REGISTRY_GROUPS = ("queries", "llm_queries", "pipeline_queries")
HEAVY_QUERIES = (
    "q49_pair_metrics",
    "q36_dedup_clusters",
    "q23_ngram_jaccard",
    "q32_embed_neardup",
)
PIPELINE_SPANS = (
    "dedupe",
    "distill",
    "link_funders",
    "remove_orphans",
    "complete",
    "publish_marts",
    "publish_to_store",
    "generate_download_files",
)


def _layer_units() -> dict[str, str]:
    u: dict[str, str] = {}
    for g in REGISTRY_GROUPS:
        for m in _SPAN + ("shuffle_mb",):
            u[f"registry.{g}.{m}"] = _UNIT[m]
    for q in HEAVY_QUERIES:
        for m in _SPAN:
            u[f"registry.{q}.{m}"] = _UNIT[m]
    u.update({
        "registry.streaming.batches": "count",
        "registry.streaming.trigger_ms": "ms",
        "registry.streaming.add_batch_ms": "ms",
        "registry.streaming.wal_commit_ms": "ms",
        "registry.streaming.query_planning_ms": "ms",
        "registry.tmp_dirs_leaked": "count",
        "registry.query_wall_p50_ms": "ms",
    })
    for t in PIPELINE_SPANS:
        for m in _SPAN:
            u[f"pipeline.{t}.{m}"] = _UNIT[m]
    u.update({
        "pipeline.ingest.wall_s": "s",
        "pipeline.ingest.driver_s": "s",
        "pipeline.harvest.shuffle_mb": "MB",
        "pipeline.publish.shuffle_mb": "MB",
        "pipeline.storage.read.calls": "count",
        "pipeline.storage.read.wall_s": "s",
        "pipeline.storage.write.calls": "count",
        "pipeline.storage.write.wall_s": "s",
        "pipeline.storage.write.mb": "MB",
        "pipeline.storage.write.files": "count",
        "pipeline.storage.write.bytes_per_changed_row": "B",
        "lookup.wall_p50_ms": "ms",
        "lookup.read_keys_ms": "ms",
        "lookup.driver_ms": "ms",
        "lookup.jobs": "count",
        "lookup.stages": "count",
        "lookup.input_mb": "MB",
        "lookup.input_rows_per_row": "ratio",
        "trace.instrument_s": "s",
        "host.peak_rss_mb": "MB",
    })
    return u


LAYER_UNITS = _layer_units()


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=lambda: dict.fromkeys(LAYER_UNITS, 0))
    info: dict = field(default_factory=dict)
    steal_ticks: int = 0
    timed_s: float = 0.0


def p50_p90(values: list[float]) -> tuple[float, float]:
    """Median and (interpolated) 90th percentile."""
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=10, method="inclusive")
    return statistics.median(values), q[8]
