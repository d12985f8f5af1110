"""Typed benchmark-metric registry — the M6 analog of the reference's
validated metrics table (experiments/plotting/metrics.py:7-50: a dict of
metric name -> {description, worst, function} consulted by the plotting
and reporting harness). Every number bench.py publishes is registered here
first, so a typo'd or unregistered metric fails the run instead of
silently shipping an unlabeled float.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    description: str
    # "higher" | "lower" — which direction is better (the reference's
    # `worst` field); None for identity/config values
    better: Optional[str] = None
    round_to: Optional[int] = None


REGISTRY: Dict[str, Metric] = {}


def register(metric: Metric) -> Metric:
    if metric.name in REGISTRY:
        raise ValueError(f"metric {metric.name!r} already registered")
    REGISTRY[metric.name] = metric
    return metric


for m in [
    Metric("build_sec", "sec", "index build wall clock", "lower", 3),
    Metric("tokenize_compute_sec", "sec", "tokenize+count pipeline, no writes", "lower", 3),
    Metric("query_batch_sec", "sec", "batched top-k query wall clock (exact)", "lower", 3),
    Metric("query_batch_wand_sec", "sec", "batched top-k query wall clock (WAND pruning)", "lower", 3),
    Metric("query_batch_tfidf_sec", "sec", "batched top-k, tfidf_ip scorer", "lower", 3),
    Metric("query_batch_seeded_sec", "sec", "batched top-k, threshold-seeded repeat (standing service)", "lower", 3),
    Metric("qps_seeded", "queries/sec", "batched query throughput, threshold-seeded repeat", "higher", 2),
    Metric("wand_seeded_prune_frac", "frac", "seg pruned frac under seeded thresholds", "higher", 4),
    Metric("files_per_sec", "files/sec", "build throughput", "higher", 2),
    Metric("qps", "queries/sec", "batched query throughput (exact)", "higher", 2),
    Metric("qps_wand", "queries/sec", "batched query throughput (WAND)", "higher", 2),
    Metric("latency_p50_ms", "ms", "single-query latency p50 (1 in flight)", "lower", 1),
    Metric("latency_p90_ms", "ms", "single-query latency p90", "lower", 1),
    Metric("latency_p95_ms", "ms", "single-query latency p95", "lower", 1),
    Metric("latency_p99_ms", "ms", "single-query latency p99", "lower", 1),
    Metric("blocks_scored", "blocks", "posting blocks scored (M4 distance-computations analog)", "lower"),
    Metric("blocks_pruned", "blocks", "posting blocks skipped whole by WAND bounds", "higher"),
    Metric("segments_scored", "segments", "posting segments decoded+scored", "lower"),
    Metric("segments_pruned", "segments", "posting segments skipped by WAND bounds", "higher"),
    Metric("wand_prune_frac", "frac", "pruned / (scored + pruned) under WAND", "higher", 4),
    Metric("n_docs", "docs", "corpus size", None),
    Metric("n_queries", "queries", "query-set size", None),
    Metric("n_results", "rows", "result rows returned", None),
    Metric("scaling_efficiency", "frac", "(T_N / T_4N) / 4 between N and 4N cores", "higher", 3),
]:
    register(m)


class MetricReport:
    """Write-through dict that only accepts registered metric names and
    applies each metric's declared rounding — bench.py's output assembler."""

    def __init__(self) -> None:
        self.values: Dict[str, float] = {}

    def emit(self, name: str, value) -> None:
        m = REGISTRY.get(name)
        if m is None:
            raise KeyError(
                f"metric {name!r} is not registered (flatnav_spark.metrics.REGISTRY)"
            )
        if m.round_to is not None and isinstance(value, float):
            value = round(value, m.round_to)
        self.values[name] = value

    def as_dict(self) -> Dict[str, float]:
        return dict(self.values)

    def describe(self) -> Dict[str, dict]:
        return {
            n: {"unit": REGISTRY[n].unit, "better": REGISTRY[n].better}
            for n in self.values
        }
