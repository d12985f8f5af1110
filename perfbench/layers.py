"""Per-layer metrics of a traced run, named by engine module.

Each metric is a per-call mean over the spans of one engine call in the
run's timed phase, or in its set-up phase when the call is not timed in
this workload (for example ``build_index`` in ``serve``). A layer the
workload never calls reads 0. Spark figures come from the event-log
roll-up in ``spans.rollup``; prune counters come from the engine's
``collect_metrics`` counters, gathered by the workload into ``extras``.
"""

from __future__ import annotations

from typing import Dict, List

from spans import Span, SpanCost, self_times

# (name, unit); BENCHMARK.json's per_layer list is this list
PER_LAYER = [
    ("session.start_s", "s"),
    ("build.wall_s", "s"),
    ("build.jobs", "count"),
    ("build.tasks", "count"),
    ("build.task_cpu_s", "s"),
    ("build.task_wait_s", "s"),
    ("build.gc_s", "s"),
    ("build.shuffle_write_bytes", "bytes"),
    ("build.shuffle_read_bytes", "bytes"),
    ("build.spill_bytes", "bytes"),
    ("build.python_bytes", "bytes"),
    ("build.python_s", "s"),
    ("build.output_bytes", "bytes"),
    ("build.extend.wall_s", "s"),
    ("build.extend.jobs", "count"),
    ("build.extend.task_cpu_s", "s"),
    ("build.extend.shuffle_write_bytes", "bytes"),
    ("build.extend.output_bytes", "bytes"),
    ("query.batch.wall_s", "s"),
    ("query.batch.driver_s", "s"),
    ("query.jobs", "count"),
    ("query.tasks", "count"),
    ("query.task_cpu_s", "s"),
    ("query.task_wait_s", "s"),
    ("query.input_bytes", "bytes"),
    ("query.shuffle_read_bytes", "bytes"),
    ("query.python_bytes", "bytes"),
    ("query.python_s", "s"),
    ("query.segments_scored", "count"),
    ("query.segments_pruned", "count"),
    ("query.prune_frac", "frac"),
    ("query.pairs_prune_frac", "frac"),
    ("service.one.wall_ms", "ms"),
    ("service.one.driver_ms", "ms"),
    ("service.one.job_ms", "ms"),
    ("service.one.jobs", "count"),
    ("service.one.tasks", "count"),
    ("service.thr_hit_frac", "frac"),
    ("service.seeded.prune_frac", "frac"),
    ("service.batch.wall_s", "s"),
    ("index_io.load_s", "s"),
    ("index_io.preload_s", "s"),
    ("index_io.preload_terms", "count"),
    ("maintenance.optimize.wall_s", "s"),
    ("maintenance.optimize.bytes_rewritten", "bytes"),
    ("maintenance.generations", "count"),
    ("trace.span_cover_frac", "frac"),
    ("trace.setup_s", "s"),
    ("trace.op_cpu_ms", "ms"),
    ("trace.work_per_cpu_s", "1/cpu_s"),
    ("trace.op_ms", "ms"),
    ("trace.work_per_s", "1/s"),
]

_BUILD = ("jobs", "tasks", "task_cpu_s", "task_wait_s", "gc_s", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "python_bytes", "python_s", "output_bytes")
_EXTEND = ("jobs", "task_cpu_s", "shuffle_write_bytes", "output_bytes")
_QUERY = ("jobs", "tasks", "task_cpu_s", "task_wait_s", "input_bytes",
          "shuffle_read_bytes", "python_bytes", "python_s")


def _calls(spans: List[Span], name: str) -> List[Span]:
    for phase in ("timed", "setup"):
        chosen = [s for s in spans if s.name == name and s.phase == phase]
        if chosen:
            return chosen
    return []


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _frac(part: float, whole: float) -> float:
    return part / whole if whole else 0.0


def per_layer(spans: List[Span], costs: Dict[int, SpanCost], extras: Dict[str, float],
              e2e: dict) -> Dict[str, float]:
    out: Dict[str, float] = {}

    def cost(s: Span) -> SpanCost:
        return costs.get(s.id) or SpanCost()

    def layer(prefix: str, name: str, fields) -> List[Span]:
        calls = _calls(spans, name)
        for f in fields:
            out[f"{prefix}.{f}"] = _mean(getattr(cost(s), f) for s in calls)
        return calls

    out["session.start_s"] = _mean(s.wall for s in _calls(spans, "session.get_spark"))

    calls = layer("build", "build.build_index", _BUILD)
    out["build.wall_s"] = _mean(s.wall for s in calls)
    calls = layer("build.extend", "build.extend_index", _EXTEND)
    out["build.extend.wall_s"] = _mean(s.wall for s in calls)

    calls = layer("query", "query.batch_query", _QUERY)
    out["query.batch.wall_s"] = _mean(s.wall for s in calls)
    out["query.batch.driver_s"] = _mean(s.wall - cost(s).job_s for s in calls)
    scored, pruned = extras.get("query.segments_scored", 0), extras.get("query.segments_pruned", 0)
    out["query.segments_scored"] = _frac(scored, len(calls))
    out["query.segments_pruned"] = _frac(pruned, len(calls))
    out["query.prune_frac"] = _frac(pruned, scored + pruned)
    pairs_p = extras.get("query.pairs_pruned", 0)
    out["query.pairs_prune_frac"] = _frac(pairs_p, pairs_p + extras.get("query.pairs_scored", 0))

    calls = _calls(spans, "service.search_one")
    out["service.one.wall_ms"] = 1000.0 * _mean(s.wall for s in calls)
    out["service.one.driver_ms"] = 1000.0 * _mean(s.wall - cost(s).job_s for s in calls)
    out["service.one.job_ms"] = 1000.0 * _mean(cost(s).job_s for s in calls)
    out["service.one.jobs"] = _mean(cost(s).jobs for s in calls)
    out["service.one.tasks"] = _mean(cost(s).tasks for s in calls)
    out["service.thr_hit_frac"] = extras.get("service.thr_hit_frac", 0.0)
    sp = extras.get("service.seeded.segments_pruned", 0)
    out["service.seeded.prune_frac"] = _frac(sp, sp + extras.get("service.seeded.segments_scored", 0))
    out["service.batch.wall_s"] = _mean(s.wall for s in _calls(spans, "service.search_batch"))

    out["index_io.load_s"] = _mean(s.wall for s in _calls(spans, "index_io.load_index"))
    out["index_io.preload_s"] = _mean(s.wall for s in _calls(spans, "index_io.preload_term_stats"))
    out["index_io.preload_terms"] = extras.get("index_io.preload_terms", 0)

    calls = _calls(spans, "maintenance.optimize_index")
    out["maintenance.optimize.wall_s"] = _mean(s.wall for s in calls)
    out["maintenance.optimize.bytes_rewritten"] = _mean(cost(s).output_bytes for s in calls)
    out["maintenance.generations"] = extras.get("maintenance.generations", 0)

    self_s = self_times(spans)
    timed = sum(self_s[s.id] for s in spans if s.phase == "timed")
    out["trace.span_cover_frac"] = _frac(timed, e2e["timed_wall_s"])
    out["trace.setup_s"] = e2e["setup_s"]
    out["trace.op_cpu_ms"] = e2e["op_cpu_ms"]
    out["trace.work_per_cpu_s"] = e2e["work_per_cpu_s"]
    out["trace.op_ms"] = e2e["op_ms"]
    out["trace.work_per_s"] = e2e["work_per_s"]
    return {name: float(out[name]) for name, _ in PER_LAYER}
