"""The benchmark's two workloads. Each is one closed-loop client on one
thread, driving the engine only through its public functions, with k=10.

Both report the same metrics, defined on the workload's unit of work.
``op_ms`` and ``work_per_s`` are wall clock; ``op_cpu_ms`` and
``work_per_cpu_s`` are the same work over the CPU seconds the process
tree (driver Python, JVM, Python workers) spent in the timed calls:

==========  ===============  =========================================
workload    op (op_ms is     work (work_per_s, work_per_cpu_s)
            the median)
==========  ===============  =========================================
serve       one search_one   queries answered (single and batched)
write       one build_index  docs written (built and appended), over
                             whole rounds
==========  ===============  =========================================

``named`` carries the finer metrics each workload is built to move
(query_ms_p50, seeded_batch_qps, build_docs_per_s, extend_docs_per_s,
append_batch_qps, optimize_s, ...). Correctness checks run with the
clock paused and count a wrong answer as a failed operation.
"""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import time
import traceback
from typing import Callable, Dict, List, Optional

import numpy as np

from gate import (QueryStream, doc_ids_by_path, mismatches, reference_answers,
                  rows_to_hits, term_dfs)
from host import tree_cpu_s
from stats import median, percentile

K = 10
SERVE_DOCS = 1000
# a fresh session's first search_one calls are the slowest and their
# latency falls fastest, so set-up runs this many before the clock starts
SERVE_WARM_SINGLES = 16
SERVE_SINGLES_PER_BLOCK = 5      # search_one calls between two search_batch calls
SERVE_BATCH = 100                # texts in the repeated search_batch
WRITE_WARM_DOCS = 300            # set-up index, one of each operation on it
WRITE_BASE_DOCS = 800            # built fresh every round
WRITE_EXT_DOCS = 200             # added by the round's extend_index
WRITE_BATCH = 200                # fresh queries per cold batch
WRITE_MIN_ROUNDS = 2             # a round outlasting --seconds still gets a second
GATE_SAMPLE = 16                 # queries of each batch checked against reference


class Stopwatch:
    """Wall clock of the measured region, pausable around checks."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self._paused = 0.0

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0 - self._paused

    @contextlib.contextmanager
    def pause(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self._paused += time.perf_counter() - t


class Run:
    """State shared by one run: the Spark session, the tracer, the op
    counters and the run's scratch directory."""

    def __init__(self, spark_factory: Callable, corpora, tracer, seed: int,
                 seconds: float, scratch: str):
        self.spark_factory = spark_factory
        self.corpora = corpora
        self.tracer = tracer
        self.trace = tracer.enabled
        self.seed = seed
        self.seconds = seconds
        self.scratch = scratch
        self.attempted = 0
        self.failed = 0
        self.walls: Dict[str, List[float]] = {}  # op name -> timed walls
        self.cpus: Dict[str, List[float]] = {}  # op name -> CPU seconds of each
        self.errors: List[str] = []
        self.extras: Dict[str, float] = {}  # per-layer counters only the caller sees
        self.spark = None

    def start_spark(self):
        with self.tracer.span("session.get_spark"):
            self.spark = self.spark_factory()
        return self.spark

    def op(self, name: str, fn):
        """One timed operation: (result, wall_s); an exception counts as a
        failure and yields None. Only successful walls are kept, and
        beside each the process tree's CPU seconds over the call, read
        outside the wall clock."""
        self.attempted += 1
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception:  # a failed op is a measured outcome, not a crash
            self.fail(f"{name}: {traceback.format_exc(limit=3)}")
            return None, time.perf_counter() - t0
        wall = time.perf_counter() - t0
        self.walls.setdefault(name, []).append(wall)
        self.cpus.setdefault(name, []).append(tree_cpu_s(os.getpid()) - cpu0)
        return out, wall

    @contextlib.contextmanager
    def checking(self, what: str):
        """A correctness check: an exception inside it counts as one
        failure instead of ending the run without a result."""
        try:
            yield
        except Exception:
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(why)

    def path(self, name: str) -> str:
        return os.path.join(self.scratch, name)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _named(value: float, unit: str, n: Optional[int] = None) -> dict:
    d = {"value": value, "unit": unit}
    if n is not None:
        d["n"] = n
    return d


def _median(walls: List[float]) -> float:
    """Median wall, or 0.0 when no such operation succeeded; the run then
    prints "correct": false."""
    return median(walls) if walls else 0.0


def _rate(per_op: int, walls: List[float], unit: str) -> Optional[dict]:
    return _named(per_op * len(walls) / sum(walls), unit, len(walls)) if walls else None


def _cpu_ms(cpus: List[float]) -> float:
    """Median CPU ms per call, or 0.0 when no call succeeded. A median
    keeps a garbage collection or JIT burst that lands in one call from
    moving the figure; each call reads in clock ticks (10 ms)."""
    return 1000.0 * median(cpus) if cpus else 0.0


def _per_cpu_s(work: float, cpus: List[float]) -> float:
    total = sum(cpus)
    return work / total if total else 0.0


def _add_accumulators(run: Run, res) -> None:
    """Sum collect_metrics counters of a batch into run.extras (traced
    runs only)."""
    accs = getattr(res, "_flatnav_accumulators", None) or {}
    for name, acc in accs.items():
        run.extras[f"query.{name}"] = run.extras.get(f"query.{name}", 0) + int(acc.value)


# ----------------------------------------------------------------- serve
def serve(run: Run) -> dict:
    """StandingQueryService over the setup index: a search_one loop where
    about half the texts repeat earlier ones, then a search_batch of a
    repeated batch, over and over. Driver-side resolution and Spark job
    scheduling dominate; the threshold cache hits on every repeat."""
    from flatnav_spark.build import build_index
    from flatnav_spark.index_io import load_index
    from flatnav_spark.query import batch_query
    from flatnav_spark.reference import ReferenceIndex
    from flatnav_spark.service import StandingQueryService

    corpus = run.corpora.get(SERVE_DOCS)
    sw = Stopwatch()
    spark = run.start_spark()
    with run.tracer.span("build.build_index"):
        build_index(spark.read.parquet(corpus.path), run.path("serve"))
    with run.tracer.span("index_io.load_index"):
        idx = load_index(run.path("serve"))
    with run.tracer.span("index_io.preload_term_stats"):
        run.extras["index_io.preload_terms"] = idx.preload_term_stats(spark)
    svc = StandingQueryService(spark, idx, k=K, preload_stats=False)
    with sw.pause():
        ids = doc_ids_by_path(idx)
        ref = ReferenceIndex([(ids[p], c) for p, c in corpus.docs()])
        stream = QueryStream(term_dfs(ref), run.seed)
        batch_texts = stream.fresh(SERVE_BATCH)
        warm_texts = stream.fresh(SERVE_WARM_SINGLES)
    batch = list(enumerate(batch_texts))
    with run.tracer.span("service.search_batch"):
        svc.search_batch(batch)
    for t in warm_texts:
        with run.tracer.span("service.search_one"):
            svc.search_one(t)
    setup_s = sw.elapsed()
    # the reference's many small objects are the benchmark's, not the
    # engine's: keep Python's full collections from walking them mid-query
    gc.collect()
    gc.freeze()

    run.tracer.phase = "timed"
    rng = np.random.default_rng(run.seed + 1)
    sent: List[str] = list(warm_texts)  # repeats are stationary from the first query
    singles, batch_answers = [], []
    hits_seeded = n_sent = 0
    sw = Stopwatch()
    while sw.elapsed() < run.seconds:
        for _ in range(SERVE_SINGLES_PER_BLOCK):
            if sent and rng.random() < 0.5:
                text = sent[int(rng.integers(0, len(sent)))]
            else:
                text = stream.fresh(1)[0]
            hits_seeded += text in svc._thr  # the service's threshold cache
            n_sent += 1
            hits, _ = run.op("service.search_one", lambda: svc.search_one(text))
            sent.append(text)
            if hits is not None:
                singles.append((text, hits))
        hits_seeded += sum(t in svc._thr for t in batch_texts)
        n_sent += len(batch_texts)
        ans, _ = run.op("service.search_batch",
                        lambda: svc.search_batch(batch, collect_metrics=run.trace))
        if ans is not None:
            batch_answers.append(ans)
            if run.trace and svc.last_metrics:
                for name, v in svc.last_metrics.items():
                    key = f"service.seeded.{name}"
                    run.extras[key] = run.extras.get(key, 0) + v
    timed_wall = sw.elapsed()
    run.tracer.phase = "check"

    # gate: every search_one answer equals the cold batch answer for its
    # text, every seeded search_batch equals it too, and a sample of the
    # cold answers equals the reference
    texts = sorted(set(batch_texts) | {t for t, _ in singles})
    text_of = dict(enumerate(texts))
    with run.checking("serve gate"):
        with run.tracer.span("query.batch_query"):
            qdf = spark.createDataFrame(list(text_of.items()),
                                        "query_id long, query_text string")
            cold = rows_to_hits(batch_query(spark, idx, qdf, k=K).collect(), text_of)
        for text, hits in singles:
            if hits != cold[text]:
                run.fail(f"search_one {text!r} differs from the cold batch answer")
        for ans in batch_answers:
            got = {batch_texts[qid]: hits for qid, hits in ans.items()}
            for t in batch_texts:
                got.setdefault(t, [])
            if mismatches(got, {t: cold[t] for t in batch_texts}):
                run.fail("seeded search_batch differs from the cold batch answer")
        sample = texts[:: max(len(texts) // GATE_SAMPLE, 1)][:GATE_SAMPLE]
        bad = mismatches(cold, reference_answers(ref, sample, K))
        if bad:
            run.fail(f"cold batch differs from the reference on {bad[:3]}")
    run.tracer.phase = "done"

    run.extras["service.thr_hit_frac"] = hits_seeded / max(n_sent, 1)
    single_walls = run.walls.get("service.search_one", [])
    batch_walls = run.walls.get("service.search_batch", [])
    n_q = len(single_walls) + len(batch_walls) * len(batch_texts)
    p90 = percentile(single_walls, 90)
    named = {
        "query_ms_p50": (_named(median(single_walls) * 1000.0, "ms", len(single_walls))
                         if single_walls else None),
        "query_ms_p90": _named(p90 * 1000.0, "ms", len(single_walls)) if p90 else None,
        "seeded_batch_qps": _rate(len(batch_texts), batch_walls, "queries/s"),
        "thr_hit_frac": _named(run.extras["service.thr_hit_frac"], "frac", n_sent),
    }
    single_cpus = run.cpus.get("service.search_one", [])
    return {
        "setup_s": setup_s,
        "timed_wall_s": timed_wall,
        "op_ms": _median(single_walls) * 1000.0,
        "work_per_s": n_q / timed_wall,
        "op_cpu_ms": _cpu_ms(single_cpus),
        "work_per_cpu_s": _per_cpu_s(
            n_q, single_cpus + run.cpus.get("service.search_batch", [])),
        "index_bytes_per_input_byte": _dir_bytes(idx.path) / corpus.content_bytes,
        "named": {k: v for k, v in named.items() if v is not None},
    }


# ----------------------------------------------------------------- write
def write(run: Run) -> dict:
    """Writes beside reads, in rounds: build_index of a fresh 800-doc
    base, extend_index with 200 new docs, a cold 200-query batch_query
    over the two postings generations, then optimize_index. The build
    takes most of a round's wall, and at 800 docs most of a build's wall
    is per-job Spark cost rather than per-document work (see README).
    Set-up runs each operation once on a 300-doc index."""
    from flatnav_spark.build import build_index, extend_index
    from flatnav_spark.index_io import load_index
    from flatnav_spark.maintenance import optimize_index
    from flatnav_spark.query import batch_query
    from flatnav_spark.reference import ReferenceIndex

    parts = run.corpora.parts([("base", WRITE_BASE_DOCS), ("ext", WRITE_EXT_DOCS),
                               ("warm", WRITE_WARM_DOCS), ("warm_ext", WRITE_EXT_DOCS)])
    base, ext = parts["base"], parts["ext"]
    refs: Dict[tuple, object] = {}  # the reference for the latest doc-id layout

    def cold_batch(idx, texts):
        text_of = dict(enumerate(texts))
        qdf = spark.createDataFrame(list(text_of.items()), "query_id long, query_text string")
        counted = run.trace and run.tracer.phase == "timed"
        res = batch_query(spark, idx, qdf, k=K, collect_metrics=counted)
        rows = res.collect()
        if counted:
            _add_accumulators(run, res)
        return rows_to_hits(rows, text_of)

    def reference(idx, expect):
        """(reference, missing): the reference over the docs of ``expect``
        that the index holds, under the index's doc ids, and how many of
        those docs it lacks. The build is deterministic, so one reference
        normally serves every round."""
        ids = doc_ids_by_path(idx)
        docs = [(p, c) for part in expect for p, c in part.docs()]
        key = tuple(sorted(ids.items()))
        if key not in refs:
            refs.clear()
            refs[key] = ReferenceIndex([(ids[p], c) for p, c in docs if p in ids])
        return refs[key], sum(p not in ids for p, _ in docs)

    sw = Stopwatch()
    spark = run.start_spark()
    warm_path = run.path("warm")
    with run.tracer.span("build.build_index"):
        build_index(spark.read.parquet(parts["warm"].path), warm_path)
    with run.tracer.span("index_io.load_index"):
        warm = load_index(warm_path)
    with run.tracer.span("build.extend_index"):
        extend_index(spark, warm, spark.read.parquet(parts["warm_ext"].path))
    with sw.pause():
        # query strata from the timed corpus; doc ids do not matter for dfs
        words = ReferenceIndex(list(enumerate(
            c for part in (base, ext) for _, c in part.docs())))
        stream = QueryStream(term_dfs(words), run.seed)
        warm_texts = stream.fresh(WRITE_BATCH)
    with run.tracer.span("query.batch_query"):
        cold_batch(warm, warm_texts)
    with run.tracer.span("maintenance.optimize_index"):
        optimize_index(spark, warm)
    setup_s = sw.elapsed()
    shutil.rmtree(warm_path, ignore_errors=True)

    run.tracer.phase = "timed"
    written = rounds = 0
    gens = []
    ratio = 0.0
    sw = Stopwatch()
    while rounds < WRITE_MIN_ROUNDS or sw.elapsed() < run.seconds:
        path = run.path(f"round{rounds}")
        idx, _ = run.op("build.build_index",
                        lambda: build_index(spark.read.parquet(base.path), path))
        if idx is None:
            break
        written += base.n_docs
        out, _ = run.op("build.extend_index",
                        lambda: extend_index(spark, idx, spark.read.parquet(ext.path)))
        if out is not None:
            written += ext.n_docs
        texts = stream.fresh(WRITE_BATCH)
        got, _ = run.op("query.batch_query", lambda: cold_batch(idx, texts))
        with sw.pause(), run.checking(f"round {rounds} gate"):
            # a failed extend is counted already; check what it left
            expect = (base, ext) if out is not None else (base,)
            ref, missing = reference(idx, expect)
            n_want = sum(part.n_docs for part in expect)
            if missing or idx.manifest.n_docs != n_want:
                run.fail(f"round {rounds}: manifest n_docs {idx.manifest.n_docs}, "
                         f"{missing} of {n_want} generated docs missing")
            elif got is not None:
                bad = mismatches(got, reference_answers(ref, texts[:GATE_SAMPLE], K))
                if bad:
                    run.fail(f"round {rounds}: batch differs from the reference on {bad[:3]}")
        gens.append(len(idx.manifest.postings_dirs))
        run.op("maintenance.optimize_index", lambda: optimize_index(spark, idx))
        rounds += 1
        with sw.pause():
            ratio = _dir_bytes(path) / (base.content_bytes + ext.content_bytes)
            shutil.rmtree(path, ignore_errors=True)
    timed_wall = sw.elapsed()
    run.tracer.phase = "done"
    run.extras["maintenance.generations"] = float(np.mean(gens)) if gens else 0.0

    # an op kind is absent when every call of it failed
    walls = {k.split(".")[-1]: v for k, v in run.walls.items()}
    optimize = walls.get("optimize_index", [])
    named = {
        "build_docs_per_s": _rate(base.n_docs, walls.get("build_index", []), "docs/s"),
        "extend_docs_per_s": _rate(ext.n_docs, walls.get("extend_index", []), "docs/s"),
        "append_batch_qps": _rate(WRITE_BATCH, walls.get("batch_query", []), "queries/s"),
        "optimize_s": _named(median(optimize), "s", len(optimize)) if optimize else None,
        "rounds": _named(rounds, "count"),
    }
    return {
        "setup_s": setup_s,
        "timed_wall_s": timed_wall,
        "op_ms": _median(walls.get("build_index", [])) * 1000.0,
        "work_per_s": written / timed_wall,
        "op_cpu_ms": _cpu_ms(run.cpus.get("build.build_index", [])),
        "work_per_cpu_s": _per_cpu_s(written, [c for cs in run.cpus.values() for c in cs]),
        "index_bytes_per_input_byte": ratio,
        "named": {k: v for k, v in named.items() if v is not None},
    }


WORKLOADS = {"serve": serve, "write": write}
