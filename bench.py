"""Benchmark harness — the run-benchmark.py analog
(/root/reference/experiments/run-benchmark.py:265-359): wall-clock
build + batched-query measurement, one warm-up excluded, JSON out.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"build": s, "query_batch": s, ...}, "sf": <sf>,
   "files_per_sec": ..., "qps": ..., ...}

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), FLATNAV_BENCH_QUERIES (default 1000),
FLATNAV_BENCH_K (default 10).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_WARMUP_QUERIES = 8


def _cpu_ticks():
    """(busy, steal) ticks from /proc/stat — lets each phase report how
    many effective cores the (shared, noisy) sandbox host actually
    delivered, so scaling numbers carry their own evidence."""
    try:
        with open("/proc/stat") as f:
            v = list(map(int, f.readline().split()[1:]))
        return v[0] + v[1] + v[2] + v[5] + v[6], v[7]
    except Exception:  # pragma: no cover - non-linux
        return 0, 0


def _phase_cpu(fn):
    """Run fn(), returning (wall_s, result, busy_cores, steal_cores)."""
    b0, s0 = _cpu_ticks()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    b1, s1 = _cpu_ticks()
    hz = 100.0
    return wall, out, round((b1 - b0) / hz / max(wall, 1e-9), 1), round(
        (s1 - s0) / hz / max(wall, 1e-9), 1
    )


QUERY_TERM_CAP = 4096  # driver-side bound per stratum (scale-safe sampling)


def make_query_set(spark, index, n_queries: int, seed: int = 42):
    """Deterministic query set drawn from the built index's own vocabulary:
    60% mid-frequency terms, 25% with a hot term, 15% with a rare/absent
    term (FIXTURES.md §2).

    Scale-safe (round-2 fix): each stratum is fetched with a distributed
    TakeOrdered/offset+limit capped at QUERY_TERM_CAP rows — the driver
    never collects the full term-stats table, so a 10^7-term vocabulary
    costs the same driver memory as a 2k one. The (df, term) total order
    makes the strata deterministic at any parallelism; below the cap the
    strata are byte-identical to the old full-collect slices."""
    import numpy as np
    from pyspark.sql import functions as F

    stats = index.term_stats(spark).select("term", "df")
    n = index.manifest.n_terms
    hot_n = min(max(n // 100, 1), QUERY_TERM_CAP)
    rare_n = min(max(n // 10, 1), QUERY_TERM_CAP)
    mid_lo, mid_hi = n // 3, 2 * n // 3
    mid_n = min(max(mid_hi - mid_lo, 1), QUERY_TERM_CAP)
    # hot = LAST hot_n rows of the ascending (df, term) order — fetched as
    # the top of the reversed order, then flipped back to ascending so rng
    # indexing reproduces the historical query sets exactly
    hot = [r.term for r in reversed(
        stats.orderBy(F.desc("df"), F.desc("term")).limit(hot_n).collect())]
    rare = [r.term for r in stats.orderBy("df", "term").limit(rare_n).collect()]
    mid = [r.term for r in
           stats.orderBy("df", "term").offset(mid_lo).limit(mid_n).collect()] or hot
    rng = np.random.default_rng(seed)
    rows = []
    for qid in range(n_queries):
        k_terms = int(rng.integers(1, 5))
        chosen = [mid[int(rng.integers(0, len(mid)))] for _ in range(k_terms)]
        r = rng.random()
        if 0.60 <= r < 0.85:
            chosen[0] = hot[int(rng.integers(0, len(hot)))]
        elif r >= 0.85:
            chosen[0] = rare[int(rng.integers(0, len(rare)))] if rng.random() < 0.5 else f"zzqqabsent{qid}"
        rows.append((qid, " ".join(chosen)))
    return rows


def _prev_bench_headline(repo_dir: str):
    """Latest committed BENCH_r*.json headline numbers, for the vs_prev
    delta block (a regression must name itself, VERDICT r2 #9).

    The driver's BENCH_r*.json is a WRAPPER {"n", "rc", "cpus", "sf",
    "tail", "parsed"} — the headline numbers live under "parsed" (round-3
    VERDICT #2: reading the wrapper top-level made vs_prev inert). Rounds
    sort NUMERICALLY so r10 doesn't compare against r2 (ADVICE r3)."""
    import glob
    import re

    cands = sorted(
        (
            f for f in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
            if re.match(r"BENCH_r\d+\.json$", os.path.basename(f))
        ),
        key=lambda f: int(re.search(r"_r(\d+)", os.path.basename(f)).group(1)),
    )
    # walk back from the newest: a round whose tail overflowed the driver's
    # capture has parsed=null and carries no numbers to compare against
    for f in reversed(cands):
        try:
            with open(f) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = data.get("parsed") if isinstance(data, dict) else None
        if parsed is None and isinstance(data, dict) and "files_per_sec" in data:
            parsed = data  # a bare headline file (not a driver wrapper)
        if isinstance(parsed, dict):
            return parsed, os.path.basename(f)
    return None, None


def _vs_prev(result: dict, repo_dir: str) -> dict:
    prev, fname = _prev_bench_headline(repo_dir)
    if not prev:
        return {"prev": None}
    comparable = (
        prev.get("corpus") == result["corpus"]
        and prev.get("cpus") == result["cpus"]
        and prev.get("n_queries") == result["n_queries"]
    )
    out = {"prev": fname, "comparable": comparable}
    for key in ("files_per_sec", "qps", "qps_wand", "qps_seeded"):
        p = prev.get(key)
        c = result.get(key)
        if isinstance(p, (int, float)) and isinstance(c, (int, float)) and p:
            out[key] = {"prev": p, "now": c, "delta_pct": round((c - p) / p * 100, 1)}
    return out


def _get_corpus(spark, sf_dir: str, spec: str):
    """Corpus source: 'documents' (driver tables at sf_dir), 'synth:<n>'
    (the deterministic 2k-vocab code corpus) or 'zipf:<n>' (the 120k-term
    heavy-tailed fixture that exercises WAND/skew machinery). Synthetic
    corpora are cached as parquet so repeated runs at different parallelism
    read identical bytes."""
    from flatnav_spark.corpus import documents_as_corpus

    if spec.startswith(("synth:", "zipf:")):
        from flatnav_spark.corpus import write_corpus_parquet, write_zipf_corpus_parquet

        kind, n_str = spec.split(":", 1)
        n = int(n_str)
        writer = write_corpus_parquet if kind == "synth" else write_zipf_corpus_parquet
        cache_root = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
        cache = f"{cache_root}/flatnav_{kind}_{n}_s42/corpus.parquet"
        done = cache + "/_GEN_DONE"
        if not os.path.exists(done):
            shutil.rmtree(cache, ignore_errors=True)  # drop any stale cache
            writer(cache, n)
            open(done, "w").close()
        return spark.read.parquet(cache)
    return documents_as_corpus(spark, sf_dir)


def run_bench(sf_dir: str, cpus: int, n_queries: int, k: int,
              corpus_spec: str = "documents", keep_index: str | None = None):
    from flatnav_spark.build import build_index
    from flatnav_spark.query import batch_query
    from flatnav_spark.session import get_spark

    # Host calibration stamp (round 5): FIXED bare-process work, measured
    # before Spark starts, so cross-round deltas can separate host drift
    # from engine changes — the sandbox's snapshot-VM placement varies
    # >2x in memory bandwidth between sessions (membw_t8 ~5 s on a slow
    # placement vs ~2 s on a fast one) while pure-CPU time stays flat,
    # and every bandwidth-bound phase (tokenize, shuffle, Arrow) moves
    # with it. Absolute seconds for the same fixed work ARE the
    # normalizer; ~11 s total.
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "flatnav_bench_cpu_probe",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench", "cpu_probe.py"),
    )
    _cp = _ilu.module_from_spec(_spec)
    # register under the spec name BEFORE exec: ProcessPoolExecutor pickles
    # the probe functions by module name and forked workers resolve it via
    # sys.modules; without this the pickle layer refuses the function
    sys.modules[_spec.name] = _cp
    _spec.loader.exec_module(_cp)

    host = {
        "cpu_t8": round(_cp.measure(8, fn=_cp.burn, work=_cp.WORK), 2),
        "membw_t8": round(_cp.measure(8, fn=_cp.burn_mem, work=_cp.MEM_PASSES), 2),
    }

    spark = get_spark(
        "flatnav_bench", cores=cpus, shuffle_partitions=max(cpus, 8),
        # split big input files finer so no-shuffle stages (corpus scan ->
        # tokenize) get enough partitions to use every slot at 4N
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )
    timings: dict[str, float] = {}

    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out_dir = keep_index or os.path.join(
        tempfile.mkdtemp(prefix="flatnav_bench_", dir=tmp_root), "index"
    )
    corpus = _get_corpus(spark, sf_dir, corpus_spec)
    n_docs = corpus.count()  # warm the scan; excluded from build timing

    # warm-up build on a 500-doc slice (excluded, per protocol): pays the
    # one-time driver JIT/codegen tax for every plan shape in the pipeline
    warm_dir = out_dir + "_warm"
    build_index(corpus.limit(500), warm_dir, mode="code",
                n_splits=8, n_groups=1, block_range=1024, out_partitions=4)
    shutil.rmtree(warm_dir, ignore_errors=True)

    # n_groups=2: two checkpointable units (resume still exercised) without
    # paying 4x sequential job-scheduling overhead at bench scale.
    # Partitioning knobs are FIXED (not cpu-derived) so runs at different
    # parallelism execute the identical logical job — the N vs 4N
    # comparison must vary only the resource count.
    cpu_cores: dict[str, tuple] = {}
    # chunk_blocks: target ~100 chunks so the query stage keeps 2-4x the
    # core count in independent work units — a 5k-doc corpus in one
    # 16-block chunk would score on ONE task (defrag still wins at scale:
    # 1M docs -> chunk_blocks 10)
    chunk_blocks = int(os.environ.get(
        "FLATNAV_BENCH_CHUNK_BLOCKS",
        str(max(1, min(16, n_docs // (1024 * 96))))
    ))
    # out_partitions: "auto" (default) lets _stage2 size the merge shuffle
    # by DATA volume (~8k docs/task) — the same value at every parallelism,
    # so N vs 4N still runs the identical logical job (round-4 fix: a
    # core-count-sized merge spilled at 1M x local[32] and anti-scaled)
    out_parts_env = os.environ.get("FLATNAV_BENCH_OUT_PARTS", "auto")
    timings["build"], index, busy, steal = _phase_cpu(lambda: build_index(
        corpus, out_dir, mode="code",
        n_splits=int(os.environ.get("FLATNAV_BENCH_SPLITS", "64")), n_groups=2,
        block_range=1024, chunk_blocks=chunk_blocks,
        out_partitions=None if out_parts_env == "auto" else int(out_parts_env),
    ))
    cpu_cores["build"] = (busy, steal)

    queries = make_query_set(spark, index, n_queries)
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")

    # warm-up (excluded): JIT, python worker spin-up, parquet footer cache
    warm = spark.createDataFrame(queries[:N_WARMUP_QUERIES], "query_id long, query_text string")
    batch_query(spark, index, warm, k=k, prune=True).count()

    def timed_batch(prune: bool, scorer: str = "bm25", label: str = ""):
        holder = {}

        def run():
            res = batch_query(spark, index, qdf, k=k, prune=prune,
                              collect_metrics=True, scorer=scorer)
            holder["n"] = res.count()
            holder["accs"] = res._flatnav_accumulators
            return None

        dt, _, busy, steal = _phase_cpu(run)
        if label:
            cpu_cores[label] = (busy, steal)
        accs = holder["accs"]
        return dt, holder["n"], {k_: int(a.value) for k_, a in accs.items()}

    # FAST mode (scaling harness): only the two phases the efficiency
    # target is defined over
    fast = os.environ.get("FLATNAV_BENCH_FAST", "") == "1"

    # compute-isolated phase: the full tokenize+count pipeline with NO
    # output writes — on this sandbox the host's serial page-fault handler
    # taxes every written byte (see bench/prefault.py docstring), so this
    # row shows the scaling a real cluster (which has no lazily-backed
    # memory) would see for the build's CPU core
    if os.environ.get("FLATNAV_BENCH_COMPUTE", "") == "1":
        from pyspark.sql import functions as F

        from flatnav_spark.tokenizer import make_tfmap_udf

        tfmap = make_tfmap_udf("code")

        def tok_count():
            return (
                corpus.withColumn("tfmap", tfmap(F.col("content")))
                .select(F.explode("tfmap").alias("term", "tf"))
                .agg(F.count(F.lit(1)), F.sum("tf"))
                .collect()
            )

        timings["tokenize_compute"], _, busy, steal = _phase_cpu(tok_count)
        cpu_cores["tokenize_compute"] = (busy, steal)

    timings["query_batch"], n_results, ex_counts = timed_batch(
        prune=False, label="query_batch")
    timings["query_batch_wand"], _, wd_counts = timed_batch(
        prune=True, label="query_batch_wand")
    seeded: dict = {}
    if not fast:
        timings["query_batch_tfidf"], _, _ = timed_batch(prune=True, scorer="tfidf_ip")

        # standing-service threshold-reuse repeat (the WAND scale path,
        # flatnav_spark/service.py): the same batch re-answered with each
        # query's attained k-th score seeded into every task — pruning is
        # parallelism-independent in this regime. Cold pass (≈ the wand
        # run above) fills the cache, the seeded repeat is what's timed.
        from flatnav_spark.service import StandingQueryService

        svc = StandingQueryService(spark, index, k=k, preload_stats=False)
        svc.search_batch(queries)
        dt, _, busy, steal = _phase_cpu(
            lambda: svc.search_batch(queries, collect_metrics=True))
        timings["query_batch_seeded"] = dt
        cpu_cores["query_batch_seeded"] = (busy, steal)
        sm = svc.last_metrics
        seeded = {
            "seg_prune_frac": round(
                sm["segments_pruned"]
                / max(sm["segments_scored"] + sm["segments_pruned"], 1), 4),
            "pair_prune_frac": round(
                sm["pairs_pruned"]
                / max(sm["pairs_scored"] + sm["pairs_pruned"], 1), 4),
        }

    # single-query latency percentiles — the reference protocol: one search
    # "thread" at a time, repeated single queries (experiments/Makefile:22,
    # metrics.py:80-114 p50..p999)
    import numpy as np

    from flatnav_spark.query import query_one

    # explicit FLATNAV_BENCH_LAT_QUERIES overrides FAST mode, so scaling /
    # zipf runs can still publish M3 percentiles (round-3 demand #6)
    lat_env = os.environ.get("FLATNAV_BENCH_LAT_QUERIES")
    n_lat = int(lat_env) if lat_env is not None else (0 if fast else 32)
    if n_lat:
        # standing-service configuration (the reference latency protocol is
        # repeated single queries): one-time stats preload, excluded from
        # per-query timing; a query_one whose pass sizes to one task then
        # runs no Spark job (larger ones run one)
        index.preload_term_stats(spark)
    lat = []
    for _qid, qtext in queries[:n_lat]:
        t0 = time.perf_counter()
        query_one(spark, index, qtext, k=k, prune=True)
        lat.append(time.perf_counter() - t0)
    lat_ms = np.array(lat) * 1000.0 if lat else np.array([0.0])

    # every published number goes through the typed metric registry (M6,
    # the experiments/plotting/metrics.py analog): unknown names fail here
    from flatnav_spark.metrics import MetricReport

    rep = MetricReport()
    for phase, secs in timings.items():
        rep.emit(f"{phase}_sec", secs)
    rep.emit("files_per_sec", n_docs / timings["build"])
    rep.emit("qps", n_queries / timings["query_batch"])
    rep.emit("qps_wand", n_queries / timings["query_batch_wand"])
    if seeded:
        rep.emit("qps_seeded", n_queries / timings["query_batch_seeded"])
        rep.emit("wand_seeded_prune_frac", seeded["seg_prune_frac"])
    rep.emit("n_docs", n_docs)
    rep.emit("n_queries", n_queries)
    rep.emit("n_results", n_results)
    rep.emit("blocks_scored", wd_counts["blocks_scored"])
    rep.emit("blocks_pruned", wd_counts["blocks_pruned"])
    rep.emit("segments_scored", wd_counts["segments_scored"])
    rep.emit("segments_pruned", wd_counts["segments_pruned"])
    rep.emit(
        "wand_prune_frac",
        wd_counts["segments_pruned"]
        / max(wd_counts["segments_scored"] + wd_counts["segments_pruned"], 1),
    )
    for p in (50, 90, 95, 99):
        rep.emit(f"latency_p{p}_ms", float(np.percentile(lat_ms, p)))
    v = rep.as_dict()

    result = {
        "metric": "bm25 index build + batched top-k query wall clock",
        "value": round(timings["build"] + timings["query_batch"], 3),
        "unit": "sec",
        "queries": {k_: round(s, 3) for k_, s in timings.items()},
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "corpus": corpus_spec,
        "cpus": cpus,
        "n_docs": n_docs,
        "n_queries": n_queries,
        "k": k,
        "n_results": n_results,
        "host": host,
        "files_per_sec": v["files_per_sec"],
        "qps": v["qps"],
        "qps_wand": v["qps_wand"],
        "qps_seeded": v.get("qps_seeded"),
        "seeded": seeded or None,
        # M4 analog (distance computations): blocks AND segments scored vs
        # pruned per run — segments are the decode unit, so the segment
        # fraction is the honest measure of work WAND actually skipped
        "blocks": {
            "exact_scored": ex_counts["blocks_scored"],
            "exact_pruned": ex_counts["blocks_pruned"],
            "wand_scored": wd_counts["blocks_scored"],
            "wand_pruned": wd_counts["blocks_pruned"],
            "exact_segments_scored": ex_counts["segments_scored"],
            "wand_segments_scored": wd_counts["segments_scored"],
            "wand_segments_pruned": wd_counts["segments_pruned"],
            "wand_prune_frac": v["wand_prune_frac"],
            "wand_pairs_scored": wd_counts["pairs_scored"],
            "wand_pairs_pruned": wd_counts["pairs_pruned"],
            "wand_pair_prune_frac": round(
                wd_counts["pairs_pruned"]
                / max(wd_counts["pairs_scored"] + wd_counts["pairs_pruned"], 1), 4),
            # the round-2 'WAND must earn its keep' gate: on a skewed
            # (zipf) corpus pruning must fire — also enforced as a pytest
            # regression (test_wand_lossless_and_active_on_skewed_corpus)
            "wand_active": bool(
                wd_counts["segments_pruned"] + wd_counts["pairs_pruned"] > 0
            ),
        },
        # M3 analog: single-query latency percentiles (ms, 1 query in flight)
        "latency_ms": {
            # protocol stamp (round-4 ADVICE): percentiles measure the
            # preloaded one-job standing-service path since round 4 — a
            # delta vs a round measured under the older two/three-job
            # protocol is a protocol change, not a performance change
            "protocol": "preloaded_one_job" if n_lat else "none",
            "n": int(lat_ms.size),
            "p50": v["latency_p50_ms"],
            "p90": v["latency_p90_ms"],
            "p95": v["latency_p95_ms"],
            "p99": v["latency_p99_ms"],
        },
        # effective cores the host delivered per phase: (busy, stolen) —
        # the sandbox shares a noisy host; these make each number auditable
        "cpu_cores": {k_: {"busy": b, "steal": s} for k_, (b, s) in cpu_cores.items()},
        "metric_units": rep.describe(),
        "index": index.info(),
    }
    result["vs_prev"] = _vs_prev(result, os.path.dirname(os.path.abspath(__file__)))
    spark.stop()
    if keep_index is None:
        shutil.rmtree(os.path.dirname(out_dir), ignore_errors=True)
    return result


HEADLINE_LIMIT = 1800  # driver tail capture is 2000 chars (round-3 VERDICT #3)


def headline(result: dict, full_path: str | None = None) -> dict:
    """Compact machine-readable summary for the printed JSON line.

    The driver captures only the LAST ~2000 chars of stdout; round 3's
    full result (metric_units + index info + 3-grain counters) outgrew
    that and `BENCH_r03.json` recorded `parsed: null` — the reference
    keeps its appended metrics line compact for exactly this reason
    (/root/reference/experiments/run-benchmark.py:329-343). Full detail
    goes to the side file named in "full"."""
    h = {k: result[k] for k in (
        "metric", "value", "unit", "queries", "sf", "corpus", "cpus",
        "n_docs", "n_queries", "k", "n_results", "host",
        "files_per_sec", "qps", "qps_wand", "qps_seeded") if k in result
        and result[k] is not None}
    b = result.get("blocks", {})
    h["wand"] = {
        "seg_prune_frac": b.get("wand_prune_frac"),
        "pair_prune_frac": b.get("wand_pair_prune_frac"),
        "active": b.get("wand_active"),
    }
    if result.get("seeded"):
        h["wand"]["seeded_seg_frac"] = result["seeded"]["seg_prune_frac"]
        h["wand"]["seeded_pair_frac"] = result["seeded"]["pair_prune_frac"]
    for key in ("latency_ms", "cpu_cores", "vs_prev"):
        if key in result:
            h[key] = result[key]
    if full_path:
        h["full"] = full_path
    # hard guarantee: shed detail (never headline numbers) until it fits
    for drop in ("cpu_cores", "vs_prev", "latency_ms", "wand"):
        if len(json.dumps(h)) <= HEADLINE_LIMIT:
            break
        h.pop(drop, None)
    return h


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_queries = int(os.environ.get("FLATNAV_BENCH_QUERIES", "1000"))
    k = int(os.environ.get("FLATNAV_BENCH_K", "10"))
    # headline default moved to a zipf corpus (round-4 VERDICT #2): the
    # 5000-doc/31-term documents fixture made every WAND/latency number
    # degenerate (every block holds every query's terms). zipf:200k has a
    # 120k-term heavy-tailed vocabulary — prune fracs and percentiles mean
    # something. The documents fixture stays the parity smoke via the
    # driver's CORRECTNESS oracle entries. vs_prev marks the protocol
    # break (comparable: false against pre-r05 documents-corpus rounds).
    corpus_spec = os.environ.get("FLATNAV_BENCH_CORPUS", "zipf:200000")
    result = run_bench(sf_dir, cpus, n_queries, k, corpus_spec)
    repo = os.path.dirname(os.path.abspath(__file__))
    full_path = os.environ.get(
        "FLATNAV_BENCH_FULL_OUT", os.path.join(repo, "BENCH", "bench_full.json"))
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as f:
            json.dump(result, f, indent=2)
    except OSError:
        full_path = None
    print(json.dumps(headline(result, full_path)))


if __name__ == "__main__":
    main()
