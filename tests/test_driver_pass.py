"""A scoring pass sized to one task runs on the driver (pyarrow reader +
the unchanged chunk kernel) instead of as a Spark job. It must return
the Spark path's top-k rank for rank with identical float64 scores, keep
the WAND counters, and run no Spark job for a preloaded query_one,
search_batch or Arrow-fed batch_query. The decoded row groups it keeps
on the index handle change no row, follow extend and optimize, and let
a warm call read no file."""

import os
import shutil

import numpy as np
import pyarrow as pa
import pytest

from flatnav_spark.build import build_index, extend_index
from flatnav_spark.corpus import corpus_df, synth_corpus, synth_queries
from flatnav_spark.index_io import load_index
from flatnav_spark.maintenance import optimize_index
from flatnav_spark.query import (
    _pass_partitions,
    _qt_rows_driver,
    _ranked,
    _resolve_query_terms,
    _run_pass,
    batch_query,
    query_one,
)
from flatnav_spark.reference import ReferenceIndex
from flatnav_spark.service import StandingQueryService

RESULT_SCHEMA = "struct<query_id:bigint,rank:int,doc_id:bigint,score:double>"
SCHEMA = "repo string, path string, commit string, lang string, content string"
ZIPF_QUERIES = ["vaaaaaaa0 import", "vbaaaaaa0", "def return self",
                "vcaaaaaa0 vdaaaaaa0", "parseIndex mergeBuffer",
                "vaeaaaaa0 class"]
NO_TERMS = "zzqqnotindexed"


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    from flatnav_spark.corpus import synth_zipf_corpus

    root = tmp_path_factory.mktemp("driver_pass")
    fixture = build_index(corpus_df(spark, 300), str(root / "fixture"),
                          mode="code", n_splits=16, n_groups=4,
                          block_range=64, out_partitions=4)
    zipf = build_index(
        spark.createDataFrame(
            synth_zipf_corpus(3000, n_terms=20000, median_dl=80), SCHEMA),
        str(root / "zipf"), mode="code", n_splits=8, n_groups=1,
        block_range=64, chunk_blocks=4, out_partitions=4)
    rows = synth_corpus(120, seed=5)
    ext = build_index(spark.createDataFrame(rows[:80], SCHEMA),
                      str(root / "ext"), mode="code", n_splits=8, n_groups=2,
                      block_range=64, out_partitions=4)
    extend_index(spark, ext, spark.createDataFrame(rows[80:], SCHEMA),
                 out_partitions=4)
    assert len(ext.manifest.postings_dirs) == 2
    shutil.copytree(root / "ext", root / "opt")
    opt = optimize_index(spark, load_index(str(root / "opt")), out_partitions=2)
    assert len(opt.manifest.postings_dirs) == 1
    synth = [t for _, t in synth_queries(12)] + [NO_TERMS]
    return {
        "fixture": (fixture, synth),
        "zipf": (zipf, ZIPF_QUERIES + [NO_TERMS]),
        "extended": (ext, synth),
        "optimized": (opt, synth),
    }


def _qdf(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "query_id long, query_text string")


def _arrow_qdf(spark, texts):
    # a pyarrow-built frame is a LocalRelation: collecting it runs no job
    return spark.createDataFrame(pa.table({
        "query_id": pa.array(range(len(texts)), pa.int64()),
        "query_text": pa.array(texts, pa.string())}))


def _job_ids(spark, group, fn):
    """fn() under Spark job group ``group``; returns (fn(), the group's
    job ids as the status tracker saw them)."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_one_task(spark, index, qdf):
    qt_rows = _resolve_query_terms(spark, index, qdf)
    assert _pass_partitions(spark, qt_rows, None) == 1
    return qt_rows


@pytest.mark.parametrize("scorer", ["bm25", "tfidf_ip"])
@pytest.mark.parametrize("name", ["fixture", "zipf", "extended", "optimized"])
def test_driver_pass_rank_identical_to_spark(spark, indexes, name, scorer):
    index, texts = indexes[name]
    k = 5
    qdf = _qdf(spark, texts)
    _assert_one_task(spark, index, qdf)
    exact = _rows(batch_query(spark, index, qdf, k=k, prune=False,
                              scorer=scorer, num_partitions=3))
    assert exact
    # seeds as a standing service caches them: each query's attained k-th
    kth = {q: s for q, r, _, s in exact if r == k}
    assert kth
    for prune, seeds in ((False, None), (True, None), (True, kth)):
        kw = dict(k=k, prune=prune, scorer=scorer, seed_thr_by_qid=seeds)
        driver = _rows(batch_query(spark, index, qdf, **kw))
        spark_p3 = _rows(batch_query(spark, index, qdf, num_partitions=3, **kw))
        assert driver == spark_p3 == exact, (prune, seeds is not None)
    # query_one takes the same driver pass
    for qid, text in enumerate(texts):
        want = [(r, d, s) for q, r, d, s in exact if q == qid]
        assert query_one(spark, index, text, k=k, scorer=scorer,
                         seed_thr=kth.get(qid)) == want


@pytest.mark.parametrize("name", ["zipf", "extended"])
def test_driver_pass_approx_matches_one_spark_task(spark, indexes, name):
    # theta > 1 prunes on task-local thresholds, so p = 3 may differ; one
    # Spark task sees the same rows in the same order as the driver
    index, texts = indexes[name]
    k = 5
    qdf = _qdf(spark, texts)
    qt_rows = _assert_one_task(spark, index, qdf)
    for theta in (1.5, 3.0):
        driver = _rows(batch_query(spark, index, qdf, k=k, approx_factor=theta))
        cand = _run_pass(spark, index, qt_rows, k, True, 1, "bm25", (None,) * 6,
                         approx_factor=theta).toPandas()
        assert driver == _ranked(cand, k)


@pytest.mark.parametrize("prune", [False, True])
def test_query_one_multi_task_pass_matches_batch_query(spark, indexes,
                                                      monkeypatch, prune):
    # every fixture query sizes to one task; a one-posting task target
    # sends query_one down its Spark branch with more than one task
    from flatnav_spark import query

    index, _ = indexes["zipf"]
    monkeypatch.setattr(query, "TARGET_POSTINGS_PER_TASK", 1)
    k = 5
    # the texts with an indexed term (the others never reach a pass)
    texts = [t for t in ZIPF_QUERIES if _qt_rows_driver(spark, index, [(0, t)])]
    assert len(texts) >= 3
    exact = _rows(batch_query(spark, index, _qdf(spark, texts), k=k,
                              prune=False, num_partitions=3))
    assert _rows(batch_query(spark, index, _qdf(spark, texts), k=k,
                             prune=prune)) == exact
    for qid, text in enumerate(texts):
        assert _pass_partitions(
            spark, _qt_rows_driver(spark, index, [(0, text)]), None) > 1
        want = [(r, d, s) for q, r, d, s in exact if q == qid]
        assert want
        assert query_one(spark, index, text, k=k, prune=prune) == want


def test_empty_term_queries(spark, indexes):
    index, _ = indexes["fixture"]
    assert batch_query(spark, index, _qdf(spark, [NO_TERMS])).collect() == []
    assert query_one(spark, index, NO_TERMS) == []


def test_driver_pass_keeps_wand_counters(spark, indexes):
    # every chunk is scored in exactly one task, so per-grain totals
    # (scored + pruned) do not depend on how chunks split across tasks
    index, texts = indexes["zipf"]
    qdf = _qdf(spark, texts)
    _assert_one_task(spark, index, qdf)
    totals = []
    for p in (None, 3):
        res = batch_query(spark, index, qdf, k=5, num_partitions=p,
                          collect_metrics=True)
        res.collect()
        v = {n: int(a.value) for n, a in res._flatnav_accumulators.items()}
        totals.append({g: v[f"{g}_scored"] + v[f"{g}_pruned"]
                       for g in ("blocks", "segments", "pairs")})
        if p is None:
            assert v["pairs_pruned"] > 0
    assert totals[0] == totals[1]
    assert totals[0]["pairs"] > 0


# The six WAND counters (blocks, segments, (query, block) pairs; scored,
# then pruned) of the one-task driver pass at k=5, per mode. Literals: a
# change to the chunk kernel must count exactly the same work.
PINNED_COUNTERS = {
    ("zipf", "bm25"): {"exact": (51, 0, 559, 0, 204, 0),
                       "wand": (51, 0, 540, 19, 200, 4),
                       "seeded": (51, 0, 540, 19, 200, 4),
                       "theta1.5": (10, 41, 65, 494, 13, 191)},
    ("zipf", "tfidf_ip"): {"exact": (51, 0, 559, 0, 204, 0),
                           "wand": (19, 32, 178, 381, 57, 147),
                           "seeded": (6, 45, 55, 504, 20, 184),
                           "theta1.5": (8, 43, 71, 488, 27, 177)},
    ("extended", "bm25"): {"exact": (4, 0, 208, 0, 47, 0),
                           "wand": (4, 0, 178, 30, 38, 9),
                           "seeded": (4, 0, 178, 30, 38, 9),
                           "theta1.5": (4, 0, 170, 38, 32, 15)},
    ("extended", "tfidf_ip"): {"exact": (4, 0, 208, 0, 47, 0),
                               "wand": (4, 0, 179, 29, 37, 10),
                               "seeded": (4, 0, 179, 29, 37, 10),
                               "theta1.5": (4, 0, 156, 52, 29, 18)},
}


@pytest.mark.parametrize("scorer", ["bm25", "tfidf_ip"])
@pytest.mark.parametrize("name", ["zipf", "extended"])
def test_wand_counters_pinned(spark, indexes, name, scorer):
    index, texts = indexes[name]
    qdf = _qdf(spark, texts)
    _assert_one_task(spark, index, qdf)

    def run(**kw):
        res = batch_query(spark, index, qdf, k=5, scorer=scorer,
                          collect_metrics=True, **kw)
        return _rows(res), tuple(int(a.value) for a in
                                 res._flatnav_accumulators.values())

    exact_rows, exact = run(prune=False)
    kth = {q: s for q, r, _, s in exact_rows if r == 5}
    got = {"exact": exact,
           "wand": run(prune=True)[1],
           "seeded": run(prune=True, seed_thr_by_qid=kth)[1],
           "theta1.5": run(prune=True, approx_factor=1.5)[1]}
    assert got == PINNED_COUNTERS[(name, scorer)]


def test_bincount_adds_in_input_order():
    """The kernel's bit-identical scores (ARCHITECTURE.md section 4, item 3)
    rest on np.bincount adding each bin's weights one at a time, in input
    order, from 0.0. NumPy does not document that order; a NumPy whose
    bincount summed pairwise or in vector lanes would fail here."""
    def in_order(idx, w, n):
        out = [0.0] * n
        for i, x in zip(idx, w):
            out[i] += x
        return out

    assert np.bincount([0, 0, 0], [1e16, -1e16, 1.0]).tolist() == [1.0]
    assert np.bincount([0, 0, 0], [1e16, 1.0, -1e16]).tolist() == [0.0]
    w = [1e16] + [1.0] * 16 + [-1e16]          # sequential: each +1 rounds away
    assert np.bincount([0] * 18, w).tolist() == [0.0]
    rng = np.random.default_rng(7)
    for n_bins in (1, 3, 64):
        idx = rng.integers(0, n_bins, 5000)
        w = rng.standard_normal(5000) * 10.0 ** rng.integers(-8, 17, 5000)
        assert (np.bincount(idx, w, minlength=n_bins).tolist()
                == in_order(idx.tolist(), w.tolist(), n_bins))


def test_preloaded_query_one_runs_no_spark_job(spark, indexes):
    index, _ = indexes["fixture"]
    index.preload_term_stats(spark)
    try:
        hits, jobs = _job_ids(spark, "driver-pass-query-one", lambda: query_one(
            spark, index, "import mergeIndex", k=5))
        # control: a Spark pass in another group is seen by the tracker
        _, control = _job_ids(spark, "driver-pass-control", lambda: batch_query(
            spark, index, _qdf(spark, ["import mergeIndex"]), k=5,
            num_partitions=3).collect())
    finally:
        index._stats_cache = None
    assert hits
    assert jobs == []
    assert control


def test_driver_batches_run_no_spark_job(spark, indexes):
    index, texts = indexes["fixture"]
    queries = list(enumerate(texts))
    assert _pass_partitions(spark, _qt_rows_driver(spark, index, queries),
                            None) == 1
    svc = StandingQueryService(spark, index, k=5)  # preloads the stats
    try:
        cold, cold_jobs = _job_ids(spark, "driver-batch-cold",
                                   lambda: svc.search_batch(queries))
        assert svc.cached_thresholds > 0
        warm, warm_jobs = _job_ids(spark, "driver-batch-seeded",
                                   lambda: svc.search_batch(queries))
        qdf = _arrow_qdf(spark, texts)
        rows, batch_jobs = _job_ids(spark, "driver-batch-arrow", lambda: (
            batch_query(spark, index, qdf, k=5).collect()))
        none, none_jobs = _job_ids(spark, "driver-batch-unknown", lambda: (
            svc.search_batch([(0, NO_TERMS)]),
            batch_query(spark, index, _arrow_qdf(spark, [NO_TERMS])).collect()))
        _, control = _job_ids(spark, "driver-batch-control", lambda: (
            batch_query(spark, index, qdf, k=5, num_partitions=3).collect()))
    finally:
        index._stats_cache = None
    assert cold and warm == cold and rows and none == ({}, [])
    assert cold_jobs == warm_jobs == batch_jobs == none_jobs == []
    assert control


def test_result_schema_on_every_path(spark, indexes):
    index, texts = indexes["fixture"]
    qdf = _qdf(spark, texts)
    _assert_one_task(spark, index, qdf)
    driver = batch_query(spark, index, qdf, k=5)
    empty = batch_query(spark, index, _qdf(spark, [NO_TERMS]))
    spark_p3 = batch_query(spark, index, qdf, k=5, num_partitions=3)
    for df in (driver, empty, spark_p3):
        assert df.schema.simpleString() == RESULT_SCHEMA
    # the Arrow-built result does not depend on Arrow conversion being on
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        arrow_off = batch_query(spark, index, qdf, k=5)
        assert arrow_off.schema.simpleString() == RESULT_SCHEMA
        off_rows = arrow_off.collect()
    finally:
        spark.conf.set(key, old)
    assert off_rows == driver.collect()


def _rows_and_counters(spark, index, qdf, scorer):
    res = batch_query(spark, index, qdf, k=5, scorer=scorer,
                      collect_metrics=True)
    return _rows(res), {n: int(a.value)
                        for n, a in res._flatnav_accumulators.items()}


@pytest.mark.parametrize("scorer", ["bm25", "tfidf_ip"])
@pytest.mark.parametrize("name", ["fixture", "zipf", "extended", "optimized"])
def test_postings_cache_changes_no_row(spark, indexes, monkeypatch, name,
                                       scorer):
    # a handle with the cache off, a fresh one with it on (cold, then
    # warm) and handles under budgets below a row group's size give the
    # same rows, float64 scores and six WAND counters
    from flatnav_spark import query

    index, texts = indexes[name]
    qdf = _qdf(spark, texts)
    _assert_one_task(spark, index, qdf)
    default = query.POSTINGS_CACHE_MAX_BYTES
    monkeypatch.setattr(query, "POSTINGS_CACHE_MAX_BYTES", 0)
    off = load_index(index.path)
    want = _rows_and_counters(spark, off, qdf, scorer)
    assert want[0] and not off._decoded and off._decoded_nbytes == 0

    monkeypatch.setattr(query, "POSTINGS_CACHE_MAX_BYTES", default)
    on = load_index(index.path)
    assert _rows_and_counters(spark, on, qdf, scorer) == want  # cold
    assert on._decoded
    assert _rows_and_counters(spark, on, qdf, scorer) == want  # warm

    # budgets below the largest group (read but not kept) and below the
    # two smallest together (keeping the second evicts the first)
    sizes = sorted(t.nbytes for t in on._decoded.values())
    assert len(sizes) >= 2
    for budget in (sizes[-1] // 2, sizes[0] + sizes[1] - 1):
        monkeypatch.setattr(query, "POSTINGS_CACHE_MAX_BYTES", budget)
        small = load_index(index.path)
        for _ in range(2):
            assert _rows_and_counters(spark, small, qdf, scorer) == want
            assert small._decoded_nbytes == sum(
                t.nbytes for t in small._decoded.values()) <= budget
        assert len(small._decoded) < len(sizes)


def test_postings_cache_follows_generations(spark, tmp_path, monkeypatch):
    # a handle whose cache is full serves extend_index and then
    # optimize_index (which deletes the old postings dirs) in place; each
    # next query_one matches a fresh handle and the reference, and no
    # file is opened after it was deleted
    import pyarrow.parquet as pq

    out = str(tmp_path / "index")
    rows = synth_corpus(120, seed=9)
    second = [(*r[:4], r[4] + " zzgenerationterm") for r in rows[80:]]
    index = build_index(spark.createDataFrame(rows[:80], SCHEMA), out,
                        mode="code", n_splits=8, n_groups=2, block_range=64,
                        out_partitions=4)
    texts = [t for _, t in synth_queries(6)] + ["zzgenerationterm import"]
    opened = []
    real = pq.ParquetFile

    def spy(source, *args, **kwargs):
        assert os.path.exists(source), f"opened a deleted file: {source}"
        opened.append(source)
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", spy)

    def check(all_rows):
        by_key = {tuple(r[:3]): r[4] for r in all_rows}
        ref = ReferenceIndex([(r.doc_id, by_key[(r.repo, r.path, r.commit)])
                              for r in index.docs(spark).collect()])
        fresh = load_index(out)
        for text in texts:
            got = query_one(spark, index, text, k=5)
            assert got == query_one(spark, fresh, text, k=5)
            assert got == ref.top_k(text, 5)
        assert index._decoded

    for text in texts:
        query_one(spark, index, text, k=5)
    assert index._decoded
    assert query_one(spark, index, "zzgenerationterm") == []

    extend_index(spark, index, spark.createDataFrame(second, SCHEMA),
                 out_partitions=4)
    assert len(index.manifest.postings_dirs) == 2
    check(rows[:80] + second)
    new_ids = {d for _, d, _ in query_one(spark, index, "zzgenerationterm")}
    assert new_ids and min(new_ids) >= 80

    old_dirs = [os.path.join(out, d) for d in index.manifest.postings_dirs]
    optimize_index(spark, index, out_partitions=2)
    del opened[:]
    assert len(index.manifest.postings_dirs) == 1
    assert not any(os.path.exists(d) for d in old_dirs)
    check(rows[:80] + second)
    assert opened and not any(f.startswith(d + os.sep) for f in opened
                              for d in old_dirs)


def test_warm_driver_pass_reads_no_file(spark, indexes, monkeypatch):
    # after one warm-up, a repeat search_one and a repeat one-task
    # search_batch open and decode no parquet file (the zero-I/O
    # counterpart of test_preloaded_query_one_runs_no_spark_job)
    import pyarrow.parquet as pq

    index, texts = indexes["extended"]
    handle = load_index(index.path)
    queries = list(enumerate(texts))
    svc = StandingQueryService(spark, handle, k=5)
    assert _pass_partitions(spark, _qt_rows_driver(spark, handle, queries),
                            None) == 1
    one = svc.search_one(texts[0])
    batch = svc.search_batch(queries)
    assert one and batch

    def no_io(*args, **kwargs):
        raise AssertionError("the warm driver pass read a parquet file")

    for name in ("read_row_group", "read_row_groups"):
        monkeypatch.setattr(pq.ParquetFile, name, no_io)
    monkeypatch.setattr(pq, "ParquetFile", no_io)
    assert svc.search_one(texts[0]) == one
    assert svc.search_batch(queries) == batch
