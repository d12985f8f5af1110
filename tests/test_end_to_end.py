"""End-to-end build + query parity vs the brute-force reference oracle —
the translation of the reference's recall test (test_index.py:39-63) made
EXACT per the north_rule: rank-identical doc_ids AND equal float64 scores.

Also covers the serialization contract (test_serialization.cpp:64-75):
reload from disk returns identical results; and the per-row sha256
invariant from the input_hint.
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from flatnav_spark.build import build_index
from flatnav_spark.corpus import corpus_df, synth_corpus, synth_queries
from flatnav_spark.index_io import load_index
from flatnav_spark.query import batch_query
from flatnav_spark.reference import golden_topk

N_DOCS = 300
N_QUERIES = 40
K = 10


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "index")
    corpus = corpus_df(spark, N_DOCS)
    index = build_index(corpus, out, mode="code", n_splits=16, n_groups=4,
                        block_range=64, out_partitions=4)
    return index, corpus


def _engine_topk(spark, index, queries, k=K, prune=True):
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    rows = batch_query(spark, index, qdf, k=k, prune=prune).collect()
    return sorted((r.query_id, r.rank, r.doc_id, r.score) for r in rows)


def _golden(spark, index, corpus, queries, k=K):
    # map engine doc_ids back to content via the docs table join — also
    # exercises the (repo, path, commit) identity contract
    docs = (
        index.docs(spark)
        .join(corpus, ["repo", "path", "commit"])
        .select("doc_id", "content")
        .collect()
    )
    pairs = [(r.doc_id, r.content) for r in docs]
    assert len(pairs) == N_DOCS
    return sorted(golden_topk(pairs, queries, k=k, mode="code"))


def test_build_manifest_sane(spark, built):
    index, _ = built
    m = index.manifest
    assert m.n_docs == N_DOCS
    assert m.n_terms > 50
    assert m.n_postings > m.n_terms
    assert m.avgdl > 0
    assert m.metrics["skew_ratio_max_df_over_mean"] > 1.0
    assert len(m.lineage) == 4


def test_doc_ids_unique_and_deterministic(spark, built):
    index, _ = built
    docs = index.docs(spark)
    n = docs.count()
    assert docs.select("doc_id").distinct().count() == n == N_DOCS


def test_sha256_invariant(spark, built):
    """Per-row content sha256 equality end-to-end (input_hint contract)."""
    index, corpus = built
    joined = (
        index.docs(spark)
        .join(corpus, ["repo", "path", "commit"])
        .select("content_sha", F.sha2("content", 256).alias("expected"))
    )
    assert joined.filter("content_sha != expected").count() == 0
    # and spot-check one row against python hashlib
    row = joined.limit(1).collect()[0]
    assert len(row.content_sha) == 64
    sample = corpus.limit(1).collect()[0]
    assert (
        hashlib.sha256(sample.content.encode()).hexdigest()
        == index.docs(spark)
        .join(corpus.limit(1), ["repo", "path", "commit"])
        .collect()[0]
        .content_sha
    )


def test_parity_rank_identical(spark, built):
    """THE gate: engine top-k == oracle top-k, ranks, ids and float64 scores."""
    index, corpus = built
    queries = synth_queries(N_QUERIES)
    golden = _golden(spark, index, corpus, queries)
    engine = _engine_topk(spark, index, queries, prune=False)
    assert engine == golden


def test_parity_with_wand_pruning(spark, built):
    """Block-max WAND must be lossless: identical output with prune=True."""
    index, corpus = built
    queries = synth_queries(N_QUERIES)
    golden = _golden(spark, index, corpus, queries)
    engine = _engine_topk(spark, index, queries, prune=True)
    assert engine == golden


def test_roundtrip_reload_identical(spark, built, tmp_path):
    """Serialization contract: load from disk -> identical results."""
    index, _ = built
    reloaded = load_index(index.path)
    assert reloaded.manifest == index.manifest
    queries = synth_queries(10)
    a = _engine_topk(spark, index, queries)
    b = _engine_topk(spark, reloaded, queries)
    assert a == b


def test_absent_term_queries_empty(spark, built):
    index, _ = built
    out = _engine_topk(spark, index, [(0, "zzz_never_anywhere_qq")])
    assert out == []


def test_k_truncation(spark, built):
    index, _ = built
    out = _engine_topk(spark, index, [(0, "import")], k=3)
    assert len(out) == 3
    assert [r[1] for r in out] == [1, 2, 3]


def test_parity_tfidf_scorer(spark, built):
    """Second scorer through the seam (the IP-metric analog): engine
    tfidf_ip top-k == oracle tfidf_ip top-k, rank-identical, over the SAME
    index the BM25 tests use (scorer selected at query time)."""
    index, corpus = built
    queries = synth_queries(N_QUERIES)
    docs = (
        index.docs(spark)
        .join(corpus, ["repo", "path", "commit"])
        .select("doc_id", "content")
        .collect()
    )
    pairs = [(r.doc_id, r.content) for r in docs]
    golden = sorted(golden_topk(pairs, queries, k=K, mode="code", scorer="tfidf_ip"))
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    for prune in (False, True):
        rows = batch_query(spark, index, qdf, k=K, prune=prune, scorer="tfidf_ip").collect()
        engine = sorted((r.query_id, r.rank, r.doc_id, r.score) for r in rows)
        assert engine == golden, f"tfidf_ip parity failed (prune={prune})"


def test_chunked_batch_equals_single_pass(spark, built):
    """max_queries_per_pass chunking must not change results (memory
    bounding is a physical knob, not a semantic one)."""
    index, _ = built
    queries = synth_queries(30)
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    one = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_query(spark, index, qdf, k=K).collect()
    )
    chunked = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_query(spark, index, qdf, k=K, max_queries_per_pass=7).collect()
    )
    assert one == chunked


def test_query_one_matches_batch(spark, built):
    """searchSingle analog: the convenience API returns the batch path's
    exact rows."""
    from flatnav_spark.query import query_one

    index, _ = built
    batch = _engine_topk(spark, index, [(0, "import mergeIndex")], k=5)
    single = query_one(spark, index, "import mergeIndex", k=5)
    assert single == [(r[1], r[2], r[3]) for r in batch]
    # the one-job standing-service path (preloaded stats + driver-side
    # tokenize) must be bit-identical too
    n = index.preload_term_stats(spark)
    assert n == index.manifest.n_terms
    try:
        fast = query_one(spark, index, "import mergeIndex", k=5)
    finally:
        index._stats_cache = None  # don't leak into other module tests
    assert fast == single


def test_unknown_scorer_rejected(spark, built):
    index, _ = built
    qdf = spark.createDataFrame([(0, "import")], "query_id long, query_text string")
    with pytest.raises(ValueError, match="unknown scorer"):
        batch_query(spark, index, qdf, scorer="cosine")


def test_wand_lossless_and_active_on_skewed_corpus(spark, tmp_path):
    """On a heavy-tailed (Zipf) corpus WAND must actually prune — and stay
    lossless. The tame 2k-vocab fixture never exercises the bounds
    (round-2 VERDICT); this is the regression gate for 'pruning works'."""
    from flatnav_spark.build import build_index
    from flatnav_spark.corpus import synth_zipf_corpus

    rows = synth_zipf_corpus(3000, n_terms=20000, median_dl=80)
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    index = build_index(corpus, str(tmp_path / "zidx"), mode="code", n_splits=8,
                        n_groups=1, block_range=64, chunk_blocks=4,
                        out_partitions=4)
    queries = [(i, t) for i, t in enumerate(
        ["vaaaaaaa0 import", "vbaaaaaa0", "def return self", "vcaaaaaa0 vdaaaaaa0",
         "parseIndex mergeBuffer", "vaeaaaaa0 class"]
    )]
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    exact = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_query(spark, index, qdf, k=5, prune=False).collect()
    )
    res = batch_query(spark, index, qdf, k=5, prune=True, collect_metrics=True)
    pruned = sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in res.collect()
    )
    assert pruned == exact  # lossless
    accs = res._flatnav_accumulators
    assert int(accs["pairs_pruned"].value) > 0  # ...and actually pruning


def test_wand_floor_is_valid_lower_bound(spark, built):
    """The analytic WAND floor (round 4) must NEVER exceed a query's true
    k-th score — otherwise pruning would be lossy. Checks every fixture
    query against the engine's exact (prune=False) results, and that the
    index actually carries the floor statistics."""
    from flatnav_spark.query import _resolve_query_terms, _score_floor_by_qid
    from flatnav_spark.scorer import get_scorer

    index, _corpus = built
    assert int(index.manifest.metrics.get("max_dl", 0)) > 0
    stats_cols = index.term_stats(spark).columns
    assert "floor_dl10" in stats_cols and "floor_dl100" in stats_cols

    queries = synth_queries(N_QUERIES)
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    qt_rows = _resolve_query_terms(spark, index, qdf)
    floors = _score_floor_by_qid(qt_rows, index.manifest, get_scorer("bm25"), K)
    assert floors, "floor should exist for at least one query"

    exact = batch_query(spark, index, qdf, k=K, prune=False).collect()
    kth = {r.query_id: r.score for r in exact if r.rank == K}
    checked = 0
    for q, fl in floors.items():
        if q in kth:  # queries with >= K results have a true k-th score
            assert fl <= kth[q], f"floor {fl} exceeds true k-th {kth[q]} for query {q}"
            checked += 1
    assert checked >= 5


def test_large_term_set_semi_join_path(spark, built, monkeypatch):
    """Above LARGE_TERM_SET distinct terms the postings filter switches
    from a literal IN to a broadcast LEFT SEMI join + [min,max] range
    predicate (round-4 VERDICT #5: 10^4+ literals bloat the plan and
    parquet pushdown degrades to min/max anyway). Results must be
    identical and the plan must show the semi-join above a range-pruned
    scan."""
    import flatnav_spark.query as Q

    index, _corpus = built
    queries = synth_queries(12)
    base = _engine_topk(spark, index, queries)
    monkeypatch.setattr(Q, "LARGE_TERM_SET", 0)  # force the semi-join path
    assert _engine_topk(spark, index, queries) == base

    # plan shape: broadcast semi-join, range predicate pushed to parquet
    terms = sorted({t for _q, text in queries for t in text.split()})
    filtered = Q._filter_to_terms(spark, index.postings(spark), terms)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(term" in plan and "LessThanOrEqual(term" in plan
