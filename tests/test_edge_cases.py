"""Edge-case corpora (FIXTURES.md §4): tiny inline fixtures through the
full build+query path, each checked rank-identically against the oracle."""

import os

import pytest

from flatnav_spark.build import build_index
from flatnav_spark.query import batch_query
from flatnav_spark.reference import golden_topk

SCHEMA = "repo string, path string, commit string, lang string, content string"


def _row(i, content):
    return (f"org/r{i % 3}", f"src/f{i}.py", f"c{i:040d}", "python", content)


def _build(spark, tmp_path, rows, **kw):
    corpus = spark.createDataFrame(rows, SCHEMA)
    kw.setdefault("mode", "code")
    kw.setdefault("n_splits", 4)
    kw.setdefault("n_groups", 2)
    kw.setdefault("block_range", 16)
    kw.setdefault("out_partitions", 2)
    return corpus, build_index(corpus, str(tmp_path / "idx"), **kw)


def _parity(spark, corpus, index, queries, k=5):
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    engine = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_query(spark, index, qdf, k=k).collect()
    )
    docs = (
        index.docs(spark)
        .join(corpus, ["repo", "path", "commit"])
        .select("doc_id", "content")
        .collect()
    )
    golden = sorted(golden_topk([(r.doc_id, r.content) for r in docs], queries, k=k, mode="code"))
    assert engine == golden
    return engine


def test_single_doc(spark, tmp_path):
    corpus, idx = _build(spark, tmp_path, [_row(0, "hello world hello")])
    assert idx.manifest.n_docs == 1
    out = _parity(spark, corpus, idx, [(0, "hello"), (1, "absentxyz")])
    assert len(out) == 1


def test_tf_saturation_one_token_repeated(spark, tmp_path):
    rows = [_row(0, "spam " * 500), _row(1, "spam other tokens here")]
    corpus, idx = _build(spark, tmp_path, rows)
    _parity(spark, corpus, idx, [(0, "spam")])


def test_all_docs_identical_idf_floor(spark, tmp_path):
    rows = [_row(i, "same text every doc") for i in range(6)]
    corpus, idx = _build(spark, tmp_path, rows)
    out = _parity(spark, corpus, idx, [(0, "same")], k=10)
    # df == N: idf = log1p(0.5/(N+0.5)) stays positive; all 6 docs returned
    assert len(out) == 6
    scores = {r[3] for r in out}
    assert len(scores) == 1 and min(scores) > 0
    # ties broken by ascending doc_id
    assert [r[2] for r in sorted(out, key=lambda r: r[1])] == sorted(r[2] for r in out)


def test_unicode_and_no_alnum(spark, tmp_path):
    rows = [
        _row(0, "naïve café résumé ünïcode"),
        _row(1, "!!! *** ((( ))) --- ..."),   # no alphanumerics at all
        _row(2, "日本語のテキスト plus ascii words"),
    ]
    corpus, idx = _build(spark, tmp_path, rows)
    docs = {r.doc_id: r.dl for r in idx.docs(spark).collect()}
    assert len(docs) == 3
    assert min(docs.values()) == 0  # the symbols-only doc has dl == 0
    _parity(spark, corpus, idx, [(0, "ascii"), (1, "café")])


def test_duplicate_repo_path_different_commits(spark, tmp_path):
    rows = [
        ("org/r", "src/a.py", "c" * 40, "python", "first version content"),
        ("org/r", "src/a.py", "d" * 40, "python", "second version content"),
    ]
    corpus, idx = _build(spark, tmp_path, rows)
    assert idx.docs(spark).select("doc_id").distinct().count() == 2
    _parity(spark, corpus, idx, [(0, "version"), (1, "second")])


def test_hot_term_in_every_doc_vs_singleton(spark, tmp_path):
    rows = [_row(i, f"common filler unique{i}") for i in range(8)]
    corpus, idx = _build(spark, tmp_path, rows)
    out = _parity(spark, corpus, idx, [(0, "common"), (1, "unique3"), (2, "common unique5")])
    by_q = {}
    for r in out:
        by_q.setdefault(r[0], []).append(r)
    assert len(by_q[0]) == 5          # hot term: k=5 of 8 docs
    assert len(by_q[1]) == 1          # singleton term
    # mixed query: the unique5 doc must rank first
    assert by_q[2][0][2] == [r for r in out if r[0] == 1][0][2] or True
    docs5 = idx.docs(spark).join(corpus, ["repo", "path", "commit"]).filter(
        "content like '%unique5%'").collect()
    assert by_q[2][0][2] == docs5[0].doc_id


def test_empty_query_set(spark, tmp_path):
    corpus, idx = _build(spark, tmp_path, [_row(0, "something")])
    qdf = spark.createDataFrame([], "query_id long, query_text string")
    assert batch_query(spark, idx, qdf, k=5).count() == 0


def test_empty_doc_counts_toward_stats(spark, tmp_path):
    """A zero-token document still counts in n_docs and avgdl (manifest
    corpus-level semantics shared with the reference oracle, ADVICE r2)."""
    rows = [_row(0, "alpha beta gamma"), _row(1, ""), _row(2, "alpha delta")]
    corpus, idx = _build(spark, tmp_path, rows)
    assert idx.manifest.n_docs == 3
    assert idx.manifest.total_dl == 5  # 3 + 0 + 2
    _parity(spark, corpus, idx, [(0, "alpha"), (1, "delta beta")])


def test_corpus_from_table_catalog_path(spark):
    """Iceberg-ready catalog source: read.table resolution, column-contract
    validation, extra-column pruning, and the CLI table: prefix."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from flatnav_spark.corpus import corpus_df, corpus_from_table, resolve_corpus

    base = corpus_df(spark, 30).withColumn("extra", F.lit(1))
    base.createOrReplaceTempView("corpus_tbl")
    got = corpus_from_table(spark, "corpus_tbl")
    assert got.columns == ["repo", "path", "commit", "lang", "content"]
    assert got.count() == 30
    via_cli = resolve_corpus(spark, "table:corpus_tbl")
    assert via_cli.columns == got.columns and via_cli.count() == 30

    base.drop("content").createOrReplaceTempView("bad_tbl")
    with _pytest.raises(ValueError, match="missing corpus columns"):
        corpus_from_table(spark, "bad_tbl")


def _topk(spark, index, queries, k=5):
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    return sorted((r.query_id, r.rank, r.doc_id, r.score)
                  for r in batch_query(spark, index, qdf, k=k).collect())


def test_file_uri_index_path(spark, tmp_path):
    """A file: URI names the local directory it points at: an index built
    and loaded at file://<dir> lands in <dir> and ranks exactly like the
    same corpus's index at a plain path."""
    from flatnav_spark.corpus import synth_corpus, synth_queries
    from flatnav_spark.index_io import load_index

    corpus = spark.createDataFrame(synth_corpus(60, seed=9), SCHEMA)
    kw = dict(mode="code", n_splits=4, n_groups=2, block_range=16, out_partitions=2)
    plain = build_index(corpus, str(tmp_path / "plain"), **kw)
    uri = (tmp_path / "uri").as_uri()
    assert uri.startswith("file:///")
    build_index(corpus, uri, **kw)
    assert os.path.exists(tmp_path / "uri" / "manifest.json")
    queries = synth_queries(10)
    assert _topk(spark, load_index(uri), queries) == _topk(spark, plain, queries)


def test_non_local_index_uri_rejected(spark, tmp_path, monkeypatch):
    """Any scheme but file: is refused before anything is written — no
    stage-1 job, and no literal 's3a:' directory in the working dir."""
    from flatnav_spark.build import import_postings
    from flatnav_spark.index_io import load_index

    monkeypatch.chdir(tmp_path)
    corpus = spark.createDataFrame([_row(0, "alpha beta")], SCHEMA)
    flat = spark.createDataFrame([("alpha", 0, 1)], "term string, doc_id long, tf int")
    with pytest.raises(ValueError, match="unsupported index location"):
        build_index(corpus, "s3a://bucket/x")
    with pytest.raises(ValueError, match="unsupported index location"):
        import_postings(spark, flat, "s3a://bucket/x")
    with pytest.raises(ValueError, match="unsupported index location"):
        load_index("s3a://bucket/x")
    assert os.listdir(tmp_path) == []
