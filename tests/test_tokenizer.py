"""Tokenizer unit tests (pure functions, no Spark) — the analog of the
reference's kernel-vs-oracle differential tests (test_distances.cpp)."""

import pandas as pd

from flatnav_spark.tokenizer import tokenize_code, tokenize_series, tokenize_simple


def test_simple_basic():
    assert tokenize_simple("Hello, World 42!") == ["hello", "world", "42"]


def test_simple_empty_and_none():
    assert tokenize_simple("") == []
    assert tokenize_simple("!!! ---") == []


def test_code_camel_case():
    toks = tokenize_code("parseHTTPResponse")
    assert "parse" in toks and "http" in toks and "response" in toks
    assert "parsehttpresponse" in toks  # whole identifier retained


def test_code_snake_case():
    toks = tokenize_code("doc_term_count = 5")
    assert toks[:3] == ["doc", "term", "count"]
    assert "doctermcount" in toks
    assert "5" in toks


def test_code_plain_words_single_token():
    # a plain word emits exactly one token (no duplicate whole-token)
    assert tokenize_code("import") == ["import"]
    assert tokenize_code("x") == ["x"]


def test_code_digit_boundaries():
    toks = tokenize_code("utf8Decoder2")
    assert "utf8" in toks and "decoder2" in toks


def test_code_acronym_runs():
    toks = tokenize_code("XMLHttpRequest")
    assert "xml" in toks and "http" in toks and "request" in toks


def test_series_vectorized_matches_scalar():
    texts = ["camelCase snake_case", "", "plain words here", None]
    out = tokenize_series(pd.Series(texts), "code").tolist()
    assert out[0] == tokenize_code("camelCase snake_case")
    assert out[1] == []
    assert out[2] == ["plain", "words", "here"]
    assert out[3] == []


def test_determinism():
    s = "loadIndexBlock foo_bar baz123 QPSCounter"
    assert tokenize_code(s) == tokenize_code(s)
    assert tokenize_simple(s) == tokenize_simple(s)


def test_corpus_from_files_binary_scan(spark, tmp_path):
    """S3 analog: raw files -> corpus rows through Spark's binaryFile
    source, then end-to-end through the engine."""
    import os

    from flatnav_spark.build import build_index
    from flatnav_spark.corpus import corpus_from_files
    from flatnav_spark.query import batch_query

    src = tmp_path / "src"
    os.makedirs(src / "pkg")
    (src / "pkg" / "a.py").write_text("import os\ndef mergeIndex():\n  return os\n")
    (src / "pkg" / "b.go").write_text("package main\nfunc mergeIndex() {}\n")
    (src / "notes.txt").write_text("plain text notes mergeIndex\n")

    corpus = corpus_from_files(spark, str(src))
    rows = {r.path.split("/")[-1]: r for r in corpus.collect()}
    assert set(rows) == {"a.py", "b.go", "notes.txt"}
    assert rows["a.py"].lang == "python"
    assert rows["b.go"].lang == "go"
    assert rows["notes.txt"].lang == "unknown"
    assert len(rows["a.py"].commit) == 40

    idx = build_index(corpus, str(tmp_path / "idx"), mode="code", n_splits=4,
                      n_groups=1, block_range=16, out_partitions=2)
    qdf = spark.createDataFrame([(0, "mergeIndex")], "query_id long, query_text string")
    got = batch_query(spark, idx, qdf, k=5).count()
    assert got == 3  # every file mentions mergeIndex


def test_tfmap_fast_path_matches_counter():
    """The build path's tfmap functions must produce the exact
    Counter(tokenize_*) maps on every mode and edge shape."""
    from collections import Counter

    from flatnav_spark.tokenizer import (tfmap_code, tfmap_simple,
                                         tokenize_code, tokenize_simple)

    cases = [
        "",
        "   \n\t ",
        "parseHTTPResponse2 snake_case_name plain words 123 x",
        "go_go go_go goGo GO_go __init__ _ a",
        "MixedCASE mixedCase MIXED mixed m1X2d3",
        "repeat repeat repeat RepeatToken repeat_token",
    ]
    for s in cases:
        assert tfmap_code(s) == dict(Counter(tokenize_code(s))), s
        assert tfmap_simple(s) == dict(Counter(tokenize_simple(s))), s
