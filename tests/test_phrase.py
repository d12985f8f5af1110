"""Positional postings + phrase queries (flatnav_spark/phrase.py).

Golden oracle: a pure-python brute force over the same corpus rows using
the same positional tokenizer — rank, doc_id, and occurrence counts must
match exactly. Also pins the staleness contract (extend invalidates the
positions artifact until rebuilt) and code-mode identifier semantics
(subtokens share their raw position; a multi-word phrase never matches
inside one identifier).
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from flatnav_spark.phrase import build_positions, phrase_query, phrase_query_batch
from flatnav_spark.tokenizer import (
    get_pos_tokenizer,
    tokenize_code_positions,
    tokenize_simple_positions,
)

K = 5


def test_simple_positions_are_stream_indices():
    assert tokenize_simple_positions("Foo bar foo") == [
        ("foo", 0), ("bar", 1), ("foo", 2)]
    assert tokenize_simple_positions("") == []


def test_code_positions_share_raw_index():
    got = tokenize_code_positions("parseHTTPResponse merge")
    by_pos = defaultdict(set)
    for t, p in got:
        by_pos[p].add(t)
    assert by_pos[0] == {"parse", "http", "response", "parsehttpresponse"}
    assert by_pos[1] == {"merge"}


@pytest.fixture(scope="module")
def pidx(spark, tmp_path_factory):
    from flatnav_spark.build import build_index
    from flatnav_spark.corpus import write_corpus_parquet

    root = str(tmp_path_factory.mktemp("phrase"))
    write_corpus_parquet(f"{root}/corpus", 200)
    corpus = spark.read.parquet(f"{root}/corpus")
    index = build_index(corpus, f"{root}/idx", mode="code", n_splits=8,
                        n_groups=2)
    build_positions(spark, corpus, index)
    return index, corpus


def _brute(spark, index, corpus, phrase, k):
    mode = index.manifest.tokenizer_mode
    fn = get_pos_tokenizer(mode)
    docs = index.docs(spark).select("doc_id", "repo", "path", "commit").collect()
    key2id = {(r.repo, r.path, r.commit): r.doc_id for r in docs}
    pairs = sorted(set(fn(phrase)))
    out = []
    for r in corpus.collect():
        posmap = defaultdict(set)
        for t, p in fn(r.content):
            posmap[t].add(p)
        sets = [set(p - off for p in posmap.get(t, ())) for t, off in pairs]
        occ = set.intersection(*sets) if sets else set()
        if occ:
            out.append((len(occ), key2id[(r.repo, r.path, r.commit)]))
    out.sort(key=lambda x: (-x[0], x[1]))
    return [(i + 1, d, n) for i, (n, d) in enumerate(out[:k])]


@pytest.mark.parametrize("phrase", [
    "import",                 # single term: n_occ == tf
    "def import",             # two-word adjacency
    "mergeIndex token",       # identifier phrase (code-mode raw positions)
    "zzqqabsent import",      # absent term -> no results
    "",                       # empty phrase -> no results
])
def test_phrase_matches_brute_force(spark, pidx, phrase):
    index, corpus = pidx
    assert phrase_query(spark, index, phrase, k=K) == _brute(
        spark, index, corpus, phrase, K)


def test_phrase_adjacency_not_just_cooccurrence(spark, pidx):
    """A doc containing both words NON-adjacently must not match: compare
    the phrase match set against the co-occurrence set — on this corpus
    the phrase set must be a strict subset for a common word pair."""
    index, corpus = pidx
    phrase_docs = {d for _, d, _ in phrase_query(spark, index, "def import", k=200)}
    brute_cooc = set()
    docs = index.docs(spark).select("doc_id", "repo", "path", "commit").collect()
    key2id = {(r.repo, r.path, r.commit): r.doc_id for r in docs}
    fn = get_pos_tokenizer(index.manifest.tokenizer_mode)
    for r in corpus.collect():
        terms = {t for t, _ in fn(r.content)}
        if {"def", "import"} <= terms:
            brute_cooc.add(key2id[(r.repo, r.path, r.commit)])
    assert phrase_docs <= brute_cooc
    assert phrase_docs < brute_cooc  # some co-occurring doc is non-adjacent


def test_multi_word_phrase_does_not_match_inside_identifier(spark, tmp_path):
    from flatnav_spark.build import build_index

    rows = [
        ("r", "a.py", "c1", "py", "x = parseHTTPResponse(y)"),
        ("r", "b.py", "c2", "py", "parse http response = 1"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    index = build_index(corpus, str(tmp_path / "idx"), mode="code",
                        n_splits=2, n_groups=1)
    build_positions(spark, corpus, index)
    # words-in-sequence phrase: only the doc with separate words matches
    hits = phrase_query(spark, index, "parse http response", k=10)
    assert len(hits) == 1
    # identifier phrase: only the doc with the identifier matches (the
    # phrase token parsehttpresponse never occurs in the word-split doc)
    hits2 = phrase_query(spark, index, "parseHTTPResponse", k=10)
    assert len(hits2) == 1
    assert hits[0][1] != hits2[0][1]


def test_batch_phrases_and_k_truncation(spark, pidx, monkeypatch):
    index, corpus = pidx
    qdf = spark.createDataFrame(
        [(7, "import"), (8, "def import"), (9, "zzqqabsent")],
        "query_id long, phrase_text string")
    rows = phrase_query_batch(spark, index, qdf, k=2).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append((r.rank, r.doc_id, int(r.n_occ)))
    assert sorted(by_q[7]) == _brute(spark, index, corpus, "import", 2)
    assert sorted(by_q[8]) == _brute(spark, index, corpus, "def import", 2)
    assert 9 not in by_q
    assert all(len(v) <= 2 for v in by_q.values())

    # the same phrases with the stats cache armed: the rarest-term df
    # lookup reads the cache (the stats table is not opened) and the
    # results are identical to the filtered-read run above
    index.preload_term_stats(spark)
    try:
        with monkeypatch.context() as mp:
            mp.setattr(index, "term_stats", lambda _spark: pytest.fail(
                "phrase read the stats table with the cache armed"))
            cached = phrase_query_batch(spark, index, qdf, k=2).collect()
    finally:
        index._stats_cache = None
    assert sorted(map(tuple, cached)) == sorted(map(tuple, rows))


def _brute_slop(spark, index, corpus, phrase, k, slop):
    """Python reference for ordered-proximity: group the phrase's
    (term, off) pairs by off (same-off terms must share a position),
    then count start positions from which every later off-group is
    reachable with per-step gap in [1, (off delta) + slop]."""
    mode = index.manifest.tokenizer_mode
    fn = get_pos_tokenizer(mode)
    docs = index.docs(spark).select("doc_id", "repo", "path", "commit").collect()
    key2id = {(r.repo, r.path, r.commit): r.doc_id for r in docs}
    by_off = defaultdict(set)
    for t, off in set(fn(phrase)):
        by_off[off].add(t)
    offs = sorted(by_off)
    out = []
    for r in corpus.collect():
        posmap = defaultdict(set)
        for t, p in fn(r.content):
            posmap[t].add(p)
        group_pos = []
        for off in offs:
            sets = [posmap.get(t, set()) for t in by_off[off]]
            common = set.intersection(*sets) if sets else set()
            group_pos.append(common)
        if not group_pos or not all(group_pos):
            continue
        n_occ = 0
        for s in group_pos[0]:
            ends = {s}
            for i in range(1, len(offs)):
                gapmax = offs[i] - offs[i - 1] + slop
                ends = {p for p in group_pos[i]
                        if any(e < p <= e + gapmax for e in ends)}
                if not ends:
                    break
            if ends:
                n_occ += 1
        if n_occ:
            out.append((n_occ, key2id[(r.repo, r.path, r.commit)]))
    out.sort(key=lambda x: (-x[0], x[1]))
    return [(i + 1, d, n) for i, (n, d) in enumerate(out[:k])]


@pytest.mark.parametrize("phrase,slop", [
    ("def import", 1),          # common pair, small slack
    ("def import", 3),          # wider window
    ("mergeIndex token", 2),    # identifier phrase (code-mode offsets)
    ("def zzqqabsent", 2),      # absent term -> no results
    ("import", 5),              # single term: slop irrelevant, n_occ == tf
])
def test_slop_matches_brute_force(spark, pidx, phrase, slop):
    index, corpus = pidx
    assert phrase_query(spark, index, phrase, k=K, slop=slop) == _brute_slop(
        spark, index, corpus, phrase, K, slop)


def test_slop_zero_definition_degenerates_to_exact(spark, pidx):
    """The chain definition at slop=0 (gap exactly 1) IS exact phrase
    matching: the python references must agree on every phrase, and the
    engine's slop=0 fast path returns the same rows."""
    index, corpus = pidx
    for phrase in ["def import", "mergeIndex token", "import"]:
        exact = _brute(spark, index, corpus, phrase, K)
        assert _brute_slop(spark, index, corpus, phrase, K, 0) == exact
        assert phrase_query(spark, index, phrase, k=K, slop=0) == exact


def test_slop_match_set_grows_monotonically(spark, pidx):
    index, corpus = pidx
    prev = set()
    for slop in [0, 1, 3]:
        cur = {d for _, d, _ in
               phrase_query(spark, index, "def import", k=500, slop=slop)}
        assert prev <= cur
        prev = cur
    # and on this corpus slop must actually add matches somewhere
    exact = {d for _, d, _ in phrase_query(spark, index, "def import", k=500)}
    wide = {d for _, d, _ in
            phrase_query(spark, index, "def import", k=500, slop=3)}
    assert exact < wide


def test_slop_reachable_set_not_greedy(spark, tmp_path):
    """Greedy-min chaining undercounts: here gamma is reachable at slop 1
    only through the LATER beta, so a fold that keeps just the smallest
    eligible next position would return no match."""
    from flatnav_spark.build import build_index

    rows = [("r", "doc/0.txt", "c", "txt", "alpha beta beta xx gamma")]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    index = build_index(corpus, str(tmp_path / "idx"), mode="simple",
                        n_splits=1, n_groups=1)
    build_positions(spark, corpus, index)
    assert phrase_query(spark, index, "alpha beta gamma", k=5, slop=0) == []
    hits = phrase_query(spark, index, "alpha beta gamma", k=5, slop=1)
    assert [(r, n) for r, _, n in hits] == [(1, 1)]


def test_positions_stale_after_extend_refused(spark, pidx, tmp_path):
    import shutil

    from flatnav_spark.build import extend_index
    from flatnav_spark.index_io import load_index

    index, corpus = pidx
    # work on a copy: other tests keep using the module-scoped index
    cp = str(tmp_path / "idxcopy")
    shutil.copytree(index.path, cp)
    idx2 = load_index(cp)
    more = spark.createDataFrame(
        [("rx", "new.py", "c9", "py", "def import fresh phrase content")],
        "repo string, path string, commit string, lang string, content string")
    extend_index(spark, idx2, more)
    with pytest.raises(ValueError, match="stale"):
        phrase_query(spark, idx2, "def import", k=3)
    # rebuild over the extended corpus -> works again and sees the new doc
    full = corpus.unionByName(more)
    build_positions(spark, full, idx2)
    hits = phrase_query(spark, idx2, "fresh phrase content", k=3)
    assert len(hits) == 1


def test_no_positions_artifact_refused(spark, tmp_path):
    from flatnav_spark.build import build_index
    from flatnav_spark.corpus import write_corpus_parquet

    write_corpus_parquet(str(tmp_path / "c"), 50)
    corpus = spark.read.parquet(str(tmp_path / "c"))
    index = build_index(corpus, str(tmp_path / "idx"), mode="code",
                        n_splits=2, n_groups=1)
    with pytest.raises(ValueError, match="positions"):
        phrase_query(spark, index, "import", k=3)


def test_wrong_corpus_rejected(spark, pidx, tmp_path):
    import shutil

    from flatnav_spark.corpus import write_corpus_parquet
    from flatnav_spark.index_io import load_index

    index, _ = pidx
    cp = str(tmp_path / "idxcopy2")
    shutil.copytree(index.path, cp)
    idx2 = load_index(cp)
    write_corpus_parquet(str(tmp_path / "other"), 300)  # different rows
    other = spark.read.parquet(str(tmp_path / "other"))
    with pytest.raises(ValueError, match="corpus mismatch"):
        build_positions(spark, other, idx2)
