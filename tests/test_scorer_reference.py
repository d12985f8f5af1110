"""Scorer + reference-oracle unit tests (pure python, no Spark):
BM25 formula sanity, determinism, and a hand-computed differential check —
the translation of the reference's scalar-vs-SIMD kernel tests
(test_distances.cpp:13-127)."""

import math

import numpy as np

from flatnav_spark.reference import ReferenceIndex, golden_topk
from flatnav_spark.scorer import BM25Params, Bm25Scorer, TfidfIpScorer, idf, tf_norm


def test_idf_formula():
    # Lucene BM25: ln(1 + (N - df + 0.5)/(df + 0.5))
    # note: np.log1p, not math.log1p — the two differ in the last ulp; the
    # engine and the reference oracle share the numpy implementation.
    n = 100
    assert idf(np.array([1]), n)[0] == np.log1p((100 - 1 + 0.5) / 1.5)
    assert idf(np.array([100]), n)[0] == np.log1p(0.5 / 100.5)
    assert (idf(np.array([1, 10, 100]), n) > 0).all()  # always positive


def test_tfn_monotonic_and_bounded():
    p = BM25Params()
    tf = np.array([1, 2, 4, 100, 10_000])
    dl = np.full(5, 50)
    tfn = tf_norm(tf, dl, 50.0, p)
    assert (np.diff(tfn) > 0).all()           # increasing in tf
    assert (tfn < p.k1 + 1).all()             # saturates below k1+1


def test_tfn_length_normalization():
    p = BM25Params()
    short = tf_norm(np.array([2]), np.array([10]), 50.0, p)[0]
    long = tf_norm(np.array([2]), np.array([500]), 50.0, p)[0]
    assert short > long


def test_block_max_is_upper_bound():
    # the encoder stores a block's (max tf, min dl); tfn_upper over them
    # bounds every posting's tfn at ANY avgdl, which extend relies on
    # (the corpus grows, avgdl moves, the stored summaries stay)
    p = BM25Params()
    tf = np.array([1, 3, 2, 8])
    dl = np.array([10, 30, 20, 200])
    for scorer in (Bm25Scorer, TfidfIpScorer):
        for avgdl in (1.0, 15.0, 40.0, 500.0, 1e6):
            bound = scorer.tfn_upper(np.array([tf.max()]), np.array([dl.min()]),
                                     avgdl, p)[0]
            assert (scorer.tfn(tf, dl, avgdl, p) <= bound).all()


def _tiny_corpus():
    return [
        (0, "spark shuffle merge sort spark"),
        (1, "spark index"),
        (2, "merge sort merge"),
        (3, "tokenizer camelCase snake_case"),
    ]


def test_reference_hand_computed():
    docs = _tiny_corpus()
    ref = ReferenceIndex(docs, mode="simple")
    # dl: doc0=5 doc1=2 doc2=3 doc3 simple-mode: tokenizer camelcase snake case -> 4
    assert ref.dl == {0: 5, 1: 2, 2: 3, 3: 4}
    assert ref.n_docs == 4
    assert ref.avgdl == 14 / 4
    p = ref.params
    # query "spark": df=2, tf in doc0 = 2, dl=5
    w = math.log1p((4 - 2 + 0.5) / 2.5)
    # parenthesized exactly as scorer.tf_norm evaluates: w * (tfn)
    expected0 = w * (2 * (p.k1 + 1) / (2 + p.k1 * (1 - p.b + p.b * (5 / 3.5))))
    scores = ref.score("spark")
    assert scores[0] == expected0
    top = ref.top_k("spark", 10)
    assert [d for _, d, _ in top] in ([0, 1], [1, 0])


def test_reference_tie_break_by_doc_id():
    docs = [(5, "alpha beta"), (2, "alpha beta"), (9, "alpha beta")]
    ref = ReferenceIndex(docs, mode="simple")
    top = ref.top_k("alpha", 3)
    assert [d for _, d, _ in top] == [2, 5, 9]  # identical scores -> asc doc_id


def test_reference_unique_query_terms():
    docs = _tiny_corpus()
    ref = ReferenceIndex(docs, mode="simple")
    assert ref.score("spark spark spark") == ref.score("spark")


def test_reference_absent_term_empty():
    ref = ReferenceIndex(_tiny_corpus(), mode="simple")
    assert ref.score("zzznope") == {}
    assert ref.top_k("zzznope", 5) == []


def test_golden_topk_shape():
    rows = golden_topk(_tiny_corpus(), [(0, "spark"), (1, "merge sort")], k=2, mode="simple")
    qids = {r[0] for r in rows}
    assert qids == {0, 1}
    for q in (0, 1):
        ranks = [r[1] for r in rows if r[0] == q]
        assert ranks == list(range(1, len(ranks) + 1))


def test_determinism_repeated():
    docs = _tiny_corpus()
    a = golden_topk(docs, [(0, "spark merge")], k=4, mode="simple")
    b = golden_topk(docs, [(0, "spark merge")], k=4, mode="simple")
    assert a == b
