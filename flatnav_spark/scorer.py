"""BM25 scoring kernels — the analog of flatnav's pluggable distance
interface (include/flatnav/distances/DistanceInterface.h:22-59 with L2/IP
implementations). Where flatnav dispatches SIMD kernels by CPU feature
(L2DistanceDispatcher.h:39-87), we stay in float64 numpy: Arrow batches are
Spark's vectorization story, and float64 + fixed summation order buys the
rank-identical determinism the parity contract requires (reference relies
on float ordering in Index.h:396-406; we make it explicit).

Variant: Lucene-style BM25 —
    idf(df)         = ln(1 + (N - df + 0.5) / (df + 0.5))        (always > 0)
    tfn(tf, dl)     = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q, d)     = sum over unique query terms, ascending term order,
                      of idf * tfn, accumulated in float64.
Duplicate query terms count once (short-query convention). Ties broken by
ascending doc_id everywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class BM25Params:
    k1: float = 1.2
    b: float = 0.75


def idf(df: np.ndarray, n_docs: int) -> np.ndarray:
    """Lucene BM25 idf, float64, elementwise over df."""
    df64 = np.asarray(df, dtype=np.float64)
    return np.log1p((float(n_docs) - df64 + 0.5) / (df64 + 0.5))


def tf_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float, params: BM25Params) -> np.ndarray:
    """Term-frequency normalization component (idf-free), float64."""
    tf64 = np.asarray(tf, dtype=np.float64)
    dl64 = np.asarray(dl, dtype=np.float64)
    denom = tf64 + params.k1 * (1.0 - params.b + params.b * dl64 / float(avgdl))
    return tf64 * (params.k1 + 1.0) / denom


# ---------------------------------------------------------------------------
# Pluggable scorer interface — the CRTP distance-interface analog
# (include/flatnav/distances/DistanceInterface.h:22-59, dispatched L2 vs IP
# at DistanceInterface.h:14). A scorer supplies three pure float64 pieces:
#
#   weight(df, n_docs)                per-query-term weight
#   tfn(tf, dl, avgdl, params)        per-posting doc-side factor
#   tfn_upper(max_tf, min_dl, ...)    block upper bound of tfn (WAND)
#
# score(q, d) = sum over unique query terms of weight * tfn, accumulated in
# ascending term order (the determinism contract). Because the persisted
# index stores raw (tf, dl, df) — not materialized scores — the scorer is
# selected at QUERY time, both variants over one index.


class Bm25Scorer:
    """Lucene BM25 — the L2-metric analog (primary scorer)."""

    name = "bm25"

    @staticmethod
    def weight(df: int, n_docs: int) -> float:
        return float(idf(np.array([df]), n_docs)[0])

    @staticmethod
    def tfn(tf: np.ndarray, dl: np.ndarray, avgdl: float, params: BM25Params) -> np.ndarray:
        return tf_norm(tf, dl, avgdl, params)

    @staticmethod
    def tfn_upper(max_tf: np.ndarray, min_dl: np.ndarray, avgdl: float,
                  params: BM25Params) -> np.ndarray:
        # tfn increases in tf and decreases in dl -> (max_tf, min_dl)
        # dominates every posting in the block for ANY avgdl
        return tf_norm(max_tf, min_dl, avgdl, params)


class TfidfIpScorer:
    """TF-IDF inner product — the IP-metric analog
    (IPDistanceDispatcher.h:10-16: plain dot product, no normalization).

    Query vector weight = idf(t) (query tf treated as 1), document vector
    weight = tf * idf(t), so the per-term contribution is idf^2 * tf:
    score(q, d) = <q_tfidf, d_tfidf>. Doc-length independent."""

    name = "tfidf_ip"

    @staticmethod
    def weight(df: int, n_docs: int) -> float:
        w = float(idf(np.array([df]), n_docs)[0])
        return w * w

    @staticmethod
    def tfn(tf: np.ndarray, dl: np.ndarray, avgdl: float, params: BM25Params) -> np.ndarray:
        return np.asarray(tf, dtype=np.float64)

    @staticmethod
    def tfn_upper(max_tf: np.ndarray, min_dl: np.ndarray, avgdl: float,
                  params: BM25Params) -> np.ndarray:
        return np.asarray(max_tf, dtype=np.float64)


SCORERS = {s.name: s for s in (Bm25Scorer, TfidfIpScorer)}


def get_scorer(name: str):
    try:
        return SCORERS[name]
    except KeyError:
        raise ValueError(f"unknown scorer {name!r}; expected one of {sorted(SCORERS)}")
