"""Workload inputs that depend on the corpus, and the correctness gate.

Query texts follow ``bench.make_query_set``'s strata (60% mid-frequency
terms, 25% led by a hot term, 15% led by a rare or absent term), drawn
from the corpus's own document frequencies as computed by the reference
tokenizer, so generating them never asks the engine under test.

The gate compares engine answers with ``flatnav_spark.reference``: same
doc_ids in the same order and bit-identical float64 scores. The
reference is kept affordable by building it once per doc-id layout (the
build is deterministic, so one serves every round of a run) and by
checking a fixed sample of each batch.
"""

from __future__ import annotations

import os
from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np

Hits = List[Tuple[int, int, float]]  # [(rank, doc_id, score)]
QUERY_TERM_CAP = 4096


def term_dfs(ref) -> List[Tuple[int, str]]:
    """(df, term) of every term of a ``ReferenceIndex``, ascending."""
    return sorted((len(p), t) for t, p in ref.postings.items())


def doc_ids_by_path(index) -> Dict[str, int]:
    """path -> engine doc_id, read from the index's docs tables. Paths are
    unique in the generated corpora."""
    import pyarrow.parquet as pq

    out: Dict[str, int] = {}
    for d in index.manifest.docs_dirs:
        t = pq.read_table(os.path.join(index.path, d), columns=["doc_id", "path"])
        out.update(zip(t.column("path").to_pylist(), t.column("doc_id").to_pylist()))
    return out


class QueryStream:
    """Distinct query texts in the make_query_set strata, deterministic in
    the seed. Term strata are fixed from the term dfs at construction."""

    def __init__(self, term_dfs: Sequence[Tuple[int, str]], seed: int):
        terms = [t for _, t in term_dfs]  # ascending (df, term)
        n = len(terms)
        hot_n = min(max(n // 100, 1), QUERY_TERM_CAP)
        rare_n = min(max(n // 10, 1), QUERY_TERM_CAP)
        mid_lo = n // 3
        mid_n = min(max(n // 3, 1), QUERY_TERM_CAP)
        self.hot = terms[n - hot_n:]
        self.rare = terms[:rare_n]
        self.mid = terms[mid_lo: mid_lo + mid_n] or self.hot
        self.rng = np.random.default_rng(seed)
        self.seen: set = set()
        self.n = 0

    def _one(self) -> str:
        rng = self.rng
        chosen = [self.mid[int(rng.integers(0, len(self.mid)))]
                  for _ in range(int(rng.integers(1, 5)))]
        r = rng.random()
        if 0.60 <= r < 0.85:
            chosen[0] = self.hot[int(rng.integers(0, len(self.hot)))]
        elif r >= 0.85:
            chosen[0] = (self.rare[int(rng.integers(0, len(self.rare)))]
                         if rng.random() < 0.5 else f"zzqqabsent{self.n}")
        return " ".join(chosen)

    def fresh(self, count: int) -> List[str]:
        """``count`` texts never returned before."""
        out = []
        while len(out) < count:
            text = self._one()
            self.n += 1
            if text not in self.seen:
                self.seen.add(text)
                out.append(text)
        return out


def rows_to_hits(rows, text_of: Dict[int, str]) -> Dict[str, Hits]:
    """batch_query rows (query_id, rank, doc_id, score) -> text -> hits.
    Texts with no indexed term get an empty answer, as query_one gives."""
    out: Dict[str, Hits] = {t: [] for t in text_of.values()}
    for r in rows:
        out[text_of[int(r.query_id)]].append((int(r.rank), int(r.doc_id), float(r.score)))
    for hits in out.values():
        hits.sort()
    return out


def mismatches(got: Dict[str, Hits], want: Dict[str, Hits]) -> List[str]:
    """Texts whose answers differ in any doc_id, rank or score bit."""
    return [t for t, hits in want.items() if got.get(t) != hits]


def reference_answers(ref, texts: Iterable[str], k: int) -> Dict[str, Hits]:
    return {t: ref.top_k(t, k) for t in texts}
