"""Zipf code corpora for the workloads, made with
``corpus.write_zipf_corpus_parquet`` and kept on disk keyed by
(seed, size), so a run that repeats a seed skips generation. Generation
uses at most ``nproc`` worker processes and always happens before a
run's set-up clock starts."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Dict, Iterator, List, Tuple

KEEP = 16  # cached corpora kept; older ones are deleted


@dataclass
class Corpus:
    path: str
    n_docs: int
    content_bytes: int  # UTF-8 bytes of ``content``

    def docs(self) -> Iterator[Tuple[str, str]]:
        """(path, content) rows; paths are unique across one generated
        corpus and all its slices."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.path, columns=["path", "content"])
        return zip(t.column("path").to_pylist(), t.column("content").to_pylist())


def _content_bytes(path: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=["content"]).column("content")
    return int(pc.sum(pc.binary_length(col.cast("binary"))).as_py() or 0)


class Corpora:
    def __init__(self, cache_dir: str, seed: int, workers: int):
        self.cache_dir = cache_dir
        self.seed = seed
        self.workers = workers

    def _generate(self, n_docs: int) -> str:
        from flatnav_spark.corpus import write_zipf_corpus_parquet

        path = os.path.join(self.cache_dir, f"zipf-s{self.seed}-n{n_docs}")
        if not os.path.exists(os.path.join(path, "_DONE")):
            shutil.rmtree(path, ignore_errors=True)
            write_zipf_corpus_parquet(os.path.join(path, "all"), n_docs, seed=self.seed,
                                      workers=self.workers)
            open(os.path.join(path, "_DONE"), "w").close()
        os.utime(path)
        self._prune()
        return path

    def _prune(self) -> None:
        entries = sorted((os.path.join(self.cache_dir, d) for d in os.listdir(self.cache_dir)),
                         key=os.path.getmtime, reverse=True)
        for old in entries[KEEP:]:
            shutil.rmtree(old, ignore_errors=True)

    def get(self, n_docs: int) -> Corpus:
        path = os.path.join(self._generate(n_docs), "all")
        return Corpus(path, n_docs, _content_bytes(path))

    def parts(self, sizes: List[Tuple[str, int]]) -> Dict[str, Corpus]:
        """One corpus of sum(sizes) rows cut, in order, into named disjoint
        parts (distinct repo/path/commit keys, so every part is new to
        extend_index over another)."""
        import pyarrow.parquet as pq

        root = self._generate(sum(n for _, n in sizes))
        table = None
        out, lo = {}, 0
        for name, n in sizes:
            path = os.path.join(root, name)
            if not os.path.exists(path):
                if table is None:
                    table = pq.read_table(os.path.join(root, "all"))
                shutil.rmtree(path + ".tmp", ignore_errors=True)
                os.makedirs(path + ".tmp")
                pq.write_table(table.slice(lo, n), os.path.join(path + ".tmp", "part-00000.parquet"))
                os.rename(path + ".tmp", path)
            out[name] = Corpus(path, n, _content_bytes(path))
            lo += n
        return out
