"""Index persistence: parquet tables + JSON manifest.

The serialization boundary — analog of flatnav's cereal archive
(Index::saveIndex/loadIndex, include/flatnav/index/Index.h:442-490): a
metadata header plus the index payload, with the contract that a reloaded
index returns identical results for every query
(include/flatnav/tests/test_serialization.cpp:64-75).

On-disk layout under ``<path>/``:

    manifest.json        schema version, tokenizer mode, BM25 params,
                         block_range, n_splits, corpus stats (N, avgdl),
                         build metrics (incl. max_dl, the longest doc),
                         per-stage checkpoint lineage (the markers below)
    docs/                (doc_id, repo, path, commit, lang, content_sha, dl)
                         range-partitioned + sorted by doc_id
    postings/            (term, chunk_id, n, block_ids[], block_counts[],
                         block_max_tf[], block_min_dl[], docs_bin, tfs_bin,
                         dls_bin) range-partitioned + sorted by
                         (term, chunk_id) — one row per (term, chunk of
                         chunk_blocks doc-id blocks) with in-row per-block
                         skip data; the gorder/RCM locality analog
                         (Reordering.h:26-200): layout chosen so a query's
                         term lookups hit few row groups
    stats/               (term, df, cf, floor_dl10, floor_dl100): the
                         floors are the least max_dl of the term's
                         segments holding >= 10 / >= 100 postings (null
                         when none does), the query path's WAND floors
    _stage1/             per-group build checkpoints: group=*/docs is ONE
                         combined zstd table (doc_id, repo, path, commit,
                         lang, content_sha, dl, tfmap) + a _DONE.json
                         lineage marker: group, config_hash, n_docs,
                         input/key fingerprints, min_doc_id / max_doc_id
                         (null for an empty group) and, on numeric build
                         groups, n_groups
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field, fields

from flatnav_spark.scorer import BM25Params

# v2: combined stage-1 layout (docs+tfmap single table), sum_tf segment
# column, key_fingerprint lineage markers — v1 checkpoints refuse to resume
# v3: chunked postings — one row per (term, chunk of chunk_blocks doc-id
# blocks) with per-block sub-run skip arrays (block_ids/block_counts/
# block_max_tf/block_min_dl); per-run gap restart in docs_bin
# v4: every reader assumes what the writers emit — markers carry min/max
# doc_id (and n_groups on build groups), stats carry the floor columns,
# metrics carry max_dl; v3 indexes and checkpoints are refused
MANIFEST_VERSION = 4


@dataclass
class IndexManifest:
    version: int
    tokenizer_mode: str
    k1: float
    b: float
    block_range: int
    n_splits: int
    chunk_blocks: int
    n_docs: int
    total_dl: int
    n_terms: int
    n_postings: int
    config_hash: str
    metrics: dict = field(default_factory=dict)
    lineage: dict = field(default_factory=dict)
    # generational table layout (incremental extend): each extend appends a
    # postings/docs generation directory and swaps in a merged stats dir;
    # optimize_index compacts generations back to the defaults. The
    # manifest is the atomic commit point — an unreferenced directory is
    # dead weight, never wrong data.
    postings_dirs: list = field(default_factory=lambda: ["postings"])
    docs_dirs: list = field(default_factory=lambda: ["docs"])
    stats_dir: str = "stats"
    # optional positional-postings artifact (flatnav_spark/phrase.py):
    # positions_n_docs stamps the generation it was built against — phrase
    # queries refuse when it trails n_docs (extend without rebuild)
    positions_dir: str | None = None
    positions_n_docs: int = 0

    @property
    def avgdl(self) -> float:
        # exact: integer total / integer count, single float64 division —
        # bit-identical to the reference scorer's computation
        return float(self.total_dl) / float(self.n_docs) if self.n_docs else 0.0

    @property
    def params(self) -> BM25Params:
        return BM25Params(k1=self.k1, b=self.b)

    def save(self, path: str) -> None:
        # write-then-rename: the manifest is the commit point for every
        # multi-directory mutation (extend generations, optimize swap), so
        # a crash mid-save must never leave a torn file
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=2, sort_keys=True)
        os.replace(tmp, os.path.join(path, "manifest.json"))

    @staticmethod
    def load(path: str) -> "IndexManifest":
        with open(os.path.join(path, "manifest.json")) as f:
            d = json.load(f)
        if d.get("version") != MANIFEST_VERSION:
            raise ValueError(f"unsupported index manifest version {d.get('version')}")
        # additive-field forward compatibility within a version: readers
        # ignore keys they don't know (new OPTIONAL fields — e.g. the
        # positions artifact — must not brick older readers; anything
        # semantics-changing bumps MANIFEST_VERSION instead)
        known = {f.name for f in fields(IndexManifest)}
        return IndexManifest(**{k: v for k, v in d.items() if k in known})


class LoadedIndex:
    """Handle to a persisted index; tables open lazily (no data motion)."""

    def __init__(self, path: str, manifest: IndexManifest):
        self.path = path
        self.manifest = manifest
        self._stats_cache = None  # term -> stats dict (preload_term_stats)

    def preload_term_stats(self, spark) -> int:
        """Driver-side cache of the term-stats table: query-term stats
        resolve by dict lookup instead of a filtered stats read (a Spark
        job) per call, so a query_one whose pass sizes to one task runs
        no Spark job at all. Costs one scan now plus ~100 B of driver
        memory per term; query.AUTO_PRELOAD_MAX_TERMS arms it
        automatically on the first query against vocabularies below that
        cap, and standing services call it up front. Returns the number
        of cached terms."""
        # Arrow collect (toPandas) instead of the row-based collect():
        # materializing 10^5-10^6 Row objects driver-side was the slow
        # part of arming the cache (r6; guide §6 Arrow-for-driver-transfers)
        self._stats_cache = stats_dict(
            self.term_stats(spark).select(*STATS_COLUMNS).toPandas())
        return len(self._stats_cache)

    def docs(self, spark):
        return spark.read.parquet(
            *[os.path.join(self.path, d) for d in self.manifest.docs_dirs]
        )

    def postings(self, spark):
        return spark.read.parquet(
            *[os.path.join(self.path, d) for d in self.manifest.postings_dirs]
        )

    def term_stats(self, spark):
        return spark.read.parquet(os.path.join(self.path, self.manifest.stats_dir))

    def info(self) -> dict:
        """getIndexSummary analog (Index.h:538-548)."""
        m = self.manifest
        return {
            "path": self.path,
            "n_docs": m.n_docs,
            "n_terms": m.n_terms,
            "n_postings": m.n_postings,
            "avgdl": m.avgdl,
            "block_range": m.block_range,
            "chunk_blocks": m.chunk_blocks,
            "tokenizer_mode": m.tokenizer_mode,
            "bm25": {"k1": m.k1, "b": m.b},
            "metrics": m.metrics,
        }


# the columns of the term-stats table a query reads
STATS_COLUMNS = ("term", "df", "floor_dl10", "floor_dl100")


def stats_dict(pdf) -> dict:
    """{term: {"df", "floor_dl10", "floor_dl100"}} from a pandas frame of
    STATS_COLUMNS: the one row shape every query front end resolves its
    terms to. A null floor is None (nullable int columns arrive as float
    NaN)."""
    import pandas as pd

    def floors(c):
        return [None if pd.isna(v) else int(v) for v in pdf[c].tolist()]

    return {
        t: {"df": int(d), "floor_dl10": a, "floor_dl100": b}
        for t, d, a, b in zip(pdf["term"].tolist(), pdf["df"].tolist(),
                              floors("floor_dl10"), floors("floor_dl100"))
    }


def local_path(path: str) -> str:
    """The local filesystem path an index location names: a ``file:``
    URI (``file:///x``, ``file:/x``, ``file://localhost/x``) resolves to
    its path, a plain path passes through. Every other scheme raises
    ValueError before anything is written: the engine's own reads and
    writes (markers, manifest, sampling) go through the local filesystem
    while Spark would resolve the scheme itself, so the two would split
    one index across two places."""
    from urllib.parse import unquote, urlparse

    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        url = urlparse(path)
        if url.scheme != "file" or url.netloc not in ("", "localhost"):
            raise ValueError(
                f"unsupported index location {path!r}: only local paths and "
                "file: URIs are supported")
        return unquote(url.path)
    return path


def load_index(path: str) -> LoadedIndex:
    path = local_path(path)
    return LoadedIndex(path, IndexManifest.load(path))
