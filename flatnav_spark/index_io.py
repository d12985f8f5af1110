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

import glob
import json
import os
import re
from bisect import bisect_left
from collections import OrderedDict
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
        # postings_rows: every postings row group, listed for the
        # postings_dirs in _groups_key, and the decoded ones it keeps
        self._groups_key = None
        self._groups = []  # (file, footer, row group, term min, term max)
        self._schema = None  # the postings files' Arrow schema
        self._decoded = OrderedDict()  # (file, row group) -> Table, LRU first
        self._decoded_nbytes = 0

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

    def postings_rows(self, terms, cols):
        """The postings rows of ``terms`` (sorted ascending) as a
        pyarrow.Table of columns ``cols`` (a subset of POSTINGS_COLUMNS),
        in generation, file and row-group order: the driver pass's reader
        (query._run_pass_driver). Row groups whose term min/max holds no
        query term are skipped; the rest are filtered with ``is_in``, as a
        ``chunk``-strategy optimized file is not term-sorted inside.

        The files' footers are read once per set of postings_dirs, which
        extend_index and optimize_index sync in place on the caller's
        handle, so a new generation (or a deleted one) re-lists them and
        drops every decoded group. A row group is decoded with every
        POSTINGS_COLUMNS column on first use and kept in a least recently
        used cache bounded by query.POSTINGS_CACHE_MAX_BYTES of
        Table.nbytes, so a warm call opens and decompresses no file; a
        group larger than the budget is used but not kept."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from flatnav_spark.query import POSTINGS_CACHE_MAX_BYTES as budget

        if tuple(self.manifest.postings_dirs) != self._groups_key:
            self._list_row_groups()
        parts = []
        for f, footer, g, lo, hi in self._groups:
            if lo is not None:
                i = bisect_left(terms, lo)
                if i == len(terms) or terms[i] > hi:
                    continue
            t = self._decoded.get((f, g))
            if t is not None:
                self._decoded.move_to_end((f, g))
            else:
                with pq.ParquetFile(f, metadata=footer) as pf:
                    t = pf.read_row_group(g, columns=list(POSTINGS_COLUMNS),
                                          use_threads=False)
                if t.nbytes <= budget:
                    self._decoded[(f, g)] = t
                    self._decoded_nbytes += t.nbytes
                    while self._decoded_nbytes > budget:
                        _, old = self._decoded.popitem(last=False)
                        self._decoded_nbytes -= old.nbytes
            parts.append(t.select(cols))
        if not parts:
            return self._schema.empty_table().select(cols)
        tbl = pa.concat_tables(parts)
        return tbl.filter(pc.is_in(tbl["term"], value_set=pa.array(terms, pa.string())))

    def _list_row_groups(self) -> None:
        """(Re)list every postings file's row groups with their term
        min/max (None when the footer has no statistics) and drop every
        decoded group."""
        import pyarrow.parquet as pq

        self._groups_key = tuple(self.manifest.postings_dirs)
        self._groups = []
        self._decoded.clear()
        self._decoded_nbytes = 0
        for d in self.manifest.postings_dirs:
            for f in sorted(glob.glob(os.path.join(self.path, d, "*.parquet"))):
                with pq.ParquetFile(f) as pf:
                    footer = pf.metadata
                    self._schema = pf.schema_arrow
                ti = footer.schema.names.index("term")
                for g in range(footer.num_row_groups):
                    st = footer.row_group(g).column(ti).statistics
                    lo, hi = ((st.min, st.max) if st is not None and st.has_min_max
                              else (None, None))
                    self._groups.append((f, footer, g, lo, hi))

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


# the columns of the postings table the chunk kernel reads
# (query._pass_prologue; the exact path drops the two block bounds)
POSTINGS_COLUMNS = ("term", "chunk_id", "block_ids", "block_counts",
                    "block_max_tf", "block_min_dl", "docs_bin", "tfs_bin",
                    "dls_bin")

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
