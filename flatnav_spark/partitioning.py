"""Zero-job exact range partitioning: dense integer keys and sampled
boundaries.

``repartitionByRange`` costs a full sampling pass over its CHILD plan —
the range partitioner runs a reservoir-sample job to pick boundaries. On
the query hot path the child is (postings scan -> term filter), so the
sampling job re-reads and re-filters the postings before the real
exchange does: the whole input is scanned twice per query batch. In the
build the child is the stage-1 read+explode (or the positions UDF, or a
stats outer join), computed twice for the same reason.

When the partition id of a row is computable from the row, no sampling is
needed. Two routers cover every caller:

- :func:`repartition_dense_range` — chunk and doc ids are DENSE integers
  (chunk_id = doc_id // chunk_span, doc ids are dense by construction —
  build.py B3), so exact, contiguous, count-balanced ranges are

      pid = (key - lo) * P // n_keys     (contiguous ranges, sizes +/- 1)

- :func:`repartition_at_bounds` — string (or mixed) keys: boundaries are
  sampled DRIVER-SIDE from a few part files
  (:func:`sample_term_chunk_boundaries`,
  :func:`sample_segment_key_boundaries`) and each row's pid is an
  O(log P) WHEN-tree search over them.

The only obstacle is that Spark's DataFrame API exposes hash
partitioning, not partition-by-expression-value: ``repartition(P, col)``
routes by ``pmod(murmur3(col), P)``, and hashing the P distinct pid
values collides (~37% of buckets empty, some tasks 2-3x the work —
exactly the imbalance repartitionByRange was brought in to fix).

The trick: route through a TOKEN column instead. Driver-side, find P
long values t_0..t_{P-1} such that ``pmod(murmur3_long(t_i), P) == i``
(coupon-collector search over 0,1,2,...; murmur3 reimplemented below
bit-for-bit against Spark's ``F.hash`` and unit-tested against it). Then
``repartition(P, element_at(tokens, pid+1))`` IS an exact manual range
partitioner: every pid lands alone in its own bucket, zero extra jobs,
deterministic at any parallelism.
"""

from __future__ import annotations

import os
from typing import Dict, List

_MASK32 = 0xFFFFFFFF


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _MASK32
    k1 = ((k1 << 15) | (k1 >> 17)) & _MASK32
    return (k1 * 0x1B873593) & _MASK32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _MASK32
    return (h1 * 5 + 0xE6546B64) & _MASK32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK32
    h1 ^= h1 >> 16
    return h1


def murmur3_long(value: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of a LongType value (seed 42) — the hash
    behind ``F.hash(longCol)`` and DataFrame hash partitioning: the two
    32-bit halves mixed low-then-high, finalized with length 8. Verified
    against ``F.hash`` in tests/test_partitioning.py."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _MASK32, _mix_k1(v & _MASK32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _MASK32))
    h1 = _fmix(h1, 8)
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_TOKEN_CACHE: Dict[int, List[int]] = {}

# token-routed exact range partitioning materializes a P-element long
# array plus an O(log P) WHEN-tree in the plan; past ~4096 partitions the
# literals dwarf codegen budgets (Spark falls back to interpreted
# expressions — slow per row exactly when rows are most numerous). The
# samplers return None above this cap so callers use repartitionByRange:
# at that scale ONE sampling pass is amortized over a huge job, and the
# quadratic-block concern (guide §2.2) argues for fewer, larger
# partitions anyway.
MAX_TOKEN_ROUTE_PARTS = 4096


def bucket_tokens(p: int) -> List[int]:
    """tokens[i] = smallest non-negative long whose Spark hash lands in
    partition i of p. Coupon-collector search, ~p*ln(p) murmur3 calls,
    cached per p (sub-second up to p ~ 10^4)."""
    if p not in _TOKEN_CACHE:
        found: Dict[int, int] = {}
        v = 0
        while len(found) < p:
            b = murmur3_long(v) % p  # pmod: murmur3 may be negative
            if b not in found:
                found[b] = v
            v += 1
        _TOKEN_CACHE[p] = [found[i] for i in range(p)]
    return _TOKEN_CACHE[p]


def _route(df, p: int, pid):
    """Repartition ``df`` into ``p`` partitions, row to partition ``pid``
    (an int Column in [0, p)) — through the token array, so each pid
    lands alone in its own bucket."""
    from pyspark.sql import functions as F

    if p == 1:
        return df.coalesce(1) if df.rdd.getNumPartitions() > 1 else df
    tok = F.element_at(
        F.array(*[F.lit(t).cast("long") for t in bucket_tokens(p)]), pid + F.lit(1)
    )
    # pass the token as an EXPRESSION, not a materialized column: the
    # exchange then carries only the data columns (the partition id is
    # computed map-side and never stored), saving 8 B/row of shuffle width
    return df.repartition(p, tok)


def repartition_dense_range(df, col: str, n_keys: int, num_partitions: int,
                            lo: int = 0):
    """Exact contiguous-range repartition of ``df`` on a dense integer
    key column in [lo, lo + n_keys): task t receives keys lo + [t*n_keys/P,
    (t+1)*n_keys/P) — the layout repartitionByRange(P, col) would
    produce, with ZERO extra jobs and deterministic boundaries at any
    parallelism. Keys past the window (a stale upper bound) clamp into the
    last range rather than erroring. ``lo`` is nonzero for extend
    generations, whose ids start at a chunk boundary. Range placement also
    keeps file-level min/max pruning for writers (the docs table's
    doc_id-ordered files). The token array grows with the partition count
    only (~8 B/partition in the plan), so the count is clamped to
    MAX_TOKEN_ROUTE_PARTS as well as to ``n_keys``: build and extend fall
    back before they reach the cap, and a query pass asked for more
    partitions gets wider contiguous ranges."""
    from pyspark.sql import functions as F

    p = max(1, min(num_partitions, n_keys, MAX_TOKEN_ROUTE_PARTS))
    pid = F.least(
        F.expr(f"CAST((({col} - {int(lo)}) * {p}) DIV {n_keys} AS INT)"),
        F.lit(p - 1),
    )
    return _route(df, p, pid)


def _pid_bsearch(bounds, ge_of):
    """Balanced WHEN-tree binary search: expression evaluating to the
    number of boundaries <= the row's key — i.e. the partition id in
    [0, len(bounds)]. ``ge_of(b)`` builds the key >= b predicate.
    O(log P) comparisons per row instead of O(P)."""
    from pyspark.sql import functions as F

    def rec(lo, hi):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(ge_of(bounds[mid]), rec(mid + 1, hi)).otherwise(rec(lo, mid))

    return rec(0, len(bounds))


def repartition_at_bounds(df, bounds, *keys):
    """Exact range repartition of ``df`` at precomputed sorted boundaries:
    partition i holds keys in [bounds[i-1], bounds[i]) — the contiguous
    sorted layout ``repartitionByRange`` produces, with ZERO extra jobs.
    One key takes scalar boundaries, two keys take (k1, k2) tuples compared
    lexicographically. A key is a column name or a Column EXPRESSION (e.g.
    stage 2's chunk id derived from doc_id), so a derived key need not be
    materialized — callers keep it out of the shuffled row and recompute
    it after the exchange."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    cols = [k if isinstance(k, Column) else F.col(k) for k in keys]
    if len(cols) == 1:
        (c1,) = cols

        def ge_of(b):
            return c1 >= F.lit(b)
    else:
        c1, c2 = cols

        def ge_of(b):
            b1, b2 = b
            return (c1 > F.lit(b1)) | ((c1 == F.lit(b1)) & (c2 >= F.lit(b2)))

    return _route(df, len(bounds) + 1, _pid_bsearch(bounds, ge_of))


def _sample_files(dirs, per_dir: int, num_partitions: int):
    """Up to ``per_dir`` parquet files from each directory, striped evenly
    through its sorted listing (splits are hash-assigned, so any file
    subset is an unbiased sample). None — caller falls back to
    repartitionByRange — when there are no files, or past
    MAX_TOKEN_ROUTE_PARTS (plan-size guard).

    Local-filesystem implementation; on an object store the same few-file
    sample would go through the storage client."""
    import glob as _glob

    if num_partitions > MAX_TOKEN_ROUTE_PARTS:
        return None
    files = []
    for d in dirs:
        fs = sorted(_glob.glob(os.path.join(d, "*.parquet")))
        k = min(len(fs), per_dir)
        if k:
            step = len(fs) / k
            files += [fs[int(i * step)] for i in range(k)]
    return files or None


def sample_term_chunk_boundaries(group_paths, num_partitions: int,
                                 chunk_span: int, files_per_group: int = 2,
                                 min_rows_per_part: int = 64):
    """Range boundaries for the stage-2 (term, chunk_id) merge shuffle,
    computed DRIVER-SIDE from a deterministic sample of stage-1 part
    files — replacing ``repartitionByRange``'s sampling job, which
    re-executes the full read+explode child before the real exchange
    scans it again (the whole stage-2 input computed twice; measured
    ~11 s of the 50 s merge at zipf:200k, guide §2.4 "remove shuffles/
    passes outright").

    Every tfmap key of a sampled doc is one future posting row, so the
    sampled (term, doc_id // chunk_span) pairs estimate the posting-count
    CDF over the range key directly. Returns a sorted, deduplicated list
    of (term, chunk_id) boundaries (may be shorter than num_partitions - 1
    when hot keys collapse quantiles), or None when the sample is too
    small to trust — callers fall back to repartitionByRange.

    The TERM at each quantile position of a (term, chunk) sort does not
    depend on the chunk key, so :func:`fold_to_terms` of these bounds is
    the term-only boundary list at any ``chunk_span``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if num_partitions <= 1:
        return []
    files = _sample_files(group_paths, files_per_group, num_partitions)
    if files is None:
        return None
    terms_parts = []
    chunks_parts = []
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "tfmap"])
        doc_ids = t.column("doc_id").to_numpy()
        m = t.column("tfmap")
        off = 0
        for ch in (m.chunks if hasattr(m, "chunks") else [m]):
            n = len(ch)
            # offsets are absolute into the child arrays, robust to slices
            offs = ch.offsets.to_numpy().astype(np.int64)
            lens_np = np.diff(offs)
            keys = ch.keys[offs[0]:offs[-1]] if offs.size else ch.keys
            terms_parts.append(keys)
            chunks_parts.append(pa.array(
                np.repeat(doc_ids[off:off + n] // chunk_span, lens_np)))
            off += n
    if not terms_parts:
        return None
    tbl = pa.table({
        "term": pa.chunked_array(terms_parts),
        "chunk": pa.chunked_array(chunks_parts),
    })
    n = tbl.num_rows
    if n < min_rows_per_part * num_partitions:
        return None
    # decimate to ~200k rows before sorting: quantile estimates for a few
    # dozen boundaries need nowhere near the full sample, and everything
    # below stays in C++ (the first cut of this function lexsorted ~3M
    # Python strings on the driver — 6.7 s, most of the win it was buying)
    stride = max(1, n // 200_000)
    if stride > 1:
        tbl = tbl.take(pa.array(np.arange(0, n, stride, dtype=np.int64)))
        n = tbl.num_rows
    order = pc.sort_indices(
        tbl, sort_keys=[("term", "ascending"), ("chunk", "ascending")]
    ).to_numpy()
    idx = (np.arange(1, num_partitions, dtype=np.int64) * n) // num_partitions
    picked = order[idx]
    terms_s = tbl.column("term").take(pa.array(picked)).to_pylist()
    chunks_s = tbl.column("chunk").take(pa.array(picked)).to_pylist()
    bounds = sorted({(str(t), int(c)) for t, c in zip(terms_s, chunks_s)})
    return bounds


def fold_to_terms(bounds, num_partitions: int | None = None) -> List[str]:
    """Term-only boundaries from (term, chunk) boundaries (None reads as
    none) — for writers laying out (term, ...) tables: the positions
    artifact, whose (term, doc_id) rows track posting mass, and the stats
    table. With ``num_partitions`` the terms are evenly subsampled to at
    most num_partitions - 1 boundaries (the stats table is written at a
    quarter of the postings' partition count)."""
    terms = sorted({t for t, _c in bounds or []})
    if num_partitions is not None and len(terms) >= num_partitions:
        idx = [(i + 1) * len(terms) // num_partitions
               for i in range(num_partitions - 1)]
        terms = sorted({terms[i] for i in idx})
    return terms


def sample_segment_key_boundaries(dir_paths, num_partitions: int,
                                  keys=("term", "chunk_id"),
                                  weight_col: str = "payload_len",
                                  files_per_dir: int = 2,
                                  min_rows: int = 256):
    """Byte-weighted range boundaries over an already-encoded segment
    table (optimize_index's compaction rewrite): sample a few part files
    per generation directory, sort their key columns, and pick quantiles
    of the cumulative ``weight_col`` (payload bytes — the thing the
    rewrite should balance). Replaces repartitionByRange's sampling
    re-read of every generation. Returns sorted (k1, k2) boundary tuples
    or None (caller falls back)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if num_partitions <= 1:
        return []
    files = _sample_files(dir_paths, files_per_dir, num_partitions)
    if files is None:
        return None
    tabs = [pq.read_table(f, columns=[*keys, weight_col]) for f in files]
    # checked before the concat: all-empty files give no chunks, and a
    # chunked array without chunks has no type to infer
    if sum(t.num_rows for t in tabs) < min_rows:
        return None
    # concat by column (types match; field NULLABILITY may differ between
    # generations written by different code paths, which concat_tables
    # rejects)
    tbl = pa.table({
        name: pa.chunked_array(
            [c for t in tabs for c in t.column(name).chunks])
        for name in [*keys, weight_col]
    })
    order = pc.sort_indices(
        tbl, sort_keys=[(k, "ascending") for k in keys]).to_numpy()
    w = tbl.column(weight_col).to_numpy(zero_copy_only=False).astype(np.float64)
    cum = np.cumsum(w[order])
    total = cum[-1]
    if total <= 0:
        return None
    targets = np.arange(1, num_partitions, dtype=np.float64) * total / num_partitions
    picked = order[np.searchsorted(cum, targets)]
    k1 = tbl.column(keys[0]).take(pa.array(picked)).to_pylist()
    k2 = tbl.column(keys[1]).take(pa.array(picked)).to_pylist()
    return sorted(set(zip(k1, k2)))
