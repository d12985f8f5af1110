"""Zero-job exact range partitioning for dense integer keys.

``repartitionByRange`` costs a full sampling pass over its CHILD plan —
the range partitioner runs a reservoir-sample job to pick boundaries. On
the query hot path the child is (postings scan -> term filter), so the
sampling job re-reads and re-filters the postings before the real
exchange does: the whole input is scanned twice per query batch. That is
tolerable for one-off builds, and a measurable fixed tax per query pass
(the round-4 qps regression vs round 2 on the documents corpus).

For the query path we know more than the generic range partitioner does:
chunk ids are DENSE integers in [0, n_chunks) (chunk_id = doc_id //
chunk_span, doc ids are dense by construction — build.py B3). So exact,
contiguous, count-balanced ranges need no sampling at all:

    pid = key * P // n_keys            (contiguous ranges, sizes +/- 1)

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

At very large n_keys (cluster scale: millions of chunks onto thousands
of tasks) plain hash partitioning on the key is already balanced by the
law of large numbers, so the helper falls back to it — the token array
stays small in every regime where it is used.
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

# above this ratio of keys to partitions, plain hash partitioning is
# balanced by the law of large numbers (expected max/mean load -> 1) and
# the token array is not worth materializing in the plan
HASH_FALLBACK_KEYS_PER_PART = 64

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
    cached per p (sub-second up to p ~ 10^4; larger p uses hash
    fallback)."""
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


def repartition_exact_dense_range(df, col: str, n_keys: int, num_partitions: int,
                                  lo: int = 0):
    """Like :func:`repartition_dense_range` but ALWAYS exact contiguous
    ranges (no hash fallback) — for writers that must produce a
    range-partitioned on-disk layout (e.g. the docs table's doc_id-ordered
    files), where hash placement would destroy file-level min/max pruning.
    ``lo`` shifts the key window: keys are treated as dense in
    [lo, lo + n_keys) (extend generations start at a chunk boundary, not
    0). The token array grows with ``num_partitions`` only (~8 B/partition
    in the plan), fine through ~10^4 output partitions; beyond that a real
    cluster would shard the write per key range instead."""
    from pyspark.sql import functions as F

    p = max(1, min(num_partitions, n_keys))
    if p == 1:
        return df.coalesce(1) if df.rdd.getNumPartitions() > 1 else df
    toks = bucket_tokens(p)
    pid = F.least(
        F.expr(f"CAST((({col} - {int(lo)}) * {p}) DIV {n_keys} AS INT)"),
        F.lit(p - 1),
    )
    tok = F.element_at(
        F.array(*[F.lit(t).cast("long") for t in toks]), pid + F.lit(1)
    )
    # pass the token as an EXPRESSION, not a materialized column: the
    # exchange then carries only the data columns (the partition id is
    # computed map-side and never stored), saving 8 B/row of shuffle width
    return df.repartition(p, tok)


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
    CDF over the range key directly. Files are striped evenly through each
    group's sorted listing (splits are hash-assigned, so any file subset
    is an unbiased corpus sample). Returns a sorted, deduplicated list of
    (term, chunk_id) boundaries (may be shorter than num_partitions - 1
    when hot keys collapse quantiles), or None when the sample is too
    small to trust — callers fall back to repartitionByRange.

    Local-filesystem implementation; on an object store the same few-file
    sample would go through the storage client."""
    import glob as _glob

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if num_partitions <= 1:
        return []
    if num_partitions > MAX_TOKEN_ROUTE_PARTS:
        return None  # plan-size guard: caller uses repartitionByRange
    files = []
    for gp in group_paths:
        fs = sorted(_glob.glob(os.path.join(gp, "*.parquet")))
        k = min(len(fs), files_per_group)
        if k:
            step = len(fs) / k
            files += [fs[int(i * step)] for i in range(k)]
    if not files:
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


def sample_term_boundaries(group_paths, num_partitions: int,
                           files_per_group: int = 2,
                           min_rows_per_part: int = 64):
    """Term-only range boundaries from the stage-1 sample — for writers
    laying out (term, ...) tables whose row count tracks posting mass
    (e.g. the positions artifact's (term, doc_id) rows, cardinality
    identical to the postings). Degenerate chunk span folds every sampled
    pair to chunk 0, so the quantiles are over terms alone."""
    bounds = sample_term_chunk_boundaries(
        group_paths, num_partitions, 1 << 62, files_per_group,
        min_rows_per_part)
    if bounds is None:
        return None
    return sorted({t for t, _c in bounds})


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
    import glob as _glob

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if num_partitions <= 1:
        return []
    if num_partitions > MAX_TOKEN_ROUTE_PARTS:
        return None  # plan-size guard: caller uses repartitionByRange
    files = []
    for dp in dir_paths:
        fs = sorted(_glob.glob(os.path.join(dp, "*.parquet")))
        k = min(len(fs), files_per_dir)
        if k:
            step = len(fs) / k
            files += [fs[int(i * step)] for i in range(k)]
    if not files:
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


def repartition_pair_range(df, bounds, c1: str, c2: str):
    """Exact range repartition on a two-column key at precomputed
    boundaries — the generic form of :func:`repartition_term_chunk_range`
    (works for any comparable literal key types, either column order)."""
    from pyspark.sql import functions as F

    p = len(bounds) + 1
    if p == 1:
        return df.coalesce(1) if df.rdd.getNumPartitions() > 1 else df

    def ge_of(b):
        b1, b2 = b
        return (F.col(c1) > F.lit(b1)) | (
            (F.col(c1) == F.lit(b1)) & (F.col(c2) >= F.lit(b2))
        )

    toks = bucket_tokens(p)
    pid = _pid_bsearch(bounds, ge_of)
    tok = F.element_at(
        F.array(*[F.lit(t).cast("long") for t in toks]), pid + F.lit(1)
    )
    return df.repartition(p, tok)


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


def repartition_term_chunk_range(df, bounds, term_col: str = "term",
                                 chunk_col="chunk_id"):
    """Exact range repartition of ``df`` on (term, chunk_id) at the given
    precomputed boundaries (from :func:`sample_term_chunk_boundaries`):
    partition i holds keys in [bounds[i-1], bounds[i]) — the identical
    contiguous term-sorted layout ``repartitionByRange`` produces, with
    ZERO extra jobs. Routing = O(log P) string compares per row + the
    murmur3 token trick (see module docstring) for exact pid -> partition
    placement. ``chunk_col`` may be a Column EXPRESSION (e.g. derived
    from doc_id) so the chunk id need not be materialized — callers can
    keep it out of the shuffled row entirely and recompute it after the
    exchange."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    p = len(bounds) + 1
    if p == 1:
        return df.coalesce(1) if df.rdd.getNumPartitions() > 1 else df
    chunk_expr = chunk_col if isinstance(chunk_col, Column) else F.col(chunk_col)

    def ge_of(b):
        bt, bc = b
        return (F.col(term_col) > F.lit(bt)) | (
            (F.col(term_col) == F.lit(bt)) & (chunk_expr >= F.lit(bc))
        )

    toks = bucket_tokens(p)
    pid = _pid_bsearch(bounds, ge_of)
    tok = F.element_at(
        F.array(*[F.lit(t).cast("long") for t in toks]), pid + F.lit(1)
    )
    # pass the token as an EXPRESSION, not a materialized column: the
    # exchange then carries only the data columns (the partition id is
    # computed map-side and never stored), saving 8 B/row of shuffle width
    return df.repartition(p, tok)


def repartition_term_range(df, term_bounds, term_col: str = "term"):
    """Exact range repartition on a single string column at precomputed
    term boundaries — the stats-table twin of
    :func:`repartition_term_chunk_range`."""
    from pyspark.sql import functions as F

    p = len(term_bounds) + 1
    if p == 1:
        return df.coalesce(1) if df.rdd.getNumPartitions() > 1 else df

    def ge_of(bt):
        return F.col(term_col) >= F.lit(bt)

    toks = bucket_tokens(p)
    pid = _pid_bsearch(term_bounds, ge_of)
    tok = F.element_at(
        F.array(*[F.lit(t).cast("long") for t in toks]), pid + F.lit(1)
    )
    # pass the token as an EXPRESSION, not a materialized column: the
    # exchange then carries only the data columns (the partition id is
    # computed map-side and never stored), saving 8 B/row of shuffle width
    return df.repartition(p, tok)


def repartition_dense_range(df, col: str, n_keys: int, num_partitions: int):
    """Exact contiguous-range repartition of ``df`` on a dense integer
    key column in [0, n_keys): task t receives keys [t*n_keys/P,
    (t+1)*n_keys/P) — the same layout repartitionByRange(P, col) would
    produce, with ZERO extra jobs and deterministic boundaries at any
    parallelism. Keys >= n_keys (a stale upper bound) clamp into the last
    range rather than erroring."""
    from pyspark.sql import functions as F

    p = max(1, min(num_partitions, n_keys))
    if p == 1:
        return df.coalesce(1) if df.rdd.getNumPartitions() > 1 else df
    if n_keys >= HASH_FALLBACK_KEYS_PER_PART * p:
        # many keys per task: hash is balanced, no token table needed
        return df.repartition(p, col)
    toks = bucket_tokens(p)
    pid = F.least(
        F.expr(f"CAST(({col} * {p}) DIV {n_keys} AS INT)"), F.lit(p - 1)
    )
    tok = F.element_at(
        F.array(*[F.lit(t).cast("long") for t in toks]), pid + F.lit(1)
    )
    # pass the token as an EXPRESSION, not a materialized column: the
    # exchange then carries only the data columns (the partition id is
    # computed map-side and never stored), saving 8 B/row of shuffle width
    return df.repartition(p, tok)
