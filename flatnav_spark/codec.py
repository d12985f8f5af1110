"""Varint gap codec for posting blocks — the role flatnav's product
quantizer plays for vectors (developmental-features/quantization/
ProductQuantization.h:91-572 transforms data on insert, decodes on read):
a lossless-in-our-case compression applied at index-write time and decoded
at query time.

Pure numpy, fully vectorized (no per-element Python loops in either
direction) so it runs at Arrow-batch speed inside applyInPandas workers.

Format: LEB128-style varint, little-endian 7-bit groups, high bit =
continuation. Doc ids inside a block are delta-coded against the block
base (``doc_id - block_id * block_range``) then gap-coded.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_SEVEN = _U64(7)
_MASK7 = _U64(0x7F)
_CONT = np.uint8(0x80)


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative ints to a varint byte string."""
    a = np.asarray(values)
    if a.size == 0:
        return b""
    if a.dtype.kind == "i" and int(a.min()) < 0:
        raise ValueError("varint_encode requires non-negative values")
    payload, _ = _varint_bytes(a)
    return payload.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a varint byte string to a uint64 array."""
    if not buf:
        return np.empty(0, dtype=_U64)
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    if ends.size == 0 or ends[-1] != b.size - 1:
        raise ValueError("truncated varint stream")
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    pos = (np.arange(b.size) - np.repeat(starts, lengths)).astype(np.uint64)
    shifted = (b & np.uint8(0x7F)).astype(_U64) << (pos * _SEVEN)
    return np.add.reduceat(shifted, starts)


def _varint_bytes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varint encoding of a uint64 array. Returns (payload
    uint8 array, per-value byte counts) so callers can slice per group."""
    v = np.ascontiguousarray(values, dtype=_U64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp >>= _SEVEN
        nz = tmp > 0
    nbytes = np.maximum(nbits, 1)
    total = int(nbytes.sum())
    starts = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    owner = np.repeat(np.arange(v.size), nbytes)
    pos = (np.arange(total) - starts[owner]).astype(np.uint64)
    payload = ((v[owner] >> (pos * _SEVEN)) & _MASK7).astype(np.uint8)
    is_last = np.zeros(total, dtype=bool)
    is_last[starts + nbytes - 1] = True
    payload[~is_last] |= _CONT
    return payload, nbytes


def encode_groups(values: np.ndarray, group_starts: np.ndarray) -> list:
    """Varint-encode ``values`` as one vectorized pass, returning one bytes
    object per group (groups are contiguous slices starting at
    ``group_starts``). The whole-corpus encoder hot path: no per-group
    numpy re-entry, just byte-buffer slicing."""
    payload, nbytes = _varint_bytes(values)
    if values is None or len(nbytes) == 0:
        return [b"" for _ in range(len(group_starts))]
    byte_off = np.zeros(len(nbytes) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_off[1:])
    buf = payload.tobytes()
    bounds = np.append(group_starts, len(nbytes))
    return [buf[byte_off[bounds[i]]: byte_off[bounds[i + 1]]] for i in range(len(group_starts))]


def grouped_gaps(sorted_ids: np.ndarray, group_starts: np.ndarray,
                 bases: np.ndarray) -> np.ndarray:
    """Gap-code a concatenation of per-group strictly-increasing id runs:
    within each group the first gap is vs that group's base. Vectorized."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    gaps = np.empty(ids.size, dtype=np.int64)
    if ids.size == 0:
        return gaps
    gaps[0] = 0  # overwritten below (index 0 is always a group start)
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    gaps[group_starts] = ids[group_starts] - bases
    if gaps.min() < 0:
        raise ValueError("ids must be increasing within groups and >= base")
    return gaps


def grouped_prefix_sums(values: np.ndarray, starts: np.ndarray,
                        counts: np.ndarray) -> np.ndarray:
    """Per-group inclusive prefix sums of a concatenation of groups
    (group g = values[starts[g] : starts[g] + counts[g]]) — the inverse
    of grouped_gaps up to each group's base: ids - repeat(bases, counts).
    Vectorized: global cumsum minus each group's carried-in offset."""
    c = np.cumsum(values)
    carry = c[starts] - values[starts]
    return c - np.repeat(carry, counts)
