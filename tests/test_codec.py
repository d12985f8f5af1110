"""Varint/gap codec property tests — round-trip exactness, the analog of
the reference's PQ code-manager round-trip tests (test_pq_manager.cpp)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flatnav_spark.codec import (encode_groups, grouped_gaps, grouped_prefix_sums,
                                  varint_decode, varint_encode)


def _runs(ids, block_range):
    """The encoder's run layout: one run per doc-id block, gaps coded
    against the block base. Returns (run starts, run counts, bases)."""
    blocks = ids // block_range
    starts = np.flatnonzero(np.diff(blocks, prepend=-1))
    counts = np.diff(np.append(starts, ids.size))
    return starts, counts, blocks[starts] * block_range


def _roundtrip(ids, block_range):
    """ids -> grouped_gaps -> encode_groups -> varint_decode -> prefix
    sums: the path from the segment encoder to the chunk kernel. Returns
    (decoded ids, encoded byte count)."""
    starts, counts, bases = _runs(ids, block_range)
    buf = b"".join(encode_groups(grouped_gaps(ids, starts, bases), starts))
    gaps = varint_decode(buf).astype(np.int64)
    return grouped_prefix_sums(gaps, starts, counts) + np.repeat(bases, counts), len(buf)


def test_empty():
    assert varint_encode(np.array([], dtype=np.int64)) == b""
    assert varint_decode(b"").size == 0
    empty = np.array([], dtype=np.int64)
    assert grouped_gaps(empty, empty, empty).size == 0
    assert encode_groups(empty, empty) == []


def test_known_values():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**40], dtype=np.uint64)
    buf = varint_encode(vals)
    assert varint_encode(np.array([0]))[0:1] == b"\x00"
    assert varint_encode(np.array([127])) == b"\x7f"
    assert varint_encode(np.array([128])) == b"\x80\x01"
    np.testing.assert_array_equal(varint_decode(buf), vals)


def test_negative_rejected():
    with pytest.raises(ValueError):
        varint_encode(np.array([-1], dtype=np.int64))


def test_truncated_stream_rejected():
    with pytest.raises(ValueError):
        varint_decode(b"\x80")  # continuation bit set, no terminator


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**53), max_size=300))
def test_varint_roundtrip(values):
    vals = np.array(values, dtype=np.uint64)
    out = varint_decode(varint_encode(vals))
    np.testing.assert_array_equal(out, vals)


@settings(max_examples=200, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300),
    st.sampled_from([1, 64, 4096]),
)
def test_gap_roundtrip(id_set, block_range):
    ids = np.array(sorted(id_set), dtype=np.int64)
    out, _ = _roundtrip(ids, block_range)
    np.testing.assert_array_equal(out, ids)


def test_gaps_require_increasing():
    # a negative gap is refused: an id below its predecessor in the run...
    with pytest.raises(ValueError):
        grouped_gaps(np.array([5, 3], dtype=np.int64), np.array([0]), np.array([0]))
    # ...or a run's first id below its base
    with pytest.raises(ValueError):
        grouped_gaps(np.array([2, 9], dtype=np.int64), np.array([0, 1]),
                     np.array([0, 10]))


def test_compression_effective():
    # dense ascending ids must gap-code to ~1 byte/id
    ids = np.arange(10_000, dtype=np.int64) * 3 + 7
    out, n_bytes = _roundtrip(ids, 4096)
    np.testing.assert_array_equal(out, ids)
    assert n_bytes < 10_200


def test_grouped_prefix_sums_matches_per_group_cumsum():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n_groups = int(rng.integers(1, 8))
        counts = rng.integers(1, 9, size=n_groups)
        values = rng.integers(0, 50, size=int(counts.sum()))
        starts = np.zeros(n_groups, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        got = grouped_prefix_sums(values, starts, counts)
        expected = np.concatenate([
            np.cumsum(values[s: s + c]) for s, c in zip(starts, counts)
        ])
        assert (got == expected).all()
