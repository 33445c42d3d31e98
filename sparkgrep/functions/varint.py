"""Vectorized varint + delta(gap) codec for posting lists.

The reference's index stores doclists as delta-encoded varints inside
SQLite FTS5 (public file format; fed row-at-a-time by triggers,
``message_manager.py:113-137``). The engine re-derives the same encoding
as numpy batch kernels that run inside Arrow UDF workers — no per-row
Python loops (BASELINE.json input_hint).

Encoding: little-endian base-128, 7 payload bits per byte, high bit =
continuation (the protobuf/SQLite varint). docID streams are
gap-encoded first (sorted unique ids → first id, then deltas).
"""

from __future__ import annotations

import numpy as np

_SHIFTS = (7 * np.arange(10, dtype=np.uint64)).astype(np.uint64)  # uint64 → ≤10 bytes


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int array to a varint byte stream.

    Offset-scatter formulation: byte k of every value is written in one
    vector op, looping only to the LONGEST encoding present (1-3 passes
    for typical gap/tf/dl streams) — ~10× the throughput of the previous
    (n, 10)-matrix formulation, which allocated 80 bytes per value and
    dominated the index build's merge stage. Output bytes identical
    (tests/test_property.py roundtrips; byte-level pin in
    test_index.py::test_encode_kernel_matches_reference)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    lens = varint_byte_lengths(v)
    ends = np.cumsum(lens)
    total = int(ends[-1])
    off = ends - lens  # start byte of each value
    out = np.empty(total, dtype=np.uint8)
    mlen = int(lens.max())
    for k in range(mlen):
        m = lens > k
        if m.all():
            vk, offk, lk = v, off, lens
        else:
            vk, offk, lk = v[m], off[m], lens[m]
        byte = ((vk >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (lk > k + 1).astype(np.uint8) << np.uint8(7)
        out[offk + k] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a varint byte stream → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    n = int(is_end.sum())
    # group index per byte: 0-based id of the value each byte belongs to
    gid = np.zeros(b.size, dtype=np.int64)
    gid[1:] = np.cumsum(is_end[:-1])
    # byte position within its group
    starts = np.zeros(n, dtype=np.int64)
    ends = np.flatnonzero(is_end)
    starts[1:] = ends[:-1] + 1
    pos = np.arange(b.size, dtype=np.int64) - starts[gid]
    vals = np.zeros(n, dtype=np.uint64)
    payload = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    np.add.at(vals, gid, payload)
    return vals


def gap_encode(sorted_ids: np.ndarray) -> bytes:
    """Sorted strictly-increasing ids → first value + deltas, varint'd."""
    ids = np.asarray(sorted_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    gaps = np.empty_like(ids)
    gaps[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    return varint_encode(gaps.astype(np.uint64))


def gap_decode(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf).astype(np.int64)
    return np.cumsum(gaps)


def varint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized; exact, no float log)."""
    v = np.asarray(values, dtype=np.uint64)
    n = np.ones(v.shape, dtype=np.int64)
    if v.size == 0:
        return n
    vmax = int(v.max())
    for i in range(1, 10):
        if vmax < 1 << (7 * i):  # no value needs more bytes — stop early
            break
        n += (v >= np.uint64(1) << np.uint64(7 * i)).astype(np.int64)
    return n


def segment_byte_offsets(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Byte offset of each segment's start within the varint stream of
    ``values`` (len(counts) entries; segment i spans
    [offs[i], offs[i+1]) with offs[len] == total bytes — the returned
    array has len(counts)+1 entries)."""
    lens = varint_byte_lengths(values)
    counts = np.asarray(counts, dtype=np.int64)
    out = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(lens, out=lens)  # in-place prefix sum
    ends = np.cumsum(counts)
    out[1:] = lens[ends - 1]
    return out


def blocked_gap_encode(sorted_ids: np.ndarray, block: int) -> tuple[bytes, np.ndarray]:
    """Gap-encode sorted ids with the gap RESET at every block boundary
    (each block independently decodable). Returns (stream, byte offsets
    per block — len nblocks+1)."""
    ids = np.asarray(sorted_ids, dtype=np.int64)
    if ids.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    nblocks = (len(ids) + block - 1) // block
    counts = np.full(nblocks, block, dtype=np.int64)
    counts[-1] = len(ids) - block * (nblocks - 1)
    d = np.empty_like(ids)
    d[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=d[1:])
    starts = np.cumsum(counts)[:-1]
    d[starts] = ids[starts]
    u = d.astype(np.uint64)
    return varint_encode(u), segment_byte_offsets(u, counts)


def blocked_gap_decode(buf: bytes, n: int, block: int) -> np.ndarray:
    """Inverse of :func:`blocked_gap_encode` (full stream)."""
    if n == 0:
        return np.empty(0, dtype=np.int64)
    nblocks = (n + block - 1) // block
    counts = np.full(nblocks, block, dtype=np.int64)
    counts[-1] = n - block * (nblocks - 1)
    return delta_decode_segments(buf, counts)


def segment_deltas(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """The value stream :func:`delta_encode_segments` varint-encodes:
    within each segment (lengths ``counts``) the first value is absolute
    and the rest are deltas. Whole-frame encoders slice it per group."""
    v = np.asarray(values, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    if v.size == 0:
        return v.astype(np.uint64)
    d = np.empty_like(v)
    d[0] = v[0]
    np.subtract(v[1:], v[:-1], out=d[1:])
    starts = np.cumsum(counts)[:-1]  # segment start indices (beyond 0)
    # zero-length segments (multi-field postings: a doc with no instance
    # in one field) produce duplicate/past-the-end starts — duplicates
    # collapse to the next non-empty head, past-the-end needs no reset
    starts = starts[starts < v.size]
    d[starts] = v[starts]            # reset: absolute at each segment head
    return d.astype(np.uint64)


def delta_encode_segments(values: np.ndarray, counts: np.ndarray) -> bytes:
    """Encode concatenated per-segment increasing sequences (e.g. token
    positions per doc, concatenated in doc order, segment lengths =
    ``counts``): within each segment the first value is absolute and the
    rest are deltas; segments are independent. Vectorized — no per-doc
    loop."""
    return varint_encode(segment_deltas(values, counts))


def delta_decode_segments(buf: bytes, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`delta_encode_segments`: returns the concatenated
    absolute values; split with ``np.split(out, np.cumsum(counts)[:-1])``."""
    d = varint_decode(buf).astype(np.int64)
    if d.size == 0:
        return d
    counts = np.asarray(counts, dtype=np.int64)
    c = np.cumsum(d)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # subtract each segment's preceding cumulative sum → per-segment
    # cumsum; guard start == 0 (leading zero-length segments) — the
    # np.where form is identical to the classic base[1:] = c[starts-1]
    # whenever every count is positive
    base = np.where(starts > 0, c[np.maximum(starts - 1, 0)], 0)
    return c - np.repeat(base, counts)
