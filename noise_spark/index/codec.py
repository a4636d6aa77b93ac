"""Posting-block compression: docID-delta + varbyte, numpy-vectorized.

Re-expresses the reference's varint position payloads
(``/root/reference/src/json_shred.rs:159-181``, decode
``src/snapshot.rs:107-120``) as block-level columnar compression per the
north star: doc IDs are delta-encoded then varbyte (LEB128,
continuation-high-bit) packed; term frequencies and positions use plain
varbyte. All encode/decode paths are numpy-vectorized so they run at
Arrow-batch speed inside pandas UDFs — no per-row Python.
"""

from __future__ import annotations

import numpy as np


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized LEB128 encode returning (buffer, per-value byte lengths).

    The lengths let a caller slice the buffer at arbitrary value
    boundaries — segment block builders encode a whole posting list in
    ONE numpy pass and cut block payloads by byte offset, instead of
    paying numpy-call overhead per 128-doc block."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    # byte length per value = ceil(bits/7), min 1
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    rem = v.copy()
    idx = starts.copy()
    active = np.ones(v.size, dtype=bool)
    while active.any():
        byte = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
        more = rem > 0
        sel = active
        out[idx[sel]] = byte[sel] | (more[sel].astype(np.uint8) << 7)
        idx[sel] += 1
        active = sel & more
    return out.tobytes(), nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a non-negative int array."""
    return varbyte_encode_with_lengths(values)[0]


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized LEB128 decode → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # group id per byte: 0-based index of the value the byte belongs to
    group = np.zeros(b.size, dtype=np.int64)
    group[1:] = np.cumsum(is_last)[:-1]
    starts = np.flatnonzero(np.diff(group, prepend=-1))
    # byte offset within its group
    within = np.arange(b.size, dtype=np.int64) - starts[group]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * within.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta + varbyte encode a strictly-increasing int64 array."""
    a = np.asarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return b""
    deltas = np.empty(a.size, dtype=np.uint64)
    deltas[0] = np.uint64(a[0])
    deltas[1:] = np.diff(a).astype(np.uint64)
    return varbyte_encode(deltas)


def delta_decode(buf: bytes) -> np.ndarray:
    deltas = varbyte_decode(buf)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(deltas.astype(np.int64))


def vb_row(values) -> bytes:
    """Tiny pure-Python LEB128 for short per-row sequences (the per-
    posting positions payload: [count, first, delta...]). For the 1-5
    value typical case this beats a numpy round-trip per row. Fast path:
    when every value fits 7 bits (the common dense-delta case) the
    varbyte encoding IS the raw byte string."""
    if not isinstance(values, (list, tuple)):
        values = list(values)  # a generator must not be consumed by max()
    if not values:
        return b""
    if max(values) < 0x80:
        return bytes(values)
    out = bytearray()
    for v in values:
        v = int(v)
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def positions_row(positions: list) -> bytes:
    """Encode one posting's positions as varbyte [n, p0, Δ...] — exactly
    one doc's slice of a block positions payload, so block assembly is a
    plain concatenation of row buffers."""
    if len(positions) == 1:  # tf==1 dominates under Zipf — no delta loop
        p0 = positions[0]
        return bytes((1, p0)) if p0 < 0x80 else vb_row((1, p0))
    vals = [len(positions)]
    prev = 0
    for p in positions:
        vals.append(p - prev)
        prev = p
    # first value is absolute (delta from 0) by construction
    return vb_row(vals)


def decode_positions_row(buf: bytes) -> np.ndarray:
    flat = varbyte_decode(buf).astype(np.int64)
    n = int(flat[0]) if flat.size else 0
    return np.cumsum(flat[1 : 1 + n])


def split_positions(buf: bytes, n_docs: int) -> list:
    """Split a block positions payload back into the per-doc row buffers
    it was concatenated from (``positions_row`` slices) WITHOUT decoding
    and re-encoding each row: one vectorized varbyte scan finds value
    boundaries, then each doc's slice is cut at its last value's byte."""
    if n_docs == 0:
        return []
    b = np.frombuffer(buf, dtype=np.uint8)
    flat = varbyte_decode(buf).astype(np.int64)
    ends = np.flatnonzero((b & 0x80) == 0)  # index of each value's last byte
    out = []
    i = 0  # value index: [n0, d0.., n1, d1..]
    prev_byte = 0
    for _ in range(n_docs):
        i += 1 + int(flat[i])
        end_byte = int(ends[i - 1]) + 1
        out.append(buf[prev_byte:end_byte])
        prev_byte = end_byte
    return out
