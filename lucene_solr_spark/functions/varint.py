"""Delta + varint posting codec, vectorized in numpy.

The reference stores postings in 128-doc blocks with FOR bit-packing
(`[U] lucene/core/src/java/org/apache/lucene/codecs/lucene84/ForUtil.java`,
`Lucene84PostingsWriter.java`). Per the north_star the compression
scheme here is delta + LEB128 varint over whole posting lists —
lossless, so scores/ranks are unaffected (SURVEY.md §1.3).

Both encode and decode are numpy-vectorized (no per-value Python loop;
the loops below are over *byte position* (<=5 for 32-bit-ish values,
<=10 worst case), not over values).
"""

from __future__ import annotations

import numpy as np

__all__ = ["encode_varint", "encode_varint_with_lengths", "decode_varint",
           "delta_encode", "delta_decode"]

_MAX_VARINT_BYTES = 10  # 64-bit worst case


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array into a byte string."""
    return encode_varint_with_lengths(values)[0]


def encode_varint_with_lengths(values: np.ndarray):
    """LEB128-encode; also return the byte length of each value so
    callers can slice the stream at arbitrary value boundaries (the
    one-pass stream encode of postings.encode_rows)."""
    v = np.asarray(values)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    if v.min() < 0:
        raise ValueError("varint values must be non-negative")
    v = v.astype(np.uint64)
    # bytes needed per value: ceil(bit_length / 7), min 1
    nbytes = np.ones(v.shape, dtype=np.int64)
    threshold = np.uint64(1 << 7)
    for _ in range(_MAX_VARINT_BYTES - 1):
        mask = v >= threshold
        if not mask.any():
            break
        nbytes += mask
        if threshold >= np.uint64(1 << 56):
            break
        threshold = np.uint64(int(threshold) << 7)
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    pos = np.zeros(v.shape, dtype=np.int64)
    pos[1:] = np.cumsum(nbytes)[:-1]
    rem = v.copy()
    idx = pos.copy()
    active = np.ones(v.shape, dtype=bool)
    for _ in range(_MAX_VARINT_BYTES):
        if not active.any():
            break
        cur = (rem[active] & np.uint64(0x7F)).astype(np.uint8)
        more = rem[active] >= np.uint64(0x80)
        out[idx[active]] = cur | np.where(more, np.uint8(0x80), np.uint8(0))
        rem[active] >>= np.uint64(7)
        idx[active] += 1
        nxt = active.copy()
        nxt[active] = more
        active = nxt
    return out.tobytes(), nbytes


def decode_varint(buf: bytes | bytearray | memoryview | np.ndarray) -> np.ndarray:
    """Decode a LEB128 byte string back into an int64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    if ends.size == 0 or ends[-1] != b.size - 1:
        raise ValueError("truncated varint stream")
    starts = np.empty(ends.shape, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.shape, dtype=np.uint64)
    for k in range(int(lengths.max())):
        mask = lengths > k
        vals[mask] |= (b[starts[mask] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals.astype(np.int64)


def varint_value_offsets(buf: bytes | np.ndarray) -> np.ndarray:
    """Byte offset of each value boundary in a LEB128 stream (length
    n_values+1) — lets callers SLICE an existing stream at value
    granularity without decoding it (merges carry pos blobs over
    byte-for-byte: postings.join_positions)."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.zeros(1, dtype=np.int64)
    ends = np.flatnonzero((b & 0x80) == 0)
    out = np.empty(len(ends) + 1, dtype=np.int64)
    out[0] = 0
    out[1:] = ends + 1
    return out


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """Strictly/weakly increasing ints -> first value + successive deltas."""
    v = np.asarray(sorted_values, dtype=np.int64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    d = np.asarray(deltas, dtype=np.int64)
    if d.size == 0:
        return d
    return np.cumsum(d)
