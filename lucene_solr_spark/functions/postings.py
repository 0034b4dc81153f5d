"""The postings codec (index format v5): the one module that encodes
and decodes posting rows.

One parquet row per (term, seg, shard) holds the term's stats and its
WHOLE posting list (that shard of it) as four binary blobs:

    df, cum_tf    -- postings in the row and the sum of their tfs
    docs binary   -- varint doc-id deltas; the row's first value is the
                     ABSOLUTE doc id, so ``df`` is the decoder's run length
    tfs  binary   -- varint term frequencies
    pos  binary   -- varint position deltas; value at each posting
                     (doc) start is the absolute first position
    norms binary  -- uint8 norm byte per posting

The format stores no skip data (no block grid or impacts, as in
`Lucene84SkipWriter.java`): every query decodes its terms' rows whole
and scores exhaustively (operators/search.py).

Writers: the build's segment writer (operators/build.py) and the merge
kernel (operators/merge.py) both cut and encode rows through
``encode_rows``, as Lucene's flush (`FreqProxTermsWriter.flush`) and
merge (`SegmentMerger.mergeTerms`) both write through one codec's
`FieldsConsumer`. Readers (query kernel, merge, verify, termfreq)
decode each stream of any number of rows in one batched call:
``decode_docs``, ``decode_tfs``, ``decode_norms``,
``decode_positions``.

vs. the v2 nested ``blocks array<struct<...>>``: flat blobs encode in
ONE vectorized varint pass per stream (no per-block numpy-call
overhead) and ship through Arrow as plain byte arrays instead of a
million tiny structs.
"""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

import numpy as np
import pyarrow as pa

from .varint import decode_varint, encode_varint_with_lengths, varint_value_offsets


# ----------------------------------------------------------------- encode


def _offsets(lengths: np.ndarray) -> np.ndarray:
    """Byte lengths -> start offsets plus the end (len(lengths)+1)."""
    out = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=out[1:])
    return out


def _reset_deltas(values: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """The codec's delta rule: successive differences, ABSOLUTE at every
    run start (``reset_cumsum`` undoes it)."""
    out = np.diff(values, prepend=0)
    out[run_starts] = values[run_starts]
    return out


def encode_positions(positions: np.ndarray, tfs: np.ndarray) -> Tuple[bytes, np.ndarray]:
    """Absolute positions, concatenated per posting (``tfs[i]`` each, in
    order) -> the encoded pos stream of all the postings, in one varint
    pass, and each posting's byte offset in it (len(tfs)+1): the
    ``pos, pos_off`` input of ``encode_rows``."""
    bounds = _offsets(tfs)
    buf, nbytes = encode_varint_with_lengths(
        _reset_deltas(np.asarray(positions, dtype=np.int64), bounds[:-1]))
    return buf, _offsets(nbytes)[bounds]


def join_positions(blobs: Sequence[bytes], tfs: np.ndarray) -> Tuple[bytes, np.ndarray]:
    """The pos blobs of many rows (``tfs``: their postings' tfs, in
    order) joined as they are, plus each posting's byte offset in the
    joined stream: ``encode_rows`` input that decodes no position."""
    pos = b"".join(blobs)
    return pos, varint_value_offsets(pos)[_offsets(tfs)]


def _binary(buf, value_offsets: np.ndarray) -> pa.Array:
    """A zero-copy Arrow binary array of ``buf[off[i]:off[i+1]]``."""
    if value_offsets[-1] >= 1 << 31:
        raise ValueError("posting stream exceeds the 2 GiB offsets of an Arrow binary array")
    off = np.ascontiguousarray(value_offsets, dtype=np.int32)
    return pa.Array.from_buffers(pa.binary(), len(off) - 1,
                                 [None, pa.py_buffer(off), pa.py_buffer(buf)])


def encode_rows(term_lo: np.ndarray, term_hi: np.ndarray, docs: np.ndarray,
                tfs: np.ndarray, pos: bytes, pos_off: np.ndarray,
                norms: np.ndarray, shard_postings: int
                ) -> Tuple[np.ndarray, Dict[str, object]]:
    """Postings in term order, each term's in doc order -> posting rows.

    Term ``t`` holds postings ``term_lo[t]:term_hi[t]``; the terms tile
    the posting stream in order (``term_lo[t+1] == term_hi[t]``), and a
    term without postings gets no row. ``docs``, ``tfs`` and ``norms``
    (uint8) hold one value per posting; ``pos`` is the encoded pos
    stream of all the postings and ``pos_off`` each posting's byte
    offset in it (len(docs)+1), as ``encode_positions`` or
    ``join_positions`` return them.

    Each term is cut into doc-ordered shard rows 0, 1, ... of
    ``shard_postings`` postings, its last row holding the rest. Doc
    deltas restart at every row start; docs and tfs are encoded in one
    varint pass each, and every blob is a zero-copy slice of its stream.

    -> (each row's term index, the row columns ``shard, df, cum_tf,
    docs, tfs, pos, norms``)."""
    term_lo = np.asarray(term_lo, dtype=np.int64)
    term_hi = np.asarray(term_hi, dtype=np.int64)
    n_sh = -(-(term_hi - term_lo) // shard_postings)
    row_term = np.repeat(np.arange(len(n_sh)), n_sh)
    shard = np.arange(len(row_term)) - np.repeat(np.cumsum(n_sh) - n_sh, n_sh)
    r_starts = term_lo[row_term] + shard * shard_postings
    r_ends = np.minimum(r_starts + shard_postings, term_hi[row_term])
    bounds = np.append(r_starts, len(docs))  # row bounds in posting space
    docs_buf, dlen = encode_varint_with_lengths(_reset_deltas(docs, r_starts))
    tfs_buf, tlen = encode_varint_with_lengths(tfs)
    return row_term, {
        "shard": shard,
        "df": r_ends - r_starts,
        "cum_tf": (np.add.reduceat(tfs, r_starts) if len(r_starts)
                   else np.empty(0, np.int64)),
        "docs": _binary(docs_buf, _offsets(dlen)[bounds]),
        "tfs": _binary(tfs_buf, _offsets(tlen)[bounds]),
        "pos": _binary(pos, pos_off[bounds]),
        "norms": _binary(np.ascontiguousarray(norms, dtype=np.uint8), bounds),
    }


# ----------------------------------------------------------------- decode


def reset_cumsum(deltas: np.ndarray, run_lengths) -> np.ndarray:
    """Undo the codec's delta rule: a segmented cumsum over runs of
    ``run_lengths`` values, each run starting at an ABSOLUTE value (doc
    ids reset at every row start, positions at every posting start).
    The one decoder of that rule."""
    if deltas.size == 0:
        return deltas
    run_lengths = np.asarray(run_lengths, dtype=np.int64)
    c = np.cumsum(deltas)
    corr = np.zeros(len(run_lengths), dtype=np.int64)
    corr[1:] = c[np.cumsum(run_lengths)[:-1] - 1]
    return c - np.repeat(corr, run_lengths)


def decode_docs(blobs: Sequence[bytes], dfs: Sequence) -> np.ndarray:
    """Doc ids of any number of posting rows, in ONE varint pass: each
    row's blob starts with an absolute doc id, so the joined blobs are
    one valid reset stream with runs of ``dfs``. The per-call cost of
    decode_varint would otherwise dominate queries and merges that
    touch thousands of rows."""
    return reset_cumsum(decode_varint(b"".join(blobs)), dfs)


def decode_tfs(blobs: Sequence[bytes]) -> np.ndarray:
    """Term frequencies of any number of posting rows, one per posting."""
    return decode_varint(b"".join(blobs))


def decode_norms(blobs: Sequence[bytes]) -> np.ndarray:
    """Norm bytes (uint8) of any number of posting rows, one per posting."""
    return np.frombuffer(b"".join(blobs), dtype=np.uint8)


def decode_positions(blobs: Sequence[bytes], tfs: np.ndarray) -> np.ndarray:
    """Absolute positions of any number of posting rows (``tfs``: their
    postings' tfs), concatenated per posting."""
    return reset_cumsum(decode_varint(b"".join(blobs)), tfs)
