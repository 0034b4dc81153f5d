"""Flat posting-row codec (index format v3).

One parquet row per (term, seg, shard) holds the WHOLE posting list as
four binary blobs plus parallel per-block metadata arrays:

    docs binary   -- varint doc-id deltas; value at each 128-block start
                     is the ABSOLUTE doc id
    tfs  binary   -- varint term frequencies
    pos  binary   -- varint position deltas; value at each posting
                     (doc) start is the absolute first position
    norms binary  -- uint8 norm byte per posting
    blk_n         -- postings per block (the doc decoder's reset points)
    blk_first/blk_last/blk_max_tf/blk_min_norm -- per-block stats
                     (the skip-list impacts, `[U] lucene/core/.../codecs/
                     lucene84/Lucene84SkipWriter.java`, `Impacts.java`)
    blk_doc_off/blk_tf_off/blk_pos_off -- byte offsets of each block
                     inside the blobs (the skip pointers)

The impact and offset columns are written by build and merge and
checked by ``verify_index``, but queries do not read them: every query
decodes its terms' blobs whole and scores exhaustively
(operators/search.py).

vs. the v2 nested ``blocks array<struct<...>>``: flat blobs encode in
ONE vectorized varint pass per segment (no per-block numpy-call
overhead) and ship through Arrow as plain byte arrays instead of a
million tiny structs.
"""

from __future__ import annotations

from typing import Dict, List, Sequence

import numpy as np

from .varint import decode_varint, encode_varint_with_lengths

BLOCK_SIZE = 128


# ----------------------------------------------------------------- encode


def encode_posting_list(docs: np.ndarray, tfs: np.ndarray, norms: np.ndarray,
                        pos_deltas: np.ndarray, pos_bounds: np.ndarray) -> Dict[str, object]:
    """Encode ONE term's (shard's) posting list -> flat column dict.

    ``pos_deltas``: concatenated per-doc position deltas (absolute at
    each doc start); ``pos_bounds[i]`` = cumulative position count after
    posting i. Used by the merge path; the build kernel encodes whole
    segments at once and slices instead (see build.make_unified_kernel).
    """
    n = len(docs)
    block_starts = np.arange(0, n, BLOCK_SIZE, dtype=np.int64)
    block_ends = np.minimum(block_starts + BLOCK_SIZE, n)

    ddel = np.empty(n, dtype=np.int64)
    ddel[0] = docs[0]
    np.subtract(docs[1:], docs[:-1], out=ddel[1:])
    ddel[block_starts] = docs[block_starts]

    docs_buf, dlen = encode_varint_with_lengths(ddel)
    tfs_buf, tlen = encode_varint_with_lengths(tfs)
    pos_buf, plen = encode_varint_with_lengths(pos_deltas)
    dboff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(dlen, out=dboff[1:])
    tboff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tlen, out=tboff[1:])
    pboff = np.zeros(len(pos_deltas) + 1, dtype=np.int64)
    if len(pos_deltas):
        np.cumsum(plen, out=pboff[1:])
    pos_excl = np.zeros(n, dtype=np.int64)
    pos_excl[1:] = pos_bounds[:-1]

    return {
        "blk_first": docs[block_starts].tolist(),
        "blk_last": docs[block_ends - 1].tolist(),
        "blk_n": (block_ends - block_starts).astype(np.int32).tolist(),
        "blk_max_tf": np.maximum.reduceat(tfs, block_starts).astype(np.int32).tolist(),
        "blk_min_norm": np.minimum.reduceat(norms, block_starts).astype(np.int32).tolist(),
        "blk_doc_off": dboff[block_starts].astype(np.int32).tolist(),
        "blk_tf_off": tboff[block_starts].astype(np.int32).tolist(),
        "blk_pos_off": pboff[pos_excl[block_starts]].astype(np.int32).tolist(),
        "docs": docs_buf,
        "tfs": tfs_buf,
        "pos": pos_buf,
        "norms": norms.astype(np.uint8).tobytes(),
    }


# ----------------------------------------------------------------- decode


def reset_cumsum(deltas: np.ndarray, run_lengths) -> np.ndarray:
    """Undo the codec's delta rule: a segmented cumsum over runs of
    ``run_lengths`` values, each run starting at an ABSOLUTE value (doc
    ids reset at every block start, positions at every posting start).
    The one decoder of that rule."""
    if deltas.size == 0:
        return deltas
    run_lengths = np.asarray(run_lengths, dtype=np.int64)
    c = np.cumsum(deltas)
    corr = np.zeros(len(run_lengths), dtype=np.int64)
    corr[1:] = c[np.cumsum(run_lengths)[:-1] - 1]
    return c - np.repeat(corr, run_lengths)


def decode_docs(row) -> np.ndarray:
    """Whole-list doc ids."""
    return reset_cumsum(decode_varint(row["docs"]), row["blk_n"])


def decode_docs_concat(blobs: Sequence[bytes], blk_ns: Sequence) -> np.ndarray:
    """Doc ids of MANY posting rows in ONE varint pass: each row's blob
    starts a block, so the joined blobs are one valid reset stream. The
    per-call cost of decode_varint would otherwise dominate queries and
    merges that touch thousands of rows."""
    if not len(blobs):
        return np.empty(0, np.int64)
    return reset_cumsum(decode_varint(b"".join(blobs)),
                        np.concatenate([np.asarray(n, dtype=np.int64) for n in blk_ns]))


def decode_tfs(row) -> np.ndarray:
    return decode_varint(row["tfs"])


def decode_norms(row) -> np.ndarray:
    return np.frombuffer(row["norms"], dtype=np.uint8)


def decode_positions_concat(row, tfs: np.ndarray) -> np.ndarray:
    """-> absolute positions, concatenated per posting."""
    return reset_cumsum(decode_varint(row["pos"]), tfs)


def split_positions(pos_concat: np.ndarray, tfs: np.ndarray) -> List[np.ndarray]:
    bounds = np.cumsum(tfs)
    starts = np.zeros(len(tfs), dtype=np.int64)
    starts[1:] = bounds[:-1]
    return [pos_concat[s:e] for s, e in zip(starts, bounds)]

