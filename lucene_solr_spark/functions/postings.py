"""Flat posting-row codec (index format v5).

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

vs. the v2 nested ``blocks array<struct<...>>``: flat blobs encode in
ONE vectorized varint pass per segment (no per-block numpy-call
overhead) and ship through Arrow as plain byte arrays instead of a
million tiny structs.
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np

from .varint import decode_varint


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


def decode_docs(row) -> np.ndarray:
    """Whole-row doc ids."""
    return decode_docs_concat([row["docs"]], [row["df"]])


def decode_docs_concat(blobs: Sequence[bytes], dfs: Sequence) -> np.ndarray:
    """Doc ids of MANY posting rows in ONE varint pass: each row's blob
    starts with an absolute doc id, so the joined blobs are one valid
    reset stream with runs of ``dfs``. The per-call cost of
    decode_varint would otherwise dominate queries and merges that
    touch thousands of rows."""
    if not len(blobs):
        return np.empty(0, np.int64)
    return reset_cumsum(decode_varint(b"".join(blobs)), dfs)


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

