"""Postings codec round trip (the shape of Lucene's
BasePostingsFormatTestCase): random posting lists written through
``encode_rows`` at several shard sizes must decode back exactly through
the batched decoders, with consistent row stats and shard cuts."""

import numpy as np
import pytest

from lucene_solr_spark.functions.postings import (
    decode_docs,
    decode_norms,
    decode_positions,
    decode_tfs,
    encode_positions,
    encode_rows,
    join_positions,
)


def _random_postings(seed: int):
    """-> (term_lo, term_hi, docs, tfs, positions, norms): terms tile the
    posting stream, each term's docs strictly increasing, each
    posting's positions strictly increasing."""
    rng = np.random.default_rng(seed)
    dfs = rng.integers(1, 40, size=25)
    dfs[3] = 0                       # a term without postings gets no row
    dfs[7] = 300                     # a hot term
    term_hi = np.cumsum(dfs)
    term_lo = term_hi - dfs
    docs = np.concatenate([
        np.cumsum(rng.choice([1, 2, 130, 20_000, 1 << 22], size=df)) - 1 for df in dfs])
    tfs = rng.integers(1, 6, size=len(docs))
    tfs[::17] = rng.integers(100, 300, size=len(tfs[::17]))
    positions = np.concatenate([
        np.cumsum(rng.integers(1, 200, size=tf)) - 1 for tf in tfs])
    norms = rng.integers(0, 256, size=len(docs)).astype(np.uint8)
    return term_lo, term_hi, docs, tfs, positions, norms


def _blobs(arr):
    return arr.to_numpy(zero_copy_only=False)


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("shard_postings", [1, 3, 300, 1000])
def test_encode_rows_round_trip(seed, shard_postings):
    term_lo, term_hi, docs, tfs, positions, norms = _random_postings(seed)
    row_term, rows = encode_rows(term_lo, term_hi, docs, tfs,
                                 *encode_positions(positions, tfs), norms,
                                 shard_postings)
    df, shard, cum_tf = rows["df"], rows["shard"], rows["cum_tf"]
    blobs = {c: _blobs(rows[c]) for c in ("docs", "tfs", "pos", "norms")}

    # every row decodes back, whole and one row at a time
    assert np.array_equal(decode_docs(blobs["docs"], df), docs)
    assert np.array_equal(decode_tfs(blobs["tfs"]), tfs)
    assert np.array_equal(decode_norms(blobs["norms"]), norms)
    assert np.array_equal(decode_positions(blobs["pos"], tfs), positions)
    r_lo = np.cumsum(df) - df
    for r in range(len(row_term)):
        sl = slice(r_lo[r], r_lo[r] + df[r])
        row_docs = decode_docs(blobs["docs"][r:r + 1], df[r:r + 1])
        assert np.array_equal(row_docs, docs[sl])
        assert np.array_equal(decode_tfs(blobs["tfs"][r:r + 1]), tfs[sl])
        assert np.array_equal(decode_norms(blobs["norms"][r:r + 1]), norms[sl])
        p0, p1 = tfs[:sl.start].sum(), tfs[:sl.stop].sum()
        assert np.array_equal(decode_positions(blobs["pos"][r:r + 1], tfs[sl]),
                              positions[p0:p1])
        assert cum_tf[r] == tfs[sl].sum()

    # per term: df sums, shards 0..n-1, every row but the last full,
    # doc ranges disjoint and ordered
    assert np.all(np.diff(row_term) >= 0)
    for t in range(len(term_lo)):
        mine = np.flatnonzero(row_term == t)
        size = term_hi[t] - term_lo[t]
        assert df[mine].sum() == size
        assert np.array_equal(shard[mine], np.arange(len(mine)))
        assert len(mine) == -(-size // shard_postings)
        assert np.all(df[mine[:-1]] == shard_postings)
        assert np.all((df[mine] >= 1) & (df[mine] <= shard_postings))
        firsts = docs[r_lo[mine]]
        lasts = docs[r_lo[mine] + df[mine] - 1]
        assert np.all(firsts[1:] > lasts[:-1])


def test_recut_rows_are_the_direct_encoding():
    """The merge path: rows re-cut from decoded docs/tfs/norms and the
    joined, still-encoded pos bytes are byte for byte the rows a direct
    encode at the new shard size writes (LEB128 is canonical)."""
    term_lo, term_hi, docs, tfs, positions, norms = _random_postings(3)
    pos = encode_positions(positions, tfs)
    _, small = encode_rows(term_lo, term_hi, docs, tfs, *pos, norms, 3)
    b = {c: _blobs(small[c]) for c in ("docs", "tfs", "pos", "norms")}
    tfs2 = decode_tfs(b["tfs"])
    row_term, recut = encode_rows(
        term_lo, term_hi, decode_docs(b["docs"], small["df"]), tfs2,
        *join_positions(b["pos"], tfs2), decode_norms(b["norms"]), 8)
    row_term_d, direct = encode_rows(term_lo, term_hi, docs, tfs, *pos, norms, 8)
    assert np.array_equal(row_term, row_term_d)
    for c in ("shard", "df", "cum_tf"):
        assert np.array_equal(recut[c], direct[c]), c
    for c in ("docs", "tfs", "pos", "norms"):
        assert recut[c].equals(direct[c]), c


def test_encode_rows_without_postings():
    row_term, rows = encode_rows(np.zeros(2, np.int64), np.zeros(2, np.int64),
                                 np.empty(0, np.int64), np.empty(0, np.int64),
                                 *encode_positions(np.empty(0, np.int64),
                                                   np.empty(0, np.int64)),
                                 np.empty(0, np.uint8), 4)
    assert len(row_term) == 0
    assert all(len(v) == 0 for v in rows.values())
