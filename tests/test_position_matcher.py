"""The query kernel's position matcher, without Spark: exact phrase,
MultiPhrase, sloppy phrase, SpanFirst, SpanNot and SpanOr freqs and
norms over random postings, written through the codec at small shard
sizes (a term split across several rows), against a naive per-doc
reference."""

from collections import defaultdict

import numpy as np
from hypothesis import given, settings, strategies as st

from lucene_solr_spark.functions.postings import encode_positions, encode_rows
from lucene_solr_spark.operators.search import _SegmentScorer
from lucene_solr_spark.plans.query import (
    MultiPhraseQuery,
    PhraseQuery,
    SpanFirstQuery,
    SpanNotQuery,
    SpanOrQuery,
    sloppy_phrase_freq,
)

VOCAB = ("a", "b", "c")
#: a term no doc holds
ABSENT = "zz"


@st.composite
def segments(draw):
    """-> ({doc: ({term: sorted positions}, norm)}, shard_postings).
    Doc ids and positions have gaps (as a stop filter leaves); one
    position may hold several terms (stacked tokens)."""
    docs, doc = {}, -1
    for _ in range(draw(st.integers(1, 6))):
        doc += draw(st.integers(1, 4))
        gaps = draw(st.lists(st.integers(1, 3), min_size=1, max_size=12))
        terms = defaultdict(list)
        for p in np.cumsum(gaps) - 1:
            for t in sorted(draw(st.sets(st.sampled_from(VOCAB), min_size=1))):
                terms[t].append(int(p))
        docs[doc] = (dict(terms), draw(st.integers(0, 255)))
    return docs, draw(st.integers(1, 4))


def _scorer(docs, shard_postings):
    """A _SegmentScorer over ``docs``' postings whose leaf scores are
    (freq, norm) pairs."""
    terms = sorted({t for tp, _ in docs.values() for t in tp})
    post = [(t, d, docs[d][0][t], docs[d][1])
            for t in terms for d in sorted(docs) if t in docs[d][0]]
    dfs = np.array([sum(p[0] == t for p in post) for t in terms])
    tfs = np.array([len(p[2]) for p in post])
    row_term, rows = encode_rows(
        np.cumsum(dfs) - dfs, np.cumsum(dfs), np.array([p[1] for p in post]), tfs,
        *encode_positions(np.concatenate([p[2] for p in post]), tfs),
        np.array([p[3] for p in post], dtype=np.uint8), shard_postings)
    cols = {c: v.to_numpy(zero_copy_only=False) if hasattr(v, "to_numpy") else v
            for c, v in rows.items()}
    cols["term"] = np.array([terms[i] for i in row_term], dtype=object)
    weights = defaultdict(lambda: np.float32(1.0))
    return _SegmentScorer(cols, weights, None, np.empty(0, np.int64), weights,
                          score_fn=lambda w, tfs, norms, cache: list(zip(tfs, norms)))


def _run(docs, shard_postings, q):
    got_docs, pairs = _scorer(docs, shard_postings).eval(q)
    return {int(d): (float(f), int(n)) for d, (f, n) in zip(got_docs, pairs)}


def _want(docs, freq_of):
    """{doc: (freq, norm)} of every doc where ``freq_of(term
    positions)`` is positive."""
    out = {}
    for d, (tp, norm) in docs.items():
        f = freq_of(tp)
        if f:
            out[d] = (float(f), norm)
    return out


def _exact_freq(slots):
    def freq(tp):
        sets = [set().union(*(tp.get(t, ()) for t in slot)) for slot in slots]
        return sum(all(p + i in s for i, s in enumerate(sets)) for p in sets[0])
    return freq


slot_terms = st.sampled_from(VOCAB + (ABSENT,))


@settings(max_examples=200, deadline=None)
@given(segments(), st.lists(st.sampled_from(VOCAB), min_size=1, max_size=4),
       st.lists(st.lists(slot_terms, min_size=1, max_size=3), min_size=1, max_size=3),
       st.integers(1, 3))
def test_phrase_freqs_match_reference(seg, phrase, slots, slop):
    docs, shard_postings = seg
    phrase, slots = tuple(phrase), tuple(tuple(s) for s in slots)
    assert _run(docs, shard_postings, PhraseQuery(phrase)) == \
        _want(docs, _exact_freq([(t,) for t in phrase]))
    assert _run(docs, shard_postings, MultiPhraseQuery(slots)) == \
        _want(docs, _exact_freq(slots))
    if len(phrase) > 1:
        assert _run(docs, shard_postings, PhraseQuery(phrase, slop=slop)) == _want(
            docs, lambda tp: all(t in tp for t in phrase) and sloppy_phrase_freq(
                [np.array(tp[t]) for t in phrase], slop))


@settings(max_examples=200, deadline=None)
@given(segments(), st.sampled_from(VOCAB), slot_terms, st.integers(0, 12),
       st.integers(0, 3), st.integers(0, 3),
       st.lists(slot_terms, min_size=1, max_size=4))
def test_span_freqs_match_reference(seg, term, exclude, end, pre, post, or_terms):
    docs, shard_postings = seg

    def span_not(tp):
        ex = tp.get(exclude, ())
        return sum(not any(p - pre <= e <= p + post for e in ex)
                   for p in tp.get(term, ()))

    assert _run(docs, shard_postings, SpanFirstQuery(term, end)) == \
        _want(docs, lambda tp: sum(p < end for p in tp.get(term, ())))
    assert _run(docs, shard_postings, SpanNotQuery(term, exclude, pre=pre, post=post)) == \
        _want(docs, span_not)
    # every clause's spans count, a repeated clause twice
    assert _run(docs, shard_postings, SpanOrQuery(tuple(or_terms))) == \
        _want(docs, lambda tp: sum(len(tp.get(t, ())) for t in or_terms))
