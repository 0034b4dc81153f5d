"""Pure-Python exhaustive Lucene-semantics oracle (SURVEY.md §5.2.1).

Stand-in for "Lucene's TopDocs" while the reference mount is empty
(SURVEY.md §0): an unpartitioned, unpruned, loop-based evaluation of
the same documented semantics — BM25 float32 path with SmallFloat lossy
norms, DisjunctionSumScorer clause summation order, PhraseQuery
summed-idf weighting and exact-adjacency matching, score-desc/doc-asc
tie-break (`[U] .../search/TopScoreDocCollector.java`, `HitQueue.java`).

The Spark engine (partitioned, salted, two-phase merged)
must reproduce this rank-identically; tests in tests/test_golden.py do
exactly that. The tokenizer and the float kernels are deliberately
shared with the engine (one implementation of the *semantics*), so the
golden tests isolate the *distributed machinery* as the thing under
test. Swap this module for real Lucene TopDocs if the reference mount
ever appears.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Sequence, Tuple

import numpy as np

from lucene_solr_spark.analysis import analyze, field_length
from lucene_solr_spark.functions.bm25 import (
    BM25Stats,
    norm_cache,
    term_weight,
)
from lucene_solr_spark.functions.smallfloat import byte4_to_int, int_to_byte4
from lucene_solr_spark.plans.query import (
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    MatchAllQuery,
    MultiTermQuery,
    PhraseQuery,
    Query,
    SpanFirstQuery,
    TermQuery,
    expand_multiterm,
    multiterm_predicate,
    parse_query,
)


@dataclass(frozen=True)
class TopDocs:
    total_hits: int
    score_docs: Tuple[Tuple[int, float], ...]  # (doc_id, float32 score), ranked


class OracleIndex:
    def __init__(self, docs: Sequence[Tuple[int, str]], analyzer: str = "standard",
                 classic_k1p1: bool = False):
        self.analyzer = analyzer
        self.classic_k1p1 = classic_k1p1
        self.postings: Dict[str, Dict[int, int]] = {}
        self.positions: Dict[str, Dict[int, List[int]]] = {}
        self.norm_bytes: Dict[int, int] = {}
        self.doc_ids: List[int] = []
        sum_dl = 0
        for doc_id, text in docs:
            toks = analyze(text, analyzer)
            self.doc_ids.append(doc_id)
            # norm discounts posIncr-0 overlaps (discountOverlaps=true);
            # sum_dl stays the emitted-token total (sumTotalTermFreq —
            # Lucene's avgFieldLength keeps overlaps, see field_length)
            self.norm_bytes[doc_id] = int_to_byte4(field_length(toks))
            sum_dl += len(toks)
            for t, pos in toks:
                self.postings.setdefault(t, {}).setdefault(doc_id, 0)
                self.postings[t][doc_id] += 1
                self.positions.setdefault(t, {}).setdefault(doc_id, []).append(pos)
        self.stats = BM25Stats(doc_count=len(self.doc_ids), sum_dl=sum_dl)
        self.cache = norm_cache(self.stats.avgdl)

    # ------------------------------------------------------------- scoring

    def _score_one(self, weight: np.float32, tf: int, doc_id: int) -> np.float32:
        tf32 = np.float32(tf)
        c = self.cache[self.norm_bytes[doc_id]]
        return (np.float32(weight) * tf32) / (tf32 + c)

    def _matches(self, q: Query) -> Dict[int, np.float32]:
        """doc_id -> float32 score for every matching doc (exhaustive)."""
        if isinstance(q, MatchAllQuery):
            return {d: np.float32(q.boost) for d in self.doc_ids}
        if isinstance(q, TermQuery):
            pl = self.postings.get(q.term, {})
            if not pl:
                return {}
            w = term_weight(len(pl), self.stats.doc_count, q.boost, self.classic_k1p1)
            return {d: self._score_one(w, tf, d) for d, tf in pl.items()}
        if isinstance(q, SpanFirstQuery):
            # tf = occurrences at position < end; FULL-df term weight
            pl = self.positions.get(q.term, {})
            full = self.postings.get(q.term, {})
            if not full:
                return {}
            w = term_weight(len(full), self.stats.doc_count, q.boost,
                            self.classic_k1p1)
            out = {}
            for d, ps in pl.items():
                tf = sum(1 for p in ps if p < q.end)
                if tf:
                    out[d] = self._score_one(w, tf, d)
            return out
        if isinstance(q, PhraseQuery):
            return self._phrase_matches(q)
        if isinstance(q, BooleanQuery):
            return self._bool_matches(q)
        if isinstance(q, ConstantScoreQuery):
            return {d: np.float32(q.boost) for d in self._matches(q.query)}
        if isinstance(q, DisjunctionMaxQuery):
            maps = [self._matches(c) for c in q.clauses]
            out: Dict[int, np.float32] = {}
            docs = set()
            for m in maps:
                docs |= set(m)
            for d in docs:
                total = np.float32(0.0)
                mx = np.float32(0.0)
                for m in maps:
                    v = m.get(d, np.float32(0.0))
                    total = np.float32(total + v)
                    mx = max(mx, v)
                out[d] = np.float32(mx + np.float32(q.tiebreak) * (total - mx))
            return out
        if isinstance(q, MultiTermQuery):
            pred = multiterm_predicate(q)
            terms = [t for t in self.postings if pred(t)]
            if q.kind == "fuzzy":
                return self._matches(expand_multiterm(q, terms))
            docs = set()
            for t in terms:
                docs |= set(self.postings[t])
            return {d: np.float32(q.boost) for d in docs}
        raise TypeError(f"unsupported query {q!r}")

    def _phrase_matches(self, q: PhraseQuery) -> Dict[int, np.float32]:
        # exact adjacency: positions of term_i must contain p0 + i
        # ([U] .../search/ExactPhraseMatcher.java); weight = boost * sum(idf)
        term_pls = [self.positions.get(t) for t in q.terms]
        if any(pl is None for pl in term_pls):
            return {}
        candidates = set(term_pls[0].keys())
        for pl in term_pls[1:]:
            candidates &= set(pl.keys())
        from lucene_solr_spark.functions.bm25 import K1, idf

        w = q.boost * sum(
            idf(len(self.postings[t]), self.stats.doc_count) for t in q.terms
        )
        if self.classic_k1p1:
            w *= K1 + 1.0
        w = np.float32(w)
        out: Dict[int, np.float32] = {}
        if q.slop > 0:
            from lucene_solr_spark.plans.query import sloppy_phrase_freq

            for d in candidates:
                freq = sloppy_phrase_freq([pl[d] for pl in term_pls], q.slop)
                if freq > 0:
                    out[d] = self._score_one(w, freq, d)
            return out
        for d in candidates:
            first = term_pls[0][d]
            freq = 0
            others = [set(pl[d]) for pl in term_pls[1:]]
            for p0 in first:
                if all((p0 + i + 1) in s for i, s in enumerate(others)):
                    freq += 1
            if freq > 0:
                out[d] = self._score_one(w, freq, d)
        return out

    def _bool_matches(self, q: BooleanQuery) -> Dict[int, np.float32]:
        # clause scores sum in clause order (should first, then must is
        # the convention both engine and oracle use; order is fixed by
        # the query object so both sides sum identically in float32)
        excluded = set()
        for c in q.must_not:
            excluded |= set(self._matches(c).keys())

        must_maps = [self._matches(c) for c in q.must]
        should_maps = [self._matches(c) for c in q.should]

        if q.must:
            allowed = set(must_maps[0].keys())
            for m in must_maps[1:]:
                allowed &= set(m.keys())
        elif q.should:
            allowed = set()
            for m in should_maps:
                allowed |= set(m.keys())
        else:
            return {}  # pure-negative boolean matches nothing (Lucene core)
        allowed -= excluded
        if q.min_should_match > 1 and should_maps:
            allowed = {
                d for d in allowed
                if sum(1 for m in should_maps if d in m) >= q.min_should_match
            }

        out: Dict[int, np.float32] = {}
        for d in allowed:
            acc = np.float32(0.0)
            for m in must_maps + should_maps:
                if d in m:
                    acc = np.float32(acc + m[d])
            out[d] = acc
        return out

    # ------------------------------------------------------------- search

    def search(self, query: str | Query, k: int = 10) -> TopDocs:
        q = parse_query(query, analyzer=self.analyzer) if isinstance(query, str) else query
        scored = self._matches(q)
        ranked = sorted(scored.items(), key=lambda it: (-it[1], it[0]))
        return TopDocs(
            total_hits=len(scored),
            score_docs=tuple((d, float(s)) for d, s in ranked[:k]),
        )

    # introspection helpers for invariants tests
    def doc_length(self, doc_id: int) -> int:
        return byte4_to_int(self.norm_bytes[doc_id])
