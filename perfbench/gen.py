"""Seeded, deterministic inputs for the benchmark workloads.

Everything the benchmark feeds the engine besides the corpus (which
``sources.synth_repo_files`` makes from the same seed) comes from here:
the query pool and stream of ``search`` and ``churn``, and the churn
plan of which documents are replaced or deleted in which cycle. Pure
Python/numpy, so the unit tests run without Spark.
"""

from __future__ import annotations

import itertools
from typing import Dict, Iterator, List, Tuple

import numpy as np

#: the synthetic corpus' Zipf head: the keywords ``sources.synth_rows``
#: draws most often (rank order = popularity order)
HEAD_TERMS = (
    "def", "class", "return", "import", "public", "static", "void", "val",
    "var", "for", "while", "if", "else", "try", "catch", "lambda", "spark",
    "index", "merge", "query", "token", "score", "segment", "posting",
)
#: the corpus' Zipf tail: ident_0000 .. ident_4975
N_IDENTS = 4976

#: the stream visits the shapes round-robin, so every seed runs the same
#: shape mix; per-shape latency is reported under the category name
SHAPES = ("term", "or", "and", "phrase", "multiterm")
CATEGORY = {"term": "term", "or": "boolean", "and": "boolean",
            "phrase": "phrase", "multiterm": "multiterm"}
#: distinct queries per shape, and the Zipf exponent of their popularity
PER_SHAPE = 8
POPULARITY = 1.1
#: churn cycle: docs replaced; every CHURN_DELETE_EVERY-th cycle also
#: deletes CHURN_PER_DELETE docs
CHURN_PER_CYCLE = 4
CHURN_DELETE_EVERY = 3
CHURN_PER_DELETE = 2


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


class _Draw:
    """Term draws for one pool: head terms and the query shapes come
    from a FIXED generator, so every seed runs the same shapes over the
    same popular terms (the corpus' Zipf head is the same for every
    seed); the tail identifiers and patterns come from the seed."""

    def __init__(self, seed: int, salt: int) -> None:
        self.fixed = np.random.default_rng(salt)
        self.rng = np.random.default_rng([seed, 1, salt])

    def head(self) -> str:
        return HEAD_TERMS[int(self.fixed.choice(
            len(HEAD_TERMS), p=zipf_weights(len(HEAD_TERMS), 1.0)))]

    def tail(self) -> str:
        return f"ident_{int(self.rng.integers(N_IDENTS)):04d}"

    def word(self, head: bool) -> str:
        return self.head() if head else self.tail()


def _make(shape: str, rank: int, draw: _Draw) -> str:
    """The query of popularity ``rank`` for ``shape``: which kinds of
    terms it combines depends on the rank only."""
    head = rank % 2 == 0
    if shape == "term":
        return draw.word(head)
    if shape == "or":
        return f"{draw.word(head)} OR {draw.word(not head)}"
    if shape == "and":
        # one head term keeps most conjunctions non-empty
        return f"{draw.head()} AND {draw.word(head)}"
    if shape == "phrase":
        return f'"{draw.head()} {draw.head()}"'
    kind = rank % 3
    if kind == 0:
        return f"ident_{int(draw.rng.integers(50)):02d}*"
    if kind == 1:
        d = draw.rng.integers(10, size=2)
        return f"ident_{int(draw.rng.integers(5))}{d[0]}?{d[1]}"
    # a head term at edit distance 1 expands to a few terms, under
    # max_expansions (50), so the exhaustive oracle and the engine
    # expand the same terms
    return f"{draw.head()}~1"


def query_pool(seed: int, salt: int = 0) -> Dict[str, List[str]]:
    """``PER_SHAPE`` distinct query strings per shape, from ``seed``.
    Another ``salt`` gives another pool (the warm-up's)."""
    draw = _Draw(seed, salt)
    pool: Dict[str, List[str]] = {}
    for shape in SHAPES:
        got: List[str] = []
        while len(got) < PER_SHAPE:
            q = _make(shape, len(got), draw)
            if q not in got:
                got.append(q)
        pool[shape] = got
    return pool


def query_stream(seed: int, salt: int = 0) -> Iterator[Tuple[str, str]]:
    """Endless ``(category, query)`` stream over ``query_pool(seed)``.

    Within each shape, queries repeat with Zipf(``POPULARITY``)
    popularity, so the reader's stats cache sees both hits and misses.
    The popularity draw uses a FIXED generator: the repeat pattern, and
    so the hit/miss sequence, is the same for every seed, while the
    query strings are the seed's."""
    pool = query_pool(seed, salt)
    ranks = np.random.default_rng(salt)
    w = zipf_weights(PER_SHAPE, POPULARITY)
    for i in itertools.count():
        shape = SHAPES[i % len(SHAPES)]
        yield CATEGORY[shape], pool[shape][int(ranks.choice(PER_SHAPE, p=w))]


def churn_plan(seed: int, n_docs: int, cycles: int) -> List[Tuple[List[int], List[int]]]:
    """Per cycle ``(doc_ids to replace, doc_ids to delete)``. Every id
    is touched at most once, so each replacement's marker stays live."""
    perm = np.random.default_rng([seed, 2]).permutation(n_docs)
    plan, o = [], 0
    for c in range(cycles):
        n_del = CHURN_PER_DELETE if c % CHURN_DELETE_EVERY == CHURN_DELETE_EVERY - 1 else 0
        end = o + CHURN_PER_CYCLE
        if end + n_del > n_docs:
            break
        upd = [int(x) for x in perm[o:end]]
        dels = [int(x) for x in perm[end:end + n_del]]
        o = end + n_del
        plan.append((upd, dels))
    return plan


def marker(seed: int, cycle: int, j: int) -> str:
    """A token no generated document contains (one standard token)."""
    return f"churnmark{seed}c{cycle}d{j}"
