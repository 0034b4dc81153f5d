"""Frozen golden-TopDocs suite (FIXTURES.md §2-3, SURVEY.md §5.2.3).

Two independent pins:
1. oracle == frozen JSON — catches unintended semantic drift in the
   shared tokenizer/float kernels (they were frozen by
   tools/gen_golden.py at fixture-generation time);
2. Spark engine == frozen JSON — rank-identity of the distributed
   (partitioned, sharded, two-phase-merged) engine.
"""

import json
import os

import numpy as np
import pytest

from lucene_solr_spark.operators.build import build_index
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.sources import assign_doc_ids, synth_corpus_local, synth_repo_files
from tests.oracle import OracleIndex

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

with open(os.path.join(FIXDIR, "queries.json")) as fh:
    _Q = json.load(fh)
with open(os.path.join(FIXDIR, "golden_topdocs.json")) as fh:
    _GOLD = {(g["query_id"], g["k"]): g for g in json.load(fh)}

QUERIES = {q["query_id"]: q for q in _Q["queries"]}
FULL_SWEEP = {1, 2, 12, 13, 24, 28, 32, 36, 38}  # all ks; k=10 for the rest


def _golden_pairs(qid, k):
    g = _GOLD[(qid, k)]
    return [(d, np.float32(s)) for d, s in g["score_docs"]], g["total_hits"]


def test_oracle_matches_frozen_golden():
    corpus = synth_corpus_local(_Q["n_docs"], _Q["seed"])
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["content"])))
    for q in QUERIES.values():
        for k in q["k"]:
            td = oracle.search(q["text"], k=k)
            exp_docs, exp_total = _golden_pairs(q["query_id"], k)
            got = [(d, np.float32(s)) for d, s in td.score_docs]
            assert got == exp_docs, f"oracle drift q{q['query_id']} k={k}"
            assert td.total_hits == exp_total


@pytest.fixture(scope="module")
def golden_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("golden_idx"))
    src = assign_doc_ids(synth_repo_files(spark, _Q["n_docs"], _Q["seed"]))
    build_index(spark, src, d, docs_per_seg=256)
    return IndexReader(spark, d)


def test_spark_corpus_equals_local_corpus(spark):
    """The Spark generator + distributed doc_id rank reproduce the pure
    Python fixture corpus byte-for-byte."""
    local = synth_corpus_local(_Q["n_docs"], _Q["seed"])
    dist = assign_doc_ids(synth_repo_files(spark, _Q["n_docs"], _Q["seed"]))
    rows = {r["doc_id"]: (r["repo"], r["path"], r["commit"], r["content"])
            for r in dist.collect()}
    assert len(rows) == len(local)
    for rec in local.itertuples():
        assert rows[rec.doc_id] == (rec.repo, rec.path, rec.commit, rec.content)


def test_engine_matches_frozen_golden(golden_index):
    n_checked = 0
    for q in QUERIES.values():
        ks = q["k"] if q["query_id"] in FULL_SWEEP else [10]
        for k in ks:
            got_docs, got_total = golden_index.search_with_total(q["text"], k=k)
            exp_docs, exp_total = _golden_pairs(q["query_id"], k)
            got = [(d, np.float32(s)) for d, s in got_docs]
            assert got == exp_docs, (
                f"engine mismatch q{q['query_id']} ({q['text'][:40]!r}) k={k}\n"
                f" engine={got[:4]}\n golden={exp_docs[:4]}"
            )
            assert got_total == exp_total, f"total_hits q{q['query_id']} k={k}"
            n_checked += 1
    assert n_checked == (len(QUERIES) - len(FULL_SWEEP)) + 3 * len(FULL_SWEEP)
