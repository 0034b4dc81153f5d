"""One kernel call per driver-path query (operators/search.py
``_kernel_once``): an index served from the driver is scored by ONE
call over every segment's posting rows, sorted by (term, source
doc_base, shard), and answers exactly as the Spark path's one call per
segment, on an index of many segments of every kind."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.operators import search as search_mod
from lucene_solr_spark.operators.build import build_index, read_manifest, read_table
from lucene_solr_spark.operators.delete import delete_documents, update_documents
from lucene_solr_spark.operators.merge import merge_segments
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.operators.verify import verify_index
from lucene_solr_spark.plans.query import (ConstantScoreQuery, DisjunctionMaxQuery,
                                           MultiPhraseQuery, SpanFirstQuery,
                                           SpanNotQuery, SpanOrQuery, TermQuery)

VOCAB = ["alpha", "beta", "gamma", "delta", "omega", "common"]
QUERIES = [
    "alpha", "alpha OR beta OR zzrep", "alpha AND beta", "common NOT gamma",
    "NOT alpha", '"alpha beta"', '"alpha gamma"~2', '"beta beta"',
    MultiPhraseQuery((("alpha", "zzrep"), ("beta", "gamma"))),
    SpanFirstQuery("beta", 2), SpanOrQuery(("alpha", "delta", "alpha")),
    SpanNotQuery("alpha", "beta", pre=1, post=1),
    DisjunctionMaxQuery((TermQuery("alpha"), TermQuery("beta")), tiebreak=0.1),
    "alp*", "?eta", "gamna~1", "*:*", ConstantScoreQuery(TermQuery("delta"), boost=2.0),
]


def _content(rng, extra=""):
    return " ".join([*rng.choice(VOCAB, size=rng.randint(3, 10)), extra]).strip()


def _rows(paths, rng, extra):
    return pd.DataFrame({"repo": "r", "path": paths, "commit": "c", "lang": "en",
                         "content": [_content(rng, extra) for _ in paths]})


@pytest.fixture(scope="module")
def many_segments(spark, tmp_path_factory):
    """25 segments: 20 built ones of 2 docs, update segments written on
    Spark (where nothing merges), two of which were merged into one
    holding non-contiguous ids, and tombstones from the updates and a
    delete."""
    rng = np.random.RandomState(16)
    d = str(tmp_path_factory.mktemp("one_call") / "idx")
    base = _rows([f"p{i}" for i in range(40)], rng, "")
    base.insert(0, "doc_id", range(40))
    build_index(spark, spark.createDataFrame(base), d, docs_per_seg=2)
    mp = pytest.MonkeyPatch()
    mp.setattr(search_mod, "ONE_TASK_MAX_BYTES", 0)
    try:
        for step in range(3):
            update_documents(spark, d, spark.createDataFrame(_rows(
                [f"p{step}", f"p{step + 10}", f"new{step}"], rng, f"zzrep step{step}")))
    finally:
        mp.undo()
    m = read_manifest(d)
    updates = sorted((s for s in m.segments if s["doc_base"] >= 40),
                     key=lambda s: s["doc_base"])
    merge_segments(spark, d, [s["seg"] for s in updates[1:3]])
    delete_documents(spark, d, [5, 17, 33])
    m = read_manifest(d)
    assert len(m.segments) >= 15
    merged = next(s for s in m.segments if s["source"].startswith("merge("))
    ids = np.sort(read_table(None, d, "docmeta", [merged["seg"]], local=True,
                             columns=["doc_id"])["doc_id"].to_numpy())
    assert (np.diff(ids) > 1).any()  # non-contiguous ids
    assert verify_index(spark, d)["ok"]
    return d


def test_driver_path_equals_spark_path(spark, many_segments, monkeypatch):
    """Every query shape gives the same TopDocs and totals, and
    ``score_all`` the same scores, on the driver path (one call) and
    on the Spark path (one call per segment)."""
    idx = IndexReader(spark, many_segments)
    assert idx._in_driver()
    driver = {repr(q): idx.search_with_total(q, k=3) for q in QUERIES}
    driver_all = {repr(q): sorted(map(tuple, idx.score_all(q).collect())) for q in QUERIES}
    assert driver[repr("*:*")][1] == 40 + 9 - 6 - 3  # live docs
    assert all(total for _, total in driver.values())
    monkeypatch.setattr(search_mod, "ONE_TASK_MAX_BYTES", 0)
    assert not idx._in_driver()
    for q in QUERIES:
        assert idx.search_with_total(q, k=3) == driver[repr(q)], q
        assert sorted(map(tuple, idx.score_all(q).collect())) == driver_all[repr(q)], q


def test_one_kernel_call_per_driver_query(spark, many_segments, monkeypatch):
    """A driver-path query calls the query kernel exactly once, however
    many segments the index has."""
    calls = []
    make = search_mod.make_query_kernel

    def counting(*args, **kwargs):
        kernel = make(*args, **kwargs)

        def counted(tbl):
            calls.append(tbl.num_rows)
            return kernel(tbl)

        return counted

    monkeypatch.setattr(search_mod, "make_query_kernel", counting)
    idx = IndexReader(spark, many_segments)
    assert idx._in_driver() and len(idx.manifest.segments) >= 15
    for q in QUERIES:
        calls.clear()
        idx.search(q, k=5).collect()
        assert len(calls) == 1, q
        calls.clear()
        idx.search_with_total(q, k=5)
        assert len(calls) == 1, q
