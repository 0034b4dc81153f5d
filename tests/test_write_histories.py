"""Random write histories on a driver-served index (Hypothesis
``RuleBasedStateMachine``): updates of 1-6 docs (each merged at commit
by the tiered policy), deletes, reopens and queries, in any order.
After every step a fresh reader's TopDocs and totals equal
``tests/oracle`` over every doc ever written (statistics stay
delete-blind: nothing purges) minus the tombstoned ones, and the
manifest's segment ranges, in doc_base order, do not overlap. A reader
opened earlier keeps answering for its own generation. At the end
``verify_index``, with the source of every written doc, is clean."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (RuleBasedStateMachine, initialize, invariant, rule,
                                 run_state_machine_as_test)

from lucene_solr_spark.operators.build import build_index, read_manifest, read_table
from lucene_solr_spark.operators.delete import delete_documents, update_documents
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.operators.verify import verify_index
from tests.oracle import OracleIndex

VOCAB = ["alpha", "beta", "gamma", "delta", "common"]
CHECKED = ["alpha", "beta OR zzrep", "alpha AND gamma", "common NOT delta",
           '"alpha beta"', "*:*"]
POOL = CHECKED + ['"gamma alpha"~1', "del*", "NOT beta", "gamma OR delta OR alpha"]
PATHS = [f"p{i}" for i in range(30)]
DOCS_PER_SEG = 8
BASE_DOCS = 80  # 10 segments: the first update makes a tier overflow
K = 7

texts = st.lists(st.sampled_from(VOCAB + ["zzrep"]), min_size=1, max_size=8).map(" ".join)


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    docs = pd.DataFrame({
        "doc_id": range(BASE_DOCS), "repo": "r",
        "path": [PATHS[i % len(PATHS)] if i < len(PATHS) else f"b{i}"
                 for i in range(BASE_DOCS)],
        "commit": "c", "lang": "en",
        "content": [" ".join(VOCAB[(i * j) % len(VOCAB)] for j in range(1, 2 + i % 6))
                    for i in range(BASE_DOCS)]})
    d = str(tmp_path_factory.mktemp("histories") / "base")
    build_index(spark, spark.createDataFrame(docs), d, docs_per_seg=DOCS_PER_SEG)
    return d, docs


class WriteHistories(RuleBasedStateMachine):
    def __init__(self, spark, base, root):
        super().__init__()
        self.spark, self.root = spark, root
        self.base_dir, self.base_docs = base

    @initialize()
    def copy_base(self):
        self.d = os.path.join(self.root, f"idx{id(self)}")
        shutil.copytree(self.base_dir, self.d)
        self.written = dict(zip(self.base_docs["doc_id"], self.base_docs["content"]))
        self.live_by_key = {("r", p): i for i, p in zip(self.base_docs["doc_id"],
                                                         self.base_docs["path"])}
        self.deleted = set()
        self._reopen()

    def _live(self):
        return set(self.written) - self.deleted

    def _reopen(self):
        self.reader = IndexReader(self.spark, self.d)
        self.reader_view = (OracleIndex(sorted(self.written.items())), self._live())

    @rule(paths=st.lists(st.sampled_from(PATHS + ["n0", "n1", "n2"]), min_size=1,
                         max_size=6, unique=True),
          contents=st.lists(texts, min_size=6, max_size=6))
    def update(self, paths, contents):
        rows = pd.DataFrame({"repo": "r", "path": paths, "commit": "c", "lang": "en",
                             "content": contents[:len(paths)]})
        before = set(read_table(None, self.d, "docmeta", read_manifest(self.d).seg_ids,
                                local=True, columns=["doc_id"])["doc_id"].to_pylist())
        update_documents(self.spark, self.d, self.spark.createDataFrame(rows))
        meta = read_table(None, self.d, "docmeta", read_manifest(self.d).seg_ids,
                          local=True, columns=["doc_id", "path"]).to_pandas()
        new = meta[~meta["doc_id"].isin(before)]
        assert sorted(new["path"]) == sorted(paths)
        for doc_id, path in zip(new["doc_id"], new["path"]):
            old = self.live_by_key.get(("r", path))
            if old is not None:
                self.deleted.add(old)
            self.written[int(doc_id)] = contents[paths.index(path)]
            self.live_by_key[("r", path)] = int(doc_id)

    @rule(data=st.data())
    def delete(self, data):
        live = sorted(self._live())
        ids = data.draw(st.lists(st.sampled_from(live), min_size=1, max_size=3))
        delete_documents(self.spark, self.d, ids + [10 ** 9])  # and an unknown id
        self.deleted |= set(ids)

    @rule()
    def reopen(self):
        self._reopen()

    @rule(q=st.sampled_from(POOL))
    def query(self, q):
        """The reader opened last answers for its generation."""
        oracle, live = self.reader_view
        assert self.reader.search_with_total(q, k=K) == _expected(oracle, live, q), q

    @invariant()
    def answers_and_ranges(self):
        if not hasattr(self, "d"):
            return
        m = read_manifest(self.d)
        segs = sorted(m.segments, key=lambda s: s["doc_base"])
        for a, b in zip(segs, segs[1:]):
            assert a["doc_hi"] <= b["doc_lo"], (a, b)
        fresh = IndexReader(self.spark, self.d)
        assert fresh._in_driver()
        oracle, live = OracleIndex(sorted(self.written.items())), self._live()
        for q in CHECKED:
            assert fresh.search_with_total(q, k=K) == _expected(oracle, live, q), q

    def teardown(self):
        if hasattr(self, "d"):
            source = pd.DataFrame({"doc_id": list(self.written),
                                   "content": list(self.written.values())})
            report = verify_index(self.spark, self.d,
                                  source=self.spark.createDataFrame(source))
            assert report["ok"], report["problems"]
            shutil.rmtree(self.d)


def _expected(oracle, live, q):
    """The oracle's ranking over every written doc, cut to the live ones:
    (TopDocs as the engine returns them, total)."""
    ranked = [(d, s) for d, s in oracle.search(q, k=10 ** 6).score_docs if d in live]
    return [(d, float(np.float32(s))) for d, s in ranked[:K]], len(ranked)


def test_random_write_histories(spark, base_index, tmp_path):
    run_state_machine_as_test(
        lambda: WriteHistories(spark, base_index, str(tmp_path)),
        settings=settings(max_examples=4, stateful_step_count=12, deadline=None,
                          derandomize=True, database=None,
                          suppress_health_check=list(HealthCheck)))
