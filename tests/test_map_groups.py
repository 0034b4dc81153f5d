"""build.map_groups, the one grouped-kernel shape of build, query, merge
and verify: groups are cut where a key changes, never at an Arrow batch
boundary."""

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.operators.build import build_index, map_groups
from lucene_solr_spark.operators.delete import delete_documents
from lucene_solr_spark.operators.merge import expunge_deletes, merge_segments
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.operators.verify import verify_index
from lucene_solr_spark.sources import load_source_table
from tests.oracle import OracleIndex
from tests.test_build_search import QUERIES

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextlib.contextmanager
def _two_row_batches(spark):
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "2")
    try:
        yield
    finally:
        spark.conf.set(BATCH_CONF, old)


def test_map_groups_cuts_at_key_changes_not_batches(spark):
    """A one-row group, a group over four 2-row batches, two groups that
    share their first key, empty partitions (3 keys over 8 partitions)
    and an ``fn`` that returns nothing; ``fn``'s int64 output is typed
    to the declared int field."""
    rows = ([(0, "a", 0)] + [(1, "a", v) for v in (6, 2, 0, 5, 1, 4, 3)]
            + [(1, "b", 1), (1, "b", 0), (2, "a", 0)])
    df = spark.createDataFrame(rows, "g int, h string, v int").repartition(8, "g")

    def fn(tbl):
        g = tbl.column("g").to_numpy()
        if g[0] == 2:
            return None
        return {"g": g[:1].astype(np.int64), "h": tbl.column("h").to_pylist()[:1],
                "vals": [tbl.column("v").to_pylist()]}

    def batch_sizes(batches):
        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})

    with _two_row_batches(spark):
        sizes = [r["n"] for r in df.mapInArrow(batch_sizes, "n long").collect()]
        assert max(sizes) == 2
        out = map_groups(df, ["g", "h"], fn, "g int, h string, vals array<int>",
                         order_by=["v"]).collect()
    got = sorted((r["g"], r["h"], r["vals"]) for r in out)
    assert got == [(0, "a", [0]), (1, "a", list(range(7))), (1, "b", [0, 1])]


def test_write_path_at_two_row_batches(spark, sf_dir, tmp_path):
    """Build, merge, delete, expunge and verify with 2-row Arrow batches:
    every segment, merge group and verify group spans many batches. The
    index stays verify-clean and rank-identical to the oracle over the
    live docs."""
    corpus = load_source_table(spark, sf_dir).cache()
    d = str(tmp_path / "idx")
    victims = [3, 70, 200, 300, 450]
    with _two_row_batches(spark):
        m = build_index(spark, corpus, d, docs_per_seg=128)
        merge_segments(spark, d, m.seg_ids[:2])
        delete_documents(spark, d, victims)
        m = expunge_deletes(spark, d)
        assert sum(s.get("purged", False) for s in m.segments) == 3
        live = corpus.filter(~F.col("doc_id").isin(victims))
        rep = verify_index(spark, d, source=live)
        assert rep["ok"], rep["problems"]
        rdr = IndexReader(spark, d)
        oracle = OracleIndex(sorted(
            (r["doc_id"], r["content"])
            for r in live.select("doc_id", "content").collect()))
        for q in QUERIES:
            expected = oracle.search(q, k=10)
            got, total = rdr.search_with_total(q, k=10)
            assert [(i, np.float32(s)) for i, s in got] == \
                [(i, np.float32(s)) for i, s in expected.score_docs], q
            assert total == expected.total_hits, q


@pytest.fixture(autouse=True)
def _batch_conf_restored(spark):
    before = spark.conf.get(BATCH_CONF)
    yield
    assert spark.conf.get(BATCH_CONF) == before
