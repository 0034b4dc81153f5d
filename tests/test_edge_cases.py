"""Edge cases: empty/degenerate corpora, stopword-only docs, duplicate
content, resume after merge."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lucene_solr_spark.operators.build import build_index, read_manifest
from lucene_solr_spark.operators.merge import merge_segments
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.operators.verify import verify_index

SCHEMA = "doc_id long, repo string, path string, commit string, lang string, content string"


def _mkdocs(spark, texts, base=0):
    rows = [
        Row(doc_id=base + i, repo="r", path=f"p/{base + i}", commit="c",
            lang="txt", content=t)
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_single_doc_index(spark, tmp_path):
    d = str(tmp_path / "idx")
    m = build_index(spark, _mkdocs(spark, ["hello world hello"]), d)
    assert m.doc_count == 1 and m.sum_dl == 3
    idx = IndexReader(spark, d)
    got, total = idx.search_with_total("hello", k=5)
    assert total == 1 and got[0][0] == 0
    assert idx.search_with_total("absent", k=5) == ([], 0)


def test_empty_and_whitespace_docs(spark, tmp_path):
    d = str(tmp_path / "idx")
    m = build_index(spark, _mkdocs(spark, ["", "   \n\t  ", "real tokens here"]), d)
    assert m.doc_count == 3
    idx = IndexReader(spark, d)
    assert idx.search_with_total("tokens", k=5)[1] == 1
    # empty docs still have docmeta rows (dl=0) and pass CheckIndex
    assert idx.docmeta.filter(F.col("dl") == 0).count() == 2
    assert verify_index(spark, d)["ok"]


def test_all_stopword_docs_with_stop_analyzer(spark, tmp_path):
    d = str(tmp_path / "idx")
    m = build_index(
        spark, _mkdocs(spark, ["the and of to", "a an it", "quick fox"]),
        d, analyzer="standard_stop",
    )
    assert m.doc_count == 3
    assert m.sum_dl == 2  # only 'quick fox' survives
    idx = IndexReader(spark, d)
    assert idx.search_with_total("quick", k=5)[1] == 1
    assert idx.search_with_total("the", k=5)[1] == 0


def test_identical_docs_tie_break(spark, tmp_path):
    """Identical content -> identical scores; ranking must fall back to
    doc_id asc deterministically."""
    d = str(tmp_path / "idx")
    build_index(spark, _mkdocs(spark, ["same text alpha"] * 5 + ["other body"]), d,
                docs_per_seg=2)
    idx = IndexReader(spark, d)
    got, total = idx.search_with_total("alpha", k=10)
    assert total == 5
    assert [g[0] for g in got] == [0, 1, 2, 3, 4]
    assert len({round(g[1], 6) for g in got}) == 1


def test_resume_after_merge(spark, sf_dir, tmp_path):
    """New docs appended AFTER a merge land in fresh segments and the
    merged segment is untouched."""
    from lucene_solr_spark.sources import load_source_table

    corpus = load_source_table(spark, sf_dir)
    d = str(tmp_path / "idx")
    first = corpus.filter(F.col("doc_id") < 256)
    build_index(spark, first, d, docs_per_seg=64)
    m1 = merge_segments(spark, d, read_manifest(d).seg_ids)
    assert len(m1.seg_ids) == 1

    m2 = build_index(spark, corpus, d, docs_per_seg=64)
    assert set(m1.seg_ids) <= set(m2.seg_ids)
    assert m2.doc_count == corpus.count()

    fresh = str(tmp_path / "fresh")
    build_index(spark, corpus, fresh, docs_per_seg=64)
    r1, r2 = IndexReader(spark, d), IndexReader(spark, fresh)
    for q in ["spark OR merge", "hash AND join", '"batch batch"']:
        assert r1.search_with_total(q, k=20) == r2.search_with_total(q, k=20)


def test_query_of_only_unknown_terms(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, _mkdocs(spark, ["alpha beta", "gamma delta"]), d)
    idx = IndexReader(spark, d)
    assert idx.search_with_total("nope AND missing", k=5) == ([], 0)
    assert idx.search_with_total("zz* OR qq*", k=5) == ([], 0)


def test_merge_refuses_non_adjacent_segments(spark, tmp_path):
    """A merged segment keeps one (doc_base, n_docs) range and orders a
    term's rows by source doc_base, so a merge group must be a
    doc_base-adjacent run; segments with another segment's docs between
    them are refused and the index is left as it was."""
    d = str(tmp_path / "idx")
    m = build_index(spark, _mkdocs(spark, [f"doc {i} text" for i in range(6)]), d,
                    docs_per_seg=2)
    assert m.seg_ids == [0, 1, 2]
    with pytest.raises(ValueError, match="not doc_base-adjacent"):
        merge_segments(spark, d, [0, 2])
    assert read_manifest(d).gen == m.gen
    assert verify_index(spark, d)["ok"]


def test_reader_refuses_other_index_format(spark, tmp_path):
    """Every manifest records the postings format; an index written in
    another format (a v4 manifest has no ``format`` field) is refused,
    not decoded with the wrong delta-reset rule."""
    import json
    import os

    from lucene_solr_spark.operators.build import INDEX_FORMAT, manifest_dir

    d = str(tmp_path / "idx")
    build_index(spark, _mkdocs(spark, ["alpha beta"]), d)
    f = os.path.join(manifest_dir(d), "gen-000001.json")
    with open(f) as fh:
        doc = json.load(fh)
    assert doc["format"] == INDEX_FORMAT
    del doc["format"]
    with open(f, "w") as fh:
        json.dump(doc, fh)
    with pytest.raises(ValueError, match="index format 4"):
        IndexReader(spark, d)
