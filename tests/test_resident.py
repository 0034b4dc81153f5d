"""Resident segment files (operators/build.py ``_ResidentFiles``): a
local read (``read_table(local=True)``) filters segment files that the
process decoded once and keeps by file identity. These tests pin that
such a read returns what a fresh parquet read returns, that a rewritten
or rebuilt file is never served stale, that a reopen decodes only the
segments it has not seen, and that the resident bytes stay bounded."""

import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pytest

from lucene_solr_spark.operators import build as build_mod
from lucene_solr_spark.operators import search as search_mod
from lucene_solr_spark.operators.build import (arrow_schema, build_index, commit_manifest,
                                               read_manifest, read_table)
from lucene_solr_spark.operators.delete import update_documents
from lucene_solr_spark.operators.merge import merge_at_commit, merge_many, plan_merges
from lucene_solr_spark.operators.search import IndexReader
from tests.test_driver_writes import QUERIES, _base, _rows

TERM = pc.field("term")
PATH = pc.field("path")
#: per table: term IN, prefix, range, fuzzy length band, and no filter
FILTERS = {
    "postings": [search_mod._term_cond(["doc3", "common", "even", "absent"], True),
                 pc.starts_with(TERM, pattern="doc1"),
                 (TERM >= "doc2") & (TERM < "doc3"),
                 (pc.utf8_length(TERM) >= 3) & (pc.utf8_length(TERM) <= 5),
                 None],
    "docmeta": [PATH.isin(["p3", "p17", "p40", "absent"]),
                pc.starts_with(PATH, pattern="p1"),
                (PATH >= "p2") & (PATH < "p3"),
                (pc.utf8_length(PATH) >= 1) & (pc.utf8_length(PATH) <= 2),
                None],
}
COLUMNS = {"postings": [None, ["seg", "term", "shard", "df", "docs"], ["df"]],
           "docmeta": [None, ["seg", "doc_id"], ["doc_id", "path"]]}


def _dataset_read(index_dir, table, segs, columns, where):
    """A fresh ``pyarrow.dataset`` read of the committed files of
    ``segs``: Spark's listing, the declared schema, hive partitioning by
    ``seg``, the filter pushed into the scan."""
    _, declared = arrow_schema(build_mod._TABLE_SCHEMAS[table])
    seg = declared.field("seg")
    schema = pa.schema([f for f in declared if f.name != "seg"] + [seg])
    base = os.path.join(index_dir, table)
    files = [os.path.join(base, f"seg={s}", f) for s in segs
             if os.path.isdir(os.path.join(base, f"seg={s}"))
             for f in sorted(os.listdir(os.path.join(base, f"seg={s}")))
             if f.endswith(".parquet") and f[0] not in "._"]
    return ds.dataset(files, schema=schema, format="parquet",
                      partitioning=ds.partitioning(pa.schema([seg]), flavor="hive"),
                      partition_base_dir=base).to_table(columns=columns, filter=where)


def _cold_top_docs(spark, d):
    """``_top_docs`` with the resident files dropped before every query."""
    out = {}
    for q in QUERIES:
        build_mod._RESIDENT.clear()
        out[q] = IndexReader(spark, d).search_with_total(q, k=50)
    return out


def _top_docs(spark, d):
    rdr = IndexReader(spark, d)
    return {q: rdr.search_with_total(q, k=50) for q in QUERIES}


@pytest.fixture
def opened_files(monkeypatch):
    """The parquet files pyarrow opens from now on (every local read
    decodes a file through ``pyarrow.dataset.dataset``)."""
    opened, dataset = [], ds.dataset

    def recording(source, *args, **kw):
        opened.extend([source] if isinstance(source, str) else source)
        return dataset(source, *args, **kw)

    monkeypatch.setattr(ds, "dataset", recording)
    return opened


def _seg_files(d, segs):
    return {os.path.join(d, table, f"seg={s}", f) for table in ("postings", "docmeta")
            for s in segs if os.path.isdir(os.path.join(d, table, f"seg={s}"))
            for f in os.listdir(os.path.join(d, table, f"seg={s}")) if f.endswith(".parquet")}


@pytest.fixture(scope="module")
def three_writers(spark, tmp_path_factory):
    """Three indexes over the same 50 docs, whose segments were written
    by the build (25 segments), by a ``merge_many`` wave and by
    ``merge_at_commit`` (the policy's two groups of 10: 7 segments)."""
    root = tmp_path_factory.mktemp("writers")
    built = str(root / "built")
    build_index(spark, spark.createDataFrame(_base(50)), built, docs_per_seg=2)
    m = read_manifest(built)
    groups = plan_merges(m)
    assert [len(g) for g in groups] == [10, 10]
    spark_merged, driver_merged = str(root / "merge_many"), str(root / "merge_at_commit")
    for d in (spark_merged, driver_merged):
        shutil.copytree(built, d)
    merge_many(spark, spark_merged, groups)
    commit_manifest(driver_merged, merge_at_commit(driver_merged, m.next()))
    return {"build": built, "merge_many": spark_merged, "merge_at_commit": driver_merged}


@pytest.mark.parametrize("writer", ["build", "merge_many", "merge_at_commit"])
@pytest.mark.parametrize("table", ["postings", "docmeta"])
def test_resident_read_equals_dataset_read(three_writers, writer, table):
    """Columns, types and row order of a resident read equal a fresh
    dataset read, for every filter shape a query uses, on a cold and
    on a warm cache."""
    d = three_writers[writer]
    segs = read_manifest(d).seg_ids
    assert len(segs) == (25 if writer == "build" else 7)
    build_mod._RESIDENT.clear()
    for where in FILTERS[table]:
        for columns in COLUMNS[table]:
            want = _dataset_read(d, table, segs, columns, where)
            for warm in (False, True):
                got = read_table(None, d, table, segs, local=True,
                                 columns=columns, where=where)
                assert got.schema == want.schema, (writer, where, columns)
                assert got.equals(want), (writer, where, columns, warm)
    # a subset of the segments, out of id order: the file order follows segs
    sub = segs[::-3]
    assert read_table(None, d, table, sub, local=True).equals(
        _dataset_read(d, table, sub, None, None))
    assert read_table(None, d, table, [], local=True).equals(
        _dataset_read(d, table, [], None, None))


def test_rebuilt_index_is_not_served_stale(spark, tmp_path):
    """An index removed and rebuilt at the same path, with other docs
    but the same segment ids and file names, is read afresh."""
    d = str(tmp_path / "idx")

    def docs(word):
        return spark.createDataFrame(_base(12).assign(
            content=[f"{word}{i} common" for i in range(12)]))

    build_index(spark, docs("alpha"), d, docs_per_seg=4)
    before = _seg_files(d, read_manifest(d).seg_ids)
    old = IndexReader(spark, d)
    assert old.search_with_total("alpha3", k=5)[1] == 1
    assert old.search_with_total("*:*", k=5)[1] == 12
    shutil.rmtree(d)
    build_index(spark, docs("bravo"), d, docs_per_seg=4)
    assert _seg_files(d, read_manifest(d).seg_ids) == before
    new = IndexReader(spark, d)
    assert new.search_with_total("alpha3", k=5) == ([], 0)
    assert new.search_with_total("bravo3", k=5)[1] == 1
    assert new.search_with_total("common", k=20)[1] == 12
    assert _top_docs(spark, d) == _cold_top_docs(spark, d)


def test_reopen_after_merging_updates_matches_cold_reads(spark, tmp_path):
    """Driver updates that merge at commit, each followed by a reopen:
    the TopDocs equal those of a twin reader whose resident files were
    dropped before every query."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_base()), d, docs_per_seg=2)
    assert len(read_manifest(d).segments) == 10
    merged = 0
    for i in range(5):
        warm = _top_docs(spark, d)  # resident files of this generation
        update_documents(spark, d, spark.createDataFrame(_rows([
            ("r", f"p{2 * i}", "c", "en", f"zzrep four update{i}"),
            ("r", f"p{2 * i + 1}", "c", "en", f"common zzrep {i}")])))
        m = read_manifest(d)
        merged += any(s["source"].startswith("merge") for s in m.segments)
        got = _top_docs(spark, d)
        assert got == _cold_top_docs(spark, d), i
        assert got != warm, i
    assert merged and len(read_manifest(d).segments) <= 10


def test_second_query_opens_no_file(spark, tmp_path, opened_files):
    """Every file is decoded once: a second query on the same reader,
    and a new reader of the same files, open no parquet file."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_base()), d, docs_per_seg=4)
    build_mod._RESIDENT.clear()
    rdr = IndexReader(spark, d)
    rdr.search_with_total("common OR doc3", k=10)
    rdr.search_with_total("*:*", k=10)
    assert set(opened_files) == _seg_files(d, rdr.manifest.seg_ids)
    opened_files.clear()
    rdr.search("doc1* OR \"common words\"", k=10).collect()
    assert rdr.search_with_total("*:*", k=10)[1] == 20
    IndexReader(spark, d).search_with_total("odd~1 AND common", k=10)
    assert opened_files == []


def test_reopen_decodes_only_new_and_merged_segments(spark, tmp_path, opened_files):
    """After an update that merges at commit, the reopened reader's
    queries decode the files of the segments the old generation did
    not list, and no other file."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_base()), d, docs_per_seg=2)
    build_mod._RESIDENT.clear()
    old = read_manifest(d)
    _top_docs(spark, d)
    update_documents(spark, d, spark.createDataFrame(_rows([
        ("r", "p3", "c", "en", "zzrep three"), ("r", "p9", "c", "en", "zzrep nine")])))
    new = read_manifest(d)
    fresh = set(new.seg_ids) - set(old.seg_ids)
    assert fresh and any(s["source"].startswith("merge") for s in new.segments)
    opened_files.clear()
    _top_docs(spark, d)
    assert set(opened_files) == _seg_files(d, fresh)
    assert len(opened_files) == len(set(opened_files))


def test_resident_bytes_stay_bounded(spark, tmp_path, monkeypatch):
    """Opening many indexes evicts the least recently read files: the
    resident bytes never exceed RESIDENT_MAX_BYTES, and every index
    still answers as its first copy does."""
    src = str(tmp_path / "src")
    build_index(spark, spark.createDataFrame(_base()), src, docs_per_seg=4)
    build_mod._RESIDENT.clear()
    want = _top_docs(spark, src)
    one_index = build_mod._RESIDENT.nbytes
    bound = int(2.5 * one_index)
    monkeypatch.setattr(search_mod, "RESIDENT_MAX_BYTES", bound)
    for i in range(6):
        d = shutil.copytree(src, str(tmp_path / f"copy{i}"))
        assert _top_docs(spark, d) == want, i
        assert one_index <= build_mod._RESIDENT.nbytes <= bound, i
    build_mod._RESIDENT.clear()


def test_threads_query_one_reader(spark, tmp_path, monkeypatch):
    """Threads querying one reader (more threads than cores, switching
    often, under a bound that makes them evict each other's files, while
    another thread keeps dropping half the segments as a commit drops
    unlisted ones) get the results one thread gets, and the resident
    byte count stays the sum of the resident tables: no insert or
    eviction is lost."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_base(40)), d, docs_per_seg=4)
    queries = QUERIES * 3
    build_mod._RESIDENT.clear()
    want = [IndexReader(spark, d).search_with_total(q, k=50) for q in queries]
    monkeypatch.setattr(search_mod, "RESIDENT_MAX_BYTES", build_mod._RESIDENT.nbytes // 2)
    build_mod._RESIDENT.clear()
    n = (os.cpu_count() or 1) + 2
    rdr, start = IndexReader(spark, d), threading.Barrier(n)

    def run(shift):
        start.wait(timeout=60)
        order = [(i + shift) % len(queries) for i in range(len(queries))]
        return {i: rdr.search_with_total(queries[i], k=50) for i in order}

    stop = threading.Event()

    def drop():
        while not stop.is_set():
            build_mod._RESIDENT.drop_unlisted(d, rdr.manifest.seg_ids[::2])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n + 1) as pool:
            dropper = pool.submit(drop)
            futures = [pool.submit(run, shift) for shift in range(n)]
            try:
                results = [f.result(timeout=300) for f in futures]
            finally:
                stop.set()
            dropper.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    for got in results:
        assert [got[i] for i in range(len(queries))] == want
    res = build_mod._RESIDENT
    assert 0 < res.nbytes == sum(t.nbytes for t in res._tables.values())
    build_mod._RESIDENT.clear()


def test_commit_drops_files_of_unlisted_segments(spark, tmp_path):
    """A commit evicts the resident files of the segments its generation
    no longer lists (merge sources): after 16 driver updates, each
    followed by queries that read every listed file, the resident files
    are the listed ones and their bytes are the decoded size of those
    files alone. Two of the updates merge at commit: the first merges
    the 10 built segments, the 11th the 10 update segments then in the
    tier below. A reader of an older generation still answers: it
    decodes its dropped files again."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_base()), d, docs_per_seg=2)
    build_mod._RESIDENT.clear()
    old = IndexReader(spark, d)
    old_answers = {q: old.search_with_total(q, k=50) for q in QUERIES}
    merged = []
    for i in range(16):
        before = read_manifest(d)
        update_documents(spark, d, spark.createDataFrame(_rows([
            ("r", f"p{i}", "c", "en", f"zzrep update{i}"),
            ("r", f"p{i + 4}", "c", "en", f"common zzrep {i}")])))
        if set(before.seg_ids) - set(read_manifest(d).seg_ids):
            merged.append(i)
        _top_docs(spark, d)
    assert merged == [0, 10]
    listed = _seg_files(d, read_manifest(d).seg_ids)
    res = build_mod._RESIDENT
    assert {key[0] for key in res._tables} == listed
    assert res.nbytes == sum(
        build_mod._decode_file(p, int(p.split(os.sep)[-2][4:]), p.split(os.sep)[-3]).nbytes
        for p in listed)
    assert {q: old.search_with_total(q, k=50) for q in QUERIES} == old_answers
    build_mod._RESIDENT.clear()
