"""Small writes in the driver (operators/build.py ``driver_batch``): an
update, or an append, of at most one segment's rows to an index served
from the driver runs there and writes what the Spark path writes, in
one manifest commit (Lucene's updateDocument atomicity). That commit
also publishes the merges the tiered policy picks
(``merge.merge_at_commit``), so a driver-written index stays at the
policy's segment count and lists one delete file whatever its history."""

import hashlib
import os
import shutil

import pandas as pd
import pytest

from lucene_solr_spark.operators import build as build_mod
from lucene_solr_spark.operators import delete as delete_mod
from lucene_solr_spark.operators import merge as merge_mod
from lucene_solr_spark.operators import search as search_mod
from lucene_solr_spark.operators.build import (build_index, commit_manifest,
                                               read_manifest, read_table)
from lucene_solr_spark.operators.delete import load_deleted_ids, update_documents
from lucene_solr_spark.operators.merge import (MERGE_SEG_BASE, merge_at_commit,
                                               merge_many, plan_merges)
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.operators.verify import verify_index
from tests.test_build_search import _spark_jobs
from tests.test_merge_policy import tier_counts

COLS = ["repo", "path", "commit", "lang", "content"]
QUERIES = ["zzrep", "common", "*:*", "NOT common", '"zzrep four"', "doc3 OR zzrep"]
DOCS_PER_SEG = 8


def _rows(spec):
    return pd.DataFrame(spec, columns=COLS)


def _base(n=20):
    return pd.DataFrame({
        "doc_id": range(n), "repo": "r", "path": [f"p{i}" for i in range(n)],
        "commit": "c", "lang": "en",
        "content": [f"doc{i} common words {'odd' if i % 2 else 'even'}"
                    for i in range(n)]})


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("base") / "idx")
    build_index(spark, spark.createDataFrame(_base()), d, docs_per_seg=DOCS_PER_SEG)
    return d


@pytest.fixture(scope="module")
def built_at_tier(spark, tmp_path_factory):
    """The rows of ``built`` in 10 segments, the merge policy's tier:
    the next segment a write adds makes it merge."""
    d = str(tmp_path_factory.mktemp("tier") / "idx")
    build_index(spark, spark.createDataFrame(_base()), d, docs_per_seg=2)
    assert len(read_manifest(d).segments) == 10
    return d


def _twin(built, tmp_path, name):
    d = str(tmp_path / name)
    shutil.copytree(built, d)
    return d


def _state(d):
    """Everything a write leaves: manifest entries, delete files and
    their ids, and the bytes of every postings and docmeta file."""
    m = read_manifest(d)
    files = {}
    for table in ("postings", "docmeta"):
        for root, _, names in os.walk(os.path.join(d, table)):
            for f in names:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    files[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return (m.gen, m.segments, m.delete_files, load_deleted_ids(d, m).tolist(), files)


def _top_docs(spark, d):
    rdr = IndexReader(spark, d)
    return {q: rdr.search_with_total(q, k=50) for q in QUERIES}


def _write(spark, monkeypatch, on_spark, op):
    """Run ``op`` on the driver path, or forced onto the Spark path ->
    the Spark jobs it ran."""
    with monkeypatch.context() as mp:
        if on_spark:
            mp.setattr(search_mod, "ONE_TASK_MAX_BYTES", 0)
        return _spark_jobs(spark, op)[1]


def _live_versions(d):
    """(repo, path) -> how many live docs carry that key."""
    m = read_manifest(d)
    dm = read_table(None, d, "docmeta", m.seg_ids, local=True,
                    columns=["doc_id", "repo", "path"]).to_pandas()
    dm = dm[~dm["doc_id"].isin(load_deleted_ids(d, m))]
    return dm.groupby(["repo", "path"]).size().to_dict()


def test_driver_and_spark_writes_are_identical(spark, built, tmp_path, monkeypatch):
    """The same history of writes on twin indexes, once in the driver
    and once forced onto Spark, gives the same manifests, byte-identical
    postings and docmeta files, the same tombstones and the same
    TopDocs after every step. The steps cover a repeated key, a null
    content, non-ASCII keys (U+FF5E sorts before U+1F600 in UTF-8 but
    after it in UTF-16), and appends with caller ids that cross a
    docs_per_seg boundary or fall inside a covered range."""
    drv, spk = _twin(built, tmp_path, "driver"), _twin(built, tmp_path, "spark")
    steps = [
        ("update", _rows([
            ("r", "p4", "c", "en", "zzrep four a"),
            ("r", "p0", "c", "en", None),
            ("r", "p4", "c", "en", "zzrep four b"),
            ("r", "p2", "c", "en", "zzrep two common"),
            ("r", "new", "c", "en", "zzrep brand new")])),
        ("update", _rows([
            ("r", "p1", "c", "en", "zzrep one again"),
            ("r", "～", "c", "en", "zzrep tilde"),
            ("r", "\U0001F600", "c", "en", "zzrep emoji"),
            ("ré", "日本/x.py", "c", "ja", "zzrep nihon"),
            ("r", "Zed", "c", "en", "zzrep upper"),
            ("r", "apple", "c", "en", "zzrep lower"),
            ("r", "é.py", "c", "fr", "zzrep accent")])),
        # ids 3 and 5 lie in a covered range and are skipped; 45-49
        # cross the boundary at 48 into two new segments
        ("append", pd.DataFrame({
            "doc_id": [3, 45, 5, 46, 47, 48, 49],
            "repo": "a", "path": [f"a{i}" for i in range(7)], "commit": "c",
            "lang": "en", "content": [f"zzrep four appended {i}" for i in range(7)]})),
    ]
    for kind, rows in steps:
        df = spark.createDataFrame(rows)
        for d, on_spark in ((drv, False), (spk, True)):
            if kind == "update":
                def op(d=d):
                    return update_documents(spark, d, df)
            else:
                def op(d=d):
                    return build_index(spark, df, d, docs_per_seg=DOCS_PER_SEG)
            jobs = _write(spark, monkeypatch, on_spark, op)
            assert bool(jobs) == on_spark, (kind, on_spark, [j.jobId for j in jobs])
        assert _state(drv) == _state(spk), kind
        assert _top_docs(spark, drv) == _top_docs(spark, spk), kind
    m = read_manifest(drv)
    assert len(m.segments) == 3 + 2 + 2
    assert {s["seg"] for s in m.segments} >= {5, 6}
    assert verify_index(spark, drv)["ok"]


@pytest.mark.parametrize("on_spark, at_tier", [(False, False), (True, False), (False, True)],
                         ids=["driver", "spark", "driver-10segs"])
def test_update_is_one_commit_through_a_crash(spark, request, tmp_path, monkeypatch,
                                              on_spark, at_tier):
    """A crash between the segment write and the commit leaves the last
    generation: every updated key keeps exactly one visible version,
    the old one. On an index at the merge policy's tier the driver path
    has then written its merged segment too, which no manifest lists.
    Re-running the update gives the index a clean run gives, with
    exactly one version of each key, and CheckIndex with the source's
    sha256 invariant is clean. Queries before the crash and after the
    re-run (files the process holds decoded) answer as the clean twin
    and as reads that decode every file afresh."""
    built = request.getfixturevalue("built_at_tier" if at_tier else "built")
    crashed, clean = _twin(built, tmp_path, "crashed"), _twin(built, tmp_path, "clean")
    new_rows = spark.createDataFrame(_rows([
        ("r", "p3", "c", "en", "zzrep three"),
        ("r", "p9", "c", "en", "zzrep nine")]))
    before = _state(crashed)
    assert _top_docs(spark, crashed) == _top_docs(spark, built)
    first_new = max(s["doc_hi"] for s in read_manifest(crashed).segments)
    merged_dir = os.path.join(crashed, "postings", f"seg={MERGE_SEG_BASE}")

    def crash(*args):
        raise RuntimeError("crash before commit")

    with monkeypatch.context() as mp:
        mp.setattr(delete_mod, "commit_manifest", crash)
        with pytest.raises(RuntimeError, match="crash before commit"):
            _write(spark, monkeypatch, on_spark,
                   lambda: update_documents(spark, crashed, new_rows))
    assert _state(crashed)[:4] == before[:4]
    assert os.path.isdir(merged_dir) == at_tier
    assert IndexReader(spark, crashed).count("zzrep") == 0
    assert set(_live_versions(crashed).values()) == {1}

    for d in (crashed, clean):
        _write(spark, monkeypatch, on_spark, lambda d=d: update_documents(spark, d, new_rows))
    assert _state(crashed) == _state(clean)
    versions = _live_versions(crashed)
    assert set(versions.values()) == {1} and len(versions) == 20
    assert IndexReader(spark, crashed).count("zzrep") == 2
    after = _top_docs(spark, crashed)
    assert after == _top_docs(spark, clean)
    build_mod._RESIDENT.clear()
    assert after == _top_docs(spark, crashed)

    m = read_manifest(crashed)
    # at the tier, the 10 built segments merge into one beside the new one
    assert len(m.segments) == (2 if at_tier else 4)
    new = read_table(None, crashed, "docmeta", [s["seg"] for s in m.segments],
                     local=True, columns=["doc_id", "path"]).to_pandas()
    new = new[new["doc_id"] >= first_new]
    contents = {"p3": "zzrep three", "p9": "zzrep nine"}
    source = pd.concat([_base()[["doc_id", "content"]], pd.DataFrame({
        "doc_id": new["doc_id"], "content": new["path"].map(contents)})])
    report = verify_index(spark, crashed, source=spark.createDataFrame(source))
    assert report["ok"], report["problems"]


def _committed_rows(d, table):
    """Every committed row of ``table`` as a tuple, sorted."""
    return sorted(map(tuple, read_table(None, d, table, read_manifest(d).seg_ids,
                                        local=True).to_pandas().itertuples(index=False)))


def test_driver_merge_equals_spark_merge(spark, tmp_path, monkeypatch):
    """The merges of a commit in the driver write what a ``merge_many``
    wave of the same groups writes: the same manifest entries (but the
    postings bytes of Spark's parquet writer), the same posting rows,
    blob for blob, the same docmeta rows and the same TopDocs. The
    index has 25 segments and a tombstoned doc, so the wave is two
    groups of 10 segments (the second a size tier below the first's
    merged segment), and merged rows are cut at 4 postings, so frequent
    terms span several shard rows."""
    d = str(tmp_path / "src")
    build_index(spark, spark.createDataFrame(_base(50)), d, docs_per_seg=2)
    delete_mod.delete_documents(spark, d, [7])
    drv, spk = _twin(d, tmp_path, "driver"), _twin(d, tmp_path, "spark")
    m = read_manifest(d)
    groups = plan_merges(m)
    assert [len(g) for g in groups] == [10, 10]

    merge_many(spark, spk, groups, shard_postings=4)
    monkeypatch.setattr(merge_mod, "DEFAULT_SHARD_POSTINGS", 4)
    commit_manifest(drv, merge_at_commit(drv, m.next()))

    def entries(d):
        m = read_manifest(d)
        return m.gen, m.delete_files, [{k: v for k, v in s.items() if k != "postings_bytes"}
                                       for s in m.segments]

    assert entries(drv) == entries(spk)
    assert len(read_manifest(drv).segments) == 7
    shards = read_table(None, drv, "postings", read_manifest(drv).seg_ids, local=True,
                        columns=["shard"])["shard"]
    assert max(shards.to_pylist()) > 0
    for table in ("postings", "docmeta"):
        assert _committed_rows(drv, table) == _committed_rows(spk, table), table
    assert _top_docs(spark, drv) == _top_docs(spark, spk)
    assert verify_index(spark, drv)["ok"]


def test_write_history_in_the_driver_matches_spark(spark, built, tmp_path, monkeypatch):
    """Sixteen small updates, with list deletes before every third, on
    twin indexes: one written in the driver, where each commit merges
    what the tiered policy picks, one forced onto Spark, where nothing
    merges. After every step both give the same TopDocs and totals, and
    the driver twin ran no Spark job (writes, reopen and queries), holds
    at most 10 segments in each size tier and lists one delete file."""
    drv, spk = _twin(built, tmp_path, "driver"), _twin(built, tmp_path, "spark")
    for step in range(16):
        rows = spark.createDataFrame(_rows([
            ("r", f"p{step}", "c", "en", f"zzrep step{step} common"),
            ("r", f"n{step}", "c", "en", f"zzrep new{step} doc3")]))
        # a base doc, and the first doc of the last update's segment
        dels = [19 - step, max(s["doc_hi"] for s in read_manifest(drv).segments)
                - DOCS_PER_SEG]

        def write(d):
            if step % 3 == 2:
                delete_mod.delete_documents(spark, d, dels)
            update_documents(spark, d, rows)

        def driver_step():
            write(drv)
            return _top_docs(spark, drv)

        _write(spark, monkeypatch, True, lambda: write(spk))
        got, jobs = _spark_jobs(spark, driver_step)
        assert jobs == [], (step, [j.jobId for j in jobs])
        assert got == _top_docs(spark, spk), step
        m = read_manifest(drv)
        assert max(tier_counts(m).values()) <= 10 and len(m.delete_files) == 1, step
        assert load_deleted_ids(drv, m).tolist() == \
            load_deleted_ids(spk, read_manifest(spk)).tolist()
    assert len(read_manifest(spk).segments) == 3 + 16
    assert any(s["source"].startswith("merge(") for s in read_manifest(drv).segments)
    assert verify_index(spark, drv)["ok"]
