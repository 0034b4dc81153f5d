"""Delete/tombstone path (SURVEY.md §2.3 IndexWriter.deleteDocuments /
PendingDeletes): masking, delete-blind stats, merge/resume survival."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.operators.build import build_index, read_manifest
from lucene_solr_spark.operators.delete import delete_by_term, delete_documents
from lucene_solr_spark.operators.merge import force_merge
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.sources import load_source_table
from tests.test_merge_resume import MERGE_QUERIES


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load_source_table(spark, sf_dir).cache()


def _ids(pairs):
    return [d for d, _ in pairs]


def test_delete_masks_search_and_count(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    before = IndexReader(spark, d)
    top, total = before.search_with_total("spark", k=20)
    victim = top[0][0]

    delete_documents(spark, d, [victim])
    after = IndexReader(spark, d)
    top2, total2 = after.search_with_total("spark", k=20)
    assert victim not in _ids(top2)
    assert total2 == total - 1
    # live docs keep IDENTICAL scores (stats are delete-blind)
    s_before = dict(top)
    for doc, score in top2[:10]:
        if doc in s_before:
            assert np.float32(score) == np.float32(s_before[doc])

    # termfreq masks, stats do not
    assert victim not in {r["doc_id"] for r in after.termfreq("spark").collect()}
    assert after.doc_count == before.doc_count
    assert after.docfreq("spark") == before.docfreq("spark")


def test_delete_by_term_and_matchall(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=128)
    rdr = IndexReader(spark, d)
    n_docs = rdr.doc_count
    n_with = rdr.count("q7token") if rdr.docfreq("q7token") else 0
    term = "spark"
    n_term = rdr.count(term)
    delete_by_term(spark, d, term)
    rdr2 = IndexReader(spark, d)
    assert rdr2.count(term) == 0
    # MatchAll total drops by exactly the tombstoned count
    assert rdr2.count("*") == n_docs - n_term
    del n_with


def test_deletes_survive_merge_and_resume(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus.filter(F.col("doc_id") < 256), d, docs_per_seg=64)
    rdr = IndexReader(spark, d)
    top, _ = rdr.search_with_total("merge", k=5)
    victim = top[0][0]
    delete_documents(spark, d, [victim])

    # build resume (more docs) keeps the tombstone
    build_index(spark, corpus, d, docs_per_seg=64)
    m = read_manifest(d)
    assert m.delete_files, "resume dropped delete files"
    r2 = IndexReader(spark, d)
    assert victim not in _ids(r2.search_with_total("merge", k=30)[0])

    # merge keeps the tombstone too
    force_merge(spark, d, segs_per_tier=2, max_merge_at_once=4)
    r3 = IndexReader(spark, d)
    assert victim not in _ids(r3.search_with_total("merge", k=30)[0])
    # rank-identity of live docs vs pre-merge
    assert r3.search_with_total("merge", k=30) == r2.search_with_total("merge", k=30)


def test_update_document_pattern(spark, corpus, tmp_path):
    """updateDocument == delete(old id) + index new rows (new id range)."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    rdr = IndexReader(spark, d)
    victim = rdr.search_with_total("spark", k=1)[0][0][0]
    n0 = rdr.count("uniqreplacementtoken") if rdr.docfreq("uniqreplacementtoken") else 0
    assert n0 == 0
    delete_documents(spark, d, [victim])
    new_id = 1 + max(s["doc_hi"] for s in read_manifest(d).segments)
    new_row = spark.createDataFrame(
        [(new_id, "r", "p", "c", "text", "uniqreplacementtoken spark spark")],
        "doc_id long, repo string, path string, commit string, lang string, content string",
    )
    build_index(spark, new_row, d, docs_per_seg=64)
    r2 = IndexReader(spark, d)
    assert r2.count("uniqreplacementtoken") == 1
    assert victim not in _ids(r2.search_with_total("spark", k=50)[0])
    assert new_id in _ids(r2.search_with_total("uniqreplacementtoken", k=5)[0])


def test_expunge_deletes_physical_purge(spark, corpus, tmp_path):
    """expungeDeletes: postings/docmeta physically rewritten without
    tombstoned docs; stats switch to live counts (== a fresh index over
    the live corpus); MatchAll still enumerates correctly."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    rdr0 = IndexReader(spark, d)
    victims = [doc for doc, _ in rdr0.search_with_total("spark", k=8)[0]][:5]
    delete_documents(spark, d, victims)
    n_total = rdr0.doc_count

    from lucene_solr_spark.operators.merge import expunge_deletes

    m = expunge_deletes(spark, d)
    assert any(s.get("purged") for s in m.segments)
    rdr = IndexReader(spark, d)
    # stats are now live-only
    assert rdr.doc_count == n_total - len(victims)
    # PHYSICAL absence: even with the tombstone mask disabled, purged
    # docs are gone from the postings
    rdr.deleted = np.zeros(0, dtype=np.int64)
    assert not set(victims) & {r["doc_id"] for r in rdr.termfreq("spark").collect()}
    # docmeta purged too
    assert rdr.docmeta.count() == n_total - len(victims)

    # ranking == a fresh index built over only the live docs (same
    # doc_ids, live stats): full rank identity, scores included
    live = corpus.filter(~F.col("doc_id").isin([int(v) for v in victims]))
    d2 = str(tmp_path / "fresh")
    build_index(spark, live, d2, docs_per_seg=64)
    fresh = IndexReader(spark, d2)
    rdr2 = IndexReader(spark, d)  # re-open with tombstones active
    for q in MERGE_QUERIES:
        assert rdr2.search_with_total(q, k=30) == fresh.search_with_total(q, k=30), q
    # MatchAll over the partially-purged index = live docs
    assert rdr2.count("*") == n_total - len(victims)


def test_over_cap_delete_fallback_matches_numpy_path(spark, corpus, tmp_path,
                                                     monkeypatch):
    """Above DELETED_DRIVER_CAP the reader must switch every masking
    surface to the distributed anti-join and return IDENTICAL results
    to the closure-shipped numpy path."""
    from lucene_solr_spark.operators import delete as del_mod

    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    rdr0 = IndexReader(spark, d)
    victims = [r["doc_id"] for r in
               rdr0.termfreq("spark").orderBy("doc_id").limit(40).collect()]
    delete_documents(spark, d, victims)

    small = IndexReader(spark, d)
    assert not small.deletes_over_cap and small.deleted.size == len(victims)

    monkeypatch.setattr(del_mod, "DELETED_DRIVER_CAP", 0)
    big = IndexReader(spark, d)
    assert big.deletes_over_cap and big.deleted.size == 0

    for q in ["spark", "content:(spark OR merge OR vector)",
              "spark AND merge", '"batch batch"']:
        t_small, n_small = small.search_with_total(q, k=15)
        t_big, n_big = big.search_with_total(q, k=15)
        assert n_big == n_small, q
        assert [d_ for d_, _ in t_big] == [d_ for d_, _ in t_small], q
        for (_, s1), (_, s2) in zip(t_big, t_small):
            assert np.float32(s1) == np.float32(s2), q

    tf_small = sorted(map(tuple, small.termfreq("spark").collect()))
    tf_big = sorted(map(tuple, big.termfreq("spark").collect()))
    assert tf_big == tf_small
    assert not set(victims) & {t[0] for t in tf_big}

    sa_small = sorted(map(tuple, small.score_all("spark OR merge").collect()))
    sa_big = sorted(map(tuple, big.score_all("spark OR merge").collect()))
    assert [t[0] for t in sa_big] == [t[0] for t in sa_small]


def test_update_documents_replaces_by_key(spark, corpus, tmp_path):
    """updateDocument: new content visible under fresh doc_ids, every
    old doc with the same (repo, path) key tombstoned."""
    from lucene_solr_spark.operators.delete import update_documents

    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    rdr0 = IndexReader(spark, d)
    n0 = rdr0.doc_count
    victims = corpus.orderBy("doc_id").limit(3).collect()
    assert rdr0.count("zzzupdated") == 0

    new_rows = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"],
          "zzzupdated replacement content body " + r["path"])
         for r in victims],
        "repo string, path string, commit string, lang string, content string")
    update_documents(spark, d, new_rows)

    rdr = IndexReader(spark, d)
    top, total = rdr.search_with_total("zzzupdated", k=10)
    assert total == 3
    new_ids = {doc for doc, _ in top}
    old_ids = {r["doc_id"] for r in victims}
    assert new_ids.isdisjoint(old_ids)
    assert min(new_ids) >= n0          # appended after the old ranges
    # old copies are dead on every query surface
    for r in victims:
        toks = [t for t in r["content"].split() if len(t) > 3][:1]
        if toks:
            alive = {doc for doc, _ in rdr.search_with_total(toks[0], k=1000)[0]}
            assert r["doc_id"] not in alive
    # replacement metadata is fetchable
    fetched = rdr.fetch(rdr.search("zzzupdated", k=10)).collect()
    assert {f["path"] for f in fetched} == {r["path"] for r in victims}


def test_allocate_doc_ids_distributed_matches_global_rank(spark):
    """The range-partitioned id allocator (VERDICT r3 #8): a 100k-row
    batch gets ids == next_id + global rank by key, assigned across
    MULTIPLE partitions (no single-task serialization)."""
    from lucene_solr_spark.operators.delete import allocate_doc_ids

    n, base = 100_000, 7_680
    rows = (spark.range(n).select(
        F.concat(F.lit("repo-"), (F.col("id") * 2654435761 % 997).cast("string"))
        .alias("repo"),
        F.concat(F.lit("f/"), ((F.col("id") * 40503) % 100_000_000).cast("string"),
                 F.lit(".txt")).alias("path")))
    with_ids, unpersist = allocate_doc_ids(spark, rows, ("repo", "path"), base)
    try:
        got = with_ids.orderBy("doc_id").collect()
    finally:
        unpersist()
    assert len(got) == n
    ids = [r["doc_id"] for r in got]
    assert ids == list(range(base, base + n))       # contiguous from next_id
    keys = [(r["repo"], r["path"]) for r in got]
    assert keys == sorted(keys)                     # id order == global key order
    # and the assignment really fanned out over >1 range partition
    nparts = (rows.repartitionByRange(
        max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions")), 200)),
        "repo", "path")
        .select(F.spark_partition_id().alias("p")).distinct().count())
    assert nparts > 1


def test_distributed_delete_write_path(spark, corpus, tmp_path, monkeypatch):
    """Above DELETED_DRIVER_CAP the tombstones are WRITTEN distributed
    (directory entry) — and every read surface (row count, numpy ids,
    anti-join df, query masking) accepts the directory form."""
    import os

    from lucene_solr_spark.operators import delete as del_mod
    from lucene_solr_spark.operators.delete import (
        count_deleted_rows, deleted_ids_df, load_deleted_ids)

    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    rdr0 = IndexReader(spark, d)
    victims = rdr0.termfreq("spark").orderBy("doc_id").limit(40)
    victim_ids = {r["doc_id"] for r in victims.collect()}

    monkeypatch.setattr(del_mod, "DELETED_DRIVER_CAP", 10)
    m = delete_documents(spark, d, victims.select("doc_id"))
    entry = os.path.join(d, "deletes", m.delete_files[-1])
    assert os.path.isdir(entry)                     # distributed directory form
    assert count_deleted_rows(d, m) == len(victim_ids)
    assert set(load_deleted_ids(d, m).tolist()) == victim_ids
    assert {r["doc_id"] for r in deleted_ids_df(spark, d, m).collect()} == victim_ids
    rdr = IndexReader(spark, d)                     # over-cap -> anti-join mask
    assert rdr.count("spark") == rdr0.count("spark") - len(victim_ids)


def test_merge_atomic_ops_all_modifiers(spark):
    from pyspark.sql import Row
    from lucene_solr_spark.operators.delete import merge_atomic_ops

    src = spark.createDataFrame([
        Row(doc_id=0, repo="r", path="a", content="alpha beta alpha",
            lang="en", n=10),
        Row(doc_id=1, repo="r", path="b", content="gamma delta",
            lang="de", n=3),
        Row(doc_id=2, repo="r", path="c", content="untouched",
            lang="fr", n=7),
    ])
    mods = spark.createDataFrame([
        # null operand on lang leaves doc a's lang unchanged
        Row(repo="r", path="a", content="extra", lang=None, n=5),
        Row(repo="r", path="b", content=None, lang="xx", n=None),
    ])
    out = {r["path"]: r for r in merge_atomic_ops(
        src, mods,
        {"content": "add", "lang": "set", "n": "inc"}).collect()}
    assert set(out) == {"a", "b"}  # no createIfAbsent: c untouched
    assert "doc_id" not in next(iter(out.values())).asDict()
    assert out["a"]["content"] == "alpha beta alpha extra"
    assert out["a"]["lang"] == "en" and out["a"]["n"] == 15
    assert out["b"]["content"] == "gamma delta"
    assert out["b"]["lang"] == "xx" and out["b"]["n"] == 3
    # remove: regex-delete occurrences
    rm = {r["path"]: r for r in merge_atomic_ops(
        src, spark.createDataFrame([Row(repo="r", path="a", content="alpha ?")]),
        {"content": "remove"}).collect()}
    assert rm["a"]["content"] == "beta "
    with pytest.raises(ValueError):
        merge_atomic_ops(src, mods, {"nope": "set"})
    with pytest.raises(ValueError):
        merge_atomic_ops(src, mods, {"content": "frobnicate"}).collect()


def test_atomic_update_end_to_end(spark, corpus, tmp_path):
    from lucene_solr_spark.operators.delete import atomic_update

    d = str(tmp_path / "atom")
    build_index(spark, corpus, d, docs_per_seg=128)
    src = corpus
    mods = (src.filter(F.col("doc_id") % 50 == 0)
            .select("repo", "path", F.lit("zzatomzz").alias("content")))
    atomic_update(spark, d, src, mods, {"content": "add"})
    rdr = IndexReader(spark, d)
    n_mod = src.filter(F.col("doc_id") % 50 == 0).count()
    hits = rdr.termfreq("zzatomzz").collect()
    assert len(hits) == n_mod and all(r["tf"] == 1 for r in hits)


def _tiny_index(spark, d, contents, docs_per_seg=None):
    import pandas as pd

    rows = pd.DataFrame({
        "doc_id": range(len(contents)), "repo": "r",
        "path": [f"p{i}" for i in range(len(contents))], "commit": "c",
        "lang": "en", "content": list(contents)})
    src = spark.createDataFrame(rows)
    build_index(spark, src, d, docs_per_seg=docs_per_seg or len(contents))
    return src


def test_expunge_deletes_drops_emptied_term_group(spark, tmp_path):
    """Deleting the only doc that holds a term empties that term's
    (segment, term_bucket) merge group; expunge_deletes must rewrite the
    segment anyway, not fail converting the group's empty output."""
    from lucene_solr_spark.operators.merge import expunge_deletes

    d = str(tmp_path / "idx")
    _tiny_index(spark, d, ["apple common", "banana common", "zebraonly common"])
    delete_documents(spark, d, [2])
    m = expunge_deletes(spark, d)
    assert [s.get("n_live") for s in m.segments] == [2]
    rdr = IndexReader(spark, d)
    assert rdr.search_with_total("zebraonly", k=5) == ([], 0)
    assert sorted(_ids(rdr.search_with_total("common", k=5)[0])) == [0, 1]


def test_verify_index_clean_after_expunge(spark, tmp_path):
    """CheckIndex on a purged segment compares its live docmeta rows
    with the manifest's live counts, not the original n_docs."""
    from lucene_solr_spark.operators.merge import expunge_deletes
    from lucene_solr_spark.operators.verify import verify_index

    d = str(tmp_path / "idx")
    src = _tiny_index(spark, d, ["apple common", "banana common",
                                 "apple banana common", "cherry common"])
    delete_documents(spark, d, [1])
    expunge_deletes(spark, d)
    rep = verify_index(spark, d, source=src.filter(F.col("doc_id") != 1)
                       .select("doc_id", "content"))
    assert rep["ok"], rep["problems"]


def test_verify_index_full_source_after_expunge(spark, tmp_path):
    """The sha256/source check compares live docs only: the full source,
    tombstoned doc included, is clean before and after the expunge
    purges that doc from docmeta."""
    from lucene_solr_spark.operators.merge import expunge_deletes
    from lucene_solr_spark.operators.verify import verify_index

    d = str(tmp_path / "idx")
    src = _tiny_index(spark, d, ["apple common", "banana common",
                                 "apple banana common", "cherry common"])
    src = src.select("doc_id", "content")
    delete_documents(spark, d, [1])
    rep = verify_index(spark, d, source=src)
    assert rep["ok"], rep["problems"]
    expunge_deletes(spark, d)
    rep = verify_index(spark, d, source=src)
    assert rep["ok"], rep["problems"]


def test_expunge_emptied_segment_keeps_driver_path(spark, tmp_path):
    """An expunge that drops every doc of a segment writes no postings
    dir for it: the reopened reader still serves the index from the
    driver (no Spark job per query) and ranks as a fresh build of the
    live docs."""
    from lucene_solr_spark.operators.merge import expunge_deletes
    from tests.test_build_search import _spark_jobs

    contents = [f"apple w{i % 3} common" + " banana" * (i % 4) for i in range(12)]
    d, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    src = _tiny_index(spark, d, contents, docs_per_seg=4)
    delete_documents(spark, d, [4, 5, 6, 7])
    expunge_deletes(spark, d)
    build_index(spark, src.filter(~F.col("doc_id").between(4, 7)), fresh,
                docs_per_seg=4)
    rdr, want = IndexReader(spark, d), IndexReader(spark, fresh)
    for q in ["apple", "banana OR w1", "common AND w2", '"apple w0"', "ban*", "*:*"]:
        got, jobs = _spark_jobs(spark, lambda: rdr.search_with_total(q, k=5))
        assert jobs == [], (q, [j.jobId for j in jobs])
        assert got == want.search_with_total(q, k=5), q


def test_matchall_after_merging_update_segments(spark, tmp_path, monkeypatch):
    """Each update segment starts at the previous one's doc_hi, so a
    merge of two of them holds non-contiguous doc ids: MatchAll and a
    pure-negative query enumerate the live ids, not a range from the
    first source's doc_base, on the driver path and the Spark path."""
    from lucene_solr_spark.operators import search as search_mod
    from lucene_solr_spark.operators.delete import update_documents
    from lucene_solr_spark.operators.merge import merge_segments

    d = str(tmp_path / "idx")
    _tiny_index(spark, d, [f"doc{i} common" for i in range(8)], docs_per_seg=4)
    for path in ("p0", "p5"):
        update_documents(spark, d, spark.createDataFrame(
            [("r", path, "c", "en", f"zzupd {path}")],
            "repo string, path string, commit string, lang string, content string"))
    updates = [s["seg"] for s in read_manifest(d).segments if s["doc_base"] >= 8]
    assert len(updates) == 2
    merge_segments(spark, d, updates)
    live = [1, 2, 3, 4, 6, 7, 8, 12]
    for one_task_max in (search_mod.ONE_TASK_MAX_BYTES, 0):
        monkeypatch.setattr(search_mod, "ONE_TASK_MAX_BYTES", one_task_max)
        rdr = IndexReader(spark, d)
        hits, total = rdr.search_with_total("*:*", k=20)
        assert (sorted(_ids(hits)), total) == (live, len(live)), one_task_max
        hits, total = rdr.search_with_total("NOT common", k=20)
        assert (sorted(_ids(hits)), total) == ([8, 12], 2), one_task_max


def test_update_repeated_key_and_duplicate_delete_ids(spark, tmp_path):
    """A key repeated in ``new_rows`` and ids repeated in a DataFrame
    delete (below the cap): each old doc is tombstoned once, every
    driver-written tombstone file holds sorted unique ids (the update's
    is cumulative: the delete's ids too), and the new ids are contiguous
    and follow the global (repo, path) rank."""
    import pyarrow.parquet as pq

    from lucene_solr_spark.operators.delete import update_documents

    d = str(tmp_path / "idx")
    _tiny_index(spark, d, [f"doc{i} common" for i in range(6)])
    m = delete_documents(spark, d, spark.createDataFrame(
        [(3,), (1,), (3,), (1,), (3,)], "doc_id long"))
    tomb = pq.read_table(os.path.join(d, "deletes", m.delete_files[-1]))
    assert tomb["doc_id"].to_pylist() == [1, 3]

    new_rows = spark.createDataFrame(
        [("r", "p4", "c", "en", "zzrep fresh four a"),
         ("r", "p0", "c", "en", "zzrep fresh zero"),
         ("r", "p4", "c", "en", "zzrep fresh four b"),
         ("r", "p2", "c", "en", "zzrep fresh two")],
        "repo string, path string, commit string, lang string, content string")
    m = update_documents(spark, d, new_rows)
    assert len(m.delete_files) == 1
    tomb = pq.read_table(os.path.join(d, "deletes", m.delete_files[-1]))
    assert tomb["doc_id"].to_pylist() == [0, 1, 2, 3, 4]

    rdr = IndexReader(spark, d)
    new = sorted((r["doc_id"], r["path"])
                 for r in rdr.docmeta.filter(F.col("doc_id") >= 6).collect())
    first = new[0][0]
    assert [i for i, _ in new] == list(range(first, first + 4))
    assert [p for _, p in new] == ["p0", "p2", "p4", "p4"]
    hits, total = rdr.search_with_total("zzrep", k=10)
    assert total == 4 and {i for i, _ in hits} == {i for i, _ in new}
    assert sorted(_ids(rdr.search_with_total("common", k=10)[0])) == [5]


def _update(spark, d, paths, text):
    from lucene_solr_spark.operators.delete import update_documents

    return update_documents(spark, d, spark.createDataFrame(
        [("r", p, "c", "en", f"{text} {p}") for p in paths],
        "repo string, path string, commit string, lang string, content string"))


def _tombstone_files(d, m):
    """Each listed delete file -> the ids it holds."""
    import pyarrow.parquet as pq

    return {f: pq.read_table(os.path.join(d, "deletes", f))["doc_id"].to_pylist()
            for f in m.delete_files}


def test_tombstones_fold_into_one_file_per_generation(spark, tmp_path):
    """List deletes, DataFrame deletes and updates, in any order: each
    commit lists ONE delete file, named for its generation, holding the
    sorted union of every tombstone so far, and queries mask them all."""
    d = str(tmp_path / "idx")
    _tiny_index(spark, d, [f"doc{i} common" for i in range(12)], docs_per_seg=4)
    want, named = set(), None
    for op, ids in [("list", [3, 1]), ("update", ["p5", "p0"]),
                    ("frame", [7, 3, 9]), ("update", ["p9", "p10"]),
                    ("list", [11]), ("frame", [])]:
        if op == "list":
            m = delete_documents(spark, d, ids)
        elif op == "frame":
            m = delete_documents(spark, d, spark.createDataFrame(
                [(i,) for i in ids], "doc_id long"))
        else:
            m = _update(spark, d, ids, "zzfold")
            ids = [int(p[1:]) for p in ids]
        want |= set(ids)
        if ids:  # a write without ids carries the file forward
            named = f"del-{m.gen:06d}.parquet"
        assert _tombstone_files(d, m) == {named: sorted(want)}, op
    rdr = IndexReader(spark, d)
    hits, total = rdr.search_with_total("common", k=20)
    assert total == 12 - len(want) and not set(_ids(hits)) & want
    assert rdr.search_with_total("zzfold", k=20)[1] == 4


def test_tombstones_over_the_cap_do_not_fold(spark, tmp_path, monkeypatch):
    """When the committed tombstones exceed DELETED_DRIVER_CAP they are
    not held on the driver, so a write appends its own file: the
    manifest lists one file per write, each holding only its ids, and
    the reader (anti-join mask) unions them."""
    from lucene_solr_spark.operators import delete as del_mod
    from lucene_solr_spark.operators.delete import load_deleted_ids

    d = str(tmp_path / "idx")
    _tiny_index(spark, d, [f"doc{i} common" for i in range(8)], docs_per_seg=4)
    monkeypatch.setattr(del_mod, "DELETED_DRIVER_CAP", 1)
    delete_documents(spark, d, [2, 5])
    delete_documents(spark, d, [6])
    m = _update(spark, d, ["p1"], "zzcap")
    assert list(_tombstone_files(d, m).values()) == [[2, 5], [6], [1]]
    assert load_deleted_ids(d, m).tolist() == [1, 2, 5, 6]
    rdr = IndexReader(spark, d)
    assert rdr.deletes_over_cap
    assert sorted(_ids(rdr.search_with_total("common", k=20)[0])) == [0, 3, 4, 7]


def test_vacuum_removes_unlisted_delete_files(spark, tmp_path):
    """Each fold leaves the file it replaces on disk, and an update
    crashed before its commit leaves its own: ``vacuum`` removes every
    delete file the latest manifest does not list, as it removes
    unlisted segment dirs, and the index reads as before."""
    from lucene_solr_spark.operators.merge import vacuum

    d = str(tmp_path / "idx")
    _tiny_index(spark, d, [f"doc{i} common" for i in range(8)], docs_per_seg=4)
    delete_documents(spark, d, [1])
    delete_documents(spark, d, [2])
    m = delete_documents(spark, d, [4])
    os.makedirs(os.path.join(d, "deletes", "del-000099.parquet"))  # a crashed write
    ddir = os.path.join(d, "deletes")
    assert len(os.listdir(ddir)) == 4
    before = IndexReader(spark, d).search_with_total("common", k=20)
    vacuum(d)
    assert sorted(os.listdir(ddir)) == m.delete_files == [f"del-{m.gen:06d}.parquet"]
    assert IndexReader(spark, d).search_with_total("common", k=20) == before
    assert sorted(_ids(before[0])) == [0, 3, 5, 6, 7]


def test_verify_index_checks_every_manifest_segment(spark, tmp_path):
    """CheckIndex compares every manifest segment with its docmeta rows,
    not only the segments that still have some: a fully purged segment
    (n_live 0, no rows) is clean, and a segment whose docmeta is gone is
    a finding."""
    import shutil

    import pandas as pd

    from lucene_solr_spark.operators.merge import expunge_deletes
    from lucene_solr_spark.operators.verify import verify_index

    d = str(tmp_path / "idx")
    contents = ["apple common", "banana common", "cherry common",
                "date common", "elder common", "fig common"]
    build_index(spark, spark.createDataFrame(pd.DataFrame({
        "doc_id": range(6), "repo": "r", "path": [f"p{i}" for i in range(6)],
        "commit": "c", "lang": "en", "content": contents})), d, docs_per_seg=2)
    delete_documents(spark, d, [4, 5])
    m = expunge_deletes(spark, d)
    assert [s.get("n_live") for s in m.segments] == [None, None, 0]
    rep = verify_index(spark, d)
    assert rep["ok"], rep["problems"]

    shutil.rmtree(os.path.join(d, "docmeta", "seg=1"))
    rep = verify_index(spark, d)
    assert not rep["ok"]
    assert any(p.startswith("seg=1:") for p in rep["problems"]), rep["problems"]
