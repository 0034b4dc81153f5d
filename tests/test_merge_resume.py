"""Merge, checkpoint/resume, CheckIndex, deterministic doc_ids
(SURVEY.md §5.2.4-5.2.5, BASELINE.json north_rule)."""

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.operators.build import build_index, commit_manifest, read_manifest
from lucene_solr_spark.operators.merge import (
    force_merge,
    merge_segments,
    plan_merges,
    vacuum,
)
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.operators.verify import verify_index
from lucene_solr_spark.sources import assign_doc_ids, load_source_table, synth_repo_files
from tests.oracle import OracleIndex

MERGE_QUERIES = ["spark", "the OR spark OR vector", "join AND window",
                 '"merge line"', "batch OR stream NOT join", '"merge line"~1',
                 '"batch batch"']


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load_source_table(spark, sf_dir).cache()


def _mtimes(index_dir, segs):
    out = {}
    for seg in segs:
        d = f"{index_dir}/postings/seg={seg}"
        out[seg] = max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))
    return out


def test_resume_skips_completed_segments(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    # simulate a failed run: only the first half of the doc space done
    half = corpus.filter(F.col("doc_id") < 256)
    m1 = build_index(spark, half, d, docs_per_seg=128)
    assert m1.seg_ids == [0, 1]
    before = _mtimes(d, m1.seg_ids)
    time.sleep(1.1)

    m2 = build_index(spark, corpus, d, docs_per_seg=128)
    assert set(m2.seg_ids) > set(m1.seg_ids)
    assert m2.gen == m1.gen + 1
    # completed segments were NOT recomputed (files untouched)
    after = _mtimes(d, m1.seg_ids)
    assert after == before

    # resumed index == fresh build, query-for-query
    d2 = str(tmp_path / "fresh")
    build_index(spark, corpus, d2, docs_per_seg=128)
    r1, r2 = IndexReader(spark, d), IndexReader(spark, d2)
    assert r1.doc_count == r2.doc_count and r1.sum_dl == r2.sum_dl
    for q in MERGE_QUERIES:
        assert r1.search_with_total(q, k=20) == r2.search_with_total(q, k=20)


def test_noop_resume(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    m1 = build_index(spark, corpus, d, docs_per_seg=256)
    m2 = build_index(spark, corpus, d, docs_per_seg=256)
    assert m2.gen == m1.gen + 1
    assert m2.seg_ids == m1.seg_ids
    assert [s["input_fingerprint"] for s in m2.segments] == \
           [s["input_fingerprint"] for s in m1.segments]


def test_merge_preserves_results(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)  # 8 segments
    r_before = IndexReader(spark, d)
    expected = {q: r_before.search_with_total(q, k=30) for q in MERGE_QUERIES}
    m0 = read_manifest(d)

    m1 = merge_segments(spark, d, m0.seg_ids[:4])
    assert len(m1.segments) == len(m0.segments) - 3
    merged = next(s for s in m1.segments if s["source"].startswith("merge("))
    assert merged["n_docs"] == sum(
        s["n_docs"] for s in m0.segments if s["seg"] in m0.seg_ids[:4]
    )

    r_after = IndexReader(spark, d)
    assert r_after.doc_count == r_before.doc_count
    for q in MERGE_QUERIES:
        got = r_after.search_with_total(q, k=30)
        assert got == expected[q], f"post-merge mismatch for {q!r}"

    rep = verify_index(spark, d, corpus)
    assert rep["ok"], rep["problems"]


def test_force_merge_and_vacuum(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=32)  # 16 segments
    m = read_manifest(d)
    assert len(m.segments) == 16
    plans = plan_merges(m, segs_per_tier=4, max_merge_at_once=4)
    assert plans and all(2 <= len(g) <= 4 for g in plans)

    oracle = OracleIndex(sorted(
        (r["doc_id"], r["content"]) for r in corpus.select("doc_id", "content").collect()
    ))
    m2 = force_merge(spark, d, segs_per_tier=4, max_merge_at_once=4)
    assert len(m2.segments) <= 4
    removed = vacuum(d)
    assert removed  # old segment dirs actually deleted
    r = IndexReader(spark, d)
    for q in MERGE_QUERIES:
        got, total = r.search_with_total(q, k=25)
        exp = oracle.search(q, k=25)
        assert [(dd, np.float32(s)) for dd, s in got] == \
               [(dd, np.float32(s)) for dd, s in exp.score_docs]
        assert total == exp.total_hits
    rep = verify_index(spark, d, corpus)
    assert rep["ok"], rep["problems"]


def test_verify_catches_corruption(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=256)
    # corrupt: source row content differs from what was indexed
    bad_src = corpus.withColumn(
        "content",
        F.when(F.col("doc_id") == 3, F.lit("tampered")).otherwise(F.col("content")),
    )
    rep = verify_index(spark, d, bad_src)
    assert not rep["ok"]
    assert any("sha256" in p for p in rep["problems"])

    # corrupt a segment: one posting row's df no longer matches its docs
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = f"{d}/postings/seg=1/part-00000.parquet"
    t = pq.read_table(f)
    df = t["df"].to_numpy().copy()
    df[0] += 1
    pq.write_table(t.set_column(t.schema.get_field_index("df"), "df",
                                pa.array(df, pa.int32())), f)
    rep = verify_index(spark, d)
    assert not rep["ok"]
    assert any(p.startswith("seg=1 ") and "length mismatch" in p
               for p in rep["problems"]), rep["problems"]

    # a manifest entry whose n_terms is off by one
    m = read_manifest(d)
    m.segments[0]["n_terms"] += 1
    m.gen += 1
    commit_manifest(d, m)
    rep = verify_index(spark, d)
    seg0 = m.segments[0]["seg"]
    assert any(p.startswith(f"seg={seg0}: manifest n_terms/n_postings")
               for p in rep["problems"]), rep["problems"]


def test_verify_catches_overlapping_doc_ranges(spark, corpus, tmp_path):
    """Merges and the driver's one-call query order a term's rows by
    source doc_base, which is doc order only while live segments hold
    disjoint doc ranges: a manifest whose ranges overlap, or whose
    segment holds docmeta ids outside its range, is reported."""
    d = str(tmp_path / "idx")
    m = build_index(spark, corpus, d, docs_per_seg=128)
    assert verify_index(spark, d)["ok"]
    segs = sorted(m.segments, key=lambda s: s["doc_base"])
    first, second = segs[0], segs[1]
    second["doc_lo"] = first["doc_hi"] - 10  # still holds its own ids
    m.gen += 1
    commit_manifest(d, m)
    rep = verify_index(spark, d)
    assert not rep["ok"]
    assert rep["problems"] == [
        f"seg={first['seg']} range [{first['doc_lo']}, {first['doc_hi']}) overlaps "
        f"seg={second['seg']} range [{second['doc_lo']}, {second['doc_hi']})"]

    second["doc_lo"] = first["doc_hi"]
    second["doc_hi"] = second["doc_base"] + 5  # its last ids now lie above
    m.gen += 1
    commit_manifest(d, m)
    rep = verify_index(spark, d)
    assert not rep["ok"]
    assert len(rep["problems"]) == 1
    assert rep["problems"][0].startswith(
        f"seg={second['seg']}: docmeta ids [{second['doc_base']}, "), rep["problems"]
    assert "outside its range" in rep["problems"][0]


def test_assign_doc_ids_deterministic(spark):
    src = synth_repo_files(spark, 400, seed=7, num_partitions=5)
    a = assign_doc_ids(src, num_partitions=3)
    b = assign_doc_ids(src, num_partitions=6)
    rows_a = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
              for r in a.select("repo", "path", "commit", "doc_id").collect()}
    rows_b = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
              for r in b.select("repo", "path", "commit", "doc_id").collect()}
    assert rows_a == rows_b
    # equals the pure-Python rank over the sort key
    expected = {k: i for i, k in enumerate(sorted(rows_a))}
    assert rows_a == expected


def test_hot_term_sharded_merge(spark, corpus, tmp_path):
    """Force the hot-term shard path: merge with a tiny shard_postings
    so frequent terms split into multiple doc-ordered rows; searches
    must stay rank-identical to the unsharded index and CheckIndex
    must pass."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)  # 8 segments
    baseline = IndexReader(spark, d)
    expected = {q: baseline.search_with_total(q, k=30) for q in MERGE_QUERIES}

    m0 = read_manifest(d)
    # at most 128 postings per shard row; the tiny-vocab corpus has
    # df ~500 per term -> 4 shards
    m1 = merge_segments(spark, d, m0.seg_ids, shard_postings=128)
    assert len(m1.seg_ids) == 1

    merged = IndexReader(spark, d)
    shards = (
        merged.postings.groupBy("term")
        .count().filter(F.col("count") > 1).count()
    )
    assert shards > 0, "expected at least one multi-shard term"
    for q in MERGE_QUERIES:
        assert merged.search_with_total(q, k=30) == expected[q], q
    report = verify_index(spark, d, source=corpus)
    assert report["ok"], report["problems"]


def test_build_shards_hot_terms(spark, corpus, tmp_path, monkeypatch):
    """The build cuts a hot term's postings into shard rows as a merge
    does (both write through postings.encode_rows): with a shard size
    below a segment's df, shards run 0, 1, ..., every row but a term's
    last is full, searches match the unsharded build and CheckIndex
    passes."""
    from lucene_solr_spark.operators import build as build_mod

    d, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    build_index(spark, corpus, ref, docs_per_seg=64)
    expected = {q: IndexReader(spark, ref).search_with_total(q, k=30)
                for q in MERGE_QUERIES}
    monkeypatch.setattr(build_mod, "DEFAULT_SHARD_POSTINGS", 16)
    build_index(spark, corpus, d, docs_per_seg=64)
    rdr = IndexReader(spark, d)
    rows = {}
    for r in rdr.postings.select("seg", "term", "shard", "df").collect():
        rows.setdefault((r["seg"], r["term"]), []).append((r["shard"], r["df"]))
    assert max(len(v) for v in rows.values()) > 1, "expected sharded terms"
    for key, shards in rows.items():
        shards.sort()
        assert [sh for sh, _ in shards] == list(range(len(shards))), key
        assert all(df == 16 for _, df in shards[:-1]), (key, shards)
    for q in MERGE_QUERIES:
        assert rdr.search_with_total(q, k=30) == expected[q], q
    report = verify_index(spark, d, source=corpus)
    assert report["ok"], report["problems"]


def test_second_level_sharded_merge(spark, corpus, tmp_path):
    """ADVICE r1 (medium): re-merging ALREADY-SHARDED segments must not
    interleave doc ranges across a term's output rows. Two first-level
    merges each produce sharded hot terms (tiny shard_postings), then
    the second-level merge combines them; searches must stay
    rank-identical to the pre-merge index and CheckIndex must pass."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)  # 8 segments
    baseline = IndexReader(spark, d)
    expected = {q: baseline.search_with_total(q, k=30) for q in MERGE_QUERIES}

    m0 = read_manifest(d)
    merge_segments(spark, d, m0.seg_ids[:4], shard_postings=128)
    latest = merge_segments(spark, d, m0.seg_ids[4:], shard_postings=128)
    # verify hot (multi-shard) terms exist in the inputs to the final merge
    rdr_mid = IndexReader(spark, d)
    n_sharded = (
        rdr_mid.postings.filter(F.col("shard") > 0)
        .select("term").distinct().count()
    )
    assert n_sharded > 0, "expected sharded terms before the second-level merge"

    m_final = merge_segments(spark, d, latest.seg_ids, shard_postings=128)
    assert len(m_final.seg_ids) == 1

    merged = IndexReader(spark, d)
    # every term is re-cut: each row but a term's last holds exactly
    # shard_postings postings, shards numbered 0, 1, ... in doc order
    rows = {}
    for r in merged.postings.select("term", "shard", "df").collect():
        rows.setdefault(r["term"], []).append((r["shard"], r["df"]))
    for term, shards in rows.items():
        shards.sort()
        assert [sh for sh, _ in shards] == list(range(len(shards))), term
        assert all(df == 128 for _, df in shards[:-1]), (term, shards)
    for q in MERGE_QUERIES:
        assert merged.search_with_total(q, k=30) == expected[q], q
    report = verify_index(spark, d, source=corpus)
    assert report["ok"], report["problems"]


def test_merge_recuts_to_smaller_shard_postings(spark, corpus, tmp_path):
    """``shard_postings`` bounds every output row of a merge, also the
    rows of a term a source already cut at a larger size: first-level
    merges at 256, a second-level merge at 128."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)  # 8 segments
    expected = {q: IndexReader(spark, d).search_with_total(q, k=30)
                for q in MERGE_QUERIES}
    m0 = read_manifest(d)
    merge_segments(spark, d, m0.seg_ids[:6], shard_postings=256)  # 384 docs
    latest = merge_segments(spark, d, m0.seg_ids[6:], shard_postings=256)
    mid = IndexReader(spark, d).postings
    assert mid.filter(F.col("shard") > 0).limit(1).count(), \
        "expected sharded terms before the second-level merge"
    assert mid.agg(F.max("df")).first()[0] == 256

    merge_segments(spark, d, latest.seg_ids, shard_postings=128)
    merged = IndexReader(spark, d)
    assert merged.postings.agg(F.max("df")).first()[0] == 128
    for q in MERGE_QUERIES:
        assert merged.search_with_total(q, k=30) == expected[q], q
    report = verify_index(spark, d, source=corpus)
    assert report["ok"], report["problems"]


def test_resume_with_sparse_doc_ids(spark, corpus, tmp_path):
    """ADVICE r1 (low): a committed segment covers its CONSTRUCTION
    range [seg*dps, (seg+1)*dps), not [doc_base, doc_base+n_docs); with
    sparse caller-assigned doc_ids the old interval re-processed a
    committed segment's leftover ids under the same seg id, and the
    atomic rename replaced that segment's parquet with only the
    leftovers — silent data loss on resume."""
    d = str(tmp_path / "idx")
    sparse = corpus.withColumn("doc_id", F.col("doc_id") * 3)
    # segs 0..2 (ranges [0,64) [64,128) [128,192)) are COMPLETE for the
    # full source too: every source id < 192 lands there
    first = sparse.filter(F.col("doc_id") < 192)
    build_index(spark, first, d, docs_per_seg=64)
    m1 = read_manifest(d)
    assert all(s["doc_hi"] == (s["seg"] + 1) * 64 for s in m1.segments)
    committed = set(m1.seg_ids)

    mtimes_before = _mtimes(d, sorted(committed))
    build_index(spark, sparse, d, docs_per_seg=64)
    assert _mtimes(d, sorted(committed)) == mtimes_before, \
        "resume must not rewrite completed sparse segments"

    rdr = IndexReader(spark, d)
    ids = [r["doc_id"] for r in rdr.docmeta.select("doc_id").collect()]
    n_src = sparse.count()
    assert len(ids) == n_src, "docs lost or duplicated on sparse resume"
    assert len(set(ids)) == n_src


def _assert_declared_schema(spark, d, segs):
    """The columns and types the files of ``segs`` carry (every file's
    footer, merged) == the declared schema ``read_table`` reads with."""
    from lucene_solr_spark.operators.build import read_table

    for table in ("postings", "docmeta"):
        base = f"{d}/{table}"
        written = (spark.read.option("mergeSchema", "true").option("basePath", base)
                   .parquet(*[f"{base}/seg={s}" for s in segs]).schema)
        declared = read_table(spark, d, table, segs).schema
        assert ([(f.name, f.dataType) for f in written]
                == [(f.name, f.dataType) for f in declared]), table


def test_written_schemas_match_declared(spark, corpus, tmp_path):
    """Readers open postings/docmeta with POSTINGS_SCHEMA/DOCMETA_SCHEMA
    instead of inferring them, so a column a writer adds or retypes
    without declaring it would be dropped or misread. Both writers are
    checked: the build's pyarrow segments, and the Spark-written
    segments of force_merge and expunge_deletes."""
    from lucene_solr_spark.operators.delete import delete_documents
    from lucene_solr_spark.operators.merge import expunge_deletes

    d = str(tmp_path / "idx")
    m = build_index(spark, corpus, d, docs_per_seg=64)
    _assert_declared_schema(spark, d, m.seg_ids)

    m = force_merge(spark, d, segs_per_tier=2, max_merge_at_once=2)
    merged = [s["seg"] for s in m.segments if s["source"].startswith("merge(")]
    assert merged
    _assert_declared_schema(spark, d, merged)

    delete_documents(spark, d, [0, 1])
    before = set(m.seg_ids)
    m = expunge_deletes(spark, d)
    purged = [s["seg"] for s in m.segments if s.get("purged")]
    assert purged and not set(purged) & before
    _assert_declared_schema(spark, d, purged)
