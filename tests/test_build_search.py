"""End-to-end: distributed build + query == exhaustive oracle (SURVEY.md §5.2).

The key pattern from the reference's own test strategy: distributed run
must equal a single-process oracle
(`[U] solr/core/src/test/.../BaseDistributedSearchTestCase.java ::
compareResponses`). Rank-identity is asserted on doc_ids AND float32
scores at k in {1, 10, 100} (BASELINE.json north_rule).
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from lucene_solr_spark.operators.build import build_index, read_manifest
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.sources import load_source_table
from tests.oracle import OracleIndex

QUERIES = [
    # term (incl. hot, medium, df=1-ish, absent, mixed case)
    "spark", "vector", "the", "content:customer", "zzzabsent", "SPARK",
    # bool_or 2-5 clauses
    "spark OR merge", "content:(hash OR scan OR vector)",
    "spark OR merge OR vector", "a OR the OR spark",
    "batch OR stream OR window OR key OR dup", "spark OR zzzabsent",
    # bool_and
    "spark AND merge", "join AND window AND key", "spark AND zzzabsent",
    # bool_mixed
    "spark AND NOT merge", "batch OR stream NOT join", "NOT spark",
    "(hash OR scan) AND NOT (merge OR join)",
    # phrase
    '"batch batch"', '"merge line"', '"sort table scan"', '"spark zzzabsent"',
]


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load_source_table(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, corpus, d, docs_per_seg=128)
    return IndexReader(spark, d)


@pytest.fixture(scope="module")
def oracle(corpus):
    docs = [(r["doc_id"], r["content"]) for r in corpus.select("doc_id", "content").collect()]
    return OracleIndex(sorted(docs))


def test_manifest_metrics(index, corpus):
    m = index.manifest
    n = corpus.count()
    assert m.doc_count == n
    assert len(m.segments) == -(-n // 128)
    for s in m.segments:
        assert s["n_docs"] > 0 and s["n_terms"] > 0 and s["n_postings"] > 0
        assert len(s["input_fingerprint"]) == 16


@pytest.mark.parametrize("k", [1, 10, 100])
def test_rank_identity_vs_oracle(index, oracle, k):
    for qtext in QUERIES:
        expected = oracle.search(qtext, k=k)
        got_docs, got_total = index.search_with_total(qtext, k=k)
        exp = [(d, np.float32(s)) for d, s in expected.score_docs]
        got = [(d, np.float32(s)) for d, s in got_docs]
        assert got == exp, (
            f"query={qtext!r} k={k}\n engine={got[:5]}...\n oracle={exp[:5]}..."
        )
        assert got_total == expected.total_hits, f"total_hits mismatch for {qtext!r}"


def test_sha256_invariant(index, corpus):
    """Per-row content sha256 equality engine vs source (BASELINE.json:L15)."""
    src = corpus.select("doc_id", F.sha2("content", 256).alias("expected"))
    joined = index.docmeta.join(src, "doc_id")
    n_total = joined.count()
    n_match = joined.filter(F.col("sha256") == F.col("expected")).count()
    assert n_total == corpus.count()
    assert n_match == n_total


def test_docmeta_norms_match_oracle(index, oracle):
    rows = index.docmeta.select("doc_id", "dl", "norm_byte").collect()
    assert len(rows) == len(oracle.doc_ids)
    for r in rows:
        assert r["norm_byte"] == oracle.norm_bytes[r["doc_id"]], r


def test_fetch_stored_fields(index):
    top = index.search("spark", k=5)
    fetched = index.fetch(top).collect()
    assert len(fetched) == 5
    for r in fetched:
        assert r["repo"] and r["path"] and r["commit"]
        assert r["sha256"] is not None


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


#: posting columns the build writes and verify_index checks, but the
#: query kernel never decodes
UNREAD_BY_KERNEL = ("cum_tf",)


def test_kernel_scan_reads_only_decoded_columns(spark, index, monkeypatch):
    """The kernel's postings read takes only the columns the kernel
    decodes: ``df`` (the doc decoder's run length) and no array column
    for any query, and the pos blobs only for a position query. Both
    forms: the Spark scan's ReadSchema (the Spark layout forced by
    lowering ONE_TASK_MAX_BYTES) and the column list of the driver's
    local read."""
    import re

    from lucene_solr_spark.operators import search as search_mod

    cases = (("spark", False), ('"batch batch"', True))

    def check(q, positional, cols):
        assert {"term", "shard", "df", "docs", "tfs", "norms"} <= cols, q
        assert not cols & set(UNREAD_BY_KERNEL), (q, sorted(cols))
        assert ("pos" in cols) == positional, (q, sorted(cols))

    reads, read_table = [], search_mod.read_table

    def recording(*args, **kw):
        if kw.get("local") and "docs" in kw.get("columns", ()):
            reads.append(set(kw["columns"]))
        return read_table(*args, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(search_mod, "read_table", recording)
        for q, positional in cases:
            reads.clear()
            index.search(q).collect()
            assert len(reads) == 1, (q, reads)
            check(q, positional, reads[0])

    key = "spark.sql.maxMetadataStringLength"  # ReadSchema is abbreviated
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        with monkeypatch.context() as mp:
            mp.setattr(search_mod, "ONE_TASK_MAX_BYTES", 0)
            for q, positional in cases:
                schemas = re.findall(r"ReadSchema: (struct<\S*>)", _plan(index.search(q)))
                assert len(schemas) == 1, (q, schemas)
                assert "array<" not in schemas[0], (q, schemas[0])
                check(q, positional, set(re.findall(r"[<,](\w+):", schemas[0])))
    finally:
        spark.conf.set(key, old)


def _executed_plans(spark, action):
    """Run ``action`` -> the physical plan text of every SQL execution
    it started, as Spark's SQL status store records them (AQE plans
    reduced to their initial plan tree)."""
    import time

    store = spark._jsparkSession.sharedState().statusStore()

    def execs():
        it, out = store.executionsList().iterator(), {}
        while it.hasNext():
            e = it.next()
            out[e.executionId()] = e.physicalPlanDescription()
        return out

    before = max(execs(), default=-1)
    action()
    spark.range(1).collect()  # fences the listener bus
    deadline = time.monotonic() + 10
    while True:
        new = {i: p for i, p in execs().items() if i > before}
        if new and "Range" in new[max(new)]:  # the fence's own plan
            break
        assert time.monotonic() < deadline, new
        time.sleep(0.1)
    return [p.split("== Initial Plan ==")[-1].split("\n\n")[0]
            for _, p in sorted(new.items())]


def test_cold_merge_shuffles_postings_once(spark, corpus, tmp_path):
    """A merge writes the kernel's rows as they come out: the postings
    write has one Exchange, below the kernel's MapInArrow, and no
    Window renumbering shards or broadcast join picking hot terms. Two
    cases: a merge of build segments (no hot term), and a second-level
    merge over sharded segments, whose hot terms go through the same
    kernel."""
    from lucene_solr_spark.operators.merge import merge_segments

    def assert_one_shuffle(action):
        plans = _executed_plans(spark, action)
        writes = [p for p in plans if "MapInArrow" in p]
        assert len(writes) == 1, plans
        plan = writes[0]
        assert plan.count("Exchange") == 1, plan
        assert plan.index("MapInArrow") < plan.index("Exchange"), plan
        assert "Window" not in plan and "BroadcastExchange" not in plan, plan

    d = str(tmp_path / "idx")
    m = build_index(spark, corpus, d, docs_per_seg=128)
    assert_one_shuffle(lambda: merge_segments(spark, d, m.seg_ids))

    d = str(tmp_path / "sharded")
    segs = build_index(spark, corpus, d, docs_per_seg=64).seg_ids
    merge_segments(spark, d, segs[:4], shard_postings=128)
    m = merge_segments(spark, d, segs[4:], shard_postings=128)
    assert (IndexReader(spark, d).postings.filter(F.col("shard") > 0)
            .limit(1).count()), "expected sharded terms before the second-level merge"
    assert_one_shuffle(lambda: merge_segments(spark, d, m.seg_ids, shard_postings=128))


def test_fastpath_equals_shuffle_path(spark, tmp_path, monkeypatch):
    """Every Spark scan layout returns exactly what the driver path
    returns (the postings fit ONE_TASK_MAX_BYTES and one scan split):
    whole files, forced by a lowered ``maxPartitionBytes`` and,
    separately, by a lowered ONE_TASK_MAX_BYTES (each segment one file
    below the split size), and repartition(seg) (no file listing). Once
    on the built index and once after deletes left tombstones."""
    from dataclasses import replace

    from lucene_solr_spark.operators import search as search_mod
    from lucene_solr_spark.operators.delete import delete_documents
    from lucene_solr_spark.plans.query import MultiTermQuery
    from lucene_solr_spark.sources import load_source_table

    corpus = load_source_table(spark, "/root/testdata/sf0.001")
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    # a scoring wildcard over more terms than max_expansions keeps
    wide = MultiTermQuery("wildcard", "s*", max_expansions=5, scoring_rewrite=True)
    queries = ["spark", "spark OR merge OR vector", "hash AND join",
               '"batch batch"', "spar*", "(hash OR scan) AND NOT merge",
               "NOT spark", "*:*", "sparc~1", wide]
    assert len(IndexReader(spark, d)._matching_terms(
        replace(wide, max_expansions=1000))) > wide.max_expansions

    def check(queries):
        idx = IndexReader(spark, d)
        assert idx._in_driver() and idx._segments_unsplittable()
        assert "LocalTableScan" in _plan(idx.search("spark"))
        driver = {q: idx.search_with_total(q, k=20) for q in queries}

        sizes = [b for fs in idx._seg_file_sizes().values() for b in fs]
        assert max(sizes) + 1 < sum(sizes)
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(sizes) + 1))
            assert not idx._in_driver() and idx._segments_unsplittable()
            plan = _plan(idx.search("spark"))
            assert "FileScan" in plan and "hashpartitioning(seg" not in plan
            for q in queries:
                assert idx.search_with_total(q, k=20) == driver[q], q
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")

        # postings above ONE_TASK_MAX_BYTES: whole files too
        with monkeypatch.context() as mp:
            mp.setattr(search_mod, "ONE_TASK_MAX_BYTES", sum(sizes) - 1)
            assert not idx._in_driver()
            plan = _plan(idx.search("spark"))
            assert "FileScan" in plan and "hashpartitioning(seg" not in plan
            for q in queries:
                assert idx.search_with_total(q, k=20) == driver[q], q

        # the repartition layout: pretend the file listing failed
        idx2 = IndexReader(spark, d)
        idx2._seg_files_cache = {}
        assert not idx2._in_driver() and not idx2._segments_unsplittable()
        assert "hashpartitioning(seg" in _plan(idx2.search("spark"))
        for q in queries:
            assert idx2.search_with_total(q, k=20) == driver[q], q

    check(queries)
    delete_documents(spark, d, [3, 64, 65, 200, 499])
    check(["spark", "spark OR merge OR vector", "NOT spark", "*:*", "sparc~1"])


def _spark_jobs(spark, action):
    """Run ``action`` in its own job group -> (its result, the
    JobInfo of every Spark job it ran). A marker job run afterwards
    fences the listener bus: once the status store lists the marker,
    it lists every job the action started too."""
    import time
    import uuid

    sc = spark.sparkContext
    st = sc.statusTracker()
    group, marker = f"probe-{uuid.uuid4().hex}", f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        result = action()
        sc.setJobGroup(marker, "job-count fence")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 10
    while True:  # the status store fills from the listener bus
        fence = [st.getJobInfo(j) for j in st.getJobIdsForGroup(marker)]
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if fence and all(j is not None and j.status == "SUCCEEDED"
                         for j in fence + jobs):
            return result, jobs
        assert time.monotonic() < deadline, (fence, jobs)
        time.sleep(0.1)


def test_small_index_query_runs_no_spark_job(spark, corpus, tmp_path):
    """An index whose postings fit ONE_TASK_MAX_BYTES and one scan split
    is served from the driver: a collected search, a search_with_total
    whose stats are not cached, a fuzzy query, MatchAll and collected
    termfreq and score_all results run no Spark job."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    idx = IndexReader(spark, d)
    assert len(idx.manifest.seg_ids) > 1
    q = "spark OR merge"
    actions = {
        "search": lambda: idx.search(q, k=10).collect(),
        "cold stats": lambda: IndexReader(spark, d).search_with_total(q, k=10),
        "fuzzy": lambda: idx.search_with_total("sparc~1", k=10),
        "match all": lambda: idx.search("*:*", k=10).collect(),
        "termfreq": lambda: idx.termfreq("spark").collect(),
        "score_all": lambda: idx.score_all(q).collect(),
    }
    for what, action in actions.items():
        got, jobs = _spark_jobs(spark, action)
        assert got and jobs == [], (what, [j.jobId for j in jobs])


def test_reader_open_and_update_cycle_job_counts(spark, corpus, tmp_path):
    """Opening a reader runs no Spark job and plans no Spark read: its
    postings and docmeta DataFrames are made on first use (and read
    with their declared schemas, so no parquet footer is read to infer
    one). On this small index an update of a few rows runs in the
    driver: a reopen and a query (stats not cached) run no job, and the
    update's only jobs are the bounded collect of its batch. That is at
    most 2 jobs for a list-built batch (a parallelized RDD) and none
    for a pandas-built one (a local relation), also on an index at the
    merge policy's tier (10 segments of 5 docs), whose update merges in
    the driver before its commit."""
    import pandas as pd

    from lucene_solr_spark.operators.delete import update_documents

    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=64)
    rdr, jobs = _spark_jobs(spark, lambda: IndexReader(spark, d))
    assert jobs == [] and len(rdr.manifest.seg_ids) > 1
    assert not {"postings", "docmeta"} & set(vars(rdr))
    victims = corpus.orderBy("doc_id").limit(6).collect()
    rows = [(r["repo"], r["path"], r["commit"], r["lang"], "zzzcycle " + r["content"])
            for r in victims]
    cols = ["repo", "path", "commit", "lang", "content"]
    at_tier = str(tmp_path / "tier")
    build_index(spark, corpus.filter(corpus["doc_id"] < 50), at_tier, docs_per_seg=5)
    assert len(read_manifest(at_tier).segments) == 10
    pandas_rows = spark.createDataFrame(pd.DataFrame(rows[3:], columns=cols))
    batches = [
        (d, spark.createDataFrame(rows[:3], ", ".join(f"{c} string" for c in cols)), 2, 3),
        (d, pandas_rows, 0, 6),
        (at_tier, pandas_rows, 0, 3),
    ]
    for idx, new_rows, max_jobs, want_total in batches:
        def cycle():
            update_documents(spark, idx, new_rows)
            return IndexReader(spark, idx).search_with_total("zzzcycle", k=10)

        (top, total), jobs = _spark_jobs(spark, cycle)
        assert total == want_total
        assert not {doc for doc, _ in top} & {r["doc_id"] for r in victims}
        assert len(jobs) <= max_jobs, (max_jobs, [j.jobId for j in jobs])
    m = read_manifest(at_tier)
    assert len(m.segments) == 2
    assert any(s["source"].startswith("merge(") for s in m.segments)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(st.characters(blacklist_categories=("Cs",))), max_size=40))
def test_term_bucket_matches_spark_crc32(spark, terms):
    """``_term_bucket_py`` is Spark's ``pmod(crc32(cast(term AS
    binary)), 1024)`` on any Unicode term, the empty term and non-BMP
    characters included: a merge or a verify can compute a term's
    bucket in SQL instead of reading it."""
    import pandas as pd

    from lucene_solr_spark.operators.build import TERM_BUCKETS, _term_bucket_py

    terms = ["", "\U0001F600x", "\uff5e", *terms]
    got = (spark.createDataFrame(pd.DataFrame({"term": terms}))
           .select(F.pmod(F.crc32(F.col("term").cast("binary")),
                          F.lit(TERM_BUCKETS)).alias("b"))
           .collect())
    assert [r["b"] for r in got] == [_term_bucket_py(t) for t in terms]


def test_merge_wave_job_counts(spark, corpus, tmp_path):
    """A merge wave runs its postings write (shuffle + write), its
    docmeta write, and nothing else: the per-target counts of the
    manifest are observed on the writes, not read back, and no probe
    looks for hot terms. An expunge adds the broadcast of its
    tombstones."""
    from lucene_solr_spark.operators.delete import delete_documents
    from lucene_solr_spark.operators.merge import expunge_deletes, merge_segments

    d = str(tmp_path / "idx")
    segs = build_index(spark, corpus, d, docs_per_seg=64).seg_ids
    _, jobs = _spark_jobs(spark, lambda: merge_segments(
        spark, d, segs[:4], shard_postings=128))
    assert len(jobs) <= 3, [j.jobId for j in jobs]
    m = merge_segments(spark, d, segs[4:], shard_postings=128)
    # the second level: both sources hold sharded (hot) terms
    m, jobs = _spark_jobs(spark, lambda: merge_segments(
        spark, d, m.seg_ids, shard_postings=128))
    assert len(m.seg_ids) == 1 and len(jobs) <= 3, [j.jobId for j in jobs]
    delete_documents(spark, d, [5, 200, 401])
    m, jobs = _spark_jobs(spark, lambda: expunge_deletes(spark, d))
    assert m.segments[0].get("purged") and len(jobs) <= 4, [j.jobId for j in jobs]


def test_fastpath_guard_respects_real_split_size(spark, tmp_path):
    """ADVICE r1 (high): Spark's real split size is
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartNum)),
    so with a lowered open cost + raised partition floor Spark splits
    files far below maxPartitionBytes. The guard must refuse the
    no-shuffle path under such configs and results must stay exact."""
    from lucene_solr_spark.sources import load_source_table

    corpus = load_source_table(spark, "/root/testdata/sf0.001")
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=256)
    idx = IndexReader(spark, d)
    assert idx._segments_unsplittable()
    q = "spark OR merge OR vector"
    baseline = idx.search_with_total(q, k=20)
    sizes = [b for fs in idx._seg_file_sizes().values() for b in fs]
    try:
        # above each file but below the postings total: not served from
        # the driver
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(sizes) + 1))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        spark.conf.set("spark.sql.files.minPartitionNum", "1000")
        assert not idx._segments_unsplittable()
        assert "hashpartitioning(seg" in _plan(idx.search(q))
        assert idx.search_with_total(q, k=20) == baseline
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
        spark.conf.unset("spark.sql.files.minPartitionNum")


def test_fastpath_refused_for_multifile_segments(spark, tmp_path):
    """A merged segment written by Spark can have several parquet
    files; bin-packing has no segment affinity, so the guard must
    refuse. A small maxRecordsPerFile makes the merge write several."""
    from lucene_solr_spark.operators.merge import merge_segments
    from lucene_solr_spark.sources import load_source_table

    corpus = load_source_table(spark, "/root/testdata/sf0.001")
    d = str(tmp_path / "idx")
    m = build_index(spark, corpus, d, docs_per_seg=64)
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "10")
    try:
        merged = merge_segments(spark, d, m.seg_ids[:4])
    finally:
        spark.conf.set(key, old)
    idx = IndexReader(spark, d)
    target = max(merged.seg_ids)
    assert len(idx._seg_file_sizes()[target]) > 1
    assert not idx._segments_unsplittable()


def test_stats_lru_bounded_and_rank_preserving(spark, corpus, tmp_path,
                                               monkeypatch):
    """The per-query stats LRU (VERDICT r3 wrong #3): driver memory is
    bounded by the cap even when far more distinct terms are queried,
    ranks are identical to an uncached reader (a fresh reader per
    query starts with an empty LRU), and absent terms memoize (no
    repeated scan jobs for a missing term)."""
    from lucene_solr_spark.operators import search as se

    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, docs_per_seg=128)
    monkeypatch.setattr(se, "STATS_CACHE_MAX_TERMS", 5)
    cached = IndexReader(spark, d)
    for q in ["spark", "merge OR vector", "batch AND join",
              "window", "graph OR sql OR txt"]:
        a = [(r["doc_id"], np.float32(r["score"])) for r in
             cached.search(q, k=10).collect()]
        b = [(r["doc_id"], np.float32(r["score"])) for r in
             IndexReader(spark, d).search(q, k=10).collect()]
        assert a == b, q
        assert len(cached._df_lru) <= 5
    # absent terms memoize as 0 (hit the LRU, excluded from results)
    cached.global_dfs(["zzznotaterm"])
    assert cached._df_lru.get("zzznotaterm") == 0
    assert "zzznotaterm" not in cached.global_dfs(["zzznotaterm"])
