"""The benchmark's workloads: ``search`` and ``churn``.

Each is a closed loop with one client thread. A run sets up
(``SETUP_REPS`` times, reporting the median), measures for the given
seconds, then checks the outputs outside the timed region. The engine
is driven only through its public modules, always looked up as module
attributes so the tracer's wrappers see every call.

In a traced run every other operation of the window is traced: traced
and untraced operations interleave in one equally warm JVM, so the
difference of their medians is the tracing overhead.

Every CPU figure is divided by the CPU time of a reference job, a fixed
plain-Spark job that calls no engine code, run before each set-up and
twice after the window (median of all but the first two: the JVM still
compiles the job's code in those). On a shared host the CPU time of the
same work moves with the neighbours' load, by up to a factor of two for
hours; the reference job does the same kinds of work, so it moves too.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time
from collections import Counter
from typing import Dict, List, NamedTuple, Tuple

import numpy as np
import pandas as pd

from . import gen
from .stats import Tally, median, percentile, tail_percentile, tree_cpu_s, window
from .trace import Tracer, spark_query_metrics

SETUP_REPS = 4
K = 10
#: search / churn start from this many docs in DOCS_PER_SEG-doc build
#: segments: 8 segments, already at the merge policy's fixpoint (<= 10),
#: so the setup can be repeated
N_DOCS = 3000
DOCS_PER_SEG = 375
#: docs in the index a traced churn run checks with verify_index
VERIFY_DOCS = 200
#: search's window holds whole rounds of the query shapes, at least
#: MIN_ROUNDS: the first round fills the reader's stats cache. Traced
#: runs hold more, as only every other query is traced
MIN_ROUNDS = 2
TRACED_MIN_ROUNDS = 4
#: untimed warm-up before the window (JIT, Python workers, first-time
#: code paths): search queries from another pool, churn cycles
WARM_QUERIES = 2
WARM_CYCLES = 1
#: churn's window holds at least this many cycles (a cycle takes 1.5-3 s)
MIN_CYCLES = 3
IDENT_RE = re.compile(r"ident_\d{4}")


#: rows of the reference job: 1.1-1.6 CPU seconds on a busy 4-core VM
REF_ROWS = 50_000


def _ref_group(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"k": [int(pdf["k"].iloc[0])],
                         "n": [int(pdf["h"].str.count("a").sum())]})


def _now() -> float:
    return time.perf_counter()


class Op(NamedTuple):
    """One operation of the timed window."""

    ms: float       # wall time
    cpu_ms: float   # CPU time of this process, the JVM and its workers
    traced: bool


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


class Run:
    """What one workload run shares: session, seed, tracer, tally,
    scratch directory, and the metrics it reports."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool,
                 work: str) -> None:
        from lucene_solr_spark import sources
        from lucene_solr_spark.operators import build, delete, merge, search, verify

        self.spark, self.seed, self.seconds, self.trace = spark, seed, seconds, trace
        self.work = work
        self.src, self.build, self.merge = sources, build, merge
        self.delete, self.search, self.verify = delete, search, verify
        self.tracer = Tracer()
        self.tally = Tally()
        self.e2e: Dict[str, Tuple[float, str]] = {}
        self.layer: Dict[str, Tuple[float, str]] = {}
        self.summary: List[str] = []
        self.setup_s = self.setup_wall_s = self.corpus_gen_s = self.ref_cpu_s = 0.0
        self.setup_build_cpu_s = 0.0
        self.wall_p50_ms = 0.0
        self.groups: List[str] = []
        self.ref_cpu: List[float] = []   # CPU s of each reference job
        self.t_phase = _now()

    def phase(self, name: str) -> None:
        """Log the time spent since the previous phase to stderr."""
        t = _now()
        print(f"[perfbench] {name}: {t - self.t_phase:.1f}s", file=sys.stderr, flush=True)
        self.t_phase = t

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def trace_op(self, i: int) -> bool:
        """Trace operation ``i`` of the window (odd ones, traced runs)."""
        self.tracer.enabled = self.trace and i % 2 == 1
        return self.tracer.enabled

    # ------------------------------------------------------------ setup
    def setup_index(self, warm_queries: int):
        """Corpus + index + open reader, SETUP_REPS times; the last
        repetition's corpus and index are kept. ``setup_s`` is the
        median CPU time of one set-up, and ``setup_build_cpu_s`` that of
        its ``build_index`` call, over all but the first: the JVM's JIT
        and the first Python workers make that one several times slower
        than the next (a smaller first set-up does not warm them
        enough). Then ``warm_queries`` queries from the warm-up pool on
        that reader: they fill its stats cache with the warm-up pool's
        terms, so the window's first queries still miss on most of their
        own."""
        cpus, walls, gens, builds = [], [], [], []
        corpus = d = reader = None
        for r in range(SETUP_REPS):
            if corpus is not None:
                corpus.unpersist()
                shutil.rmtree(d)
            d = self.path(f"index{r}")
            self.ref_cpu.append(self.reference_cpu_s())
            c0, t0 = tree_cpu_s(), _now()
            corpus = self.src.assign_doc_ids(
                self.src.synth_repo_files(self.spark, N_DOCS, self.seed)).cache()
            corpus.count()
            gens.append(_now() - t0)
            b0 = tree_cpu_s()
            self.build.build_index(self.spark, corpus, d, docs_per_seg=DOCS_PER_SEG)
            builds.append(tree_cpu_s() - b0)
            self.merge.force_merge(self.spark, d)
            self.merge.vacuum(d)
            reader = self.search.IndexReader(self.spark, d)
            walls.append(_now() - t0)
            cpus.append(tree_cpu_s() - c0)
        self.phase(f"setup x{SETUP_REPS}: wall " + " ".join(f"{t:.1f}" for t in walls)
                   + ", cpu " + " ".join(f"{t:.1f}" for t in cpus)
                   + ", build cpu " + " ".join(f"{t:.2f}" for t in builds))
        self.setup_s, self.setup_wall_s = median(cpus[1:]), median(walls[1:])
        self.corpus_gen_s, self.setup_build_cpu_s = median(gens[1:]), median(builds[1:])
        warm = gen.query_stream(self.seed, salt=1)
        for _ in range(warm_queries):
            with self.tally.op("warm-up query"):
                reader.search(next(warm)[1], k=K).collect()
        self.phase("warm-up")
        return corpus, d, reader

    def reference_cpu_s(self) -> float:
        """CPU seconds of a fixed plain-Spark job that calls no engine
        code, with the parts the engine's work has: generated JVM code,
        a shuffle, Arrow, and a pandas UDF in the Python workers."""
        df = self.spark.range(0, REF_ROWS, numPartitions=4).selectExpr(
            "id % 8 AS k", "sha2(cast(id AS string), 256) AS h")
        c0 = tree_cpu_s()
        df.groupBy("k").applyInPandas(_ref_group, "k long, n long").collect()
        return tree_cpu_s() - c0

    # ---------------------------------------------------------- queries
    def query(self, reader, q: str, k: int = K, shape: str = ""):
        """One top-k query -> (rows, ms). A traced query gets its own
        Spark job group, for the per-query stage metrics."""
        group = None
        if self.tracer.enabled:
            group = f"perfbench-q{len(self.groups)}"
            self.groups.append(group)
            self.spark.sparkContext.setJobGroup(group, q[:60])
        t0 = _now()
        with self.tracer.span("bench.query", shape=shape, group=group):
            df = reader.search(q, k=k)
            with self.tracer.span("search.collect"):
                rows = df.collect()
        ms = (_now() - t0) * 1000.0
        if group is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return [(int(r["doc_id"]), float(r["score"])) for r in rows], ms

    # ---------------------------------------------------------- metrics
    def report(self, ops: List[Op], index_ratio: float, what: str) -> None:
        """End-to-end metrics from the window's completed ops and from
        the set-up, after the last reference job: CPU times in seconds
        of a host on which the reference job takes one CPU second. When
        no op completed (every one failed, and the tally counts them)
        the op figures are 0."""
        self.ref_cpu += [self.reference_cpu_s() for _ in range(2)]
        self.ref_cpu_s = ref = median(self.ref_cpu[2:])
        op_ms = [o.ms for o in ops]
        cpu_ms = [o.cpu_ms for o in ops]
        untraced = [o.ms for o in ops if not o.traced]
        self.wall_p50_ms = median(untraced) if untraced else 0.0
        op_cpu = median(cpu_ms) if ops else 0.0
        self.e2e = {
            "setup_s": (self.setup_s / ref, "s"),
            "op_cpu_p50_ms": (op_cpu / ref, "ms"),
            "build_docs_per_cpu_s": (N_DOCS * ref / self.setup_build_cpu_s
                                     if self.setup_build_cpu_s else 0.0, "1/s"),
            "index_bytes_per_content_byte": (index_ratio, "B/B"),
        }
        self.summary.append("reference job cpu " + " ".join(f"{t:.2f}" for t in self.ref_cpu)
                            + f" s; set-up cpu {self.setup_s:.2f} s")
        if not ops:
            self.summary.append(f"{what}: no operation completed")
            return
        line = (f"{what}: n={len(ops)} cpu p50={op_cpu:.0f} ms, "
                f"wall p50={median(op_ms):.1f} ms")
        tail = tail_percentile(len(ops))
        if tail is not None:
            line += f" p{tail}={percentile(op_ms, tail):.1f} ms"
        self.summary.append(line + " (a p90 needs n>=100: ten samples beyond it); "
                            f"set-up wall {self.setup_wall_s:.2f} s")

    def layer_metrics(self, ops: List[Op],
                      shape_ms: Dict[str, List[float]], tombstones: int = 0) -> None:
        """Per-layer metrics from the traced operations' spans: times
        per call (or per query), counts per call, self time in total."""
        tr = self.tracer
        spans = tr.closed()
        dur = tr.durations

        def per_call(name, scale=1.0):
            d = dur(name)
            return sum(d) / len(d) * scale if d else 0.0

        builds = [s for s in spans if s["name"] == "build.build_index"]
        waves = [s for s in spans if s["name"] == "merge.merge_many"]
        merges = len(dur("merge.expunge_deletes"))
        nq = max(1, len(dur("search.search")))
        req = tr.counters.get("stats.requested", 0)
        rest = spark_query_metrics(self.spark.sparkContext, self.groups)
        ms = 1000.0
        L = {
            "sources.corpus_gen_s": (self.corpus_gen_s, "s"),
            "analysis.mb_per_s": (self.analysis_mb_per_s(), "MB/s"),
            "build.call_s": (per_call("build.build_index"), "s"),
            "build.commit_p50_ms": (median(dur("build.build_index")) * ms
                                    if builds else 0.0, "ms"),
            "build.segments": (sum(s["new_segments"] for s in builds)
                               / max(1, len(builds)), "count"),
            "build.postings_bytes": (sum(s["new_bytes"] for s in builds)
                                     / max(1, len(builds)), "B"),
            "merge.call_s": (per_call("merge.merge_many"), "s"),
            "merge.waves": (len(waves) / max(1, merges), "count"),
            "merge.bytes_rewritten_per_built_byte": (
                sum(s["new_bytes"] for s in waves)
                / max(1, sum(s["built_bytes"] for s in waves)), "ratio"),
            "merge.segments_after": (waves[-1]["segments_after"] if waves else 0, "count"),
            "merge.expunge_s": (per_call("merge.expunge_deletes"), "s"),
            "delete.update_s": (per_call("delete.update_documents"), "s"),
            "delete.delete_s": (per_call("delete.delete_documents"), "s"),
            "delete.tombstones": (tombstones, "count"),
            "query.parse_ms": ((sum(dur("query.parse_query")) + sum(dur("query.rewrite")))
                               / nq * ms, "ms"),
            "search.open_ms": (per_call("search.open", ms), "ms"),
            "search.stats_ms": (sum(dur("search.global_dfs")) / nq * ms, "ms"),
            "search.stats_miss_ratio": (tr.counters.get("stats.fetched", 0) / req
                                        if req else 0.0, "ratio"),
            "search.collect_ms": (sum(dur("search.collect")) / nq * ms, "ms"),
            "search.jobs_per_query": (rest.get("jobs", 0.0), "count"),
            "search.tasks_per_query": (rest.get("tasks", 0.0), "count"),
            "search.input_bytes_per_query": (rest.get("input", 0.0), "B"),
            "search.shuffle_bytes_per_query": (rest.get("shuffle", 0.0), "B"),
            "search.executor_run_ms_per_query": (rest.get("run_ms", 0.0), "ms"),
        }
        for cat in ("term", "boolean", "phrase", "multiterm"):
            v = shape_ms.get(cat)
            L[f"search.{cat}_p50_ms"] = (median(v) if v else 0.0, "ms")
        st = tr.self_times()
        for layer in ("bench", "build", "merge", "delete", "query", "search"):
            L[f"{layer}.self_s"] = (st.get(layer, 0.0), "s")
        # wall-clock counterparts of the end-to-end metrics (untraced half)
        L["wall.setup_s"] = (self.setup_wall_s, "s")
        L["wall.op_p50_ms"] = (self.wall_p50_ms, "ms")
        L["host.ref_cpu_s"] = (self.ref_cpu_s, "s")
        # on CPU time, steadier than wall time on a shared host
        on = [o.cpu_ms for o in ops if o.traced]
        off = [o.cpu_ms for o in ops if not o.traced]
        L["trace.overhead_pct"] = ((median(on) - median(off)) / median(off) * 100.0
                                   if on and off else 0.0, "%")
        self.layer = L

    def analysis_mb_per_s(self) -> float:
        """tokenize_series throughput on a seeded 300-doc sample."""
        from lucene_solr_spark.analysis import tokenize_series

        texts = self.src.synth_rows(range(300), self.seed)["content"]
        mb = texts.str.encode("utf-8").str.len().sum() / 1e6
        runs = []
        for _ in range(3):
            t0 = _now()
            tokenize_series(texts)
            runs.append(_now() - t0)
        return mb / median(runs)


# ================================================================ search


def _check_with_oracle(run: Run, corpus_pd, executed) -> None:
    """Rank identity, doc_ids and float32 scores, against the
    exhaustive oracle over the same corpus."""
    from tests.oracle import OracleIndex

    oracle = OracleIndex(list(zip(corpus_pd["doc_id"].astype(int),
                                  corpus_pd["content"])))
    want = {}
    for q, rows in executed:
        if q not in want:
            want[q] = [(d, np.float32(s)) for d, s in oracle.search(q, k=K).score_docs]
        got = [(d, np.float32(s)) for d, s in rows]
        if got != want[q]:
            run.tally.mismatch(f"query {q!r}", f"engine {got[:3]} != oracle {want[q][:3]}")


def run_search(run: Run) -> None:
    corpus, d, reader = run.setup_index(WARM_QUERIES)
    corpus_pd = corpus.select("doc_id", "content").toPandas()
    content_bytes = int(corpus_pd["content"].str.encode("utf-8").str.len().sum())
    stream = gen.query_stream(run.seed)
    ops: List[Op] = []
    shape_ms: Dict[str, List[float]] = {}
    executed: list = []
    rounds = len(gen.SHAPES)
    min_rounds = TRACED_MIN_ROUNDS if run.trace else MIN_ROUNDS
    for i in window(run.seconds, min_rounds * rounds, rounds):
        cat, q = next(stream)
        traced = run.trace_op(i)
        with run.tally.op(f"query {q!r}"):
            c0 = tree_cpu_s()
            rows, ms = run.query(reader, q, shape=cat)
            ops.append(Op(ms, (tree_cpu_s() - c0) * 1000.0, traced))
            if not traced:
                shape_ms.setdefault(cat, []).append(ms)
            executed.append((q, rows))
    run.tracer.enabled = False
    run.report(ops, dir_bytes(d) / content_bytes, "query")
    run.phase("timed window")
    if run.trace:
        run.layer_metrics(ops, shape_ms)
    _check_with_oracle(run, corpus_pd, executed)
    run.phase("oracle check")


# ================================================================= churn


def _rarest_ident(text: str, df: Counter) -> str:
    """The doc's identifier held by the fewest docs, so a query for it
    ranks every live holder within the top k."""
    return min(set(IDENT_RE.findall(text)), key=lambda t: (df[t], t))


def _next_id(run: Run, d: str) -> int:
    """First doc_id after the last covered construction range: appends
    must start there (ids inside a covered range are skipped)."""
    m = run.build.read_manifest(d)
    return max(s.get("doc_hi", s["doc_base"] + s["n_docs"]) for s in m.segments)


def _ingest_check(run: Run) -> None:
    """The ingest path on a fresh seeded VERIFY_DOCS-doc index: four
    append commits (the manifest must count every doc) and CheckIndex
    with the source's sha256 invariant (``verify_index``). Then one
    delete, ``expunge_deletes`` (one ``merge_many`` wave: the traced
    ``merge.*`` metrics) and ``vacuum``; the rewritten segment must
    count one live doc less.

    The deleted doc is a copy of the doc before it: ``expunge_deletes``
    fails on a (segment, term_bucket) group whose postings are all
    deleted, which a small segment with a deleted doc of unique terms
    would have. CheckIndex runs before the expunge: it compares a purged
    segment's original ``n_docs`` with its live docmeta rows."""
    d = run.path("ingest")
    step = VERIFY_DOCS // 4
    rows = run.src.synth_rows(range(VERIFY_DOCS), run.seed)
    rows.iloc[-1, rows.columns.get_loc("content")] = rows["content"].iloc[-2]
    rows.insert(0, "doc_id", np.arange(VERIFY_DOCS))
    for lo in range(0, VERIFY_DOCS, step):
        with run.tally.op("append commit"):
            run.build.build_index(run.spark, run.spark.createDataFrame(rows.iloc[lo:lo + step]),
                                  d, docs_per_seg=step)
    n = run.build.read_manifest(d).doc_count
    run.tally.check("manifest doc count", n == VERIFY_DOCS, f"{n} != {VERIFY_DOCS}")
    rep = run.verify.verify_index(run.spark, d, source=run.spark.createDataFrame(
        rows[["doc_id", "content"]]))
    run.tally.check("verify_index", rep["ok"], "; ".join(rep["problems"][:3]))
    with run.tally.op("delete_documents"):
        run.delete.delete_documents(run.spark, d, [VERIFY_DOCS - 1])
    run.tracer.enabled = True
    with run.tally.op("expunge_deletes + vacuum"):
        m = run.merge.expunge_deletes(run.spark, d)
        run.merge.vacuum(d)
        last = max(m.segments, key=lambda s: s["doc_base"])
        run.tally.check("expunged segment live count", last.get("n_live") == step - 1,
                        f"n_live={last.get('n_live')}, want {step - 1}")
    run.tracer.enabled = False


def run_churn(run: Run) -> None:
    corpus, d, _ = run.setup_index(0)
    cols = ["repo", "path", "commit", "lang", "content"]
    docs = corpus.select("doc_id", *cols).toPandas().set_index("doc_id", drop=False)
    ident_df = Counter(t for c in docs["content"] for t in set(IDENT_RE.findall(c)))
    plan = gen.churn_plan(run.seed, N_DOCS, cycles=10_000)
    versions = [docs]                   # every doc version ever indexed
    new: Dict[str, int] = {}            # marker -> new doc_id
    gone: List[Tuple[int, str]] = []    # (replaced or deleted id, its rarest ident)
    ops: List[Op] = []

    def cycle(c: int) -> Tuple[float, float]:
        """Delete some docs every few cycles, replace a few (each gains
        a unique marker), reopen, and query: the new versions must be
        visible and the replaced and deleted ones gone. Returns the wall
        and CPU ms from the start of the delete (or update) to that
        query's result."""
        upd, dels = plan[c]
        rows = docs.loc[upd, cols].copy()
        marks = [gen.marker(run.seed, c, j) for j in range(len(upd))]
        rows["content"] = rows["content"] + " " + np.array(marks, dtype=object)
        rare = [_rarest_ident(docs.at[i, "content"], ident_df) for i in upd + dels]
        # update_documents numbers the replacements after the last
        # covered range, in (repo, path) order
        first = _next_id(run, d)
        order = sorted(range(len(upd)), key=lambda j: tuple(rows.iloc[j][["repo", "path"]]))
        expect = {marks[j]: first + r for r, j in enumerate(order)}
        c1, t1 = tree_cpu_s(), _now()
        with run.tracer.span("bench.update_cycle"):
            if dels:
                run.delete.delete_documents(run.spark, d, dels)
            run.delete.update_documents(run.spark, d, run.spark.createDataFrame(rows))
            rdr = run.search.IndexReader(run.spark, d)
            got, _ = run.query(rdr, " OR ".join(marks + rare), k=20, shape="visibility")
        t2, c2 = _now(), tree_cpu_s()
        ids = {i for i, _ in got}
        run.tally.check("new versions visible", set(expect.values()) <= ids,
                        f"{sorted(expect.values())} not all in {sorted(ids)}")
        run.tally.check("replaced/deleted ids absent", not ids & set(upd + dels),
                        f"{sorted(ids & set(upd + dels))} still returned")
        new.update(expect)
        gone.extend(zip(upd + dels, rare))
        rows.insert(0, "doc_id", [expect[mk] for mk in marks])
        versions.append(rows)
        return (t2 - t1) * 1000.0, (c2 - c1) * 1000.0

    def live_content_bytes() -> int:
        every = pd.concat(versions, ignore_index=True)
        live = every[~every["doc_id"].isin({g for g, _ in gone})]
        return int(live["content"].str.encode("utf-8").str.len().sum())

    for c in range(WARM_CYCLES):
        with run.tally.op("churn warm-up cycle"):
            cycle(c)
    # measured after a fixed amount of work: how many cycles the window
    # holds depends on the machine, and each adds a small segment
    index_ratio = dir_bytes(d) / live_content_bytes()
    run.phase(f"warm-up ({WARM_CYCLES} cycles)")
    for i in window(run.seconds, MIN_CYCLES):
        traced = run.trace_op(i)
        with run.tally.op("churn cycle"):
            ops.append(Op(*cycle(WARM_CYCLES + i), traced))
    run.tracer.enabled = False
    run.phase(f"timed window ({len(ops)} cycles), cpu ms "
              + " ".join(f"{o.cpu_ms:.0f}" for o in ops))
    n_versions = sum(len(v) for v in versions)
    old = {g for g, _ in gone}
    m = run.build.read_manifest(d)
    # counts stay delete-blind until expungeDeletes: every version
    run.tally.check("manifest doc count", m.doc_count == n_versions,
                    f"{m.doc_count} != {n_versions}")
    run.report(ops, index_ratio, "update-to-visible")
    if run.trace:
        # merge waves and CheckIndex take 10-20 s each: traced runs only
        _ingest_check(run)
        run.layer_metrics(ops, {}, len(run.delete.load_deleted_ids(d, m)))
        run.phase("ingest check")
    with run.tally.op("final queries"):
        final = run.search.IndexReader(run.spark, d)
        # every marker still finds exactly its new version; no old id returns
        got, _ = run.query(final, " OR ".join(new), k=len(new) + K)
        run.tally.check("all new versions", {i for i, _ in got} == set(new.values()),
                        "marker query lost or gained documents")
        got, _ = run.query(final, " OR ".join(sorted({r for _, r in gone})), k=500)
        run.tally.check("no old version", not {i for i, _ in got} & old,
                        f"{sorted({i for i, _ in got} & old)[:5]} returned")
    run.phase("final checks")


WORKLOADS = {"search": run_search, "churn": run_churn}
