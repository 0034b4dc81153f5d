"""Spans around the engine's public functions, installed at run time.

Nothing in ``lucene_solr_spark`` knows about tracing: ``Tracer.install``
replaces module attributes and ``IndexReader`` methods with wrappers
that record a span (name, start, end, parent) per call, and restores
them on ``uninstall``. Engine code that looks these names up at call
time (``expunge_deletes`` -> ``merge_many``, ``update_documents`` ->
``build_index`` / ``IndexReader``) is traced too. Spans stay in memory
until ``dump``.

``spark_query_metrics`` reads per-query stage metrics from the Spark
REST API; the benchmark opens the UI only in traced runs.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self.counters: Dict[str, float] = defaultdict(float)
        self.enabled = False
        self._stack: List[int] = []
        self._undo: List[Callable[[], None]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[key] += n

    # -------------------------------------------------------- wrappers
    def wrap(self, owner, attr: str, name: str,
             before: Optional[Callable] = None,
             after: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``before(args, kwargs)`` runs first; ``after(span, result, state,
        args)`` may annotate the span with what ``before`` returned."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before is not None else None
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, out, state, args)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append(lambda: setattr(owner, attr, orig))

    def install(self) -> None:
        from lucene_solr_spark.operators import build, delete, merge, search

        def segs_before(args, kwargs):
            # build_index(spark, source, index_dir) / merge_many(spark, index_dir)
            d = kwargs.get("index_dir") or next(
                a for a in args if isinstance(a, str))
            m = build.read_manifest(d)
            return {s["seg"]: s for s in m.segments} if m else {}

        def new_segs(rec, m, before, args):
            new = [s for s in m.segments if s["seg"] not in before]
            rec["new_segments"] = len(new)
            rec["new_bytes"] = sum(s.get("postings_bytes", 0) for s in new)
            rec["built_bytes"] = sum(s.get("postings_bytes", 0) for s in before.values()
                                     if s.get("source") == "build")
            rec["segments_after"] = len(m.segments)

        self.wrap(build, "build_index", "build.build_index", segs_before, new_segs)
        self.wrap(merge, "merge_many", "merge.merge_many", segs_before, new_segs)
        self.wrap(merge, "expunge_deletes", "merge.expunge_deletes")
        self.wrap(delete, "update_documents", "delete.update_documents")
        self.wrap(delete, "delete_documents", "delete.delete_documents")
        # IndexReader.search resolves these through its own module
        self.wrap(search, "parse_query", "query.parse_query")
        self.wrap(search, "rewrite", "query.rewrite")
        R = search.IndexReader
        self.wrap(R, "__init__", "search.open")
        self.wrap(R, "search", "search.search")
        self.wrap(R, "global_dfs", "search.global_dfs",
                  lambda a, k: self.count(
                      "stats.requested", len(set(a[1] if len(a) > 1 else k["terms"]))))
        # the stats job runs only for terms missing from the reader's
        # cache: its argument is exactly the fetched terms
        self.wrap(R, "_filtered_postings", "search.stats_fetch",
                  lambda a, k: self.count("stats.fetched", len(a[1])))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -------------------------------------------------------- analysis
    def closed(self) -> List[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.closed() if s["name"] == name]

    def self_times(self) -> Dict[str, float]:
        """Seconds per layer (the span name's first part) not covered
        by child spans. Single client thread: children nest in parents."""
        spans = self.closed()
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"].split(".")[0]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        keep = ("id", "name", "parent", "start", "end", "group", "shape")
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: s[k] for k in keep if k in s}) + "\n")


# ------------------------------------------------------- Spark REST


#: the Spark UI is local: never route it through a proxy from the environment
_LOCAL = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _get(url: str):
    with _LOCAL.open(url, timeout=10) as r:
        return json.loads(r.read().decode())


def spark_query_metrics(sc, groups: List[str], wait_s: float = 10.0) -> dict:
    """Per job group (one per query): jobs, tasks, input bytes, shuffle
    read+write bytes, executor run ms. Averages over ``groups``.
    Requires the Spark UI (REST API) to be enabled."""
    base = sc.uiWebUrl
    if not base or not groups:
        return {}
    app = f"{base}/api/v1/applications/{sc.applicationId}"
    want = set(groups)
    deadline = time.monotonic() + wait_s
    while True:
        # the status store fills from the listener bus asynchronously:
        # wait until every job of the traced groups has finished
        jobs = [j for j in _get(f"{app}/jobs") if j.get("jobGroup") in want]
        if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages: Dict[int, dict] = {}
    for st in _get(f"{app}/stages"):
        if st.get("status") == "SKIPPED":
            continue
        agg = stages.setdefault(st["stageId"], defaultdict(float))
        agg["tasks"] += st.get("numCompleteTasks", 0)
        agg["input"] += st.get("inputBytes", 0)
        agg["shuffle"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
        agg["run_ms"] += st.get("executorRunTime", 0)
    per = defaultdict(lambda: defaultdict(float))
    for j in jobs:
        g = per[j["jobGroup"]]
        g["jobs"] += 1
        for sid in j.get("stageIds", []):
            for k, v in stages.get(sid, {}).items():
                g[k] += v
    n = len(want)
    tot = defaultdict(float)
    for g in per.values():
        for k, v in g.items():
            tot[k] += v
    return {k: tot[k] / n for k in ("jobs", "tasks", "input", "shuffle", "run_ms")}
