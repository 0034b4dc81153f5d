#!/usr/bin/env python3
"""Benchmark of the Tier-0 path: index build, merge, updates, BM25 top-k.

    python3 perfbench/run.py --workload search --seed 1 --seconds 8 --trace 0

Run from the repository root. Workloads: ``search`` and ``churn``
(see perfbench/README.md). The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Progress goes to standard error. All
scratch files live under ``.perfbench_work/`` and are removed at exit;
a traced run leaves its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: per-layer metric -> (end-to-end metric it should move, workload)
NO_E2E = "none: merges run only in traced runs"
LAYER_TO_E2E = {
    "sources.corpus_gen_s": ("setup_s", "search, churn"),
    "analysis.mb_per_s": ("build_docs_per_cpu_s", "search, churn"),
    "build.call_s": ("build_docs_per_cpu_s, op_cpu_p50_ms", "churn"),
    "build.commit_p50_ms": ("op_cpu_p50_ms", "churn"),
    "build.segments": ("index_bytes_per_content_byte", "churn"),
    "build.postings_bytes": ("index_bytes_per_content_byte", "churn"),
    "merge.call_s": (NO_E2E, "churn"),
    "merge.waves": (NO_E2E, "churn"),
    "merge.bytes_rewritten_per_built_byte": (NO_E2E, "churn"),
    "merge.segments_after": (NO_E2E, "churn"),
    "merge.expunge_s": (NO_E2E, "churn"),
    "delete.update_s": ("op_cpu_p50_ms", "churn"),
    "delete.delete_s": ("op_cpu_p50_ms", "churn"),
    "delete.tombstones": ("op_cpu_p50_ms", "churn"),
    "query.parse_ms": ("op_cpu_p50_ms", "search"),
    "search.open_ms": ("op_cpu_p50_ms", "churn"),
    "search.stats_ms": ("op_cpu_p50_ms", "search"),
    "search.stats_miss_ratio": ("op_cpu_p50_ms", "search"),
    "search.collect_ms": ("op_cpu_p50_ms", "search"),
    "search.jobs_per_query": ("op_cpu_p50_ms", "search"),
    "search.tasks_per_query": ("op_cpu_p50_ms", "search"),
    "search.input_bytes_per_query": ("op_cpu_p50_ms", "search"),
    "search.shuffle_bytes_per_query": ("op_cpu_p50_ms", "search"),
    "search.executor_run_ms_per_query": ("op_cpu_p50_ms", "search"),
    "search.term_p50_ms": ("op_cpu_p50_ms", "search"),
    "search.boolean_p50_ms": ("op_cpu_p50_ms", "search"),
    "search.phrase_p50_ms": ("op_cpu_p50_ms", "search"),
    "search.multiterm_p50_ms": ("op_cpu_p50_ms", "search"),
    "bench.self_s": ("op_cpu_p50_ms", "search, churn"),
    "build.self_s": ("build_docs_per_cpu_s, op_cpu_p50_ms", "churn"),
    "merge.self_s": (NO_E2E, "churn"),
    "delete.self_s": ("op_cpu_p50_ms", "churn"),
    "query.self_s": ("op_cpu_p50_ms", "search"),
    "search.self_s": ("op_cpu_p50_ms", "search, churn"),
    "wall.setup_s": ("setup_s (its wall-clock time)", "search, churn"),
    "wall.op_p50_ms": ("op_cpu_p50_ms (its wall-clock latency)", "search, churn"),
    "host.ref_cpu_s": ("none (every CPU figure is divided by it)", "search, churn"),
    "trace.overhead_pct": ("none (tracing cost)", "search, churn"),
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=("search", "churn"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str, trace: bool):
    """local[nproc] Spark with a heap well below RAM, scratch inside
    ``work``, no progress bar; the UI (REST stage metrics) only when
    tracing."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = max(512, min(2048, ram_mb // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        # no hsperfdata file in the system /tmp; C1 only: a run lasts
        # about a minute, and C2 compiling beside the work on few cores
        # moves latencies from run to run; serial GC: no concurrent GC
        # threads, whose CPU time varies from run to run; the whole heap
        # from the start: a heap that grows during the run makes every
        # set-up and operation cheaper than the one before
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC "
                f"-Xms{heap_mb}m")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.port", "0")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it takes its Python
    workers with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import lucene_solr_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: run from the repository root ({ex})", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Run

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    print(f"[perfbench] imports: {t0 - T_START:.1f}s", file=sys.stderr)
    spark = _session(work, bool(args.trace))
    try:
        run = Run(spark, args.seed, args.seconds, bool(args.trace), work)
        run.t_phase = t0
        run.phase("spark session")
        if args.trace:
            run.tracer.install()
        WORKLOADS[args.workload](run)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in run.summary:
        print(f"[perfbench] {line}", file=sys.stderr)
    metrics = run.layer if args.trace else run.e2e
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        spans = os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl")
        run.tracer.dump(spans)
        print(f"spans: {len(run.tracer.spans)} written to {os.path.relpath(spans, ROOT)}")
        for name, (value, unit) in metrics.items():
            e2e, wl = LAYER_TO_E2E[name]
            print(f"{name:40s} {value:14.4f} {unit:6s} -> {e2e} ({wl})")
        print("end-to-end (same run, half its window traced): " + ", ".join(
            f"{k}={v:.4f} {u}" for k, (v, u) in run.e2e.items()))
    print(f"[perfbench] {args.workload} seed={args.seed} run={time.perf_counter() - t0:.1f}s "
          f"attempted={run.tally.attempted} failed={run.tally.failed} "
          f"failed_op_ratio={run.tally.ratio:.4f}", file=sys.stderr)
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": max(1, run.tally.attempted),
        "failed": run.tally.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
