#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline pipeline at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timed sections:
  * ``index_build``       — full inverted-index build (tokenize -> segment
    kernels -> manifest commit); docs/sec reported in extras.
  * ``bm25_*``            — top-10 BM25 queries (term / disjunction /
    conjunction / phrase) against the committed index.
  * relational/dedup/ANN headliners over the same testdata tables.

Scaling evidence (north_rule two-cluster criterion, sandbox form) lives
in tools/scaling_bench.py which runs THIS job at two parallelism levels.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("lucene-solr-spark-bench")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_solr_spark.operators import similarity as sim
    from lucene_solr_spark.operators import streamexpr as sx
    from lucene_solr_spark.operators import textproc as tp
    from lucene_solr_spark.operators.build import build_index
    from lucene_solr_spark.operators.search import IndexReader
    from lucene_solr_spark.sources import load_documents, load_source_table

    timings: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 4)
        return out

    def _membw_probe() -> float:
        """Aggregate 8-process memory-copy bandwidth (GB/s): the box
        shares its memory bus with bursty co-tenants (BASELINE.md), so
        every bench line carries its own contention evidence."""
        try:
            sys.path.insert(0, os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "tools"))
            from scaling_bench import _membw

            return round(_membw(8, secs=1.5), 1)
        except Exception:
            return -1.0

    membw_before = _membw_probe()

    # ---- index build (fresh every run: this IS the throughput metric)
    idx_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".work", f"bench_idx_c{cpus}"
    )
    shutil.rmtree(idx_dir, ignore_errors=True)
    src = load_source_table(spark, sf_dir)
    manifest = timed(
        "index_build",
        lambda: build_index(spark, src, idx_dir, docs_per_seg=128),
    )
    n_docs = manifest.doc_count
    docs_per_sec = n_docs / timings["index_build"] if timings["index_build"] else 0.0

    # ---- tiered merge (the full Lucene pipeline: build -> merge -> query)
    from lucene_solr_spark.operators.merge import force_merge, vacuum

    merged = timed(
        "segment_merge",
        lambda: force_merge(spark, idx_dir, segs_per_tier=10, max_merge_at_once=64),
    )
    vacuum(idx_dir)

    idx = IndexReader(spark, idx_dir)

    # ---- BM25 query path (k=10, exact global stats, exhaustive scoring);
    # one untimed warm-up absorbs Python-worker/codegen startup so the
    # numbers are steady-state latency
    idx.search("content:warmup OR value", k=10).collect()
    timed("bm25_term", lambda: idx.search("content:value", k=10).collect())
    timed("bm25_disjunction",
          lambda: idx.search("content:(spark OR merge OR vector OR hash)", k=10).collect())
    timed("bm25_conjunction",
          lambda: idx.search("spark AND merge AND join", k=10).collect())
    timed("bm25_phrase", lambda: idx.search('"batch batch"', k=10).collect())

    # ---- relational headliners (facet + join+rollup over TPC-H-ish tables)
    docs = load_documents(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    timed("facet_field_lang", lambda: sx.facet_field(docs, "lang").collect())
    timed(
        "join_rollup_revenue",
        lambda: sx.rollup_stream(
            sx.hash_join_stream(
                orders,
                customer.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
                ["o_custkey"],
            ),
            ["c_mktsegment"],
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("rev"),
        ).collect(),
    )
    timed(
        "rollup_lineitem",
        lambda: sx.rollup_stream(
            lineitem, ["l_returnflag", "l_linestatus"],
            F.sum("l_quantity").alias("sq"), F.count(F.lit(1)).alias("n"),
        ).collect(),
    )

    # ---- training-data pipeline headliners; one untimed full pass
    # absorbs Arrow-UDF startup + per-plan codegen/AQE materialization
    # (fixed costs that vanish at scale), then caches are CLEARED so the
    # timed run recomputes signatures/candidates/verify from scratch on
    # warm executors — steady-state operator latency, cold data caches
    # (same policy as the BM25 warm-up above)
    tp.minhash_dedup_pairs(docs, 0.8, "text").count()
    spark.catalog.clearCache()
    timed("dedup_minhash_lsh", lambda: tp.minhash_dedup_pairs(docs, 0.8, "text").collect())
    timed("text_quality", lambda: tp.quality_score(docs, "text").collect())
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [r["embedding"] for r in emb.orderBy("vec_id").limit(1).collect()][0]
    timed("ann_cosine_topk", lambda: sim.cosine_topk(emb, qv, k=10).collect())
    # IVF query against the materialized index (offline build cached
    # under .work once per sf; the timed section is the online
    # partition-pruned probe — the 100-TB-relevant path)
    ivf_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".work",
        f"bench_ivf_{os.path.basename(os.path.normpath(sf_dir))}")
    if not sim.ivf_complete(ivf_dir):
        t0 = time.perf_counter()
        sim.ivf_build(emb, ivf_dir, n_clusters=8, iters=3)
        ivf_build_sec = round(time.perf_counter() - t0, 4)
    else:
        ivf_build_sec = 0.0
    timed("ann_ivf_topk",
          lambda: sim.ivf_search(spark, ivf_dir, qv, k=10, n_probe=3).collect())

    total = round(sum(timings.values()), 4)
    result = {
        "metric": "e2e_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "extras": {
            "cpus": cpus,
            "n_docs": n_docs,
            "index_docs_per_sec": round(docs_per_sec, 2),
            "n_segments_built": len(manifest.seg_ids),
            "n_segments_merged": len(merged.seg_ids),
            "ivf_build_sec": ivf_build_sec,
            "membw_gbps_before": membw_before,
            "membw_gbps_after": _membw_probe(),
        },
    }
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
