"""Physical-plan evidence generator -> PLANS.md.

Dumps `.explain(formatted)` for the engine's key operators and greps the
properties that matter at 100 TB: parquet PushedFilters / partition
pruning (term + seg predicates reach the scan), ReadSchema column
pruning (pos blobs absent from non-phrase plans), WholeStageCodegen
spans on the relational glue, broadcast joins for small dims, and
TakeOrderedAndProject for the top-k merge. Queries are planned on their
Spark layout (the layout of an index above ``search.ONE_TASK_MAX_BYTES``),
since a smaller index is served from the driver.

    python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def trim(plan: str, max_lines: int = 60) -> str:
    lines = [l.rstrip() for l in plan.splitlines() if l.strip()]
    return "\n".join(lines[:max_lines])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("explain-plans")
        .config("spark.driver.memory", "12g")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from lucene_solr_spark.operators import search as search_mod
    from lucene_solr_spark.operators import similarity as sim
    from lucene_solr_spark.operators import streamexpr as sx

    # these indexes are small enough to be served from the driver, whose
    # results are local relations with no plan to show: force every
    # query onto its Spark layout
    search_mod.ONE_TASK_MAX_BYTES = 0

    idx = entry._index_for(spark, sf_dir)

    sections = []

    def add(title: str, df, notes: str):
        # locations relative to the repo and the data dir, so PLANS.md
        # does not depend on where either lives
        plan = plan_of(df).replace(REPO + os.sep, "").replace(sf_dir, "<sf_dir>")
        sections.append((title, notes, trim(plan)))

    # 1. BM25 search: postings scan pushdown + TakeOrderedAndProject
    add(
        "BM25 top-k (term query) — postings scan",
        idx._per_segment(
            __import__("lucene_solr_spark.plans.query", fromlist=["parse_query"]).parse_query("content:spark"),
            10,
        ),
        "Expect: PushedFilters with term IN reaching the "
        "parquet scan; ReadSchema holding only the columns the kernel "
        "decodes (term, shard, df, docs, tfs, norms): no pos blob "
        "and no cum_tf.",
    )
    add(
        "BM25 global top-k merge",
        idx.search("content:(spark OR merge)", k=10),
        "Expect: TakeOrderedAndProject (per-partition heap + driver "
        "merge, no global sort) == Lucene TopDocs.merge.",
    )

    # 1a. leading wildcard on a reversed_wildcard index: the rewrite
    # turns a full-dictionary scan into a literal-prefix pushdown
    rw_idx = entry._index_for(spark, sf_dir, analyzer="reversed_wildcard")
    from lucene_solr_spark.plans.query import MultiTermQuery

    add(
        "Leading wildcard (*ark) over a reversed_wildcard index",
        rw_idx._per_segment(
            rw_idx._expand(MultiTermQuery(kind="wildcard", pattern="*ark")),
            10),
        "Expect: PushedFilters with StringStartsWith(term, '\\x01kra') — "
        "the ReversedWildcardFilter rewrite gives the scan a literal "
        "prefix; without it the same query reads the whole term "
        "dictionary (IsNotNull only).",
    )

    # 1b. bounded fuzzy rewrite: the matching-terms collect is a
    # TakeOrderedAndProject capped at max_expansions (TopTermsRewrite)
    fz = MultiTermQuery(kind="fuzzy", pattern="spark", max_edits=1,
                        max_expansions=50)
    add(
        "Fuzzy term expansion (bounded TopTermsRewrite collect)",
        idx.postings.filter(idx._multiterm_cond(fz))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(fz.pattern)))
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(int(fz.max_expansions)).select("term"),
        "Expect: the length-band filter pushed to the scan "
        "(ReadSchema only term/df), partial+final HashAggregate for "
        "the per-term df, and TakeOrderedAndProject(50) — the driver "
        "receives at most max_expansions terms no matter how many "
        "edit-distance neighbors the vocabulary holds.",
    )

    # 1c. span family column pruning: SpanOr is tf-only (pos blobs
    # pruned), SpanNot ships pos for exactly its two terms
    from lucene_solr_spark.plans.query import SpanNotQuery, SpanOrQuery

    add(
        "SpanOr (tf-only span union) — postings scan",
        idx._per_segment(SpanOrQuery(("spark", "merge")), 10),
        "Expect: ReadSchema WITHOUT pos — SpanOr counts "
        "spans from tfs alone, so the bulkiest blobs never move.",
    )
    add(
        "SpanNot (position veto) — postings scan",
        idx._per_segment(SpanNotQuery("spark", "merge", pre=1, post=1), 10),
        "Expect: term IN (spark, merge) pushdown and ReadSchema WITH "
        "pos — the veto window needs positions, decoded two-phase only "
        "for docs holding both terms.",
    )

    # 2. facet agg: partial/final hash aggregate, codegen
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    add(
        "Field facet (groupBy count)",
        sx.facet_field(docs, "lang"),
        "Expect: two HashAggregates (partial then final — map-side "
        "combine) inside WholeStageCodegen; scan reads ONLY `lang`.",
    )

    # 3. broadcast join
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    add(
        "Hash join (small side broadcast)",
        sx.hash_join_stream(
            orders,
            customer.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
            ["o_custkey"],
        ),
        "Expect: BroadcastHashJoin (no shuffle of the big orders side).",
    )

    # 4. ANN brute force: JVM-side expressions, no Python eval
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    add(
        "ANN cosine top-k (brute force)",
        sim.cosine_topk(emb, sim.fixed_query_vector(64), 10),
        "Expect: NO BatchEvalPython/ArrowEvalPython (whole score in JVM "
        "expressions) and TakeOrderedAndProject for the top-k.",
    )

    # 4a. IVF ANN: partition-pruned read of the materialized index
    ivf_dir = entry._ivf_index_for(spark, sf_dir)
    add(
        "ANN IVF top-k (materialized index, partition-pruned probe)",
        sim.ivf_search(spark, ivf_dir, sim.fixed_query_vector(64), 10,
                       n_probe=3),
        "Expect: PartitionFilters with `cluster IN (...)` on the scan — "
        "the probe reads n_probe/n_clusters of the inverted lists as "
        "DIRECTORY pruning (non-probed lists never open); then the same "
        "JVM cosine + TakeOrderedAndProject as the exact baseline.",
    )

    # 4a'. PQ ANN: ADC over the codes column only — raw vectors absent
    pq_dir = entry._pq_index_for(spark, sf_dir)
    add(
        "ANN PQ top-k (ADC over the codes column)",
        sim.pq_search(spark, pq_dir, sim.fixed_query_vector(64), 10),
        "Expect: ReadSchema holding ONLY vec_id + codes (the m-byte PQ "
        "codes; no embedding column anywhere — ~32x fewer bytes than "
        "the raw scan), the literal-LUT distance inside WholeStage"
        "Codegen, and TakeOrderedAndProject for the top-k.",
    )

    # 4b. round-2 operators: edismax cross-field combine + block join
    add(
        "edismax multi-field combine",
        __import__("lucene_solr_spark.operators.edismax",
                   fromlist=["edismax_search"]).edismax_search(
            entry._edismax_readers(spark, sf_dir),
            "content^2 path_text", "spark docs", tiebreak=0.1, mm=1, k=10),
        "Expect: only (doc_id, score) pairs in the aggregation shuffles "
        "(per-clause dismax + mm count) and TakeOrderedAndProject for "
        "the final top-k — the corpus never re-shuffles.",
    )
    add(
        "Block join (parent/child)",
        sx.block_join_parent(
            spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
                F.col("l_orderkey").alias("o_orderkey"), "l_quantity",
                "l_extendedprice"),
            orders.select("o_orderkey", "o_custkey"),
            "o_orderkey", F.col("l_quantity") >= 48,
            F.max("l_extendedprice").alias("mx"),
        ),
        "Expect: child filter pushed to the scan, partial+final "
        "HashAggregate keyed on the parent, then a join back to parents.",
    )

    # 4c. /select request: fq semi-joins + one TakeOrderedAndProject
    from lucene_solr_spark.operators.select import solr_select

    add(
        "Solr /select (q + fq + page)",
        solr_select(idx, {"q": "spark OR merge", "fq": "join",
                          "rows": 5, "fl": ["lang"]}).docs,
        "Expect: the fq docSet applied as a (broadcast) left-semi join "
        "on doc_id BEFORE the top-k; one TakeOrderedAndProject sized "
        "start+rows; the docmeta join projects ONLY the fl columns.",
    )

    # 5. metadata-only predicate pushdown on a filtered source read
    add(
        "Source scan with filter + projection pushdown",
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity"),
        "Expect: PushedFilters [GreaterThan(l_quantity,45)] and a "
        "two-column ReadSchema.",
    )

    out = ["# PLANS — physical-plan evidence (`tools/explain_plans.py`)", ""]
    out.append(
        "Checked properties: predicate pushdown to parquet, column "
        "pruning, partial+final aggregation, broadcast joins, "
        "whole-stage codegen, TakeOrderedAndProject top-k. Regenerate "
        "with `python tools/explain_plans.py`.\n"
    )
    for title, notes, plan in sections:
        out.append(f"## {title}\n\n{notes}\n\n```\n{plan}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md with", len(sections), "plans")

    # quick machine checks
    import re

    text = "\n".join(p for _, _, p in sections)
    checks = {
        "PushedFilters present": "PushedFilters: [" in text,
        "TakeOrderedAndProject": "TakeOrderedAndProject" in text,
        "WholeStageCodegen": ("WholeStageCodegen" in text or "* " in text),
        "BroadcastHashJoin": "BroadcastHashJoin" in text,
        "partial+final agg": text.count("HashAggregate") >= 2,
        "IVF partition pruning": bool(
            re.search(r"PartitionFilters: \[.*cluster", text)),
    }
    for k, v in checks.items():
        print(("OK   " if v else "MISS ") + k)
    spark.stop()


if __name__ == "__main__":
    main()
