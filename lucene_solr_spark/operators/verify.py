"""CheckIndex-equivalent integrity verification (SURVEY.md §2.3).

Mirrors `[U] lucene/core/.../index/CheckIndex.java`: decode every
posting block, re-derive the stored aggregates (df, cum_tf, max_tf,
min_norm, block bounds), cross-check postings against docmeta (norms,
doc universe) and docmeta against the source table (per-row sha256 —
the BASELINE.json:L15 invariant), and reconcile manifest metrics.
Everything runs as distributed jobs; the driver only sees per-segment
booleans/counts.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.postings import (
    decode_docs,
    decode_norms,
    decode_positions_concat,
    decode_tfs,
)
from .build import read_manifest, read_table

CHECK_SCHEMA = (
    "seg int, term string, ok boolean, df long, cum_tf long, problem string"
)


def _check_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = {c: [] for c in ("seg", "term", "ok", "df", "cum_tf", "problem")}
    for (seg, term), g in pdf.groupby(["seg", "term"], sort=False):
        ok, problem = True, ""
        df_total = 0
        cum_tf = 0
        try:
            g = g.sort_values("shard")
            last_doc = -1
            for row in g.to_dict("records"):
                docs = decode_docs(row)
                tfs = decode_tfs(row)
                norms = decode_norms(row)
                n = len(docs)
                blk_n = np.asarray(row["blk_n"], dtype=np.int64)
                if not (n == int(blk_n.sum()) == len(tfs) == len(norms) == row["df"]):
                    ok, problem = False, "length mismatch"
                    break
                if docs[0] <= last_doc:
                    ok, problem = False, "doc order violation across shards"
                    break
                if n > 1 and not (np.diff(docs) > 0).all():
                    ok, problem = False, "docs not strictly increasing"
                    break
                if (tfs < 1).any():
                    ok, problem = False, "tf < 1"
                    break
                if int(tfs.max()) > row["max_tf"] or int(norms.min()) < row["min_norm"]:
                    ok, problem = False, "impact bound violation"
                    break
                # per-block metadata vs decoded streams
                bstart = np.zeros(len(blk_n), dtype=np.int64)
                bstart[1:] = np.cumsum(blk_n)[:-1]
                bend = np.cumsum(blk_n)
                if not (
                    (docs[bstart] == np.asarray(row["blk_first"])).all()
                    and (docs[bend - 1] == np.asarray(row["blk_last"])).all()
                    and (np.maximum.reduceat(tfs, bstart) == np.asarray(row["blk_max_tf"])).all()
                    and (np.minimum.reduceat(norms, bstart).astype(np.int64)
                         == np.asarray(row["blk_min_norm"], dtype=np.int64)).all()
                ):
                    ok, problem = False, "block metadata mismatch"
                    break
                pos = decode_positions_concat(row, tfs)
                if len(pos) != int(tfs.sum()):
                    ok, problem = False, "positions length mismatch"
                    break
                last_doc = int(docs[-1])
                df_total += n
                cum_tf += int(tfs.sum())
            if ok:
                if df_total != int(g["df"].sum()) or cum_tf != int(g["cum_tf"].sum()):
                    ok, problem = False, "df/cum_tf mismatch"
        except Exception as ex:  # decode failure IS a finding, not a crash
            ok, problem = False, f"decode error: {ex}"
        rows["seg"].append(int(seg))
        rows["term"].append(term)
        rows["ok"].append(bool(ok))
        rows["df"].append(int(df_total))
        rows["cum_tf"].append(int(cum_tf))
        rows["problem"].append(problem)
    return pd.DataFrame(rows)


def verify_index(spark: SparkSession, index_dir: str,
                 source: Optional[DataFrame] = None) -> dict:
    """Full integrity check; returns a report dict, raises nothing.

    ``source`` (optional): the original corpus with (doc_id, content)
    for the end-to-end sha256 invariant.
    """
    m = read_manifest(index_dir)
    report: dict = {"ok": True, "problems": []}
    if m is None:
        return {"ok": False, "problems": ["no manifest"]}

    postings = read_table(spark, index_dir, "postings", m.seg_ids)
    docmeta = read_table(spark, index_dir, "docmeta", m.seg_ids)

    checks = postings.groupBy("seg", "term_bucket").applyInPandas(
        _check_kernel, schema=CHECK_SCHEMA
    ).cache()
    try:
        bad = checks.filter(~F.col("ok")).select("seg", "term", "problem").limit(20).collect()
        if bad:
            report["ok"] = False
            report["problems"] += [f"seg={r['seg']} term={r['term']!r}: {r['problem']}" for r in bad]

        # postings doc universe ⊆ docmeta, norms agree
        per_seg = checks.groupBy("seg").agg(
            F.sum("cum_tf").alias("sum_tf"),
        ).collect()
        sum_tf = {r["seg"]: int(r["sum_tf"] or 0) for r in per_seg}
        dm = docmeta.groupBy("seg").agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        ).collect()
        for r in dm:
            seg = r["seg"]
            entry = next(s for s in m.segments if s["seg"] == seg)
            # a purged segment keeps its original n_docs/sum_dl (the doc
            # id range) and counts its docmeta rows in n_live/sum_dl_live
            n_want = entry.get("n_live", entry["n_docs"])
            dl_want = entry.get("sum_dl_live", entry["sum_dl"])
            if n_want != r["n_docs"] or dl_want != int(r["sum_dl"] or 0):
                report["ok"] = False
                report["problems"].append(
                    f"seg={seg}: manifest live n_docs/sum_dl != docmeta ({n_want}/{dl_want}"
                    f" vs {r['n_docs']}/{r['sum_dl']})"
                )
            if sum_tf.get(seg, 0) != int(r["sum_dl"] or 0):
                report["ok"] = False
                report["problems"].append(
                    f"seg={seg}: postings cum_tf {sum_tf.get(seg)} != docmeta sum_dl {r['sum_dl']}"
                )
    finally:
        checks.unpersist()

    if source is not None:
        src = source.select("doc_id", F.sha2("content", 256).alias("expected"))
        joined = docmeta.join(src, "doc_id", "full")
        n_bad = joined.filter(
            F.col("sha256").isNull() | F.col("expected").isNull()
            | (F.col("sha256") != F.col("expected"))
        ).count()
        if n_bad:
            report["ok"] = False
            report["problems"].append(f"{n_bad} rows fail sha256/source equality")

    report["doc_count"] = m.doc_count
    report["segments"] = len(m.segments)
    return report
