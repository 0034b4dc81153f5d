"""CheckIndex-equivalent integrity verification (SURVEY.md §2.3).

Mirrors `[U] lucene/core/.../index/CheckIndex.java`: decode every
posting row, check its streams (lengths against df, doc order within
and across shards, tf >= 1, positions length), re-derive the stored
aggregates (df, cum_tf), cross-check postings against docmeta (sum of
tf against sum_dl) and docmeta against the source table (per-row
sha256 — the BASELINE.json:L15 invariant), and reconcile manifest
metrics (n_docs/sum_dl, or the live counts of a purged segment, against
docmeta; n_terms/n_postings against the decoded postings) and the doc
ranges the manifest records (in doc_base order they must not overlap,
and each segment's docmeta ids must lie in its own).
Everything runs as distributed jobs; the driver only sees per-segment
booleans/counts.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.postings import decode_docs, decode_tfs
from .build import map_groups, read_manifest, read_table
from .delete import deleted_ids_df

CHECK_SCHEMA = (
    "seg int, term string, ok boolean, df long, cum_tf long, problem string"
)


def _value_counts(blobs) -> np.ndarray:
    """Varint values in each blob; -1 where the blob's last value is cut
    off (it would run into the next blob of a joined stream)."""
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    ends = np.cumsum([len(b) for b in blobs], dtype=np.int64)
    done = np.r_[0, np.cumsum(buf < 0x80)][ends]
    return np.where(np.r_[0, buf][ends] >= 0x80, -1, np.diff(done, prepend=0))


def _check_group(tbl) -> dict:
    """CheckIndex over a task's rows of one segment, sorted by (term,
    shard) -> one CHECK_SCHEMA row per term. Each check runs over all
    the rows at once, with one varint pass per stream over the rows
    whose lengths agree; a term reports the first failing check of its
    first failing row, and df/cum_tf count its decoded rows."""
    c = {k: tbl.column(k).to_numpy() for k in tbl.column_names}
    every = np.arange(len(c["term"]))
    t0 = np.flatnonzero(np.r_[True, c["term"][1:] != c["term"][:-1]])
    problem = np.full(len(every), "", dtype=object)
    row_df, row_tf = np.zeros((2, len(every)), dtype=np.int64)

    def flag(rows, bad, msg):
        problem[rows[bad & (problem[rows] == "")]] = msg

    try:
        n = _value_counts(c["docs"])
        flag(every, (n < 1) | (n != _value_counts(c["tfs"]))
             | (n != [len(b) for b in c["norms"]]) | (n != c["df"]),
             "length mismatch")
        r = np.flatnonzero(problem == "")
        if r.size:
            r0 = np.cumsum(n[r]) - n[r]  # row starts in the joined streams
            docs = decode_docs(c["docs"][r], n[r])
            tfs = decode_tfs(c["tfs"][r])
            prev = np.r_[-1, docs[r0 + n[r] - 1][:-1]]  # previous row's last doc
            flag(r, docs[r0] <= np.where(np.isin(r, t0), -1, prev),
                 "doc order violation across shards")
            step = np.r_[np.diff(docs) <= 0, False]
            step[r0[1:] - 1] = False
            flag(r, np.logical_or.reduceat(step, r0), "docs not strictly increasing")
            flag(r, np.minimum.reduceat(tfs, r0) < 1, "tf < 1")
            row_df[r], row_tf[r] = n[r], np.add.reduceat(tfs, r0)
            flag(r, _value_counts(c["pos"][r]) != row_tf[r], "positions length mismatch")
        first_bad = np.minimum.reduceat(np.where(problem != "", every, len(every)), t0)
        found = np.append(problem, "")[first_bad]
        cum_bad = np.add.reduceat(row_tf, t0) != np.add.reduceat(c["cum_tf"], t0)
        found[(found == "") & cum_bad] = "df/cum_tf mismatch"
    except Exception as ex:  # decode failure IS a finding, not a crash
        found = np.full(len(t0), f"decode error: {ex}", dtype=object)
        row_df[:] = row_tf[:] = 0
    return {"seg": np.full(len(t0), c["seg"][0]), "term": c["term"][t0],
            "ok": found == "", "df": np.add.reduceat(row_df, t0),
            "cum_tf": np.add.reduceat(row_tf, t0), "problem": found}


def verify_index(spark: SparkSession, index_dir: str,
                 source: Optional[DataFrame] = None) -> dict:
    """Full integrity check; returns a report dict, raises nothing.

    ``source`` (optional): the original corpus with (doc_id, content)
    for the end-to-end sha256 invariant, checked on live docs: ids in
    the manifest's delete files are dropped from both sides, so the
    same source passes before and after ``expunge_deletes``.
    """
    m = read_manifest(index_dir)
    report: dict = {"ok": True, "problems": []}
    if m is None:
        return {"ok": False, "problems": ["no manifest"]}

    # merges and the driver's one-call query order a term's rows by
    # source doc_base: doc order only while the live segments' ranges,
    # in doc_base order, do not overlap
    by_base = sorted(m.segments, key=lambda s: s["doc_base"])
    report["problems"] += [
        f"seg={a['seg']} range [{a['doc_lo']}, {a['doc_hi']}) overlaps "
        f"seg={b['seg']} range [{b['doc_lo']}, {b['doc_hi']})"
        for a, b in zip(by_base, by_base[1:]) if a["doc_hi"] > b["doc_lo"]]

    postings = read_table(spark, index_dir, "postings", m.seg_ids)
    docmeta = read_table(spark, index_dir, "docmeta", m.seg_ids)

    # a term's rows share its bucket, so each task sees every row of its
    # terms; one check call per segment in the task batches all of them
    checks = map_groups(postings.repartition("seg", "term_bucket"), ["seg"],
                        _check_group, CHECK_SCHEMA,
                        order_by=["term", "shard"]).cache()
    try:
        bad = checks.filter(~F.col("ok")).select("seg", "term", "problem").limit(20).collect()
        report["problems"] += [f"seg={r['seg']} term={r['term']!r}: {r['problem']}" for r in bad]

        # postings doc universe ⊆ docmeta, norms agree; checks has one
        # row per (seg, term), df its decoded postings
        per_seg = {r["seg"]: (r["n_terms"], int(r["n_postings"] or 0),
                              int(r["sum_tf"] or 0))
                   for r in checks.groupBy("seg").agg(
                       F.count(F.lit(1)).alias("n_terms"),
                       F.sum("df").alias("n_postings"),
                       F.sum("cum_tf").alias("sum_tf")).collect()}
        dm = {r["seg"]: (r["n_docs"], int(r["sum_dl"] or 0), r["lo"], r["hi"]) for r in docmeta
              .groupBy("seg").agg(F.count(F.lit(1)).alias("n_docs"),
                                  F.sum("dl").alias("sum_dl"), F.min("doc_id").alias("lo"),
                                  F.max("doc_id").alias("hi")).collect()}
        # every manifest segment: one without docmeta rows has 0 docs
        for entry in m.segments:
            seg = entry["seg"]
            n_docs, sum_dl, lo, hi = dm.get(seg, (0, 0, None, None))
            if lo is not None and (lo < entry["doc_lo"] or hi >= entry["doc_hi"]):
                report["problems"].append(
                    f"seg={seg}: docmeta ids [{lo}, {hi}] outside its range "
                    f"[{entry['doc_lo']}, {entry['doc_hi']})")
            # a purged segment keeps its original n_docs/sum_dl (the doc
            # id range) and counts its docmeta rows in n_live/sum_dl_live
            n_want = entry.get("n_live", entry["n_docs"])
            dl_want = entry.get("sum_dl_live", entry["sum_dl"])
            if n_want != n_docs or dl_want != sum_dl:
                report["problems"].append(
                    f"seg={seg}: manifest live n_docs/sum_dl != docmeta ({n_want}/{dl_want}"
                    f" vs {n_docs}/{sum_dl})"
                )
            n_terms, n_postings, sum_tf = per_seg.get(seg, (0, 0, 0))
            if (entry["n_terms"], entry["n_postings"]) != (n_terms, n_postings):
                report["problems"].append(
                    f"seg={seg}: manifest n_terms/n_postings != postings "
                    f"({entry['n_terms']}/{entry['n_postings']} vs {n_terms}/{n_postings})"
                )
            if sum_tf != sum_dl:
                report["problems"].append(
                    f"seg={seg}: postings cum_tf {sum_tf} != docmeta sum_dl {sum_dl}"
                )
    finally:
        checks.unpersist()

    if source is not None:
        src = source.select("doc_id", F.sha2("content", 256).alias("expected"))
        if m.delete_files:
            # tombstoned docs leave docmeta when a merge purges them, and
            # the delete files stay in the manifest: compare live docs
            dead = deleted_ids_df(spark, index_dir, m)
            docmeta, src = (t.join(dead, "doc_id", "left_anti") for t in (docmeta, src))
        joined = docmeta.join(src, "doc_id", "full")
        n_bad = joined.filter(
            F.col("sha256").isNull() | F.col("expected").isNull()
            | (F.col("sha256") != F.col("expected"))
        ).count()
        if n_bad:
            report["problems"].append(f"{n_bad} rows fail sha256/source equality")

    report["ok"] = not report["problems"]
    report["doc_count"] = m.doc_count
    report["segments"] = len(m.segments)
    return report
