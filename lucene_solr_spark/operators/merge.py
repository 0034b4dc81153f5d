"""Segment merging: tiered policy (driver) + salted sorted-merge (executor).

Mirrors (SURVEY.md §2.3):
- `[U] lucene/core/.../index/TieredMergePolicy.java` — size tiers,
  ``segsPerTier=10``, ``maxMergeAtOnce=10``; ``plan_merges`` is its
  ``findMerges``, ``plan_forced_merges`` its ``findForcedMerges``.
  Simplification (documented): candidates are doc_base-ADJACENT runs,
  so a term's rows ordered by (source doc_base, shard) are in doc
  order, and the skew score becomes the fewest docs rewritten per
  segment removed.
- `[U] lucene/core/.../index/SegmentMerger.java` — because global
  doc_ids are assigned before segmenting and never remapped
  (SURVEY.md §1.1), merging posting lists is a doc-ordered concat +
  re-shard, not a docID remap: strictly cheaper than the reference's
  MappedMultiFields machinery.
- north_star "salted repartition + sorted-merge" / hot-term skew:
  every posting row shuffles once, by (target, term_bucket), so each
  task sees EVERY row of its terms in doc order (source doc_base,
  shard). The kernel concatenates a term's rows and re-cuts them into
  full shard rows, numbered 0, 1, ... in doc order, through the same
  encoder as the build (``functions/postings.encode_rows``). A hot term
  (one a source already holds in several shard rows) takes the same
  path: docs, tfs and norms are decoded and re-encoded, while its pos
  bytes are carried over as they are.
- the counts a manifest entry records (n_terms, n_postings, and the
  live counts of a purge) are observed on the writes themselves:
  nothing the merge wrote is read back.

Where a merge runs: ``merge_many`` is one Spark wave (``force_merge``,
``expunge_deletes``). A write that runs in the driver (an update or an
append to an index served from the driver, ``build.driver_batch``)
merges what ``plan_merges`` picks for the generation it is about to
publish in the driver instead (``merge_at_commit``, Lucene's
``maybeMerge`` after a flush): the same kernel over a local read, and
the same manifest commit publishes its new segments and the merged ones.

The commit is again manifest-gated: the new segment's parquet is
invisible until gen-N+1 lists it, and source segments simply stop being
listed (files deleted lazily via vacuum()).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import replace
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.postings import (decode_docs, decode_norms, decode_tfs,
                                  encode_rows, join_positions)
from .build import (
    DEFAULT_SHARD_POSTINGS,
    Manifest,
    POSTINGS_SCHEMA,
    _atomic_parquet_write,
    arrow_schema,
    commit_manifest,
    doc_ordered,
    map_groups,
    read_manifest,
    read_table,
)

# merged-segment id namespace, disjoint from build ids (doc//docs_per_seg)
MERGE_SEG_BASE = 1_000_000_000


# ----------------------------------------------------------------- policy


def _cheapest_run(sizes: Sequence[int], lo: int, hi: int,
                  eligible: Sequence[bool]) -> Optional[Tuple[int, int]]:
    """The run of adjacent segments (``sizes``: n_docs in doc_base
    order), ``lo`` to ``hi`` wide and all ``eligible``, that rewrites
    the fewest docs per segment it removes -> (start, width), the
    lowest start on a tie; None if there is none."""
    cum, best, cost = np.r_[0, np.cumsum(sizes)], None, (0, 1)
    for w in range(max(lo, 2), min(hi, len(sizes)) + 1):
        for i in range(len(sizes) - w + 1):
            docs = int(cum[i + w] - cum[i])
            if all(eligible[i:i + w]) and (best is None or docs * cost[1] < cost[0] * (w - 1)):
                best, cost = (i, w), (docs, w - 1)
    return best


def _plan(manifest: Manifest, pick) -> List[List[int]]:
    """The groups ``pick`` chooses, one after another: each chosen run
    of the segments (in doc_base order) -> ``pick(sizes)`` -> (start,
    width) or None, is replaced by a stub (``seg`` -1) of its total
    size before the next choice. A group holding a stub depends on an
    earlier group of the same plan; callers run the others as one wave
    and plan again."""
    segs = sorted(manifest.segments, key=lambda s: s["doc_base"])
    merges: List[List[int]] = []
    while (run := pick([s["n_docs"] for s in segs])) is not None:
        i, w = run
        merges.append([s["seg"] for s in segs[i:i + w]])
        segs[i:i + w] = [{"seg": -1, "doc_base": segs[i]["doc_base"],
                          "n_docs": sum(s["n_docs"] for s in segs[i:i + w])}]
    return merges


def plan_merges(manifest: Manifest, segs_per_tier: int = 10,
                max_merge_at_once: int = 10) -> List[List[int]]:
    """The natural merges after a write (Lucene's ``findMerges``): a
    segment's tier is ``floor(log_{max_merge_at_once}(largest n_docs /
    its n_docs))``, and a tier holds at most ``segs_per_tier``. While
    one overflows (the smallest-size tier first), merge the adjacent run
    of its own segments, ``count - segs_per_tier + 1`` to
    ``max_merge_at_once`` wide, that rewrites the fewest docs per
    segment removed: small segments merge with each other, and a large
    one only when its own tier overflows. A tier with no such run (its
    segments scattered between larger ones) waits for ``force_merge``."""

    def tier(n, largest):
        t = 0
        while max(n, 1) * max_merge_at_once ** (t + 1) <= largest:
            t += 1
        return t

    def pick(sizes):
        if max_merge_at_once < 2:
            return None
        tiers = [tier(n, max(sizes)) for n in sizes]
        for t in sorted(set(tiers), reverse=True):
            count = tiers.count(t)
            if count > segs_per_tier:
                run = _cheapest_run(sizes, min(count - segs_per_tier + 1, max_merge_at_once),
                                    max_merge_at_once, [x == t for x in tiers])
                if run is not None:
                    return run
        return None

    return _plan(manifest, pick)


def plan_forced_merges(manifest: Manifest, segs_per_tier: int = 10,
                       max_merge_at_once: int = 10) -> List[List[int]]:
    """``force_merge``'s merges (Lucene's ``findForcedMerges``): while
    more than ``segs_per_tier`` segments, merge the adjacent run,
    ``min(max_merge_at_once, count - segs_per_tier + 1)`` wide, with
    the fewest docs."""

    def pick(sizes):
        w = min(max_merge_at_once, len(sizes) - segs_per_tier + 1, len(sizes))
        return _cheapest_run(sizes, w, w, [True] * len(sizes)) if w >= 2 else None

    return _plan(manifest, pick)


# --------------------------------------------------------------- executor


def _ragged_gather(buf: bytes, lo: np.ndarray, hi: np.ndarray) -> bytes:
    """Concatenate buf[lo[i]:hi[i]] slices, fully vectorized."""
    lens = (hi - lo).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return b""
    arr = np.frombuffer(buf, dtype=np.uint8)
    base = np.repeat(lo, lens)
    local = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens)
    return arr[base + local].tobytes()


def _merge_kernel_factory(shard_postings: int, deleted: np.ndarray):
    """``map_groups`` kernel over a task's rows of one target segment —
    the group holds every row of its terms, sorted by (term, source
    doc_base, shard), which is each term's doc order across source
    segments and shards: k-way doc-ordered merge of each term's posting
    rows, fully batched. Docs, tfs and norms are decoded in one call
    each; positions stay encoded (a pos stream restarts at every
    posting, so each posting's bytes stand alone) and only their
    per-posting byte offsets are found. ``postings.encode_rows`` then
    writes the rows, as the build does: each term is re-cut into
    doc-ordered shard rows 0, 1, ... of ``shard_postings`` postings
    (its last row holds the rest), however its source rows were cut;
    those numbers are final. Re-encoded tfs are the source bytes, since
    LEB128 is canonical.

    ``deleted`` (sorted doc_ids, empty outside a purge): the
    expungeDeletes path (`[U] .../index/IndexWriter.java ::
    forceMergeDeletes`) — tombstoned postings are DROPPED before
    re-sharding: docs, tfs and norms are masked, and the kept postings'
    pos bytes are one vectorized ragged gather.
    """

    def kernel(tbl):
        cols = {c: tbl.column(c).to_numpy() for c in tbl.column_names}
        # the target segment id rides in on the grouping column
        seg_target = int(cols["__target"][0])
        terms = cols["term"]
        df_r = cols["df"].astype(np.int64)
        new_term = np.r_[True, terms[1:] != terms[:-1]]
        term_names = terms[new_term]
        term_buckets = cols["term_bucket"][new_term]
        post_term = np.repeat(np.cumsum(new_term) - 1, df_r)  # term index per posting

        docs = decode_docs(cols["docs"], df_r)
        tfs = decode_tfs(cols["tfs"])
        norms = decode_norms(cols["norms"])
        pos, pos_off = join_positions(cols["pos"], tfs)

        if deleted.size:
            di = np.minimum(np.searchsorted(deleted, docs), len(deleted) - 1)
            keep = deleted[di] != docs
            if not keep.all():
                pos = _ragged_gather(pos, pos_off[:-1][keep], pos_off[1:][keep])
                pos_off = np.r_[0, np.cumsum(np.diff(pos_off)[keep])]
                docs, tfs, norms, post_term = (docs[keep], tfs[keep], norms[keep],
                                               post_term[keep])

        term_hi = np.cumsum(np.bincount(post_term, minlength=len(term_names)))
        row_term, rows = encode_rows(
            np.r_[0, term_hi[:-1]], term_hi, docs, tfs, pos, pos_off, norms,
            shard_postings)
        if not len(row_term):
            return None  # a purge dropped every posting
        return dict(rows, field=[cols["field"][0]] * len(row_term),
                    term=term_names[row_term], term_bucket=term_buckets[row_term],
                    seg=np.full(len(row_term), seg_target))

    return kernel


def merge_segments(spark: SparkSession, index_dir: str, seg_ids: Sequence[int],
                   shard_postings: int = DEFAULT_SHARD_POSTINGS,
                   purge_deleted: bool = False) -> Manifest:
    """Merge ``seg_ids`` (doc_base-adjacent) into one new segment and
    commit a new manifest generation (thin wrapper over merge_many)."""
    return merge_many(spark, index_dir, [list(seg_ids)], shard_postings,
                      purge_deleted)


def _observe_sums(df: DataFrame, targets: Sequence[int], sums: dict):
    """``df`` plus an ``Observation`` that, as the action running ``df``
    runs, sums each column of ``sums`` (name -> column) over the rows of
    each target ``seg``: ``obs.get[f"{name}_{t}"]``, 0 for a target
    without rows."""
    obs = Observation()
    return df.observe(obs, *[
        F.coalesce(F.sum(F.when(F.col("seg") == t, col)), F.lit(0))
        .alias(f"{name}_{t}") for t in targets for name, col in sums.items()
    ]), obs


def merge_many(spark: SparkSession, index_dir: str,
               groups: Sequence[Sequence[int]],
               shard_postings: int = DEFAULT_SHARD_POSTINGS,
               purge_deleted: bool = False) -> Manifest:
    """Execute a whole MERGE WAVE — several disjoint groups of
    doc_base-adjacent segments — in ONE distributed pass of one shape:
    scan the sources' postings, tag each row with its target segment,
    ``repartition("__target", "term_bucket")``, run the merge kernel
    over every row, write postings, write docmeta, and commit ONE
    manifest generation. Each target's ``n_terms`` and ``n_postings``
    (and, when purging, ``n_live``/``sum_dl_live``) are observed on
    those writes, so nothing written is read back. At 1000 executors a
    tier's worth of merges is one job chain instead of len(groups).

    ``shard_postings``: the most postings one output row holds; a
    longer merged list splits into doc-ordered shard rows, each full
    but the term's last.

    ``purge_deleted``: physically drop tombstoned docs from postings +
    docmeta (expungeDeletes). Entries then record live counts
    (``n_live``/``sum_dl_live``) which collection statistics use, while
    ``n_docs``/``doc_base`` keep their original values.
    """
    if shard_postings < 1:
        raise ValueError(f"shard_postings must be >= 1, got {shard_postings}")
    # ONE manifest read: the tombstones purged are those of the
    # generation whose segments are merged
    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest under {index_dir}")
    deleted = np.empty(0, np.int64)
    if purge_deleted:
        from .delete import load_deleted_ids

        deleted = load_deleted_ids(index_dir, m)
        purge_deleted = deleted.size > 0
    by_id = {s["seg"]: s for s in m.segments}
    groups = [list(g) for g in groups if g]
    flat = [s for g in groups for s in g]
    if len(set(flat)) != len(flat):
        raise ValueError("merge groups must be disjoint")
    missing = set(flat) - set(by_id)
    if missing:
        raise ValueError(f"segments not in manifest: {sorted(missing)}")
    # a group must be a run of doc_base-adjacent segments: the merged
    # segment's (doc_base, n_docs) range, and the doc order of a term's
    # rows by source doc_base below, hold only if no other segment's
    # docs fall between its sources' docs
    rank = {s["seg"]: i for i, s in
            enumerate(sorted(m.segments, key=lambda s: s["doc_base"]))}
    for g in groups:
        r = sorted(rank[s] for s in g)
        if r[-1] - r[0] != len(r) - 1:
            raise ValueError(f"merge group {g} is not doc_base-adjacent")

    srcs_by_target = _targets(m, groups)
    targets = list(srcs_by_target)
    seg_to_target = {s["seg"]: t for t, srcs in srcs_by_target.items() for s in srcs}

    tmap = F.create_map(
        *[F.lit(x) for pair in seg_to_target.items() for x in pair])
    # a group's sources are adjacent doc ranges (checked above), so
    # (source doc_base, shard) is the doc order of a term's rows
    bmap = F.create_map(
        *[F.lit(x) for s in flat for x in (s, by_id[s]["doc_base"])])
    postings = (
        read_table(spark, index_dir, "postings", flat)
        .withColumn("__target", tmap[F.col("seg")])
        .withColumn("__base", bmap[F.col("seg")])
    )
    # Correctness invariant (ADVICE r1, medium): across ALL output rows
    # of a (target, term), doc ranges must be disjoint so the
    # query-side shard-ordered concat stays sorted. A term's rows share
    # its bucket, so each task sees every row of its terms; one kernel
    # call per target in the task batches all of them, and its shard
    # numbers are final: no second shuffle
    merged = map_groups(postings.repartition("__target", "term_bucket"), ["__target"],
                        _merge_kernel_factory(shard_postings, deleted),
                        POSTINGS_SCHEMA, order_by=["term", "__base", "shard"])
    # the kernel starts every term at shard 0
    merged, p_obs = _observe_sums(merged, targets, {
        "n_terms": (F.col("shard") == 0).cast("long"), "n_postings": F.col("df")})
    # dynamic overwrite scoped to THIS write (only the source/target seg
    # partitions are replaced; a session-global conf would leak — it
    # also suppresses the root _SUCCESS marker for every later
    # partitioned write in the session, e.g. ivf_build's)
    merged.sortWithinPartitions("term").write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("seg").parquet(f"{index_dir}/postings")

    docmeta = (read_table(spark, index_dir, "docmeta", flat)
               .withColumn("seg", tmap[F.col("seg")].cast("int")))
    if purge_deleted:
        dels_df = spark.createDataFrame(
            [(int(x),) for x in deleted], "doc_id long")
        docmeta, d_obs = _observe_sums(
            docmeta.join(F.broadcast(dels_df), "doc_id", "left_anti"),
            targets, {"n_live": F.lit(1), "sum_dl_live": F.col("dl")})
    docmeta.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("seg").parquet(f"{index_dir}/docmeta")

    observed = dict(p_obs.get, **(d_obs.get if purge_deleted else {}))
    out = _with_merged(index_dir, m.next(), srcs_by_target, {
        t: (observed[f"n_terms_{t}"], observed[f"n_postings_{t}"],
            (observed[f"n_live_{t}"], observed[f"sum_dl_live_{t}"]) if purge_deleted
            else None)
        for t in targets})
    commit_manifest(index_dir, out)
    return out


def _targets(m: Manifest, groups: Sequence[Sequence[int]]) -> Dict[int, List[dict]]:
    """One new segment id per group of ``m``'s segments, in the
    MERGE_SEG_BASE namespace above every id ``m`` lists -> {target: its
    sources' entries in doc_base order}."""
    by_id = {s["seg"]: s for s in m.segments}
    base = max(MERGE_SEG_BASE - 1, max(by_id)) + 1
    return {base + i: sorted((by_id[s] for s in g), key=lambda s: s["doc_base"])
            for i, g in enumerate(groups)}


def _with_merged(index_dir: str, m: Manifest, srcs_by_target: Dict[int, List[dict]],
                 counts: Dict[int, tuple]) -> Manifest:
    """``m`` listing each written target of ``srcs_by_target`` in place
    of its sources. ``counts[t]`` is (n_terms, n_postings), plus
    (n_live, sum_dl_live) when the merge purged tombstoned docs."""
    gone = {s["seg"] for srcs in srcs_by_target.values() for s in srcs}
    return replace(m, segments=sorted(
        [s for s in m.segments if s["seg"] not in gone]
        + [_merged_entry(index_dir, t, srcs, *counts[t])
           for t, srcs in srcs_by_target.items()],
        key=lambda s: s["seg"]))


def _merged_entry(index_dir: str, t: int, srcs: Sequence[dict], n_terms: int,
                  n_postings: int, live: Optional[Tuple[int, int]] = None) -> dict:
    fp = 0
    for s in srcs:
        fp ^= int(s["input_fingerprint"], 16)
    pdir = os.path.join(index_dir, "postings", f"seg={t}")
    postings_bytes = sum(
        os.path.getsize(os.path.join(pdir, f))
        for f in os.listdir(pdir) if f.endswith(".parquet")
    ) if os.path.isdir(pdir) else 0
    entry = {
        "seg": int(t),
        "n_docs": sum(s["n_docs"] for s in srcs),
        "doc_base": srcs[0]["doc_base"],
        "doc_lo": min(s["doc_lo"] for s in srcs),
        "doc_hi": max(s["doc_hi"] for s in srcs),
        "sum_dl": sum(s["sum_dl"] for s in srcs),
        "n_terms": int(n_terms),
        "n_postings": int(n_postings),
        "input_fingerprint": f"{fp:016x}",
        "postings_bytes": int(postings_bytes),
        "source": "merge(" + ",".join(str(s["seg"]) for s in srcs) + ")",
    }
    if live is not None:
        entry["purged"] = True
        entry["n_live"], entry["sum_dl_live"] = map(int, live)
    elif any("n_live" in s for s in srcs):
        # merging a purged segment with unpurged ones: unpurged
        # sides stay delete-blind, matching per-segment Lucene
        entry["n_live"] = sum(s.get("n_live", s["n_docs"]) for s in srcs)
        entry["sum_dl_live"] = sum(
            s.get("sum_dl_live", s["sum_dl"]) for s in srcs)
    return entry


def merge_at_commit(index_dir: str, m: Manifest) -> Manifest:
    """``m``, the generation a driver write is about to commit, with the
    merges ``plan_merges`` picks for it done in the driver (Lucene's
    ``maybeMerge`` after a flush), wave after wave as ``force_merge``
    runs them -> the generation to commit instead: the same ``gen``,
    listing the merged segments in place of their sources. Commits
    nothing.

    Per target, the unchanged merge kernel runs once over the sources'
    postings (``read_table(local=True)``, sorted by term, source
    doc_base, shard), and the postings and docmeta files are written as
    the build writes a segment; the entries are ``merge_many``'s. There
    is no purge, so statistics stay delete-blind. A target id lies
    above every id a manifest lists, so its dirs hold at most what a
    write that crashed before its commit left: they are cleared first.
    A write runs in the driver only on an index served from the driver
    (``search.served_from_driver``), which bounds what this reads."""
    import pyarrow as pa

    _, declared = arrow_schema(POSTINGS_SCHEMA)
    file_schema = pa.schema([f for f in declared if f.name != "seg"])
    kernel = _merge_kernel_factory(DEFAULT_SHARD_POSTINGS, np.empty(0, np.int64))
    while True:
        groups = [g for g in plan_merges(m) if -1 not in g]
        if not groups:
            return m
        srcs_by_target, counts = _targets(m, groups), {}
        for t, srcs in srcs_by_target.items():
            segs = [s["seg"] for s in srcs]
            dirs = [os.path.join(index_dir, table, f"seg={t}")
                    for table in ("postings", "docmeta")]
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)
            rows = doc_ordered(read_table(None, index_dir, "postings", segs, local=True),
                               segs)
            out = kernel(rows.append_column("__target", pa.array(
                np.full(rows.num_rows, t), pa.int32()))) if rows.num_rows else None
            if out is not None:
                _atomic_parquet_write(pa.table([pa.array(out[f.name], f.type)
                                                for f in file_schema], schema=file_schema),
                                      dirs[0], row_group_size=2048)
            meta = read_table(None, index_dir, "docmeta", segs, local=True)
            if meta.num_rows:
                _atomic_parquet_write(meta.drop_columns(["seg"]).sort_by("doc_id"),
                                      dirs[1], row_group_size=65536)
            counts[t] = ((0, 0) if out is None
                         else ((out["shard"] == 0).sum(), out["df"].sum()))
        m = _with_merged(index_dir, m, srcs_by_target, counts)


def force_merge(spark: SparkSession, index_dir: str,
                segs_per_tier: int = 10, max_merge_at_once: int = 10) -> Manifest:
    """Merge down to at most ``segs_per_tier`` segments
    (``plan_forced_merges``), one ``merge_many`` wave per round (like
    forceMerge towards a budgeted segment count)."""
    m = read_manifest(index_dir)
    while True:
        # groups containing the -1 stub depend on an earlier merge of
        # the same planning round; execute only the independent groups
        # as ONE wave (merge_many single pass), then re-plan
        merges = [g for g in plan_forced_merges(m, segs_per_tier, max_merge_at_once)
                  if -1 not in g]
        if not merges:
            return m
        m = merge_many(spark, index_dir, merges)


def expunge_deletes(spark: SparkSession, index_dir: str) -> Manifest:
    """forceMergeDeletes (`[U] .../index/IndexWriter.java ::
    forceMergeDeletes`): rewrite every segment whose doc range contains
    tombstones, physically dropping the deleted postings + docmeta rows.
    Tombstone files stay listed in the manifest, but collection
    statistics switch to the live counts, matching Lucene's post-merge
    stats."""
    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest under {index_dir}")
    from .delete import load_deleted_ids

    dels = load_deleted_ids(index_dir, m)
    if dels.size == 0:
        return m
    groups = []
    for s in m.segments:
        i0, i1 = np.searchsorted(dels, [s["doc_lo"], s["doc_hi"]])
        if i1 > i0 and not s.get("purged"):
            groups.append([s["seg"]])
    if not groups:
        return m
    # every affected segment rewrites in ONE distributed pass
    return merge_many(spark, index_dir, groups, purge_deleted=True)


def vacuum(index_dir: str) -> List[int]:
    """Delete the parquet partition dirs of segments, and the delete
    files, that the latest manifest does not list (Lucene's deleter
    keeps files until no commit references them; here the latest
    manifest is the only live commit) -> the segment ids removed. Merges
    stop listing their sources, and a cumulative delete file replaces
    the one before it (operators/delete.py), so both pile up until
    then."""
    m = read_manifest(index_dir)
    live = set(m.seg_ids) if m else set()
    ddir = os.path.join(index_dir, "deletes")
    for entry in set(os.listdir(ddir) if os.path.isdir(ddir) else ()) - set(
            m.delete_files if m else ()):
        p = os.path.join(ddir, entry)
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)
    removed = []
    for sub in ("postings", "docmeta"):
        base = os.path.join(index_dir, sub)
        if not os.path.isdir(base):
            continue
        for entry in os.listdir(base):
            if entry.startswith("seg="):
                seg = int(entry.split("=", 1)[1])
                if seg not in live:
                    shutil.rmtree(os.path.join(base, entry))
                    removed.append(seg)
    return sorted(set(removed))
