"""Distributed inverted-index construction (the IndexWriter path).

Spark-first reimplementation of the reference build pipeline
(SURVEY.md §2.3):

- `[U] .../index/DocumentsWriterPerThread.java` — one ``map_groups``
  call per segment builds an in-memory inverted index for a
  contiguous doc_id range, exactly the DWPT role.
- `[U] .../index/DefaultIndexingChain.java :: flush` — the task writes
  the segment as parquet rows (postings/docmeta), gated by a manifest.
- `[U] .../codecs/lucene84/Lucene84PostingsWriter.java` — one row per
  term (per shard of a hot term) holds its posting list as delta+varint
  blobs (ours, per north_star), written through the one postings codec
  ``functions/postings.encode_rows`` that merges write through too.
  There is no skip data: queries decode whole rows.
- `[U] .../index/SegmentInfos.java :: commit`` — atomic manifest
  ``gen-N.json`` rename publishes segments; readers only see segments
  listed in the manifest, so partial writes from a failed run are
  invisible and a re-run is idempotent (dynamic partition overwrite
  rewrites only the segments it recomputes). This is the
  checkpoint/resume protocol required by BASELINE.json north_rule.

Scale notes (100 TB / 10^12 files):
- doc space, not term space, partitions the build — raw docs shuffle
  once, keyed by ``seg``; a task's JVM sort (which can spill) streams
  them in (seg, doc_id) order, and its Python worker holds one segment
  (docs_per_seg docs) plus one Arrow batch.
- hot terms (df above ``DEFAULT_SHARD_POSTINGS`` inside one segment)
  are sharded into multiple posting rows (``shard`` column), as merges
  shard them, so no single parquet row explodes; query-side
  concatenation is doc-ordered and cheap.
- nothing driver-side is O(corpus): a Spark build's driver only ever
  sees the per-segment metric rows that go into the manifest, and a
  small write run in the driver (``driver_batch``: an append or update
  to an index served from the driver) holds at most one segment's
  batch, the unit one build task holds.
"""

from __future__ import annotations

import functools
import json
import os
import tempfile
import threading
from dataclasses import dataclass, field
from typing import Iterable, List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.postings import encode_positions, encode_rows
from ..functions.smallfloat import encode_norms

DEFAULT_DOCS_PER_SEG = 4096
DEFAULT_SHARD_POSTINGS = 1 << 17  # hot-term row split threshold
TERM_BUCKETS = 1024  # the partition key of merge and verify shuffles

#: the postings format every manifest records and every reader requires
#: (functions/postings.py): v5 rows are term stats + whole-list blobs
#: whose doc deltas restart once per row; v4 restarted them every 128
#: postings, which v5 decoding would misread
INDEX_FORMAT = 5
POSTINGS_SCHEMA = (
    "field string, term string, term_bucket int, seg int, shard int, "
    "df int, cum_tf long, docs binary, tfs binary, pos binary, norms binary"
)

DOCMETA_SCHEMA = (
    "seg int, doc_id long, repo string, path string, commit string, lang string, "
    "dl int, norm_byte int, sha256 string"
)


_TABLE_SCHEMAS = {"postings": POSTINGS_SCHEMA, "docmeta": DOCMETA_SCHEMA}

#: the stored fields a build copies from its source into docmeta
_DOC_COLS = ("repo", "path", "commit", "lang")


#: the column types of the engine's flat DDL schemas (postings, docmeta,
#: kernel results), by their DDL names
_DDL_TYPES = {"string": "StringType", "int": "IntegerType", "long": "LongType",
              "bigint": "LongType", "float": "FloatType", "double": "DoubleType",
              "boolean": "BooleanType", "binary": "BinaryType"}


@functools.lru_cache(maxsize=None)
def arrow_schema(ddl: str):
    """-> (StructType, pyarrow.Schema) of a DDL schema string. A flat
    one (``name type, ...`` of the types in ``_DDL_TYPES``) is parsed
    here, so local reads and kernels need no SparkContext (a Python
    worker has none); any other goes through the JVM's parser, once per
    string."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = [c.split() for c in ddl.split(",")]
    if all(len(c) == 2 and c[1].lower() in _DDL_TYPES for c in cols):
        struct = T.StructType([T.StructField(name, getattr(T, _DDL_TYPES[t.lower()])())
                               for name, t in cols])
    else:
        struct = T._parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct)


def read_table(spark: SparkSession, index_dir: str, table: str,
               segs: Iterable[int], local: bool = False,
               columns: Optional[Sequence[str]] = None, where=None):
    """The committed ``postings`` or ``docmeta`` rows of segments
    ``segs``: the one read path of both tables. It reads with the
    schema the writers declare, so opening the table runs no Spark
    job to infer a schema from a parquet footer, and ``seg`` (the
    partition column) comes last, as inference would place it.

    ``local`` reads the same rows in the driver into a
    ``pyarrow.Table``, with no Spark job: the files of the segment
    directories of ``segs``, in that order, typed with the Arrow form of
    the declared schema, filtered by ``where`` (a ``pyarrow.compute``
    expression) and cut to ``columns``. Each file is decoded once per
    process and kept resident (``_RESIDENT``, keyed by file identity),
    so a read filters decoded columns in memory and a reopened reader
    decodes only the segments it has not seen. A query on an index
    small enough for one task reads its postings this way
    (operators/search.py), as do a driver write's docmeta semi-join and
    merges (operators/delete.py, operators/merge.py)."""
    if local:
        return _read_local(index_dir, table, segs, columns, where)
    return (spark.read.schema(_TABLE_SCHEMAS[table])
            .parquet(os.path.join(index_dir, table))
            .filter(F.col("seg").isin(list(segs))))


class _ResidentFiles:
    """Decoded segment files, each a whole ``pyarrow.Table`` typed as
    ``_read_local`` returns it, kept in one process-wide LRU bounded by
    decoded bytes (``search.RESIDENT_MAX_BYTES``). The key is the file's
    identity ``(path, size, mtime_ns, inode)``: segment files are
    written once and published by a rename, so a rewritten or rebuilt
    file has a new inode and misses, while every unchanged file of a
    reopened index hits (Lucene's ``openIfChanged`` sharing the readers
    of unchanged segments). A file is decoded outside the lock; two
    threads missing the same file both decode it and keep one."""

    def __init__(self):
        from collections import OrderedDict

        self._lock = threading.Lock()
        self._tables: "OrderedDict[tuple, object]" = OrderedDict()
        self.nbytes = 0

    def get(self, path: str, seg: int, table: str):
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns, st.st_ino)
        with self._lock:
            t = self._tables.get(key)
            if t is not None:
                self._tables.move_to_end(key)
                return t
        t = _decode_file(path, seg, table)
        from .search import RESIDENT_MAX_BYTES

        with self._lock:
            if key not in self._tables:
                self._tables[key] = t
                self.nbytes += t.nbytes
            while self.nbytes > RESIDENT_MAX_BYTES:
                self.nbytes -= self._tables.popitem(last=False)[1].nbytes
        return t

    def drop_unlisted(self, index_dir: str, segs: Iterable[int]) -> None:
        """Evict the files of ``index_dir``'s segments not in ``segs``
        (a committed generation's list): merge sources, a rewritten
        tail, a merged-away update segment, as Lucene drops the readers
        of merged-away segments. A reader of an older generation that
        reads one again decodes it again."""
        root, listed = os.path.abspath(index_dir), {f"seg={s}" for s in segs}

        def unlisted(path):  # <root>/<table>/seg=<s>/<file>
            seg_dir = os.path.dirname(os.path.abspath(path))
            return (os.path.basename(seg_dir) not in listed
                    and os.path.dirname(os.path.dirname(seg_dir)) == root)

        with self._lock:
            for key in [k for k in self._tables if unlisted(k[0])]:
                self.nbytes -= self._tables.pop(key).nbytes

    def clear(self) -> None:
        with self._lock:
            self._tables.clear()
            self.nbytes = 0


_RESIDENT = _ResidentFiles()


def _read_schema(table: str):
    """The Arrow schema of a local read of ``table``: the declared one
    with ``seg`` (the partition column) last."""
    import pyarrow as pa

    _, declared = arrow_schema(_TABLE_SCHEMAS[table])
    return pa.schema([f for f in declared if f.name != "seg"] + [declared.field("seg")])


def _decode_file(path: str, seg: int, table: str):
    """One segment file -> all its rows, typed with the declared schema
    (missing columns null, as Spark's reader fills them) plus ``seg``."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    *fields, seg_field = _read_schema(table)
    rows = ds.dataset(path, schema=pa.schema(fields), format="parquet").to_table()
    return rows.append_column(seg_field, pa.array(np.full(rows.num_rows, seg),
                                                  seg_field.type)).combine_chunks()


def _read_local(index_dir: str, table: str, segs: Iterable[int],
                columns: Optional[Sequence[str]], where):
    import pyarrow as pa

    base = os.path.join(index_dir, table)
    parts = []
    for s in segs:
        d = os.path.join(base, f"seg={s}")
        if os.path.isdir(d):  # a segment without rows may have no dir
            # the files Spark's reader would list: no hidden, no temp
            parts += [_RESIDENT.get(os.path.join(d, f), s, table)
                      for f in sorted(os.listdir(d))
                      if f.endswith(".parquet") and f[0] not in "._"]
    rows = pa.concat_tables(parts) if parts else _read_schema(table).empty_table()
    if where is not None:
        rows = rows.filter(where)
    return rows if columns is None else rows.select(list(columns))


def doc_ordered(rows, segs: Sequence[int]):
    """Posting rows (a ``pyarrow.Table``) of the segments ``segs``,
    given in doc_base order, sorted by (term, source doc_base, shard):
    each term's rows in doc order across segments, since live segments
    hold disjoint doc ranges in doc_base order (``verify_index`` checks
    it). The order of the merge kernel's sources and of the driver's
    one query-kernel call; rows without a term sort last."""
    import pyarrow as pa
    import pyarrow.compute as pc

    base = pc.index_in(rows["seg"], pa.array(segs, rows.schema.field("seg").type))
    return (rows.append_column("__base", base)
            .sort_by([("term", "ascending"), ("__base", "ascending"), ("shard", "ascending")])
            .drop_columns("__base").combine_chunks())


def map_groups(df: DataFrame, keys: Sequence[str], fn, schema: str,
               order_by: Sequence = ()) -> DataFrame:
    """Run ``fn`` once per group of rows sharing ``keys``: the one
    grouped-kernel shape of build, query, merge and verify.

    Each task sorts its partition by ``keys``, then by ``order_by``
    (columns or expressions: the row order within a group), in the JVM
    and streams its Arrow batches through one ``mapInArrow`` call: a
    group ends where a key changes, and a group that spans a batch
    boundary stays one group, so a task holds one group plus one batch.
    ``fn`` gets the group as a ``pyarrow.Table`` and returns a dict of
    output columns, or None; the dict is typed with the Arrow form of
    the DDL ``schema``, since ``mapInArrow`` casts nothing. The caller
    chooses the partitioning, which must put every row of a group in
    one partition. (A caller's own ``sortWithinPartitions`` would not
    survive: the optimizer drops a partition sort under another one.)"""
    import pyarrow as pa

    schema, out_schema = arrow_schema(schema)

    def run(parts):
        out = fn(pa.Table.from_batches(parts).combine_chunks())
        if out is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array(out[f.name], f.type) for f in out_schema],
                schema=out_schema)

    def kernel(batches):
        group, last = [], None
        for b in batches:
            if not b.num_rows:
                continue
            ks = [b.column(k).to_numpy(zero_copy_only=False) for k in keys]
            starts = np.zeros(b.num_rows, dtype=bool)
            starts[0] = last is not None and last != tuple(k[0] for k in ks)
            for k in ks:
                starts[1:] |= k[1:] != k[:-1]
            lo = 0
            for i in np.flatnonzero(starts):
                group.append(b.slice(lo, i - lo))
                yield from run(group)
                group, lo = [], i
            group.append(b.slice(lo))
            last = tuple(k[-1] for k in ks)
        if group:
            yield from run(group)

    return df.sortWithinPartitions(*keys, *order_by).mapInArrow(kernel, schema)


# per-segment stats row: the ONLY thing a build task sends back to the
# driver (the manifest/lineage record; everything else is written by the
# task itself, Lucene-style)
STATS_SCHEMA = (
    "seg int, n_docs long, doc_base long, sum_dl long, "
    "n_terms long, n_postings long, fp_sum long, postings_bytes long"
)


def _atomic_parquet_write(table, dirname: str, row_group_size: int) -> None:
    """tmp write + atomic rename, one file per segment dir. Retried or
    speculative tasks rewrite identical deterministic bytes, so the
    rename is idempotent (the segments_N discipline at file level)."""
    import pyarrow.parquet as pq

    os.makedirs(dirname, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=dirname, suffix=".inprogress")
    os.close(fd)
    try:
        pq.write_table(table, tmp, row_group_size=row_group_size,
                       compression="snappy")
        os.replace(tmp, os.path.join(dirname, "part-00000.parquet"))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _seg_term_codes(texts: List[str], analyzer: str):
    """Python texts of ONE segment -> (dls, codes in sorted-term space,
    uniq_sorted terms, positions-or-None). CPython's sre ``findall``
    measures ~5x faster per core than Java's regex on the same token
    grammar (lookaround alternations are slow on the JVM), so
    tokenization stays in the Python kernel; everything downstream of
    the token lists is numpy/pandas vectorized.

    Gap-free analyzers return positions=None (the kernel derives them
    as 0..dl-1); stop-filtered analyzers return the explicit
    position stream with holes (PositionIncrementAttribute gaps).

    Returns ``(dls, norm_lens, codes, uniq_sorted, positions)``:
    ``dls`` counts EMITTED tokens (the flat-stream offsets and the
    segment's sum_dl == sumTotalTermFreq); ``norm_lens`` is the
    discountOverlaps=true FieldInvertState length (posIncr-0 stacked
    tokens excluded — see analysis.field_length) that feeds the norm
    byte. Identical for non-stacking analyzers."""
    from ..analysis import analyzer_has_gaps, analyze, field_length, tokenize

    if analyzer_has_gaps(analyzer):
        pair_lists = [analyze(t, analyzer) for t in texts]
        dls = np.fromiter((len(p) for p in pair_lists), dtype=np.int64,
                          count=len(pair_lists))
        norm_lens = np.fromiter((field_length(p) for p in pair_lists),
                                dtype=np.int64, count=len(pair_lists))
        total = int(dls.sum())
        if total == 0:
            return dls, norm_lens, np.empty(0, np.int64), [], None
        flat = np.empty(total, dtype=object)
        pos = np.empty(total, dtype=np.int64)
        o = 0
        for pairs in pair_lists:
            for t, pp in pairs:
                flat[o] = t
                pos[o] = pp
                o += 1
        codes, uniq = pd.factorize(flat, sort=True)
        return dls, norm_lens, codes.astype(np.int64), list(uniq), pos

    lists = [tokenize(t, analyzer) for t in texts]
    dls = np.fromiter((len(lst) for lst in lists), dtype=np.int64, count=len(lists))
    total = int(dls.sum())
    if total == 0:
        return dls, dls, np.empty(0, np.int64), [], None
    flat = np.empty(total, dtype=object)
    o = 0
    for lst in lists:
        flat[o:o + len(lst)] = lst
        o += len(lst)
    codes, uniq = pd.factorize(flat, sort=True)
    return dls, dls, codes.astype(np.int64), list(uniq), None


def make_segment_writer(index_dir: str, analyzer: str = "standard",
                        field_name: str = "content"):
    """``map_groups`` kernel: ONE segment's docs, in doc_id order ->
    the segment's parquet ON DISK + its stats row.

    Per segment: tokenize (CPython sre, see ``_seg_term_codes``), one
    lexsort and run-length boundaries give the postings in term order,
    and ``postings.encode_rows`` cuts them into rows (hot terms into
    ``DEFAULT_SHARD_POSTINGS`` shards, as a merge does) with ONE varint
    pass per stream and zero-copy blob slices (no per-term Python
    loop). Mirrors the reference's per-term postings write (`[U]
    .../index/FreqProxTermsWriter.java :: flush`).

    The task writes its own parquet (pyarrow, tmp+rename) exactly like
    a Lucene DWPT flushing segment files, and returns only the
    manifest stats rows — no posting bytes ever re-enter the Spark
    shuffle/commit machinery, which is what makes the build scale
    linearly with cores. The file schema is derived from
    ``POSTINGS_SCHEMA`` once, when the writer is made.
    """
    import pyarrow as pa

    _, declared = arrow_schema(POSTINGS_SCHEMA)
    file_schema = pa.schema([f for f in declared if f.name != "seg"])

    def process_segment(sub) -> dict:
        seg = sub["seg"][0].as_py()
        doc_ids = sub["doc_id"].to_numpy().astype(np.int64)
        dls, norm_lens, codes, uniq_list, pos_flat = _seg_term_codes(
            sub[field_name].to_pylist(), analyzer
        )
        norms_by_doc = encode_norms(norm_lens).astype(np.int64)

        total = int(dls.sum())
        doc_idx = np.repeat(np.arange(len(sub), dtype=np.int64), dls)
        if pos_flat is None:
            pos_in_doc = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(dls) - dls, dls)
        else:
            pos_in_doc = pos_flat  # explicit stream with stopword gaps

        order = np.lexsort((pos_in_doc, doc_idx, codes))
        c_s, d_s, p_s = codes[order], doc_idx[order], pos_in_doc[order]

        # (term, doc) run boundaries -> one posting per run, tf its
        # length; codes and doc indexes are >= 0, so a run starts at 0
        run_starts = np.flatnonzero((np.diff(c_s, prepend=-1) != 0)
                                    | (np.diff(d_s, prepend=-1) != 0))
        tf_all = np.diff(np.append(run_starts, total))
        post_term = c_s[run_starts]            # term code per posting
        post_doc = d_s[run_starts]             # local doc idx per posting
        n_post = len(post_term)

        # term boundaries over the posting stream
        term_starts = np.flatnonzero(np.diff(post_term, prepend=-1) != 0)
        term_ends = np.append(term_starts[1:], n_post)

        row_term, rows = encode_rows(
            term_starts, term_ends, doc_ids[post_doc], tf_all,
            *encode_positions(p_s, tf_all), norms_by_doc[post_doc],
            DEFAULT_SHARD_POSTINGS)
        buckets = np.fromiter((_term_bucket_py(t) for t in uniq_list),
                              dtype=np.int32, count=len(uniq_list))
        cols = dict(rows, field=pa.repeat(field_name, len(row_term)),
                    term=pa.array(uniq_list, pa.string()).take(row_term),
                    term_bucket=buckets[row_term])
        post_table = pa.table([pa.array(cols[f.name], f.type) for f in file_schema],
                              schema=file_schema)
        _atomic_parquet_write(post_table, os.path.join(index_dir, "postings", f"seg={seg}"),
                              row_group_size=2048)

        meta_table = pa.table({
            "doc_id": sub["doc_id"],
            "repo": sub["repo"],
            "path": sub["path"],
            "commit": sub["commit"],
            "lang": sub["lang"],
            "dl": pa.array(dls, pa.int32()),
            "norm_byte": pa.array(norms_by_doc, pa.int32()),
            "sha256": sub["sha256"],
        })
        _atomic_parquet_write(meta_table, os.path.join(index_dir, "docmeta", f"seg={seg}"),
                              row_group_size=65536)

        fp = 0
        for s in sub["sha256"].to_pylist():
            fp ^= int(s[:15], 16)
        pfile = os.path.join(index_dir, "postings", f"seg={seg}", "part-00000.parquet")
        return {
            "seg": [int(seg)],
            "n_docs": [len(sub)],
            "doc_base": [int(doc_ids.min())],
            "sum_dl": [int(dls.sum())],
            "n_terms": [len(term_starts)],
            "n_postings": [n_post],
            "fp_sum": [fp],
            "postings_bytes": [os.path.getsize(pfile)],
        }

    return process_segment


def _term_bucket_py(term: str) -> int:
    # stable, python-side term bucket, Spark's pmod(crc32(term), 1024):
    # merge and verify partition posting rows by it (a term's rows share
    # a bucket); queries do not filter on it, it prunes no row group
    import zlib

    return zlib.crc32(term.encode("utf-8")) % TERM_BUCKETS


# --------------------------------------------------------------- manifest


@dataclass
class Manifest:
    gen: int
    docs_per_seg: int
    analyzer: str
    field: str
    segments: List[dict] = field(default_factory=list)
    #: manifest-gated tombstone files under <index>/deletes/ (the .liv
    #: role — see operators/delete.py); carried forward by build/merge
    delete_files: List[str] = field(default_factory=list)
    format: int = INDEX_FORMAT

    @property
    def seg_ids(self) -> List[int]:
        return sorted(s["seg"] for s in self.segments)

    @property
    def doc_count(self) -> int:
        # purged segments (expungeDeletes) carry live-only counts; the
        # raw n_docs keeps the original count
        return sum(s.get("n_live", s["n_docs"]) for s in self.segments)

    @property
    def sum_dl(self) -> int:
        return sum(s.get("sum_dl_live", s["sum_dl"]) for s in self.segments)

    def next(self, segments: Sequence[dict] = (),
             delete_files: Optional[Sequence[str]] = None) -> "Manifest":
        """The next generation: this one plus new ``segments``, listing
        ``delete_files`` (``delete.write_tombstones``; by default this
        one's)."""
        return Manifest(
            gen=self.gen + 1, docs_per_seg=self.docs_per_seg,
            analyzer=self.analyzer, field=self.field,
            segments=sorted([*self.segments, *segments], key=lambda s: s["seg"]),
            delete_files=list(self.delete_files if delete_files is None
                              else delete_files))

    def to_json(self) -> str:
        return json.dumps({
            "gen": self.gen, "docs_per_seg": self.docs_per_seg,
            "analyzer": self.analyzer, "field": self.field,
            "segments": self.segments, "delete_files": self.delete_files,
            "format": self.format,
        }, indent=1, sort_keys=True)


def manifest_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest")


def read_manifest(index_dir: str) -> Optional[Manifest]:
    mdir = manifest_dir(index_dir)
    if not os.path.isdir(mdir):
        return None
    gens = sorted(
        int(f[4:-5]) for f in os.listdir(mdir) if f.startswith("gen-") and f.endswith(".json")
    )
    if not gens:
        return None
    with open(os.path.join(mdir, f"gen-{gens[-1]:06d}.json")) as fh:
        d = json.load(fh)
    if d.get("format", 4) != INDEX_FORMAT:
        raise ValueError(
            f"{index_dir} holds index format {d.get('format', 4)}; this engine "
            f"reads format {INDEX_FORMAT} only: rebuild the index")
    return Manifest(gen=d["gen"], docs_per_seg=d["docs_per_seg"], analyzer=d["analyzer"],
                    field=d["field"], segments=d["segments"],
                    delete_files=d.get("delete_files", []))


def commit_manifest(index_dir: str, m: Manifest) -> None:
    """Atomic publish: tmp write + fsync + rename, the segments_N
    protocol (`[U] .../index/SegmentInfos.java :: commit`)."""
    mdir = manifest_dir(index_dir)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"gen-{m.gen:06d}.json")
    fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(m.to_json())
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    _RESIDENT.drop_unlisted(index_dir, m.seg_ids)


# ------------------------------------------------------------- the writer


def build_index(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    docs_per_seg: int = DEFAULT_DOCS_PER_SEG,
    analyzer: str = "standard",
    field_name: str = "content",
) -> Manifest:
    """Build (or resume) the inverted index for ``source`` at ``index_dir``.

    ``source`` must carry a deterministic global ``doc_id`` (see
    sources.assign_doc_ids / load_source_table). Segment = contiguous
    doc_id range of ``docs_per_seg`` docs (ingestion-order slices, like
    Lucene's flush-ordered segments). An index already committed at
    ``index_dir`` is extended: doc ranges its segments cover are
    skipped, and the new segments join its next manifest generation.
    An append of at most one segment's rows to an index served from
    the driver is written there (``driver_batch``), and the merges the
    tiered policy then picks run there too, in the same commit
    (``merge.merge_at_commit``); every other build runs on Spark
    (``write_segments``) and merges nothing. Both write the same
    segment files.
    """
    prev = read_manifest(index_dir)
    if prev is not None and (prev.docs_per_seg != docs_per_seg
                             or prev.analyzer != analyzer
                             or prev.field != field_name):
        raise ValueError(
            "resume with different docs_per_seg/analyzer/field — use a fresh index_dir")
    batch = driver_batch(spark, index_dir, prev, source,
                         ["doc_id", *_DOC_COLS, field_name])
    if batch is not None:
        from .merge import merge_at_commit

        m = merge_at_commit(index_dir, prev.next(write_driver_segments(index_dir, prev, batch)))
    else:
        m = (prev or Manifest(gen=0, docs_per_seg=docs_per_seg, analyzer=analyzer,
                              field=field_name)).next(
            write_segments(spark, source, index_dir, prev, docs_per_seg, analyzer,
                           field_name))
    commit_manifest(index_dir, m)
    return m


def _covered(prev: Optional[Manifest]) -> List[List[int]]:
    """The doc_id ranges ``prev`` covers, merged: an append skips them.

    A resume must skip every COVERED DOC RANGE, not segment ids: merges
    renumber segments (into the MERGE_SEG_BASE namespace), so a doc
    range committed under a merged segment would otherwise be rebuilt
    under its original build-time id -> duplicated docs. The covered
    range is the CONSTRUCTION range [seg*dps, (seg+1)*dps) recorded as
    (doc_lo, doc_hi): with sparse caller-assigned doc_ids the
    actual-extent interval [doc_base, doc_base+n_docs) undercovers a
    committed segment, and its leftover ids would be re-processed under
    the same seg id — the atomic rename then replaces the segment's
    parquet with only the leftovers while the manifest keeps the stale
    entry: silent data loss (ADVICE r1)."""
    covered: List[List[int]] = []
    for lo, hi in sorted((s["doc_lo"], s["doc_hi"]) for s in (prev.segments if prev else [])):
        if covered and lo <= covered[-1][1]:
            covered[-1][1] = max(covered[-1][1], hi)
        else:
            covered.append([lo, hi])
    return covered


def _segment_entry(r, docs_per_seg: int) -> dict:
    """A segment writer's stats row -> its manifest entry."""
    seg = int(r["seg"])
    return {
        "seg": seg,
        "n_docs": int(r["n_docs"]),
        "doc_base": int(r["doc_base"]),
        "doc_lo": seg * docs_per_seg,
        "doc_hi": (seg + 1) * docs_per_seg,
        "sum_dl": int(r["sum_dl"]),
        "n_terms": int(r["n_terms"] or 0),
        "n_postings": int(r["n_postings"] or 0),
        "input_fingerprint": f"{int(r['fp_sum'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}",
        "postings_bytes": int(r["postings_bytes"] or 0),
        "source": "build",
    }


def write_segments(spark: SparkSession, source: DataFrame, index_dir: str,
                   prev: Optional[Manifest], docs_per_seg: int,
                   analyzer: str, field_name: str) -> List[dict]:
    """``build_index`` without the commit, on Spark: the rows of
    ``source`` outside the ranges ``prev`` covers -> the manifest
    entries of the segments written, which no manifest lists yet."""
    src = source.withColumn("seg", (F.col("doc_id") / docs_per_seg).cast("int"))
    cond = F.lit(False)
    for lo, hi in _covered(prev):
        cond = cond | ((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    # sha256 JVM-side (codegen); ONE job: raw docs shuffle once keyed by
    # seg (the DWPT routing). Each task writes its segments' parquet
    # itself (Lucene DWPT flush) and only the per-segment stats rows
    # (manifest lineage + metrics, north_rule) travel back — the driver
    # is O(segments), never O(corpus).
    content = F.coalesce(F.col(field_name), F.lit(""))
    prepared = src.filter(~cond).select(
        "seg", F.col("doc_id").cast("long"), *_DOC_COLS,
        F.sha2(content, 256).alias("sha256"),
        content.alias(field_name),
    )
    stats = map_groups(
        prepared.repartition("seg"), ["seg"],
        make_segment_writer(index_dir, analyzer, field_name),
        STATS_SCHEMA, order_by=["doc_id"])
    return [_segment_entry(r, docs_per_seg) for r in stats.collect()]


def driver_batch(spark: SparkSession, index_dir: str, m: Optional[Manifest],
                 rows: DataFrame, columns: Sequence[str]):
    """``columns`` of ``rows`` collected into a ``pyarrow.Table``, typed
    as docmeta declares them (other columns as strings), when a write
    of them runs in the driver: the committed index ``m`` is served
    from the driver (``search.served_from_driver``, the predicate its
    readers use) and the batch holds at most ``m.docs_per_seg`` rows,
    the unit one build task holds. Else None, and the write runs on
    Spark; a fresh build (``m`` None) always does.

    The collect is bounded at ``m.docs_per_seg + 1`` rows; over a
    local relation (a pandas- or Arrow-built DataFrame) it runs no
    Spark job."""
    import pyarrow as pa

    if m is None:
        return None
    from .delete import over_driver_cap
    from .search import postings_file_sizes, served_from_driver

    if not served_from_driver(spark, postings_file_sizes(index_dir, m.seg_ids),
                              over_driver_cap(index_dir, m)):
        return None
    got = rows.limit(m.docs_per_seg + 1).collect()
    if len(got) > m.docs_per_seg:
        return None
    _, declared = arrow_schema(DOCMETA_SCHEMA)
    return pa.table([pa.array([r[c] for r in got],
                              declared.field(c).type if c in declared.names else pa.string())
                     for c in columns], names=list(columns))


def write_driver_segments(index_dir: str, m: Manifest, batch) -> List[dict]:
    """``write_segments`` in the driver, for a ``driver_batch`` that
    carries doc_ids: the rows outside the ranges ``m`` covers go through
    the same ``make_segment_writer``, once per segment, on input typed
    as the Spark path types it (sha256 of the UTF-8 of the content, a
    null content as ""), so the two paths write identical files."""
    import hashlib

    import pyarrow as pa

    ids = batch["doc_id"].to_numpy(zero_copy_only=False)
    skip = np.zeros(len(ids), dtype=bool)
    for lo, hi in _covered(m):
        skip |= (ids >= lo) & (ids < hi)
    batch = batch.filter(pa.array(~skip)).sort_by("doc_id")
    ids = batch["doc_id"].to_numpy(zero_copy_only=False)
    segs = ids // m.docs_per_seg
    content = [t or "" for t in batch[m.field].to_pylist()]
    sub = pa.table({
        "seg": pa.array(segs, pa.int32()),
        "doc_id": pa.array(ids, pa.int64()),
        **{c: batch[c] for c in _DOC_COLS},
        "sha256": pa.array([hashlib.sha256(t.encode("utf-8")).hexdigest()
                            for t in content], pa.string()),
        m.field: pa.array(content, pa.string()),
    })
    writer = make_segment_writer(index_dir, m.analyzer, m.field)
    starts = np.flatnonzero(np.diff(segs, prepend=-1))
    return [_segment_entry({k: v[0] for k, v in writer(sub.slice(lo, hi - lo)).items()},
                           m.docs_per_seg)
            for lo, hi in zip(starts, [*starts[1:], len(segs)])]
