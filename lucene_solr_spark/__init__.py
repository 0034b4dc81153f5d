"""lucene_solr_spark — a PySpark-native full-text index + BM25 engine.

A from-scratch reimplementation of the query and data-processing
capabilities of the reference (zsgyulavari/lucene-solr, a fork of the
Apache lucene-solr 8.x monorepo), designed Spark-first:

- the inverted index is a set of parquet tables (postings / docmeta /
  stats / manifest) instead of a custom on-disk codec,
- the analysis chain, posting-block codec and BM25 float path live
  in vectorized numpy kernels behind
  Arrow-batched pandas UDFs (no per-row Python),
- everything relational (filter pushdown on `term`, top-k merge,
  joins, facets) is plain DataFrame code that Catalyst optimizes.

Reference citations in docstrings use the convention from SURVEY.md §0:
`[U] <lucene-solr monorepo path> :: <symbol>` — the reference mount was
empty at survey time, so paths are upstream-canonical and unverified on
this disk.
"""

__version__ = "0.1.0"
