"""Solr ``/select`` request facade (SURVEY.md §3.2).

The reference's most-used API surface: one parameter map drives query,
filter queries, sort, pagination, field list and facets
(`[U] solr/core/src/java/org/apache/solr/handler/component/
SearchHandler.java` + ``QueryComponent``/``FacetComponent``). This
facade composes the engine's existing operators the same way the
reference's component chain does:

* ``q``            — main query (classic syntax), scored with BM25.
* ``fq``           — list of filter queries: non-scoring, cacheable in
  Solr; here each fq becomes a doc-id SEMI-JOIN applied BEFORE the
  top-k (exactly Solr's docSet intersection — scores never change, and
  a filtered doc can never crowd the page).
* ``sort``         — ``score desc`` (default) or ``<field> asc|desc``
  over stored fields, with doc_id as the deterministic tiebreak.
* ``start``/``rows`` — pagination; the plan stays a single global
  TakeOrderedAndProject over start+rows, then the page is sliced.
* ``fl``           — stored-field projection (column pruning in the
  docmeta join).
* ``facet.field``  — per-field value counts over the q+fq match set
  (FacetComponent semantics: facets count the FILTERED result set, not
  the page).
* ``defType=edismax`` + ``qf``/``tie``/``mm`` — route ``q`` through the
  edismax scorer (per-field readers via the ``readers`` argument),
  exactly Solr's query-parser plugin dispatch.
* ``cursorMark``/``next_cursor_mark`` — deep paging past an opaque
  cursor (JSON of the last row's sort values; Solr base64s the same
  payload): strictly-after filter + top-``rows``, never a
  start+rows-deep global sort.
* ``hl.fl`` (+ ``hl=true``) — highlighting section over the PAGE docs
  only, snippets from the ``source`` stored-field DataFrame.
* ``spellcheck=true`` + ``spellcheck.q`` — DirectSpellChecker
  suggestions section.

Scale shape: the match set is (doc_id, score) pairs only; fq joins and
facet joins ship ids, never text. Stats stay delete-blind; tombstones
are masked inside score_all like every other query surface.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.query import parse_query
from . import streamexpr as sx

__all__ = ["solr_select", "SelectResponse", "realtime_get",
           "query_elevation"]


@dataclass
class SelectResponse:
    docs: DataFrame                      #: the page (fl columns + score)
    matches: DataFrame                   #: full q+fq match set (doc_id, score)
    facets: Dict[str, DataFrame] = field(default_factory=dict)
    highlighting: Optional[DataFrame] = None   #: (doc_id, snippets)
    spellcheck: Optional[DataFrame] = None     #: (term, df, dist)
    collation: Optional[DataFrame] = None      #: (collation, hits)
    next_cursor_mark: Optional[str] = None     #: opaque cursor for the next page

    def num_found(self) -> int:
        return self.matches.count()

    def total_hits(self, threshold: int = 1000) -> tuple:
        """Lucene 8 TotalHits contract (`[U] lucene/core/.../search/
        TotalHits.java`): above ``totalHitsThreshold`` (default 1000,
        `[U] .../search/IndexSearcher.java :: TOTAL_HITS_THRESHOLD`)
        the collector stops counting and reports a LOWER BOUND with
        relation GREATER_THAN_OR_EQUAL_TO. This engine's count is
        exact either way (a distributed count costs the same), so the
        value reported above the threshold is the exact count — still
        a valid >= bound — while the RELATION faithfully flips, so
        wire-shape consumers see Lucene 8's contract.

        Returns ``(value, relation)`` with relation one of
        ``"EQUAL_TO"`` / ``"GREATER_THAN_OR_EQUAL_TO"``."""
        n = self.num_found()
        rel = "EQUAL_TO" if n <= threshold else "GREATER_THAN_OR_EQUAL_TO"
        return n, rel

    def response(self, start: int = 0,
                 total_hits_threshold: int = 1000) -> Dict:
        """Solr wire-format response body (`[U] solr/core/.../response/
        JSONResponseWriter.java` shape): responseHeader + response
        {numFound, numFoundExact, start, docs} + optional facet_counts
        / highlighting / spellcheck sections (numFoundExact is Solr
        8.6+'s surfacing of the TotalHits relation). The page is tiny
        by construction, so the collect here is the same driver cost
        Solr pays serializing."""
        n, rel = self.total_hits(total_hits_threshold)
        body = {
            "responseHeader": {"status": 0},
            "response": {
                "numFound": n,
                "numFoundExact": rel == "EQUAL_TO",
                "start": start,
                "docs": [r.asDict() for r in self.docs.collect()],
            },
        }
        if self.facets:
            body["facet_counts"] = {
                "facet_fields": {
                    f: [x for r in frame.collect()
                        for x in (r[0], r["cnt"])]
                    for f, frame in self.facets.items()
                }
            }
        if self.highlighting is not None:
            body["highlighting"] = {
                r["doc_id"]: r["snippets"] for r in self.highlighting.collect()
            }
        if self.spellcheck is not None:
            body["spellcheck"] = {"suggestions": [
                r.asDict() for r in self.spellcheck.collect()]}
        if self.collation is not None:
            body.setdefault("spellcheck", {})["collations"] = [
                r.asDict() for r in self.collation.collect()]
        if self.next_cursor_mark is not None:
            body["nextCursorMark"] = self.next_cursor_mark
        return body


def _fq_ids(idx, fq: str) -> DataFrame:
    """One filter query -> doc_id set. ``field:value`` against a STORED
    field filters docmeta (Solr fq on a docValues field); anything else
    parses as a query against the indexed content."""
    if ":" in fq:
        fld, _, val = fq.partition(":")
        if fld in idx.docmeta.columns and fld != "doc_id":
            return (idx.docmeta.filter(F.col(fld) == val)
                    .select("doc_id"))
    return idx.score_all(
        parse_query(fq, analyzer=idx.manifest.analyzer)).select("doc_id")


def solr_select(idx, params: Dict, readers: Optional[Dict] = None,
                source: Optional[DataFrame] = None) -> SelectResponse:
    """Execute a Solr-style parameter map against an IndexReader.

    Supported keys: ``q`` (required), ``defType`` ('edismax' routes
    through the edismax scorer using ``readers`` + ``qf``/``tie``/
    ``mm``), ``fq`` (str or list), ``sort``, ``start``/``rows`` OR
    ``cursorMark``, ``fl`` (list of stored fields), ``facet.field``
    (str or list), ``hl.fl`` (+ ``source`` for the stored text), and
    ``spellcheck``/``spellcheck.q``."""
    import json

    q = params["q"]
    boost_fn = None
    if isinstance(q, str) and q.startswith("{!complexphrase"):
        # {!complexphrase inOrder=true}field:"phrase with wild* slots"
        # (`[U] solr/core/.../search/ComplexPhraseQParserPlugin.java`):
        # the quoted phrase parses into a ComplexPhraseQuery whose
        # multiterm slots expand at search time (plans/query.py)
        from ..functions.funcparser import parse_local_params
        from ..plans.query import parse_complex_phrase

        _, lp, body = parse_local_params(q)
        if lp.get("inOrder", "true").lower() != "true":
            raise ValueError("{!complexphrase} supports inOrder=true only "
                             "(exact-adjacency MultiPhraseQuery rewrite)")
        fld = "content"
        if ":" in body.split('"', 1)[0]:
            fld, body = body.split(":", 1)
        q = parse_complex_phrase(body.strip().strip('"'), field=fld.strip(),
                                 analyzer=idx.manifest.analyzer)
    if isinstance(q, str) and q.startswith("{!boost"):
        # {!boost b=func}query (`[U] solr/core/.../search/
        # BoostQParserPlugin.java` -> FunctionScoreQuery): relevance
        # multiplied by the function value, float32 like the engine's
        # scorer; the MATCH SET is unchanged (facets/numFound agree)
        from ..functions.funcparser import parse_local_params

        _, lp, body = parse_local_params(q)
        boost_fn, q = lp["b"], body
    fqs = params.get("fq", [])
    if isinstance(fqs, str):
        fqs = [fqs]
    # multi-select faceting: an fq may carry a {!tag=NAME} prefix so a
    # facet can later exclude it with {!ex=NAME} (`[U] solr/core/.../
    # request/SimpleFacets.java` excludeTags / tagged-filter exclusion)
    import re as _re

    fq_specs = []
    for f in fqs:
        m = _re.match(r"^\{!tag=([\w,]+)\}(.*)$", f)
        fq_specs.append((m.group(1), m.group(2)) if m else (None, f))
    start = int(params.get("start", 0))
    rows = int(params.get("rows", 10))
    sort = params.get("sort", "score desc")
    fl = list(params.get("fl", ["doc_id"]))

    if params.get("defType") == "edismax":
        from .edismax import edismax_score_all

        if not readers:
            raise ValueError("defType=edismax needs the per-field readers map")
        base_scored = edismax_score_all(
            readers, params["qf"], q,
            tiebreak=float(params.get("tie", 0.0)),
            mm=int(params.get("mm", 1)))
    else:
        base_scored = idx.score_all(
            q if not isinstance(q, str)
            else parse_query(q, analyzer=idx.manifest.analyzer,
                             default_op=str(params.get("q.op", "OR"))))
    # each fq's doc-id set is built ONCE and reused by both the match
    # set and any facet domain that keeps it (id-only semi-joins)
    fq_sets = [(tag, _fq_ids(idx, f)) for tag, f in fq_specs]
    matches = base_scored
    for _, ids in fq_sets:
        matches = matches.join(ids, "doc_id", "left_semi")

    if boost_fn is not None:
        from ..functions.funcparser import (function_query_fields,
                                            parse_function_query)

        # referenced fields come from the parsed function AST, not a
        # text scan (column names with regex metacharacters and
        # field-like words inside string literals mis-detect)
        fq_fields = function_query_fields(boost_fn)
        refs = [c for c in idx.docmeta.columns
                if c != "doc_id" and c in fq_fields]
        if refs:
            matches = matches.join(
                idx.docmeta.select("doc_id", *refs), "doc_id", "left")
        matches = matches.withColumn(
            "score",
            (F.col("score") * parse_function_query(boost_fn).cast("float"))
            .cast("float")).select("doc_id", "score")

    # QueryElevationComponent wiring (elevateIds/excludeIds params —
    # Solr's QEC request override): excluded ids vanish, elevated ids
    # are pinned first in config order (score 0 when unmatched); only
    # meaningful under the default relevancy sort, like the reference.
    elevate = params.get("elevateIds", [])
    if isinstance(elevate, str):
        elevate = [int(x) for x in elevate.split(",") if x.strip()]
    exclude = params.get("excludeIds", [])
    if isinstance(exclude, str):
        exclude = [int(x) for x in exclude.split(",") if x.strip()]
    elev_order: List = []
    if exclude:
        # excludeIds is a plain doc-set subtraction — valid under any
        # sort (QEC removes them from the result set entirely)
        matches = matches.filter(
            ~F.col("doc_id").isin([int(i) for i in exclude]))
    if elevate:
        # editorial pinning only composes with the relevancy sort, and
        # a cursor built on (score, doc_id) cannot express the
        # elevated-first ordering — reject both up front rather than
        # silently mis-paging
        if sort.split()[0] != "score":
            raise ValueError("elevateIds requires sort=score (QEC)")
        if "cursorMark" in params:
            raise ValueError("elevateIds does not compose with "
                             "cursorMark (the cursor orders by "
                             "(score, doc_id) only)")
        spark = idx.spark
        elev = spark.createDataFrame(
            [(int(d), r) for r, d in enumerate(elevate)],
            "doc_id long, _elev int")
        got = {r["doc_id"] for r in matches.join(
            F.broadcast(elev), "doc_id", "left_semi")
            .select("doc_id").collect()}
        missing = [(int(d), float(0.0)) for d in elevate
                   if int(d) not in got]
        if missing:
            matches = matches.unionByName(spark.createDataFrame(
                missing, "doc_id long, score float"))
        matches = matches.join(F.broadcast(elev), "doc_id", "left")
        elev_order = [F.asc_nulls_last("_elev")]

    parts = sort.split()
    sort_field, direction = parts[0], (parts[1] if len(parts) > 1 else "asc")
    if sort_field == "score":
        ordered = matches
        order_cols = elev_order + [
            F.desc("score") if direction == "desc" else F.asc("score"),
            F.asc("doc_id")]
        sort_col = "score"
    elif "(" in sort_field:
        # sort by function query (Solr `sort=abs(sub(x,y)) asc` —
        # ValueSourceParser dispatch): parse the Solr function text to
        # a Column, join ONLY the stored fields it references (derived
        # from the parsed AST, see the boost block above)
        from ..functions.funcparser import (function_query_fields,
                                            parse_function_query)

        fq_fields = function_query_fields(sort_field)
        refs = [c for c in idx.docmeta.columns
                if c != "doc_id" and c in fq_fields]
        ordered = matches.join(
            idx.docmeta.select("doc_id", *refs), "doc_id", "left"
        ).withColumn("__sortv", parse_function_query(sort_field))
        order_cols = [F.desc("__sortv") if direction == "desc"
                      else F.asc("__sortv"), F.asc("doc_id")]
        sort_col = "__sortv"
    else:
        ordered = matches.join(
            idx.docmeta.select("doc_id", sort_field), "doc_id", "left")
        order_cols = [F.desc(sort_field) if direction == "desc"
                      else F.asc(sort_field), F.asc("doc_id")]
        sort_col = sort_field

    next_cursor = None
    w = Window.orderBy(*order_cols)
    if "cursorMark" in params:
        # cursor paging (Solr CursorMark): strictly-after filter on the
        # (sort value, doc_id) cursor + top-rows — the plan never sorts
        # start+rows deep, so page 10^6 costs the same as page 1
        cm = params["cursorMark"]
        if cm != "*":
            v, last_id = json.loads(cm)
            col = F.col(sort_col)
            past = (col < F.lit(v)) if direction == "desc" else (col > F.lit(v))
            ordered = ordered.filter(
                past | ((col == F.lit(v)) & (F.col("doc_id") > last_id)))
        page_ids = (
            ordered.orderBy(*order_cols).limit(rows)
            .withColumn("position", F.row_number().over(w))
            .select("doc_id", "score",
                    *([sort_col] if sort_col != "score" else []), "position")
        )
        tail = (page_ids.orderBy(F.desc("position")).limit(1)
                .select(sort_col, "doc_id").collect())
        next_cursor = (json.dumps([tail[0][0], tail[0][1]]) if tail
                       else params["cursorMark"])
        page_ids = page_ids.select("doc_id", "score", "position")
    else:
        # one TakeOrderedAndProject over start+rows, page sliced driver-free
        page_ids = (
            ordered.orderBy(*order_cols).limit(start + rows)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > start)
            .select("doc_id", "score", F.col("_rn").alias("position"))
        )
    want = [c for c in fl if c not in ("doc_id", "score")]
    docs = page_ids
    if want:
        docs = page_ids.join(idx.docmeta.select("doc_id", *want), "doc_id", "left")
    docs = docs.select("position", "doc_id", "score", *want)

    facets: Dict[str, DataFrame] = {}
    ffields = params.get("facet.field", [])
    if isinstance(ffields, str):
        ffields = [ffields]
    for ff in ffields:
        # {!ex=TAG[,TAG2]}field: this facet's domain drops the fqs
        # carrying those tags (multi-select faceting — counts show
        # what the result WOULD be if the user lifted that filter)
        m = _re.match(r"^\{!ex=([\w,]+)\}(.*)$", ff)
        if m:
            ex_tags = set(m.group(1).split(","))
            fld = m.group(2)
            dom = base_scored.select("doc_id")
            for tag, ids in fq_sets:
                if tag is None or tag not in ex_tags:
                    dom = dom.join(ids, "doc_id", "left_semi")
        else:
            fld = ff
            dom = matches.select("doc_id")
        joined = dom.join(idx.docmeta.select("doc_id", fld), "doc_id", "left")
        facets[fld] = sx.facet_field(joined, fld)

    highlighting = None
    hfl = params.get("hl.fl")
    if hfl and params.get("hl", True):
        from ..analysis import tokenize
        from .highlight import highlight

        if source is None:
            raise ValueError("hl.fl needs the stored-field source DataFrame")
        terms = (tokenize(q, idx.manifest.analyzer) if isinstance(q, str)
                 else [p for p in getattr(q, "parts", ())
                       if isinstance(p, str)])  # complexphrase: literals
        hits = docs.select("doc_id").join(
            source.select("doc_id", hfl), "doc_id", "left")
        highlighting = highlight(hits, hfl, terms).select("doc_id", "snippets")

    spellcheck = None
    collation = None
    if params.get("spellcheck"):
        sq = params["spellcheck.q"]
        spellcheck = idx.suggest_similar(sq.split()[0] if " " in sq else sq)
        if params.get("spellcheck.collate"):
            # SpellCheckComponent collate=true: whole-query rewrite,
            # each absent term replaced by its top suggestion, then
            # re-verified (hits of the corrected all-MUST query)
            collation = idx.spellcheck_collate(sq.split())

    return SelectResponse(docs=docs, matches=matches, facets=facets,
                          highlighting=highlighting, spellcheck=spellcheck,
                          collation=collation, next_cursor_mark=next_cursor)


def query_elevation(idx, q: str, elevate_ids: Sequence[int],
                    exclude_ids: Sequence[int] = (), k: int = 10) -> DataFrame:
    """QueryElevationComponent (`[U] solr/core/src/java/org/apache/solr/
    handler/component/QueryElevationComponent.java`, elevate.xml +
    forceElevation=true): editorial ids are pinned to the top of the
    page IN CONFIG ORDER — even ids that do not match ``q`` (QEC ORs an
    include-query into the main query; a non-matching elevated doc
    scores 0) — excluded ids vanish entirely, and the rest of the page
    keeps the normal (score desc, doc_id) order.

    Scale shape: the elevation map is editorial-tiny, so it rides a
    broadcast join; the only collect is the <=len(elevate_ids)-row
    matched-id probe (same order as the final top-k collect). The
    non-elevated stream stays one global TakeOrderedAndProject.

    Returns (rank, doc_id, score_r, elevated).
    """
    spark = idx.spark
    scored = idx.score_all(parse_query(q, analyzer=idx.manifest.analyzer))
    if exclude_ids:
        scored = scored.filter(
            ~F.col("doc_id").isin([int(i) for i in exclude_ids]))
    elev = spark.createDataFrame(
        [(int(d), r) for r, d in enumerate(elevate_ids)],
        "doc_id long, _elev int")
    matched = scored.join(F.broadcast(elev), "doc_id")
    got = {r["doc_id"] for r in matched.select("doc_id").collect()}
    missing = [(int(d), float(0.0), r)
               for r, d in enumerate(elevate_ids) if int(d) not in got]
    elev_scored = matched.select("doc_id", F.col("score").cast("float"), "_elev")
    if missing:
        elev_scored = elev_scored.unionByName(spark.createDataFrame(
            missing, "doc_id long, score float, _elev int"))
    rest = (scored.join(F.broadcast(elev), "doc_id", "left_anti")
            .select("doc_id", F.col("score").cast("float"),
                    F.lit(None).cast("int").alias("_elev")))
    out = (elev_scored.withColumn("elevated", F.lit(True))
           .unionByName(rest.withColumn("elevated", F.lit(False)))
           .orderBy(F.desc("elevated"), F.asc_nulls_last("_elev"),
                    F.desc("score"), F.asc("doc_id"))
           .limit(k))
    w = Window.orderBy(F.desc("elevated"), F.asc_nulls_last("_elev"),
                       F.desc("score"), F.asc("doc_id"))
    return (out.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id",
                    F.round(F.col("score").cast("double"), 4).alias("score_r"),
                    "elevated"))


def realtime_get(idx, keys, key_cols: Sequence[str] = ("repo", "path"),
                 fl: Sequence[str] = ("commit", "lang")) -> DataFrame:
    """Realtime ``/get`` (`[U] solr/core/.../handler/component/
    RealTimeGetComponent.java`): point-lookup by application key,
    returning the CURRENT version of each matching document.

    ``updateDocument`` appends the replacement under a fresh doc_id and
    tombstones the stale copies, so "current" = the highest LIVE doc_id
    per key; a key whose every version is deleted returns nothing
    (Solr: the id is simply absent from the response).

    ``keys`` is either a list of key tuples — compiled to a literal
    OR-of-equalities predicate so the point lookup pushes down to the
    docmeta parquet scan (PushedFilters, no full-corpus read) — or a
    DataFrame of key columns, broadcast-semi-joined for batched gets.
    Returns (key_cols..., doc_id, fl...) with one row per found key.
    """
    dm = idx.docmeta
    if isinstance(keys, DataFrame):
        hits = dm.join(F.broadcast(keys.select(*key_cols).distinct()),
                       list(key_cols), "left_semi")
    else:
        pred = None
        for kt in keys:
            if not isinstance(kt, (tuple, list)):
                kt = (kt,)
            c = F.lit(True)
            for k, v in zip(key_cols, kt):
                c = c & (F.col(k) == F.lit(v))
            pred = c if pred is None else (pred | c)
        if pred is None:
            return dm.select(*key_cols, "doc_id", *fl).limit(0)
        hits = dm.filter(pred)
    if idx.manifest.delete_files:
        hits = hits.join(idx._deleted_df(), "doc_id", "left_anti")
    # newest surviving version per key: update_documents commits the
    # new version and the old one's tombstone together, but a caller's
    # own delete and append (build_index) can leave two live copies
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(F.desc("doc_id"))
    latest = (hits.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1))
    return latest.select(*key_cols, "doc_id", *fl)
