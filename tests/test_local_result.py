"""Driver-held results (operators/search.py ``LocalResult``): on an index
served from the driver, ``search``, ``score_all`` and ``termfreq``
return a DataFrame that holds its rows as a ``pyarrow.Table`` and builds
its JVM Dataset only when a caller composes it. These tests pin that
what it answers in the driver (``collect``, ``toArrow``, ``toPandas``,
``schema``, ``columns``, ``repr``) equals what a plain
``createDataFrame`` of the same table answers through the JVM, that
every composition plans as that plain frame does, and that the classic
DataFrame state it stands in for still matches the installed pyspark."""

import shutil

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.operators import search as search_mod
from lucene_solr_spark.operators.build import build_index
from lucene_solr_spark.operators.delete import delete_documents
from lucene_solr_spark.operators.search import IndexReader, LocalResult
from lucene_solr_spark.sources import load_source_table

SEARCHES = ["spark", "spark OR merge OR vector", "hash AND join", '"batch batch"',
            "spar*", "*:*", "NOT spark", "zzzabsent"]


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load_source_table(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    """The sf0.001 corpus at 64 docs per segment, and a copy with every
    third doc of the first 120 tombstoned."""
    root = tmp_path_factory.mktemp("local_result")
    built, deleted = str(root / "built"), str(root / "deleted")
    build_index(spark, corpus, built, docs_per_seg=64)
    shutil.copytree(built, deleted)
    delete_documents(spark, deleted, list(range(0, 120, 3)))
    return {"built": built, "deleted": deleted}


def _results(rdr):
    """name -> a driver-path result frame of every kind ``_frame`` makes."""
    out = {f"search {q}": rdr.search(q, k=10) for q in SEARCHES}
    out["search k=1000 *:*"] = rdr.search("*:*", k=1000)
    out.update({f"score_all {q}": rdr.score_all(q) for q in ("spark OR merge", "*:*")})
    out.update({f"termfreq {t}": rdr.termfreq(t) for t in ("spark", "zzzabsent")})
    return out


def _plain(spark, frame):
    """The frame a driver path returned before results were held: a
    createDataFrame of the same table and schema."""
    return spark.createDataFrame(frame._table, frame.schema)


def _typed(rows):
    return [[(type(v), v) for v in r] for r in rows]


@pytest.fixture
def count_datasets(spark, monkeypatch):
    """The ``createDataFrame`` calls made from now on."""
    calls = []
    create = type(spark).createDataFrame

    def counting(self, *args, **kw):
        calls.append(args)
        return create(self, *args, **kw)

    monkeypatch.setattr(type(spark), "createDataFrame", counting)
    return calls


@pytest.mark.parametrize("which", ["built", "deleted"])
def test_answers_equal_a_plain_frame(spark, indexes, which):
    """``collect`` rows (field names, Python types and values),
    ``toArrow`` (schema and values), ``toPandas`` (with and without
    Arrow conversion), ``schema``, ``columns``, ``dtypes`` and ``repr``
    equal those of a plain frame of the same table, and none of them
    builds the Dataset."""
    rdr = IndexReader(spark, indexes[which])
    assert rdr._in_driver()
    for name, got in _results(rdr).items():
        assert isinstance(got, LocalResult), name
        want = _plain(spark, got)
        rows, want_rows = got.collect(), want.collect()
        assert _typed(rows) == _typed(want_rows), name
        assert [r.asDict() for r in rows] == [r.asDict() for r in want_rows], name
        assert got.toArrow().schema == want.toArrow().schema, name
        assert got.toArrow().equals(want.toArrow()), name
        arrow = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
        try:
            for enabled in ("true", "false"):
                spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", enabled)
                pd.testing.assert_frame_equal(got.toPandas(), want.toPandas())
        finally:
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
        assert got.schema == want.schema, name
        assert (got.columns, got.dtypes, repr(got)) == (
            want.columns, want.dtypes, repr(want)), name
        assert "_jdf" not in vars(got), name
    assert rdr.search("*:*", k=1000).count() == min(
        1000, rdr.doc_count - len(rdr.deleted))
    # each result owns its schema, as a Dataset's is parsed per frame
    extended = rdr.search("spark", k=1)
    extended.schema.add("extra", "long")
    assert extended.select("doc_id", "score").collect() == extended.collect()
    assert rdr.search("spark", k=1).columns == ["doc_id", "score"]


def test_answers_equal_the_spark_path(spark, indexes, monkeypatch):
    """The driver-held rows are the rows the Spark query path collects
    for the same reader state."""
    rdr = IndexReader(spark, indexes["deleted"])
    driver = {name: sorted(f.collect()) for name, f in _results(rdr).items()}
    monkeypatch.setattr(search_mod, "ONE_TASK_MAX_BYTES", 0)
    assert not rdr._in_driver()
    spark_path = {name: sorted(f.collect()) for name, f in _results(rdr).items()}
    assert driver == spark_path


def test_composes_as_a_plain_frame(spark, indexes, corpus):
    """Joins, filters, orders, unions, ``take``, temp views and ``rdd``
    answer as they do on a plain frame of the same table."""
    rdr = IndexReader(spark, indexes["built"])
    got = rdr.search("spark OR merge", k=10)
    want = _plain(spark, got)
    assert isinstance(got, DataFrame)
    docs = corpus.select("doc_id", "path")

    def composed(f):
        yield f.join(docs, "doc_id").orderBy("doc_id").collect()
        yield f.join(docs, f.doc_id == docs.doc_id).select(f.score, "path").collect()
        yield f.filter(F.col("score") > 0.3).orderBy(F.desc("doc_id")).collect()
        yield f.orderBy("doc_id").take(3)
        yield f.union(rdr.search("vector", k=5)).orderBy("doc_id", "score").collect()
        yield f.select((f["doc_id"] + 1).alias("d")).orderBy(F.desc("d")).collect()
        yield sorted(f.rdd.map(tuple).collect())
        yield f.count()
        f.createOrReplaceTempView("local_result_view")
        yield spark.sql("SELECT min(doc_id) AS d, count(*) AS n "
                        "FROM local_result_view").collect()

    assert list(composed(got)) == list(composed(want))
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()


def test_collect_builds_no_dataset(spark, indexes, corpus, count_datasets):
    """A driver-held result builds no JVM Dataset to be collected, read
    as Arrow or pandas, or described; composing it builds one, once."""
    rdr = IndexReader(spark, indexes["built"])
    got = rdr.search("spark OR merge", k=10)
    for answer in (got.collect, got.toArrow, got.toPandas, lambda: got.columns,
                   lambda: got.dtypes, lambda: repr(got), lambda: got.schema):
        answer()
    rdr.score_all("merge").collect()
    rdr.termfreq("spark").toPandas()
    assert count_datasets == []
    docs = corpus.select("doc_id", "path")
    assert got.join(docs, "doc_id").count() == 10
    assert len(count_datasets) == 1
    got.join(docs, "doc_id").collect()
    got.orderBy("doc_id").collect()
    assert len(count_datasets) == 1


def test_stands_in_for_classic_dataframe_state(spark, indexes, monkeypatch):
    """Pins the pyspark internals ``LocalResult`` relies on, so a pyspark
    upgrade that changes them fails here: once used as a Dataset, a
    result holds every instance attribute a plain createDataFrame frame
    holds, and an AttributeError raised while its Dataset is built
    surfaces as an error, not as a missing attribute (which
    DataFrame.__getattr__ would answer)."""
    rdr = IndexReader(spark, indexes["built"])
    got = rdr.search("spark", k=10)
    want = _plain(spark, got)
    for f in (got, want):
        f.schema, f.count(), f.rdd
    assert set(vars(want)) <= set(vars(got))

    def broken(self, *args, **kw):
        raise AttributeError("no such JVM method")

    monkeypatch.setattr(type(spark), "createDataFrame", broken)
    fresh = rdr.search("spark", k=10)
    assert len(fresh.collect()) == 10
    for compose in (fresh.count, lambda: fresh.doc_id, lambda: fresh.select("score")):
        with pytest.raises(RuntimeError, match="no such JVM method") as err:
            compose()
        assert not isinstance(err.value, AttributeError)
