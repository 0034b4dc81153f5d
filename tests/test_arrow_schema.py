"""``build.arrow_schema`` parses the engine's flat DDL schemas in
Python, exactly as the JVM parses them, so local reads and kernels run
where there is no SparkContext (a Python worker of an executor task)."""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from lucene_solr_spark.operators import build as build_mod
from lucene_solr_spark.operators import search as search_mod
from lucene_solr_spark.operators import verify as verify_mod

DDLS = {
    "POSTINGS_SCHEMA": build_mod.POSTINGS_SCHEMA,
    "DOCMETA_SCHEMA": build_mod.DOCMETA_SCHEMA,
    "STATS_SCHEMA": build_mod.STATS_SCHEMA,
    "RESULT_SCHEMA": search_mod.RESULT_SCHEMA,
    "TOPK_SCHEMA": search_mod.TOPK_SCHEMA,
    "CHECK_SCHEMA": verify_mod.CHECK_SCHEMA,
}


@pytest.mark.parametrize("name", sorted(DDLS))
def test_python_parse_equals_jvm_parse(spark, name):
    struct, schema = build_mod.arrow_schema(DDLS[name])
    jvm = _parse_datatype_string(DDLS[name])
    assert struct == jvm
    assert schema == to_arrow_schema(jvm)


def test_other_ddl_still_parses(spark):
    struct, _ = build_mod.arrow_schema("g int, h string, vals array<int>")
    assert struct == _parse_datatype_string("g int, h string, vals array<int>")


def test_local_read_without_a_spark_context(spark, tmp_path):
    """In a process that never starts Spark, the declared schemas parse
    and a local read of a committed index returns what this process
    reads."""
    d = str(tmp_path / "idx")
    build_mod.build_index(spark, spark.createDataFrame(pd.DataFrame({
        "doc_id": range(6), "repo": "r", "path": [f"p{i}" for i in range(6)],
        "commit": "c", "lang": "en", "content": [f"doc{i} common" for i in range(6)]})),
        d, docs_per_seg=4)
    segs = build_mod.read_manifest(d).seg_ids
    script = f"""
import json, sys
from lucene_solr_spark.operators import build
from lucene_solr_spark.operators.search import RESULT_SCHEMA
from pyspark import SparkContext
assert SparkContext._active_spark_context is None
rows = build.read_table(None, {d!r}, "postings", {segs!r}, local=True,
                        columns=["seg", "term", "df"])
json.dump({{"schemas": [str(build.arrow_schema(s)[1]) for s in
                       (build.POSTINGS_SCHEMA, build.DOCMETA_SCHEMA, RESULT_SCHEMA)],
           "rows": rows.to_pylist(),
           "active": SparkContext._active_spark_context is not None}}, sys.stdout)
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert out.returncode == 0, out.stderr
    got = json.loads(out.stdout)
    assert not got["active"]
    assert got["schemas"] == [str(build_mod.arrow_schema(s)[1]) for s in
                              (build_mod.POSTINGS_SCHEMA, build_mod.DOCMETA_SCHEMA,
                               search_mod.RESULT_SCHEMA)]
    assert got["rows"] == build_mod.read_table(None, d, "postings", segs, local=True,
                                               columns=["seg", "term", "df"]).to_pylist()
