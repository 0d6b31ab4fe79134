"""The per-session parquet schema catalog behind ``load_table``.

A repeat read of an unchanged path must pin the inferred schema (no
Spark job) and still hand out a fresh relation; anything that can
change what inference returns — the files, the inference confs — must
resolve afresh; eviction must follow ``common.clear_caches``.
"""

from __future__ import annotations

import ast
import os
import pathlib
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import REPO, SF_DIR
from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common
from text_sentiment_analysis_in_hadoop_and_spark_spark.sources import tables
from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
    load_table,
    read_parquet,
)

PACKAGE = pathlib.Path(REPO) / "text_sentiment_analysis_in_hadoop_and_spark_spark"


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _entries(path) -> list:
    root = os.path.abspath(path)
    return [k for k in tables._SCHEMAS if k[1] == root or k[1].startswith(root + os.sep)]


def test_repeat_load_runs_no_job_and_same_rows(spark):
    tables.clear_catalog(SF_DIR)
    first, first_jobs = _jobs(spark, lambda: load_table(spark, SF_DIR, "nation"))
    second, second_jobs = _jobs(spark, lambda: load_table(spark, SF_DIR, "nation"))
    assert first_jobs >= 1  # the inferred read is what the catalog saves
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_self_join_of_two_loads_resolves(spark):
    load_table(spark, SF_DIR, "nation")  # the catalog now holds nation
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    got = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"], b["n_nationkey"]
    )
    path = os.path.join(SF_DIR, "nation.parquet")
    x, y = spark.read.parquet(path), spark.read.parquet(path)
    want = x.join(y, x["n_regionkey"] == y["n_regionkey"])
    assert got.count() == want.count() > 0


def test_rewritten_file_resolves_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert df.count() == 3


def test_added_file_resolves_new_schema(spark, tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert read_parquet(spark, str(d)).columns == ["a"]
        pq.write_table(pa.table({"a": [2], "b": [0.5]}), str(d / "part-1.parquet"))
        df = read_parquet(spark, str(d))
        assert sorted(df.columns) == ["a", "b"]
        assert df.count() == 2
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_inference_conf_flip_resolves_afresh(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"s": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).schema["s"].dataType == T.BinaryType()
        spark.conf.set(key, "true")
        df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert df.schema["s"].dataType == T.StringType()
        assert jobs >= 1
        assert df.select(F.col("s")).first()[0] == "x"
    finally:
        spark.conf.set(key, before)


def test_clear_caches_drops_the_right_entries(spark, tmp_path):
    dirs = [tmp_path / "one", tmp_path / "two"]
    for d in dirs:
        d.mkdir()
        pq.write_table(pa.table({"a": [1]}), str(d / "region.parquet"))
        load_table(spark, str(d), "region")
        assert len(_entries(d)) == 1
    common.clear_caches(str(dirs[0]))
    assert _entries(dirs[0]) == []
    assert len(_entries(dirs[1])) == 1
    common.clear_caches()
    assert tables._SCHEMAS == {}


def test_missing_or_empty_path_raises_and_caches_nothing(spark, tmp_path):
    missing = tmp_path / "missing.parquet"
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (missing, empty):
        with pytest.raises(Exception):
            read_parquet(spark, str(path))
        assert _entries(path) == []
    # a cached path that disappears is dropped, not served
    gone = tmp_path / "gone.parquet"
    pq.write_table(pa.table({"a": [1]}), str(gone))
    read_parquet(spark, str(gone))
    gone.unlink()
    with pytest.raises(Exception):
        read_parquet(spark, str(gone))
    assert _entries(gone) == []


def _read_parquet_calls(path: pathlib.Path) -> list[int]:
    """Line numbers of ``<x>.read.parquet(...)`` calls in one module."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "read"
    ]


def test_only_the_catalog_calls_read_parquet():
    """New readers must go through ``read_parquet``; a docstring that
    mentions the call (``streaming/sink.py``) does not count."""
    found = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _read_parquet_calls(p))
    }
    assert list(found) == ["sources/tables.py"], found
    assert len(found["sources/tables.py"]) == 1
