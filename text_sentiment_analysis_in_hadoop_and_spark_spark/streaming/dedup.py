"""Streaming exact deduplication — keep the first occurrence of each
content fingerprint as documents arrive (the stream twin of the batch
``dedup_keep_first`` query; training-data-pipeline extension, the
reference has no dedup or streaming at all).

Shape: fingerprint each arriving doc (md5 of text — same portable
hash as operators/dedup.py) and drop later duplicates with
``dropDuplicatesWithinWatermark``: the dedup state keeps one entry
per fingerprint only until the ingest-time watermark passes, so state
is O(fingerprints per watermark horizon) — bounded — instead of
O(all fingerprints ever seen) (plain ``dropDuplicates`` on a stream
grows forever; that is the complete-mode mistake in dedup form).

The trade is explicit: a duplicate arriving AFTER its original has
aged out of the watermark window is re-emitted.  For ingest pipelines
that is the right contract — intra-batch/intra-window dups (crawl
retries, double-submits) are the overwhelming case, and a periodic
batch ``dedup_keep_first`` compaction sweeps the long-range tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_fingerprint
from ..sources.tables import read_parquet

DEDUP_WATERMARK = "10 minutes"


def dedup_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """First-seen documents from a parquet landing zone: (doc_id,
    fingerprint, text), later exact-content duplicates dropped within
    the watermark horizon."""
    schema = read_parquet(spark, docs_dir).schema
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    return (
        stream.select(
            "doc_id",
            "text",
            md5_fingerprint(F.col("text")).alias("fingerprint"),
            F.current_timestamp().alias("ingest_ts"),
        )
        .withWatermark("ingest_ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("doc_id", "fingerprint", "text")
    )
