"""Custom stateful streaming operator — ``applyInPandasWithState``
(training-data-pipeline extension; the reference has no streaming).

The built-in stateful operators cover windows, sessions and dedup
(streaming/windowed.py, sessions.py, dedup.py).  What they cannot
express is an arbitrary user-defined accumulator that survives across
micro-batches; this module is the engine's template for that shape:
**running per-key totals** (event count + value sum per event_type)
maintained in explicit group state and re-emitted every time a batch
touches the key.

Why this shape matters at 100 TB: state lives partitioned by group key
in the state store (RocksDB/HDFS-backed on a real cluster), each
micro-batch shuffles only its own rows to the key's partition, and the
pandas function sees one key's Arrow batches at a time — so state size
is O(distinct keys), not O(stream).  For unbounded key spaces pass
``idle_timeout_ms`` to evict keys idle longer than the timeout (the
state-TTL contract; without it an ever-growing key space is the
streaming analogue of the complete-mode mistake).

Cross-batch semantics are pinned by tests/test_stateful.py: totals
emitted after a second file lands must equal batch1+batch2, proving
the state actually persisted between micro-batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.tables import read_parquet

OUT_SCHEMA = "event_type STRING, n_events LONG, sum_value DOUBLE"
STATE_SCHEMA = "n_events LONG, sum_value DOUBLE"
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _make_update(idle_timeout_ms: int | None):
    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle key: emit nothing further and free its state
            state.remove()
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": pd.Series([n], dtype="int64"),
                "sum_value": pd.Series([round(s, 6)], dtype="float64"),
            }
        )

    return update


def running_totals_stream(
    spark: SparkSession,
    events_dir: str,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming running (n_events, sum_value) per event_type from a
    parquet landing zone; one updated row per touched key per
    micro-batch."""
    spark.conf.set(_NANOS_CONF, "true")
    schema = read_parquet(spark, events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _make_update(idle_timeout_ms),
            OUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            timeout,
        )
    )
