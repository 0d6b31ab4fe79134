"""Streaming probes: one bounded run of a streaming sink per call.

Each probe lands the ``events`` table in a fresh directory (untimed),
then its thunk starts the engine's stream over it, drains everything
available and stops (timed).  ``stream_exactly_once_sink`` is the
enrich-join stream written through the idempotent parquet sink, the
same operator pair as the engine's own ``streaming.benchprobes`` entry,
without that module's extra set-up (a corpus index the sink never
reads), which would cost more than the probe itself.
"""

from __future__ import annotations

import os
from collections.abc import Callable

NAMES = ("stream_exactly_once_sink",)


def probe_thunks(spark, sf_dir: str, workdir: str) -> dict[str, Callable[[], None]]:
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.enrich import (
        enrich_stream,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.sink import (
        start_idempotent_parquet_sink,
    )

    land = os.path.join(workdir, "events_land")
    os.makedirs(land)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(land, "events.parquet"),
    )

    def exactly_once_sink() -> None:
        q = start_idempotent_parquet_sink(
            enrich_stream(spark, land, sf_dir),
            os.path.join(workdir, "sink_out"),
            os.path.join(workdir, "sink_ckpt"),
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("exactly-once sink did not drain in 300 s")

    return {"stream_exactly_once_sink": exactly_once_sink}


def probe_outputs(spark, workdir: str, probe: str) -> dict:
    """The outputs a probe leaves in its pass directory, by name."""
    if probe == "stream_exactly_once_sink":
        return {"sink_out": spark.read.parquet(os.path.join(workdir, "sink_out"))}
    return {}
