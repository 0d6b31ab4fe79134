"""The benchmark's frozen workloads.

Each workload is a fixed list of registry queries and streaming probes,
run as one *pass* in a seed-dependent order.  Each list has three items
with cold latencies far apart, so the median and 90th percentile of the
per-query latencies fall inside one item's spread, not in the gap
between two.  The lists are frozen here, not derived from the engine's
registry, so a later change to the registry cannot move what the
benchmark measures: a name that leaves the registry makes the run fail
instead of shrinking the pass.

``ROWS_ONLY_SCHEMAS`` and ``STREAM_SCHEMAS`` pin the output schema
(Spark ``simpleString`` form) of every output without a DuckDB oracle;
the output check compares against them and requires at least one row.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]  # registry names: built, planned, executed
    probes: tuple[str, ...] = ()  # probes.py names: one call each
    warm_passes: int = 1  # warm passes after each timed cold pass
    rounds: int = 2  # timed rounds at least, even past --seconds

    @property
    def names(self) -> tuple[str, ...]:
        return self.queries + self.probes


# Why each workload was chosen is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        # text cleaning, eager build-time jobs and memo builds: cold >> warm,
        # so a round is one cold pass and two short warm ones; its cold
        # latencies vary more from pass to pass, so it times three rounds
        Workload(
            "text",
            ("nb_accuracy", "dedup_clusters", "dedup_exact"),
            warm_passes=2,
            rounds=3,
        ),
        # parquet reads, Catalyst and a checkpointed sink, no memos: cold ~ warm
        Workload(
            "tables",
            ("rel_referential_audit", "rel_pricing_summary"),
            ("stream_exactly_once_sink",),
        ),
    )
}

# queries in ``rows_only()`` (no oracle); none is in a workload today, and
# one added without a pin here fails its output check
ROWS_ONLY_SCHEMAS: dict[str, str] = {}

# outputs the streaming probes leave in their pass directory
STREAM_SCHEMAS: dict[str, str] = {
    "sink_out": "struct<event_id:bigint,user_id:bigint,event_type:string,"
    "mktsegment:string,nationkey:int,value:double,batch_id:int>",
}
