"""The benchmark's own tests.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q

The smoke and output-check tests start Spark (about a minute together).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SMOKE_QUERY = "rel_referential_audit"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_metrics_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_quantile_matches_statistics():
    xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7, 9.3]
    assert run.quantile(xs, 0.5) == statistics.median(xs)
    p90 = statistics.quantiles(xs, n=10, method="inclusive")[8]
    assert run.quantile(xs, 0.9) == pytest.approx(p90)


def test_stopwatch_takes_out_the_stolen_share(monkeypatch):
    ticks = iter([(1000, 50), (1300, 150)])  # 300 busy, 100 stolen jiffies
    monkeypatch.setattr(run, "cpu_ticks", lambda: next(ticks))
    steal_free, wall = run.Stopwatch().stop()
    assert steal_free == pytest.approx(wall * 0.75)
    monkeypatch.setattr(run, "cpu_ticks", lambda: (0, 0))  # no /proc/stat
    steal_free, wall = run.Stopwatch().stop()
    assert steal_free == wall


def test_datagen_is_deterministic():
    a = datagen.build_frames(0.001, 7)
    b = datagen.build_frames(0.001, 7)
    c = datagen.build_frames(0.001, 8)
    assert a.keys() == b.keys() == set(datagen.TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    docs = a["documents"]
    assert docs["text"].str.endswith(" dup").any()
    assert (docs["n_chars"] == docs["text"].str.len()).all()


@pytest.fixture
def work_dir():
    """A scratch directory inside the checkout, removed afterwards."""
    path = os.path.join(run.WORK, "tests", str(os.getpid()))
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_event_log_jobs_attach_to_their_phase(work_dir):
    tracer = spans.Tracer("r1")
    with tracer.span("query"):
        with tracer.span("build") as build:
            pass
        with tracer.span("execute") as execute:
            pass
    group = spans.job_group("r1", build.id)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": build.start * 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": (execute.start + execute.end) * 500,
         "Stage IDs": [1, 0], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 30, "JVM GC Time": 2,
                          "Shuffle Read Metrics": {"Local Bytes Read": 5},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Number of Tasks": 1}},
    ]
    log = os.path.join(work_dir, "app")
    with open(log, "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in events)
    spans.attach_jobs(tracer, spans.read_event_log(log))
    kids = tracer.index()
    assert [j.attrs["job_id"] for j in kids[build.id]] == [0]
    (job,) = kids[execute.id]
    assert job.attrs["job_id"] == 1
    assert job.attrs["stages"] == [
        {"num_tasks": 1, "tasks": 1, "failed_tasks": 0, "run_ms": 30,
         "gc_ms": 2, "shuffle_read": 5, "shuffle_write": 7, "spill": 0}
    ]


def test_oracle_rows_are_computed_once(work_dir):
    import checks

    class Rel:
        calls = 0

        def fetchall(self):
            Rel.calls += 1
            return [(1, "a")]

    assert checks.oracle_rows(Rel(), "select 1", work_dir) == [(1, "a")]
    assert checks.oracle_rows(Rel(), "select 1", work_dir) == [(1, "a")]
    assert Rel.calls == 1
    checks.oracle_rows(Rel(), "select 2", work_dir)
    assert Rel.calls == 2


@pytest.fixture(scope="module")
def smoke():
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "tables",
         "--seed", "1", "--seconds", "1", "--sf", "0.001",
         "--queries", SMOKE_QUERY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.splitlines()


def test_one_query_smoke_run_passes(smoke):
    result = json.loads(smoke[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == spec
    assert all(m["value"] > 0 for m in result["metrics"].values())
    printed = {
        line.split()[1]: line.split()[3]
        for line in smoke[:-1]
        if line.startswith("tables ")
    }
    assert printed == spec


def test_output_check_flags_a_wrong_result(work_dir):
    run.configure_env(work_dir)
    import __spark_entry__ as entry
    import checks
    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark
    from tools.parity import duck_connection

    sf_dir = run.ensure_data(0.001)
    spark = get_spark("perfbench_test", master="local[2]", shuffle_partitions=2)
    con = duck_connection(sf_dir)
    try:
        sql = entry.oracle_sql()[SMOKE_QUERY]
        df = entry.queries()[SMOKE_QUERY](spark, sf_dir)
        assert checks.check_query(SMOKE_QUERY, df, sql, con) == []
        extra_row = df.union(df.limit(1))
        assert checks.check_query(SMOKE_QUERY, extra_row, sql, con)
        renamed = df.withColumnRenamed(df.columns[0], "not_a_column")
        assert checks.check_query(SMOKE_QUERY, renamed, sql, con)
        # outputs without an oracle: pinned schema and at least one row
        pinned = df.schema.simpleString()
        assert checks.check_pinned(df, pinned) == []
        assert checks.check_pinned(df.limit(0), pinned) == ["empty result"]
        assert checks.check_pinned(renamed, pinned)
    finally:
        con.close()
        spark.stop()
