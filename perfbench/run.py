#!/usr/bin/env python3
"""The engine's benchmark: fixed query mixes timed from outside the package.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload text --seed 1 --seconds 8 --trace 0

One run is one driver process on ``local[4]`` over synthetic tables that
``datagen.py`` writes once under ``.perfbench_work/`` (always the same
tables; ``--seed`` sets the query order of every pass).  The run

1. sets up ``SETUP_REPS`` times (``get_spark`` plus the warm-up
   ``bench.py`` does) and keeps the last session;
2. runs ``WARMUP_ROUNDS`` rounds of a cold and a warm pass and
   discards them;
3. for ``--seconds`` runs rounds of one cold pass, started right after
   ``common.clear_caches()``, and the workload's warm passes;
4. checks every query's output once, outside the timed windows;
5. stops the session and its JVM, prints one line per metric and, last,
   one JSON object.

A query is built (``QUERIES[name](spark, sf_dir)``), planned
(``executedPlan()``) and forced through the ``noop`` sink; a streaming
probe is one call.  The end-to-end times are steal-free wall times
(``Stopwatch``); the raw wall times and the stolen share are printed on
the ``#`` lines.  With ``--trace 1`` the run alternates untraced cold
passes with traced cold and warm passes and prints the per-layer
metrics instead of the end-to-end ones; README.md maps the layers.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DATA_SF = 0.01
DATA_SEED = 42
CORES = max(1, min(4, os.cpu_count() or 1))
SETUP_REPS = 3
WARMUP_ROUNDS = 2  # of one cold and one warm pass, discarded before timing
DEADLINE_S = 110.0  # after process start: stop starting passes, whatever the minimum
MB = 1024.0 * 1024.0
STARTED = time.perf_counter()

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "sources.parquet_reads": "count",
    "sources.parquet_read_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "common.memo_builds": "count",
    "common.memo_entries": "count",
    "common.cached_mb": "MB",
    "common.clear_caches_s": "s",
    "functions.clean_docs_s": "s",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.single_task_stages": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.core_busy_ratio": "ratio",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.unattributed_frac": "ratio",
}


def cpu_ticks() -> tuple[int, int]:
    """Busy and steal jiffies of the whole machine so far, from
    ``/proc/stat`` (both 0 where there is none)."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time, and wall time less the share the hypervisor stole.

    On a shared VM the host runs other guests on this machine's virtual
    CPUs.  That time shows as ``steal`` in ``/proc/stat``, and it moves
    the wall time of the same pass by half or more from one minute to
    the next.  Steal accrues only while a virtual CPU has work, so over
    an interval ``steal / (busy + steal)`` is the share of the CPU time
    the machine asked for and did not get, and ``wall * busy / (busy +
    steal)`` estimates the time the same work takes without it.  Where
    nothing is stolen the two times are equal.
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = cpu_ticks()

    def stop(self) -> tuple[float, float]:
        """(steal-free seconds, wall seconds) since the start."""
        wall = time.perf_counter() - self.t0
        busy, steal = (a - b for a, b in zip(cpu_ticks(), self.ticks0))
        if busy <= 0 or steal <= 0:
            return wall, wall
        return wall * busy / (busy + steal), wall


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DATA_SF, help="table scale")
    p.add_argument("--queries", help="comma-separated subset of the workload")
    return p.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Keep every file Spark and its workers write inside the run dir,
    and pin the core count before the session module reads it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )


def ensure_data(sf: float) -> str:
    """Write the tables once per checkout and scale; later runs reuse them."""
    import datagen

    out = os.path.join(WORK, "data", f"sf{sf}-seed{DATA_SEED}")
    if not os.path.isdir(out):
        part = f"{out}.part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        datagen.write_tables(part, sf, DATA_SEED)
        os.rename(part, out)
    return out


def quantile(values, q: float) -> float:
    """Linear-interpolation quantile of ``values``, ``0 <= q <= 1``."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """The warm-up ``bench.py`` runs before timing: range codegen, a
    parquet scan, the noop sink, an agg + broadcast join, and a small
    mapInPandas ping that starts one Python worker per core."""
    from pyspark.sql import functions as F

    spark.range(1000).count()
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1000)
    force(li.limit(1))
    agg = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("q"), F.count("*").alias("n")
    )
    force(agg.join(F.broadcast(agg.select("l_returnflag")), "l_returnflag"))

    def ping(it):
        yield from it

    force(spark.range(32).repartition(CORES).mapInPandas(ping, "id long"))


def phase_ms(qe, name: str) -> float:
    """One QueryPlanningTracker phase of a QueryExecution, in ms."""
    phases = qe.tracker().phases()
    return float(phases.apply(name).durationMs()) if phases.contains(name) else 0.0


@contextmanager
def traced_parquet_reads(tracer):
    """Record every ``DataFrameReader.parquet`` call (``tables.load_table``
    goes through it) as a ``sources.parquet`` span."""
    from pyspark.sql.readwriter import DataFrameReader

    orig = DataFrameReader.parquet

    def parquet(reader, *paths, **options):
        start = time.time()
        try:
            return orig(reader, *paths, **options)
        finally:
            tracer.add("sources.parquet", start, time.time())

    DataFrameReader.parquet = parquet
    try:
        yield
    finally:
        DataFrameReader.parquet = orig


class Bench:
    """One run: a session, its passes, the output checks and the metrics."""

    def __init__(self, workload, names, sf_dir, run_dir, run_id, seed, seconds):
        import __spark_entry__ as entry
        from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common

        self.common = common
        self.wl = workload
        self.names = names
        self.sf_dir = sf_dir
        self.oracle_dir = os.path.join(WORK, "oracle", os.path.basename(sf_dir))
        self.run_dir = run_dir
        self.run_id = run_id
        self.seed = seed
        self.seconds = seconds
        registry = entry.queries()
        queries = [n for n in names if n not in workload.probes]
        missing = [n for n in queries if n not in registry]
        if missing:
            raise KeyError(f"queries missing from the registry: {missing}")
        self.fns = {n: registry[n] for n in queries}
        self.oracles = entry.oracle_sql()
        self.probe_names = [n for n in names if n in workload.probes]
        self.spark = None
        self.tracer = None
        self.setups: list[tuple[float, float]] = []
        self.clear_s: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_no = 0
        self.stream_dir = None
        self.built: dict = {}  # name -> DataFrame of its latest pass
        self.phases: dict[str, float] = {}  # wall seconds of each stage of the run
        self.stolen = 0.0  # share of the measured window's CPU time stolen

    # --- session -------------------------------------------------------

    def setup(self, extra_conf=None) -> None:
        from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark

        start = time.perf_counter()
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            watch = Stopwatch()
            self.spark = get_spark(
                "perfbench",
                master=f"local[{CORES}]",
                shuffle_partitions=CORES,
                extra_conf=extra_conf,
            )
            session_s = watch.stop()[0]
            watch = Stopwatch()
            warm_up(self.spark, self.sf_dir)
            self.setups.append((session_s, watch.stop()[0]))
        self.phases["setup"] = time.perf_counter() - start

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus its JVM child."""
        from pyspark import SparkContext

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
            kb += next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:"))
        return kb / 1024.0

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            SparkContext._gateway = None
            SparkContext._jvm = None
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)

    # --- passes --------------------------------------------------------

    def run_pass(self, cold: bool, traced: bool = False) -> dict:
        """One pass over the workload in this pass's seeded order."""
        self.pass_no += 1
        probes = self.stream_probes() if self.probe_names else {}
        if cold:
            t0 = time.perf_counter()
            self.common.clear_caches()
            self.clear_s.append(time.perf_counter() - t0)
        order = list(self.names)
        random.Random(self.seed * 1_000_003 + self.pass_no).shuffle(order)
        tracer = self.tracer if traced else None
        if tracer is None:
            watch = Stopwatch()
            latencies = {n: self.run_query(n, probes, None) for n in order}
            seconds, wall = watch.stop()
            return {"seconds": seconds, "wall": wall, "latencies": latencies}
        listener = self.stream_listener() if probes else None
        with tracer.span("pass", cold=cold) as span, traced_parquet_reads(tracer):
            watch = Stopwatch()
            latencies = {n: self.run_query(n, probes, tracer) for n in order}
            seconds, wall = watch.stop()
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        span.attrs["memo_entries"] = sum(len(k) for k in self.memo_keys())
        span.attrs["cached_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / MB
        if listener is not None:
            span.attrs["stream"] = listener.drain()
            self.spark.streams.removeListener(listener)
        return {"seconds": seconds, "wall": wall, "latencies": latencies}

    def stream_listener(self):
        from spans import stream_listener_class

        listener = stream_listener_class()()
        self.spark.streams.addListener(listener)
        return listener

    def stream_probes(self):
        """Untimed per-pass set-up: the probes in a fresh workdir."""
        from probes import probe_thunks

        if self.stream_dir is not None:
            shutil.rmtree(self.stream_dir, ignore_errors=True)
        self.stream_dir = os.path.join(self.run_dir, f"stream{self.pass_no}")
        os.makedirs(self.stream_dir)
        return probe_thunks(self.spark, self.sf_dir, self.stream_dir)

    def run_query(self, name: str, probes, tracer) -> float:
        """Build, plan and execute one query and return its steal-free
        wall time (traced: its wall time).  A query that raises is
        counted as failed and the pass goes on."""
        self.attempted += 1
        if tracer is not None:
            return self.run_query_traced(name, probes, tracer)
        watch = Stopwatch()
        try:
            if name in probes:
                probes[name]()
            else:
                df = self.built[name] = self.fns[name](self.spark, self.sf_dir)
                df._jdf.queryExecution().executedPlan()
                force(df)
        except Exception:  # noqa: BLE001 - counted in failed, pass goes on
            self.failures.append(f"{name}: {traceback.format_exc(limit=4)}")
        return watch.stop()[0]

    def run_query_traced(self, name: str, probes, tracer) -> float:
        memo_before = self.memo_keys()
        qe = build = None
        with tracer.span("query", query=name) as q:
            try:
                if name in probes:
                    with self.phase(tracer, "execute"):
                        probes[name]()
                else:
                    with self.phase(tracer, "build") as build:
                        df = self.built[name] = self.fns[name](self.spark, self.sf_dir)
                    with self.phase(tracer, "plan"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    with self.phase(tracer, "execute"):
                        force(df)
            except Exception:  # noqa: BLE001 - counted in failed, pass goes on
                self.failures.append(f"{name}: {traceback.format_exc(limit=4)}")
        # bookkeeping after the query span closes, so it is not billed
        built = sum(
            len(keys - before)
            for keys, before in zip(self.memo_keys(), memo_before)
        )
        if built and build is not None:
            tracer.add("memo", build.end, build.end, parent=build.id, count=built)
        if qe is not None:
            for phase in ("analysis", "optimization", "planning"):
                q.attrs[f"{phase}_ms"] = phase_ms(qe, phase)
        return q.seconds

    @contextmanager
    def phase(self, tracer, name: str):
        """A phase span whose Spark jobs carry its job group."""
        from spans import job_group

        sc = self.spark.sparkContext
        with tracer.span(name) as s:
            sc.setJobGroup(job_group(self.run_id, s.id), name)
            try:
                yield s
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def memo_keys(self) -> list[set]:
        return [set(d) for d in self.common._CACHE_REGISTRY]

    # --- the untraced and traced runs ----------------------------------

    def timed_loop(self, schedule) -> dict:
        """Run ``WARMUP_ROUNDS`` rounds of passes and discard them:
        pass times fall for the first few passes while classes load and
        the JIT compiles, and how fast depends on the load on the
        machine.  Then run rounds for ``--seconds`` and at least the
        workload's ``rounds``.  ``schedule(i)`` gives round i's passes as
        ``(cold, traced)`` kinds."""
        deadline = STARTED + DEADLINE_S
        t0 = time.perf_counter()
        for i in range(WARMUP_ROUNDS):
            for cold in (True, False):
                self.run_pass(cold)
        self.phases["warmup"] = time.perf_counter() - t0
        out: dict = {k: [] for k in schedule(0)}
        t0 = time.perf_counter()
        ticks0 = cpu_ticks()
        end = t0 + self.seconds
        i = 0
        while (
            time.perf_counter() < end or i < self.wl.rounds
        ) and time.perf_counter() < deadline:
            for cold, traced in schedule(i):
                out[(cold, traced)].append(self.run_pass(cold, traced))
            i += 1
        self.phases["measure"] = time.perf_counter() - t0
        busy, steal = (a - b for a, b in zip(cpu_ticks(), ticks0))
        self.stolen = steal / (busy + steal) if busy > 0 and steal > 0 else 0.0
        return out

    def end_to_end(self) -> dict:
        self.setup()
        rounds = ((True, False),) + ((False, False),) * self.wl.warm_passes
        runs = self.timed_loop(lambda i: rounds)
        self.check_outputs()
        self.rss = self.peak_rss_mb()
        cold, warm = runs[(True, False)], runs[(False, False)]
        lat = [x for p in cold for x in p["latencies"].values()]
        self.per_query = {
            n: statistics.median(p["latencies"][n] for p in cold) for n in self.names
        }
        self.samples = {"cold_passes": len(cold), "warm_passes": len(warm), "queries": len(lat)}
        self.passes = {
            f"{kind} {unit}": [round(p[key], 3) for p in ps]
            for kind, ps in (("cold", cold), ("warm", warm))
            for unit, key in (("steal-free", "seconds"), ("wall", "wall"))
        }

        return {
            "setup_s": statistics.median(a + b for a, b in self.setups),
            "cold_pass_s": statistics.median(p["seconds"] for p in cold),
            "warm_pass_s": statistics.median(p["seconds"] for p in warm),
            "query_p50_s": quantile(lat, 0.5),
            "query_p90_s": quantile(lat, 0.9),
        }

    def traced(self) -> dict:
        from spans import Tracer, attach_jobs, read_event_log

        log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(log_dir)
        self.tracer = tracer = Tracer(self.run_id)
        self.setup(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        with tracer.span("run", workload=self.wl.name, seed=self.seed):
            # untraced and traced cold passes take turns going first, so
            # the overhead estimate is not skewed by passes still speeding up
            runs = self.timed_loop(
                lambda i: ((True, i % 2 == 1), (True, i % 2 == 0), (False, True))
            )
        self.check_outputs()
        clean = []
        for _ in range(SETUP_REPS):
            self.common.clear_caches()
            t0 = time.perf_counter()
            self.common.labeled_docs(self.spark, self.sf_dir).count()
            clean.append(time.perf_counter() - t0)
        self.rss = self.peak_rss_mb()
        app_id = self.spark.sparkContext.applicationId
        self.shutdown()
        attach_jobs(tracer, read_event_log(os.path.join(log_dir, app_id)))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{self.run_id}.jsonl"))
        m = self.layer_metrics(tracer)
        m["session.get_spark_s"] = statistics.median(a for a, _ in self.setups)
        m["session.warmup_s"] = statistics.median(b for _, b in self.setups)
        m["common.clear_caches_s"] = statistics.median(self.clear_s)
        m["functions.clean_docs_s"] = statistics.median(clean)
        m["proc.peak_rss_mb"] = self.rss
        m["trace.overhead_s"] = statistics.median(
            p["seconds"] for p in runs[(True, True)]
        ) - statistics.median(p["seconds"] for p in runs[(True, False)])
        self.samples = {k: len(v) for k, v in (
            ("untraced_cold_passes", runs[(True, False)]),
            ("traced_cold_passes", runs[(True, True)]),
            ("traced_warm_passes", runs[(False, True)]),
        )}
        return m

    def layer_metrics(self, tracer) -> dict:
        """Per traced cold pass sums, reported as their medians."""
        kids = tracer.index()
        per_pass = []
        for p in tracer.spans:
            if p.name != "pass" or not p.attrs["cold"]:
                continue
            qs = kids[p.id]
            phases = {k: [c for q in qs for c in kids[q.id] if c.name == k]
                      for k in ("build", "plan", "execute")}

            def under(spans, name):
                return [c for s in spans for c in kids[s.id] if c.name == name]

            reads = [r for ph in phases.values() for r in under(ph, "sources.parquet")]
            stages = [st for j in under(phases["execute"], "job") for st in j.attrs["stages"]]
            execute_s = sum(s.seconds for s in phases["execute"])
            run_s = sum(st["run_ms"] for st in stages) / 1000.0
            stream = p.attrs.get("stream", [])
            last = {}
            for row in stream:
                last[row["query"]] = row
            per_pass.append({
                "operators.build_s": sum(s.seconds for s in phases["build"]),
                "operators.build_jobs": len(under(phases["build"], "job")),
                "sources.parquet_reads": len(reads),
                "sources.parquet_read_s": sum(r.seconds for r in reads),
                "catalyst.plan_s": sum(s.seconds for s in phases["plan"]),
                "catalyst.analysis_ms": sum(q.attrs.get("analysis_ms", 0.0) for q in qs),
                "catalyst.optimization_ms": sum(q.attrs.get("optimization_ms", 0.0) for q in qs),
                "catalyst.planning_ms": sum(q.attrs.get("planning_ms", 0.0) for q in qs),
                "common.memo_builds": sum(m.attrs["count"] for m in under(phases["build"], "memo")),
                "common.memo_entries": p.attrs["memo_entries"],
                "common.cached_mb": p.attrs["cached_mb"],
                "exec.execute_s": execute_s,
                "exec.jobs": len(under(phases["execute"], "job")),
                "exec.stages": len(stages),
                "exec.tasks": sum(st["tasks"] for st in stages),
                "exec.single_task_stages": sum(1 for st in stages if st["num_tasks"] == 1),
                "exec.failed_tasks": sum(st["failed_tasks"] for st in stages),
                "exec.executor_run_s": run_s,
                "exec.gc_s": sum(st["gc_ms"] for st in stages) / 1000.0,
                "exec.shuffle_read_mb": sum(st["shuffle_read"] for st in stages) / MB,
                "exec.shuffle_write_mb": sum(st["shuffle_write"] for st in stages) / MB,
                "exec.spill_mb": sum(st["spill"] for st in stages) / MB,
                "exec.core_busy_ratio": run_s / (CORES * execute_s) if execute_s else 0.0,
                "streaming.add_batch_s": sum(r["ms"].get("addBatch", 0) for r in stream) / 1000.0,
                "streaming.query_planning_s": sum(r["ms"].get("queryPlanning", 0) for r in stream) / 1000.0,
                "streaming.wal_commit_s": sum(r["ms"].get("walCommit", 0) for r in stream) / 1000.0,
                "streaming.state_rows": sum(r["state_rows"] for r in last.values()),
                "streaming.state_mb": sum(r["state_bytes"] for r in last.values()) / MB,
            })
        out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        # every traced query: the share of its wall time outside its phases
        out["trace.unattributed_frac"] = max(
            (q.seconds - sum(c.seconds for c in kids[q.id])) / q.seconds
            for q in tracer.spans
            if q.name == "query"
        )
        return out

    # --- output checks -------------------------------------------------

    def check_outputs(self) -> None:
        """Check the output of every query's latest timed execution once,
        outside the timed windows; each check counts as one attempted
        execution."""
        import checks
        from tools.parity import duck_connection

        t0 = time.perf_counter()
        results = {}
        con = duck_connection(self.sf_dir)
        try:
            for name in self.fns:
                try:
                    df = self.built.get(name)
                    if df is None:
                        df = self.fns[name](self.spark, self.sf_dir)
                    results[name] = checks.check_query(
                        name, df, self.oracles.get(name), con, self.oracle_dir
                    )
                except Exception:  # noqa: BLE001 - counted as a mismatch
                    results[name] = [traceback.format_exc(limit=4)]
        finally:
            con.close()
        for name in self.probe_names:
            try:
                results.update(
                    checks.check_probe(self.spark, self.stream_dir, name)
                )
            except Exception:  # noqa: BLE001 - a missing output is a failure
                results[name] = [traceback.format_exc(limit=4)]
        for name, errs in results.items():
            self.attempted += 1
            if errs:
                self.failures.append(f"{name}: wrong output: {errs[:3]}")
        self.phases["checks"] = time.perf_counter() - t0


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    names = tuple(args.queries.split(",")) if args.queries else wl.names
    unknown = sorted(set(names) - set(wl.names))
    if unknown:
        print(f"not in workload {wl.name}: {unknown}", file=sys.stderr)
        return 2
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", run_id)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    configure_env(run_dir)
    load_start = os.getloadavg()
    bench = None
    try:
        try:
            import __spark_entry__  # noqa: F401 - the program under test
        except ImportError as exc:
            print(f"program not found in {ROOT}: {exc}", file=sys.stderr)
            return 2
        sf_dir = ensure_data(args.sf)
        bench = Bench(wl, names, sf_dir, run_dir, run_id, args.seed, args.seconds)
        if args.trace:
            metrics, units = bench.traced(), PER_LAYER
        else:
            metrics, units = bench.end_to_end(), END_TO_END
    finally:
        if bench is not None:
            bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = os.getloadavg()
    for f in bench.failures:
        print(f"FAILED {f}", file=sys.stderr)
    failed = len(bench.failures)
    print(f"# workload={wl.name} seed={args.seed} trace={args.trace} "
          f"load_avg_start={load_start[0]:.2f} load_avg_end={load_end[0]:.2f} "
          f"samples={bench.samples} peak_rss_mb={bench.rss:.1f}")
    print(f"# failed_frac={failed / bench.attempted:.4f} "
          f"({failed}/{bench.attempted})")
    print(f"# stolen share of the measured CPU time={bench.stolen:.3f} "
          "phases (wall s): " + " ".join(
              f"{k}={v:.1f}" for k, v in bench.phases.items())
          + f" total={time.perf_counter() - STARTED:.1f}")
    print("# set-ups (steal-free get_spark s, warm-up s): "
          + " ".join(f"({a:.2f}, {b:.2f})" for a, b in bench.setups))
    if not args.trace:
        print(f"# pass seconds: {bench.passes}")
        print("# cold-pass median steal-free latency per query (s): " + " ".join(
            f"{n}={s:.3f}" for n, s in bench.per_query.items()))
    for name, unit in units.items():
        print(f"{wl.name} {name} {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
