#!/usr/bin/env python3
"""Benchmark of the engine's registered queries on seeded synthetic inputs.

Run from the repository root:

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

One run, in one process:

1. wipes the benchmark's work tree and the engine's scratch tree for the
   input directory, then generates the inputs from ``--seed``;
2. starts the engine session on ``local[<cores>]`` and imports the query
   registry, twice: once in a child process that then stops, and once
   for the run itself (``setup_s`` is the median of the two);
3. runs the first pass over the workload's queries, checking each result
   against its DuckDB oracle between queries (outside the timed calls);
4. runs warm passes until ``--seconds`` have been measured (at least two).

Each query is timed as ``registry.all_queries()[name](spark, data_dir)``
(``build``) followed by a ``noop``-sink write (``action``), in wall time
and in CPU time of this process, the JVM and its Python workers; the
end-to-end metrics gate CPU time, which steal by other tenants of the
machine moves about half as much as wall time. The seed also
permutes the query order within each warm pass.

With ``--trace 0`` the last line of stdout is a JSON object holding every
end-to-end metric; with ``--trace 1`` it holds every per-layer metric,
read from Spark's status stores, SQL plan metrics and a streaming
listener, and the run ends with one untraced warm pass so the span file
can report the tracing overhead. Lines before it are a readable report.
Side files go to ``perfbench/.work/out/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import re
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
#: The input directory's basename is the engine's scratch tag
#: (``sources.ingest._scratch``), so the engine writes under
#: ``.scratch/perfbench_inputs``.
DATA_DIR = os.path.join(WORK, "perfbench_inputs")
ENGINE_SCRATCH = os.path.join(ROOT, ".scratch", os.path.basename(DATA_DIR))
OUT_DIR = os.path.join(WORK, "out")
#: One GC log per JVM, named by its pid (``-Xlog`` expands ``%p``).
GC_LOG_DIR = os.path.join(WORK, "gc")
#: Fixture scale factor of the generated inputs (FIXTURES.md row counts).
SCALE = 0.01
DRIVER_MEM = "2g"
MIN_WARM_PASSES = 2
#: Set-ups per run: all but the last in a fresh child process each, the
#: last in the run's own process. ``setup_s`` is their median.
SETUP_SAMPLES = 2
PACKAGE = "sealnet_etl_spark."

#: Streaming progress phases, grouped as the per-layer metrics report them.
TRIGGER_PHASES = {
    "add_batch_s": ("addBatch",),
    "planning_s": ("queryPlanning",),
    "commit_s": ("walCommit", "commitOffsets"),
    "offsets_s": ("latestOffset", "getBatch"),
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument(
        "--scale", type=float, default=SCALE,
        help=f"fixture scale factor of the generated inputs (default {SCALE})",
    )
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(n_cores: int) -> None:
    """Session settings, set before the JVM starts. Everything the JVM and
    its Python workers write stays inside the work tree."""
    spark_local = os.path.join(WORK, "spark-local")
    os.makedirs(spark_local, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(n_cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": spark_local,
            "TMPDIR": spark_local,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            # The heap starts at its maximum: a heap that grows with GC timing
            # made pass times and RSS swing 17-31% from run to run. The GC log
            # gives the heap left after each collection (jvm.heap_after_gc_mb).
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={spark_local} "
                f"-XX:-UsePerfData -Xms{DRIVER_MEM} "
                f"-Xlog:gc:file={GC_LOG_DIR}/%p.log:timemillis' "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def median(values: list[float]) -> float:
    ordered = sorted(values)
    mid = len(ordered) // 2
    return ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples above
    it, as ``(p, value)``; None when there are fewer than twenty samples."""
    ordered = sorted(values)
    n = len(ordered)
    for p in (99, 95, 90, 75, 50):
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= 10:
            return p, ordered[rank - 1]
    return None


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def dir_bytes(path: str) -> int:
    total = 0
    for parent, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(parent, name))
            except OSError:
                pass
    return total


_GC_PAUSE = re.compile(
    r"^\[(?P<ms>\d+)ms\] GC\(\d+\) Pause .* \d+[KMG]->(?P<after>\d+)(?P<unit>[KMG])\(\d+[KMG]\)"
)
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def gc_pauses(path: str) -> list[tuple[float, float]]:
    """``(epoch seconds, heap MB after the pause)`` for every GC pause the
    JVM logged with ``-Xlog:gc:...:timemillis``."""
    pauses = []
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.match(line)
            if m:
                pauses.append((int(m["ms"]) / 1000, int(m["after"]) * _MB[m["unit"]]))
    return pauses


# ---------------------------------------------------------------------------
# Correctness gate
# ---------------------------------------------------------------------------


def check_result(spec, df, data_dir: str) -> str:
    """Compare a query's DataFrame with its DuckDB oracle the way
    ``sealnet_etl_spark.oracle.compare_query`` does, reusing the already
    built DataFrame so a stream is not drained a second time. Returns the
    oracle status; queries without an oracle get a rows-only check."""
    from sealnet_etl_spark import oracle

    if spec.oracle is None:
        return "rows_only" if df.count() >= 0 else "no_rows"
    spark_pdf = df.toPandas()
    con = oracle.duck_connection(data_dir)
    try:
        duck_pdf = con.execute(spec.oracle).df()
    finally:
        con.close()
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return "schema_mismatch"
    try:
        same = oracle.pdf_to_multiset(spark_pdf) == oracle.pdf_to_multiset(duck_pdf)
    except oracle.ArrayCellError:
        return "array_cell"
    return "hash_match" if same else "value_mismatch"


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------


@dataclass
class QueryRecord:
    name: str
    module: str
    build: tuple[float, float] | None = None  # (start, end), epoch seconds
    action: tuple[float, float] | None = None
    error: str | None = None
    check: str | None = None
    cpu: float = 0.0  # CPU seconds of the engine's processes over build and action

    @property
    def seconds(self) -> float:
        return sum(end - start for start, end in filter(None, (self.build, self.action)))


@dataclass
class PassRecord:
    index: int
    seconds: float = 0.0
    queries: list[QueryRecord] = field(default_factory=list)
    counters: dict[str, Any] = field(default_factory=dict)
    triggers: list[dict[str, Any]] = field(default_factory=list)
    peaks: dict[str, int] = field(default_factory=dict)
    scratch_growth: int = 0
    load_table_calls: list[float] = field(default_factory=list)
    checks_s: float = 0.0
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    #: (query id, batch id) of every micro-batch committed to a checkpoint
    #: under the scratch tree during the pass
    committed: set[tuple[str, int]] = field(default_factory=set)

    @property
    def failed(self) -> bool:
        return any(q.error for q in self.queries)


class TriggerCountError(RuntimeError):
    """The streaming listener missed events, or its progress events
    disagree with the batches the checkpoints committed, so the trigger
    metrics of the pass would be wrong."""


class Runner:
    def __init__(self, spark, specs: dict, data_dir: str, traced: bool) -> None:
        from probes import ResourceSampler, SparkCounters, Tracer, TriggerListener

        self.spark = spark
        self.specs = specs
        self.data_dir = data_dir
        self.tracer = Tracer(trace_id=f"{os.getpid()}-{time.time():.0f}")
        self.listener = TriggerListener()
        spark.streams.addListener(self.listener)
        self.counters = SparkCounters(spark)
        self.sampler = ResourceSampler(spark if traced else None)
        self.sampler.start()
        self.traced = False
        self._load_table_patch: list[tuple[Any, Any]] = []
        self.set_traced(traced)

    # -- tracing hooks ------------------------------------------------------

    def set_traced(self, traced: bool) -> None:
        """Wrap (or restore) every module-level ``load_table`` reference
        in the engine so each call records a span."""
        if traced == self.traced:
            return
        self.traced = traced
        if not traced:
            for module, original in self._load_table_patch:
                module.load_table = original
            self._load_table_patch = []
            return
        from sealnet_etl_spark.sources import tables

        original = tables.load_table
        tracer = self.tracer

        def load_table(spark, sf_dir, name):
            start = time.time()
            try:
                return original(spark, sf_dir, name)
            finally:
                tracer.record("load_table", name, start, time.time())

        for module in list(sys.modules.values()):
            if getattr(module, "__name__", "").startswith(PACKAGE.rstrip(".")) and (
                getattr(module, "load_table", None) is original
            ):
                module.load_table = load_table
                self._load_table_patch.append((module, original))

    # -- passes ---------------------------------------------------------------

    def run_pass(self, index: int, order: list[str], check: bool) -> PassRecord:
        from probes import checkpoint_commits

        record = PassRecord(index=index)
        scratch_before = dir_bytes(ENGINE_SCRATCH)
        commits_before = checkpoint_commits(ENGINE_SCRATCH)
        self.sampler.take()
        span = self.tracer.open("pass", f"pass{index}", traced=self.traced)
        for name in order:
            query, df = self.run_query(name)
            record.queries.append(query)
            if check:
                started = time.time()
                query.check = self.check(name, df)
                record.checks_s += time.time() - started
        self.tracer.close(span)
        record.seconds = span.duration - record.checks_s
        record.start, record.end = span.start, span.end
        record.peaks = self.sampler.take()
        if not self.listener.wait_drained():
            raise TriggerCountError(
                f"pass {index}: a stream run delivered no termination event in time"
            )
        record.triggers = self.listener.take()
        record.committed = {
            (query_id, batch)
            for (path, query_id), batches in checkpoint_commits(ENGINE_SCRATCH).items()
            for batch in batches - commits_before.get((path, query_id), set())
        }
        reported = {(t["id"], t["batchId"]) for t in record.triggers}
        if reported != record.committed:
            raise TriggerCountError(
                f"pass {index}: progress events for batches {sorted(reported - record.committed)}"
                f" were not committed, committed batches {sorted(record.committed - reported)}"
                " got no progress event"
            )
        for trigger in record.triggers:
            self.record_trigger_span(trigger)
        record.counters = self.counters.read(sql_metrics=self.traced)
        record.scratch_growth = max(0, dir_bytes(ENGINE_SCRATCH) - scratch_before)
        record.load_table_calls = [
            s.duration for s in self.tracer.spans
            if s.kind == "load_table" and s.start >= span.start and s.end <= span.end
        ]
        return record

    def run_query(self, name: str) -> tuple[QueryRecord, Any]:
        from probes import cpu_seconds

        spec = self.specs[name]
        record = QueryRecord(name, spec.fn.__module__.removeprefix(PACKAGE))
        self.listener.owner = name
        span = self.tracer.open("query", name, module=record.module)
        phase = df = None
        cpu_start = cpu_seconds()
        try:
            phase = self.tracer.open("build", name)
            df = spec.fn(self.spark, self.data_dir)
            self.tracer.close(phase)
            record.build = (phase.start, phase.end)
            phase = self.tracer.open("action", name)
            df.write.format("noop").mode("overwrite").save()
            self.tracer.close(phase)
            record.action = (phase.start, phase.end)
        except Exception as exc:  # a failing query is counted, never dropped
            if phase is not None and phase.end is None:
                # the time up to the failure stays in the query's samples
                self.tracer.close(phase, error=repr(exc)[:200])
                setattr(record, phase.kind, (phase.start, phase.end))
            record.error = repr(exc)[:500]
            df = None
            print(f"perfbench: {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            record.cpu = cpu_seconds() - cpu_start
            self.listener.owner = None
            self.tracer.close(span, error=record.error)
        return record, df

    def check(self, name: str, df) -> str:
        if df is None:
            return "error"
        span = self.tracer.open("check", name)
        try:
            status = check_result(self.specs[name], df, self.data_dir)
        except Exception as exc:
            print(f"perfbench: oracle check of {name} failed: {exc!r}", file=sys.stderr)
            status = "check_error"
        self.tracer.close(span, status=status)
        return status

    def record_trigger_span(self, trigger: dict[str, Any]) -> None:
        from datetime import datetime

        start = datetime.fromisoformat(trigger["timestamp"].replace("Z", "+00:00")).timestamp()
        end = start + trigger["durationMs"].get("triggerExecution", 0) / 1000
        owner = trigger["owner"]
        parent = next(
            (
                s for s in reversed(self.tracer.spans)
                if s.kind == "build" and s.name == owner and s.start <= start + 1e-3
            ),
            None,
        )
        self.tracer.record(
            "trigger", f"{owner}#{trigger['batchId']}", start, end,
            parent=parent.span_id if parent is not None else None,
            runId=trigger["runId"], batchId=trigger["batchId"],
        )

    def close(self) -> None:
        self.set_traced(False)
        self.sampler.stop()
        self.spark.streams.removeListener(self.listener)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def _owner(records: list[QueryRecord], when: float) -> tuple[QueryRecord | None, str]:
    for query in records:
        for phase in ("build", "action"):
            interval = getattr(query, phase)
            if interval and interval[0] - 1e-3 <= when <= interval[1] + 1e-3:
                return query, phase
    return None, ""


def layer_metrics(rec: PassRecord, n_cores: int) -> dict[str, float]:
    """Per-layer metrics of one pass. Jobs are attributed to the query and
    phase whose span contains their submission time."""
    from workloads import MODULES

    m: dict[str, float] = {}
    for module in MODULES:
        for metric in ("build_s", "build_jobs", "action_s", "task_s",
                       "shuffle_bytes", "spill_bytes", "python_rows"):
            m[f"{module}.{metric}"] = 0.0
    for q in rec.queries:
        if q.module in MODULES:
            m[f"{q.module}.build_s"] += (q.build[1] - q.build[0]) if q.build else 0.0
            m[f"{q.module}.action_s"] += (q.action[1] - q.action[0]) if q.action else 0.0

    job_owner: dict[int, str] = {}
    for job in rec.counters["jobs"]:
        submitted = job.get("submissionTime")
        query, phase = _owner(rec.queries, submitted / 1000) if submitted else (None, "")
        if query is not None and query.module in MODULES:
            job_owner[job["jobId"]] = query.module
            if phase == "build":
                m[f"{query.module}.build_jobs"] += 1
    stage_owner = {
        stage_id: job_owner[job["jobId"]]
        for job in rec.counters["jobs"] if job["jobId"] in job_owner
        for stage_id in job["stageIds"]
    }
    stages = rec.counters["stages"]
    for s in stages:
        module = stage_owner.get(s["stageId"])
        if module:
            m[f"{module}.task_s"] += s["executorRunTime"] / 1000
            m[f"{module}.shuffle_bytes"] += s["shuffleWriteBytes"]
            m[f"{module}.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
    for execution in rec.counters["sql"]:
        module = next((job_owner[j] for j in execution["jobs"] if j in job_owner), None)
        if module:
            m[f"{module}.python_rows"] += execution["python_rows"]

    task_s = sum(s["executorRunTime"] for s in stages) / 1000
    m["exec.core_busy"] = task_s / (rec.seconds * n_cores) if rec.seconds else 0.0
    m["exec.tasks"] = float(sum(s["numCompleteTasks"] for s in stages))
    m["exec.stages"] = float(len(stages))
    m["exec.jobs"] = float(len(rec.counters["jobs"]))
    m["exec.gc_s"] = sum(s.get("jvmGcTime", 0) for s in stages) / 1000

    calls = rec.load_table_calls
    m["sources.load_table_s"] = sum(calls) / len(calls) if calls else 0.0
    m["sources.load_table_calls"] = float(len(calls))

    m.update(trigger_metrics(rec.triggers))
    output_bytes = sum(s["outputBytes"] for s in stages)
    input_bytes = sum(s["inputBytes"] for s in stages)
    m["sink.output_bytes"] = float(output_bytes)
    m["sink.files"] = float(sum(e["written_files"] for e in rec.counters["sql"]))
    # bytes written (Spark output plus scratch-tree growth) per byte read
    m["sink.write_amp"] = (
        (output_bytes + rec.scratch_growth) / input_bytes if input_bytes else 0.0
    )
    m["cache.mem_bytes"] = float(rec.peaks.get("cache_mem", 0))
    m["cache.disk_bytes"] = float(rec.peaks.get("cache_disk", 0))
    m["pass.input_bytes"] = float(input_bytes)
    return m


def trigger_metrics(triggers: list[dict[str, Any]]) -> dict[str, float]:
    m = {
        "streaming.triggers": float(len(triggers)),
        "streaming.floor_s": 0.0,
        "streaming.input_rows": float(sum(t["numInputRows"] for t in triggers)),
    }
    for metric, phases in TRIGGER_PHASES.items():
        m[f"streaming.{metric}"] = sum(
            t["durationMs"].get(p, 0) for t in triggers for p in phases
        ) / 1000
    all_phases = [p for phases in TRIGGER_PHASES.values() for p in phases]
    for t in triggers:
        d = t["durationMs"]
        m["streaming.floor_s"] += (
            d.get("triggerExecution", 0) - sum(d.get(p, 0) for p in all_phases)
        ) / 1000
    last_state: dict[str, int] = {}
    for t in triggers:
        last_state[t["runId"]] = t["stateRows"]
    m["streaming.state_rows"] = float(sum(last_state.values()))
    durations = [t["durationMs"].get("triggerExecution", 0) / 1000 for t in triggers]
    m["streaming.trigger_p50_s"] = median(durations) if durations else 0.0
    return m


def heap_after_gc(rec: PassRecord, pauses: list[tuple[float, float]]) -> float:
    """Largest heap left after a GC pause in the pass (MB): the live set
    the engine kept, which a fixed heap hides from RSS. Without a pause in
    the pass, the heap after the last pause before it."""
    during = [mb for when, mb in pauses if rec.start <= when <= rec.end]
    before = [mb for when, mb in pauses if when < rec.start]
    return max(during) if during else (before[-1] if before else 0.0)


def summarize(first: PassRecord, warm: list[PassRecord], setup: dict[str, float],
              n_cores: int, pauses: list[tuple[float, float]]) -> dict[str, Any]:
    """Everything the run measured, as plain data."""
    # A call that raised counts with its time up to the failure, so a
    # failing query never drops out of a pass's CPU or wall time.
    per_query: dict[str, list[float]] = {}
    per_query_cpu: dict[str, list[float]] = {}
    for rec in warm:
        for q in rec.queries:
            per_query.setdefault(q.name, []).append(q.seconds)
            per_query_cpu.setdefault(q.name, []).append(q.cpu)
    pass_times = [rec.seconds for rec in warm]
    # a typical warm pass: each query at its median over the warm passes
    query_medians = [median(v) for v in per_query.values()]
    cpu_medians = [median(v) for v in per_query_cpu.values()]
    triggers = [
        t["durationMs"].get("triggerExecution", 0) / 1000 for rec in warm for t in rec.triggers
    ]
    query_calls = [q.seconds for rec in warm for q in rec.queries]
    end_to_end = {
        "setup_s": setup["setup_s"],
        "first_pass_cpu_s": sum(q.cpu for q in first.queries),
        "pass_cpu_s": sum(cpu_medians),
        "query_cpu_geomean_s": geomean(cpu_medians) if cpu_medians else 0.0,
        "peak_rss_mb": max(rec.peaks["rss"] for rec in warm) / 2**20,
    }
    layers = {}
    for rec in warm:
        for key, value in layer_metrics(rec, n_cores).items():
            layers.setdefault(key, []).append(value)
        layers.setdefault("jvm.heap_after_gc_mb", []).append(heap_after_gc(rec, pauses))
    per_layer = {key: median(values) for key, values in layers.items()}
    per_layer["session.start_s"] = setup["session.start_s"]
    per_layer["registry.import_s"] = setup["registry.import_s"]
    per_layer["streaming.trigger_tail_s"] = (tail(triggers) or (0, 0.0))[1]
    per_layer["wall.first_pass_s"] = first.seconds
    per_layer["wall.pass_s"] = sum(query_medians)
    per_layer["wall.query_geomean_s"] = geomean(query_medians) if query_medians else 0.0
    return {
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "samples": {
            "pass_s": pass_times,
            "query_s": query_calls,
            "trigger_s": triggers,
            "per_query_s": per_query,
        },
    }


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "sealnet_etl_spark", "registry.py"))


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def start_engine(app_name: str):
    """Start the session and import the query registry, as a job using the
    engine does; return the session and the time of each step."""
    t0 = time.perf_counter()
    from sealnet_etl_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    t1 = time.perf_counter()
    from sealnet_etl_spark import registry

    registry.all_queries()
    t2 = time.perf_counter()
    return spark, {"setup_s": t2 - t0, "session.start_s": t1 - t0, "registry.import_s": t2 - t1}


def setup_probe() -> int:
    """``run.py --setup-probe``: one set-up in this fresh process, with the
    environment the parent run prepared. Prints the timings as JSON."""
    sys.path.insert(0, ROOT)
    import datagen  # noqa: F401  (the run itself imports it before its set-up)

    spark, timings = start_engine("perfbench-setup")
    stop_session(spark)
    print(json.dumps(timings))
    return 0


def child_setups(n: int) -> list[dict[str, float]]:
    samples = []
    for _ in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            cwd=ROOT, capture_output=True, text=True, timeout=150,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"set-up probe failed:\n{proc.stderr[-3000:]}")
        samples.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    return samples


def versions(spark) -> dict[str, str]:
    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def main(argv: list[str]) -> int:
    if argv == ["--setup-probe"]:
        return setup_probe()
    args = parse_args(argv)
    if not engine_present():
        print(
            "perfbench: run from the repository root; sealnet_etl_spark/ not found",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    import datagen

    workload = WORKLOADS[args.workload]
    n_cores = cores()
    for path in (DATA_DIR, ENGINE_SCRATCH, GC_LOG_DIR, os.path.join(WORK, "spark-local")):
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    os.makedirs(GC_LOG_DIR, exist_ok=True)
    prepare_environment(n_cores)
    started = time.perf_counter()
    fixtures = datagen.write_tables(DATA_DIR, args.seed, args.scale)
    datagen_s = time.perf_counter() - started

    setups = child_setups(SETUP_SAMPLES - 1)
    child_logs = set(glob.glob(os.path.join(GC_LOG_DIR, "*.log")))
    spark, own = start_engine(f"perfbench-{workload.name}")
    setups.append(own)
    setup = {key: median([s[key] for s in setups]) for key in own}
    from sealnet_etl_spark import registry

    runner = None
    try:
        (gc_log,) = set(glob.glob(os.path.join(GC_LOG_DIR, "*.log"))) - child_logs
        specs = {name: registry.QUERIES[name] for name in workload.queries}
        runner = Runner(spark, specs, DATA_DIR, traced=bool(args.trace))
        order_rng = random.Random(args.seed)

        def order() -> list[str]:
            names = list(workload.queries)
            order_rng.shuffle(names)
            return names

        wl_span = runner.tracer.open("workload", workload.name, seed=args.seed)
        # The first pass keeps the listed order, as a scheduled job would:
        # whichever query runs first pays the session's cold start, and a
        # seeded order swung the first pass by 20% with the seed.
        first = runner.run_pass(0, list(workload.queries), check=True)
        warm: list[PassRecord] = []
        window = time.perf_counter()
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() - window < args.seconds:
            warm.append(runner.run_pass(len(warm) + 1, order(), check=False))
        untraced = None
        if args.trace:
            runner.set_traced(False)
            untraced = runner.run_pass(len(warm) + 1, order(), check=False)
        runner.tracer.close(wl_span)
        info = versions(spark)
    finally:
        if runner is not None:
            runner.close()
        stop_session(spark)

    passes = [first, *warm] + ([untraced] if untraced else [])
    attempted = sum(len(p.queries) for p in passes) + len(first.queries)
    failed = sum(1 for p in passes for q in p.queries if q.error)
    wrong = sorted(
        q.name for q in first.queries if q.check not in ("hash_match", "rows_only")
    )
    summary = summarize(first, warm, setup, n_cores, gc_pauses(gc_log))
    tag = f"{workload.name}-seed{args.seed}-trace{args.trace}"
    report = {
        "workload": workload.name,
        "queries": list(workload.queries),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loop": "closed, one client",
        "cores": n_cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEM,
        "scale": args.scale,
        "fixtures": fixtures,
        "datagen_s": datagen_s,
        "setup_samples": setups,
        "versions": info,
        "attempted": attempted,
        "failed": failed,
        "failed_passes": [p.index for p in passes if p.failed],
        "oracle": {q.name: q.check for q in first.queries},
        "first_pass_query_s": {q.name: q.seconds for q in first.queries},
        "check_s": first.checks_s,
        "wall_s": time.perf_counter() - PROCESS_START,
        "triggers_recorded": sum(len(p.triggers) for p in passes),
        "batches_committed": sum(len(p.committed) for p in passes),
        "trigger_batches": trigger_batches(passes),
        "errors": {q.name: q.error for p in passes for q in p.queries if q.error},
        **summary,
    }
    if args.trace:
        untraced_pass_s = sum(q.seconds for q in untraced.queries)
        overhead = summary["per_layer"]["wall.pass_s"] - untraced_pass_s
        report["tracing_overhead_s"] = overhead
        spans_path = os.path.join(OUT_DIR, f"{tag}.spans.jsonl")
        runner.tracer.write_jsonl(spans_path)
        with open(spans_path, "a") as out:
            out.write(json.dumps({
                "trace": runner.tracer.trace_id,
                "kind": "tracing_overhead",
                "workload": workload.name,
                "traced_pass_s": summary["per_layer"]["wall.pass_s"],
                "untraced_pass_s": untraced_pass_s,
                "overhead_s": overhead,
            }) + "\n")
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as out:
        json.dump(report, out, indent=1, default=str)

    print_report(report, failed, wrong)
    metrics = summary["per_layer"] if args.trace else summary["end_to_end"]
    units = load_units()
    names = units["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": failed == 0 and not wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": metrics.get(name, 0.0), "unit": unit} for name, unit in names.items()
        },
    }))
    return 0


def trigger_batches(passes: list[PassRecord]) -> dict[str, list[int]]:
    """Batch ids of every stream run, in the order their events arrived."""
    batches: dict[str, list[int]] = {}
    for rec in passes:
        for trigger in rec.triggers:
            batches.setdefault(trigger["runId"], []).append(trigger["batchId"])
    return batches


def load_units() -> dict[str, dict[str, str]]:
    """Metric names and units, in the order BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")
    }


def print_report(report: dict[str, Any], failed: int, wrong: list[str]) -> None:
    e2e, layers, samples = report["end_to_end"], report["per_layer"], report["samples"]
    print(f"workload {report['workload']} seed {report['seed']} trace {report['trace']} "
          f"on local[{report['cores']}], {len(samples['pass_s'])} warm passes")
    pass_tail = tail(samples["pass_s"])
    query_tail = tail(samples["query_s"])
    lines = [
        ("setup_s", e2e["setup_s"], "s", ""),
        ("first_pass_cpu_s", e2e["first_pass_cpu_s"], "s", "CPU time"),
        ("pass_cpu_s", e2e["pass_cpu_s"], "s", "CPU time, sum of per-query medians"),
        ("query_cpu_geomean_s", e2e["query_cpu_geomean_s"], "s", "CPU time"),
        ("peak_rss_mb", e2e["peak_rss_mb"], "MB", "max over the warm passes"),
        ("first_pass_s", layers["wall.first_pass_s"], "s", "wall time"),
        ("pass_s", layers["wall.pass_s"], "s",
         f"wall time, sum of per-query medians; pass walls "
         f"{[round(v, 3) for v in samples['pass_s']]}"
         + (f", p{pass_tail[0]} {pass_tail[1]:.4f}" if pass_tail else ", no tail (<20 samples)")),
        ("query_geomean_s", layers["wall.query_geomean_s"], "s",
         f"wall time, {len(samples['query_s'])} calls"
         + (f", p{query_tail[0]} {query_tail[1]:.4f}" if query_tail else "")),
        ("failed_ratio", failed / report["attempted"], "count/count",
         f"{failed} of {report['attempted']}"),
        ("wrong_results", float(len(wrong)), "count", ", ".join(wrong)),
    ]
    if samples["trigger_s"]:
        lines += [
            ("trigger_p50_s", layers["streaming.trigger_p50_s"], "s",
             f"{len(samples['trigger_s'])} triggers"),
            ("trigger_tail_s", layers["streaming.trigger_tail_s"], "s",
             "p{} of the warm passes".format(tail(samples["trigger_s"])[0])
             if tail(samples["trigger_s"]) else "no tail (<20 samples)"),
            ("write_amp", layers["sink.write_amp"], "B/B", ""),
        ]
    if "tracing_overhead_s" in report:
        lines.append(("tracing_overhead_s", report["tracing_overhead_s"], "s",
                      "traced pass_s minus untraced pass_s"))
    for name, value, unit, note in lines:
        print(f"  {name:<20} {value:12.4f} {unit:<12} {note}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
