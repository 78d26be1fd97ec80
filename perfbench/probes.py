"""Measurement probes the benchmark attaches to a running engine session.

Nothing here touches engine code. Every probe observes from outside:

- ``Tracer``: in-memory spans around the benchmark's own calls into the
  engine (workload → pass → query → build / action → trigger), written
  out as JSONL when the run ends.
- ``SparkCounters``: Spark's status stores (jobs, stages, SQL plan
  metrics), read once per pass through a single JSON round trip each.
- ``TriggerListener``: a ``StreamingQueryListener`` that keeps every
  micro-batch progress event; ``checkpoint_commits`` lists the batches the
  checkpoints committed, an independent count to check it against.
- ``ResourceSampler``: a thread that samples the resident set size of the
  driver JVM and its Python workers from ``/proc``, and (when tracing)
  the persisted RDD storage.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    span_id: int
    parent: int | None
    kind: str
    name: str
    start: float
    end: float | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Nested spans kept in memory, timed on the epoch clock so they line
    up with Spark's job and trigger timestamps. The main thread opens and
    closes spans; spans recorded from other threads (engine callbacks)
    attach to the span the main thread has open at that moment."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    def open(self, kind: str, name: str, **attrs: Any) -> Span:
        with self._lock:
            parent = self._stack[-1].span_id if self._stack else None
            span = Span(len(self.spans), parent, kind, name, time.time(), attrs=attrs)
            self.spans.append(span)
            self._stack.append(span)
        return span

    def close(self, span: Span, **attrs: Any) -> float:
        span.end = time.time()
        span.attrs.update(attrs)
        with self._lock:
            if self._stack and self._stack[-1] is span:
                self._stack.pop()
        return span.duration

    def record(self, kind: str, name: str, start: float, end: float,
               parent: int | None = None, **attrs: Any) -> Span:
        """Add a finished span under ``parent``, by default the main
        thread's innermost open span."""
        with self._lock:
            if parent is None and self._stack:
                parent = self._stack[-1].span_id
            span = Span(len(self.spans), parent, kind, name, start, end, attrs)
            self.spans.append(span)
        return span

    def self_times(self) -> dict[int, float]:
        """Duration minus the part of it covered by child spans."""
        children: dict[int, list[Span]] = {}
        for span in self.spans:
            if span.parent is not None:
                children.setdefault(span.parent, []).append(span)
        result = {}
        for span in self.spans:
            covered, cursor = 0.0, span.start
            for child in sorted(children.get(span.span_id, ()), key=lambda s: s.start):
                lo, hi = max(child.start, cursor), min(child.end or child.start, span.end or span.start)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            result[span.span_id] = span.duration - covered
        return result

    def write_jsonl(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as out:
            for span in self.spans:
                out.write(
                    json.dumps(
                        {
                            "trace": self.trace_id,
                            "id": span.span_id,
                            "parent": span.parent,
                            "kind": span.kind,
                            "name": span.name,
                            "start": span.start,
                            "end": span.end,
                            "self_s": selfs[span.span_id],
                            **span.attrs,
                        }
                    )
                    + "\n"
                )


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

#: Physical operators that run Python or Arrow code in a worker.
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_DOT_NODE = re.compile(r'label="(?:<br>)?<b>(?P<name>[^<]*)</b><br><br>(?P<body>[^"]*)"')
_NUMBER = re.compile(r"^-?[0-9][0-9,]*$")


def _dot_metric(body: str, metric: str) -> int:
    for line in body.split("<br>"):
        key, _, value = line.partition(": ")
        if key == metric and _NUMBER.match(value.strip()):
            return int(value.strip().replace(",", ""))
    return 0


class SparkCounters:
    """Reads jobs, stages and SQL plan metrics that completed since the last
    call. Each store is serialized to JSON inside the JVM, so one read costs
    a handful of py4j calls however many stages ran."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._mapper = mapper
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self._next_exec = 0
        self.read(sql_metrics=True)  # everything before this point is not ours

    def _json(self, obj) -> Any:
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self, sql_metrics: bool = False) -> dict[str, Any]:
        """Return ``{"jobs": [...], "stages": [...], "sql": [...]}`` for
        work that finished since the previous read."""
        jobs = [
            j for j in self._json(self._store.jobsList(None))
            if j["status"] != "RUNNING" and j["jobId"] not in self._seen_jobs
        ]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        stages = [
            s for s in self._json(self._store.stageList(None, False, False, self._no_quantiles, None))
            if s["status"] in ("COMPLETE", "FAILED")
            and (s["stageId"], s["attemptId"]) not in self._seen_stages
        ]
        self._seen_stages.update((s["stageId"], s["attemptId"]) for s in stages)
        sql = []
        count = self._sql_store.executionsCount()
        if not sql_metrics:
            self._next_exec = count
        elif count > self._next_exec:
            executions = self._sql_store.executionsList(self._next_exec, count - self._next_exec)
            for i in range(executions.size()):
                execution = executions.apply(i)
                if execution.completionTime().isEmpty():
                    break  # read it, and everything after it, next time
                self._next_exec += 1
                exec_id = execution.executionId()
                dot = self._sql_store.planGraph(exec_id).makeDotFile(
                    self._sql_store.executionMetrics(exec_id)
                )
                python_rows = written_files = 0
                for node in _DOT_NODE.finditer(dot):
                    if PYTHON_NODE.search(node["name"]):
                        python_rows += _dot_metric(node["body"], "number of output rows")
                    written_files += _dot_metric(node["body"], "number of written files")
                sql.append(
                    {
                        "executionId": exec_id,
                        "jobs": [int(j) for j in self._json(execution.jobs())],
                        "python_rows": python_rows,
                        "written_files": written_files,
                    }
                )
        return {"jobs": jobs, "stages": stages, "sql": sql}


# ---------------------------------------------------------------------------
# Streaming triggers
# ---------------------------------------------------------------------------


class TriggerListener(StreamingQueryListener):
    """Keeps each stream run's start owner and every progress event.

    ``owner`` is set by the benchmark to the query whose callable is
    running; ``onQueryStarted`` is delivered synchronously with
    ``start()``, so each stream run is attributed to the query that
    started it even though its progress events arrive later."""

    def __init__(self) -> None:
        self.owner: str | None = None
        self.run_owner: dict[str, str | None] = {}
        self.terminated: set[str] = set()
        self.progress: list[dict[str, Any]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_owner[str(event.runId)] = self.owner

    def onQueryProgress(self, event) -> None:
        p = event.progress
        record = {
            "id": str(p.id),
            "runId": str(p.runId),
            "batchId": p.batchId,
            "timestamp": p.timestamp,
            "durationMs": dict(p.durationMs),
            "numInputRows": p.numInputRows,
            "stateRows": sum(op.numRowsTotal for op in p.stateOperators),
        }
        with self._lock:
            record["owner"] = self.run_owner.get(record["runId"])
            self.progress.append(record)

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_drained(self, timeout: float = 30.0) -> bool:
        """Wait until every started stream run has delivered its
        termination event, which the listener bus posts after the run's
        last progress event."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.run_owner) <= self.terminated:
                    return True
            time.sleep(0.02)
        return False

    def take(self) -> list[dict[str, Any]]:
        with self._lock:
            taken, self.progress = self.progress, []
        return taken


def checkpoint_commits(root: str) -> dict[tuple[str, str], set[int]]:
    """Batch ids committed by every streaming checkpoint under ``root``,
    keyed by ``(checkpoint directory, query id)``. A checkpoint's
    ``metadata`` file holds the query id that progress events carry, and
    ``commits/<batchId>`` is written once the batch has finished."""
    found: dict[tuple[str, str], set[int]] = {}
    for parent, dirs, files in os.walk(root):
        if "metadata" not in files or "commits" not in dirs:
            continue
        try:
            with open(os.path.join(parent, "metadata")) as f:
                query_id = json.loads(f.readline())["id"]
            names = os.listdir(os.path.join(parent, "commits"))
        except (OSError, ValueError, KeyError):
            continue
        found[(parent, query_id)] = {int(n) for n in names if n.isdigit()}
    return found


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    """Every process below ``root``, except a JVM's child that has not yet
    replaced its image: the JVM starts commands with ``posix_spawn``, whose
    child shares the JVM's memory until it execs, so its RSS would count
    the whole JVM a second time."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rpartition(")")[2].split()[1])
        parents.setdefault(ppid, []).append(int(entry))
    found, todo = [], [root]
    while todo:
        parent = todo.pop()
        parent_exe = _exe(parent)
        for kid in parents.get(parent, []):
            if parent_exe.endswith("/java") and _exe(kid) == parent_exe:
                continue
            found.append(kid)
            todo.append(kid)
    return found


_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User plus system CPU time so far of this process and every process
    below it (the JVM, the Python workers), including the children each has
    reaped. Time the hypervisor gives to other machines is not in it."""
    total = 0
    for pid in (os.getpid(), *_descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / _CLOCK_TICKS


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ResourceSampler(threading.Thread):
    """Samples, every ``interval`` seconds, the summed RSS of every process
    this one started (the driver JVM and its Python workers) and, when
    ``spark`` is given, the memory and disk size of persisted RDDs. Peaks
    are read and reset with ``take``."""

    def __init__(self, spark=None, interval: float = 0.2) -> None:
        super().__init__(name="perfbench-sampler", daemon=True)
        self._jsc = spark.sparkContext._jsc.sc() if spark is not None else None
        self._interval = interval
        self._stop_event = threading.Event()
        self._lock = threading.Lock()
        self._peak = {"rss": 0, "cache_mem": 0, "cache_disk": 0}

    def sample(self) -> None:
        rss = sum(_rss_bytes(pid) for pid in _descendants(os.getpid()))
        mem = disk = 0
        if self._jsc is not None:
            for info in self._jsc.getRDDStorageInfo():
                mem += info.memSize()
                disk += info.diskSize()
        with self._lock:
            self._peak["rss"] = max(self._peak["rss"], rss)
            self._peak["cache_mem"] = max(self._peak["cache_mem"], mem)
            self._peak["cache_disk"] = max(self._peak["cache_disk"], disk)

    def run(self) -> None:
        while not self._stop_event.wait(self._interval):
            try:
                self.sample()
            except Exception:  # the session is shutting down
                if self._stop_event.is_set():
                    return
                raise

    def take(self) -> dict[str, int]:
        self.sample()
        with self._lock:
            peaks, self._peak = dict(self._peak), {k: 0 for k in self._peak}
        return peaks

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)
