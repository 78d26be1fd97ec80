"""Self-test of the benchmark on the smallest input scale (sf0.001).

Run from the repository root (about five minutes on four cores):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

OUT = os.path.join(HERE, ".work", "out")
SLACK_S = 0.002  # trigger spans come from millisecond timestamps


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_completes_and_prints_every_metric(workload, trace):
    proc = run_bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    expected = declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        return

    with open(os.path.join(OUT, f"{workload}-seed3-trace1.json")) as f:
        report = json.load(f)
    spans = {}
    overhead = []
    with open(os.path.join(OUT, f"{workload}-seed3-trace1.spans.jsonl")) as f:
        for line in f:
            record = json.loads(line)
            if record["kind"] == "tracing_overhead":
                overhead.append(record)
            else:
                spans[record["id"]] = record
    assert len(overhead) == 1 and overhead[0]["workload"] == workload

    # spans nest inside their parents and no self time is negative
    for span in spans.values():
        assert span["self_s"] >= -1e-9, span
        if span["parent"] is not None:
            parent = spans[span["parent"]]
            assert parent["start"] - SLACK_S <= span["start"], (span, parent)
            assert span["end"] <= parent["end"] + SLACK_S, (span, parent)
    kinds = {s["kind"] for s in spans.values()}
    assert {"workload", "pass", "query", "build", "action", "check"} <= kinds

    # the listener saw one progress event per batch the checkpoints
    # committed (the run also fails on any difference, pass by pass), each
    # event became one trigger span, and each stream run's batches arrived
    # without gaps or repeats
    triggers = [s for s in spans.values() if s["kind"] == "trigger"]
    assert report["triggers_recorded"] == report["batches_committed"]
    assert len(triggers) == report["triggers_recorded"]
    for batch_ids in report["trigger_batches"].values():
        assert batch_ids == list(range(batch_ids[0], batch_ids[0] + len(batch_ids)))
    if workload == "corpus_ingest":
        assert triggers and all(spans[t["parent"]]["kind"] == "build" for t in triggers)
        assert result["metrics"]["streaming.triggers"]["value"] > 0
    else:
        assert not triggers


def test_failed_query_time_stays_in_pass_s():
    """A query that raises is counted as failed, and its wall and CPU time
    up to the failure stay in the pass metrics."""
    import time
    from types import SimpleNamespace

    import run
    from probes import Tracer

    def failing(spark, data_dir):
        start = time.process_time()
        while time.process_time() - start < 0.2:
            pass
        raise ValueError("boom")

    runner = run.Runner.__new__(run.Runner)
    runner.spark, runner.data_dir = None, "unused"
    runner.tracer, runner.listener = Tracer("t"), SimpleNamespace(owner=None)
    runner.specs = {"bad": SimpleNamespace(fn=failing)}
    passes = []
    for index in range(3):
        record, df = runner.run_query("bad")
        assert df is None and record.error and record.seconds >= 0.2
        assert record.cpu >= 0.15  # CPU time is counted in clock ticks
        passes.append(run.PassRecord(
            index=index, seconds=record.seconds, queries=[record],
            counters={"jobs": [], "stages": [], "sql": []}, peaks={"rss": 1},
        ))
    ok = run.QueryRecord("ok", "plans.flagship", build=(0.0, 0.1), action=(0.1, 0.3))
    for rec in passes:
        rec.queries.append(ok)
    setup = {"setup_s": 1.0, "session.start_s": 0.9, "registry.import_s": 0.1}
    ok.cpu = 0.1
    summary = run.summarize(passes[0], passes[1:], setup, 4, [])
    e2e, wall = summary["end_to_end"], summary["per_layer"]
    assert e2e["first_pass_cpu_s"] >= 0.15 + 0.1
    assert e2e["pass_cpu_s"] >= 0.15 + 0.1
    assert e2e["query_cpu_geomean_s"] >= (0.15 * 0.1) ** 0.5
    assert wall["wall.pass_s"] >= 0.2 + 0.3
    assert wall["wall.query_geomean_s"] >= (0.2 * 0.3) ** 0.5
    assert all(rec.failed for rec in passes)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    proc = run_bench("sql_analytics", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
