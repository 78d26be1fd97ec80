#!/usr/bin/env python
"""Split each headline query's wall time into DataFrame CONSTRUCTION
(Python query-function body: plan building, any eager setup work it does)
vs EXECUTION (.collect() on the built frame) — the per-query fixed
overhead the round-12 report flagged as "Not yet optimized" item 1.

Bench methodology: warm full run first, then 3 timed (build, collect)
pairs; medians printed. Queries whose BODY performs eager work (store
builds, streams) show it as build time, and as a non-zero `jobs=` count:
the most Spark jobs any timed build launched, counted by job group.

Usage: python tools/profile_build_time.py [query ...]   (default: headline)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import headline_queries
    from sealnet_etl_spark.registry import all_queries
    from sealnet_etl_spark.session import get_spark

    spark = get_spark(app_name="profile-build-time")
    queries = all_queries()
    names = sys.argv[1:] or headline_queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rows = []
    for name in names:
        fn = queries[name]
        sc.setJobGroup(f"build-profile {name} warm", name)
        fn(spark, sf_dir).collect()  # warm
        builds, runs, jobs = [], [], []
        for i in range(3):
            group = f"build-profile {name} build {i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            jobs.append(len(tracker.getJobIdsForGroup(group)))
            df.collect()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            runs.append(t2 - t1)
        b, r = sorted(builds)[1], sorted(runs)[1]
        rows.append((name, b, r, max(jobs)))
        print(f"{name:42s} build={b:6.3f}s jobs={max(jobs):3d}  collect={r:6.3f}s")
    rows.sort(key=lambda x: -x[1])
    print("\n== top build-time (driver-side construction) ==")
    for name, b, r, j in rows[:15]:
        print(f"{name:42s} build={b:6.3f}s jobs={j:3d}  collect={r:6.3f}s")
    total_b = sum(b for _, b, _, _ in rows)
    total_r = sum(r for _, _, r, _ in rows)
    total_j = sum(j for _, _, _, j in rows)
    print(f"\ntotals: build={total_b:.2f}s jobs={total_j} collect={total_r:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
