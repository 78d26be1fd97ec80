"""The ``load_table`` schema memo: a table's parquet schema is inferred
once (one footer-reading Spark job) and every later load supplies it, so
building a query launches no job. A table rewritten in place is
re-inferred."""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from sealnet_etl_spark.registry import all_queries
from sealnet_etl_spark.sources import load_table

from .conftest import SMOKE_SF_DIR


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    group = f"load-table-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_launches_no_job(spark, tmp_path):
    shutil.copy(f"{SMOKE_SF_DIR}/orders.parquet", tmp_path / "orders.parquet")
    first = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    second = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first >= 1  # inference reads the footer in a job
    assert second == 0


def test_memoized_events_ts_matches_fresh_load(spark, tmp_path):
    shutil.copy(f"{SMOKE_SF_DIR}/events.parquet", tmp_path / "events.parquet")
    fresh = load_table(spark, str(tmp_path), "events")  # first load: inferred
    memo = load_table(spark, str(tmp_path), "events")
    assert memo.schema == fresh.schema
    assert dict(memo.dtypes)["ts"] == "timestamp"
    cols = ["event_id", "ts"]
    assert sorted(memo.select(cols).collect()) == sorted(
        fresh.select(cols).collect()
    )


def test_table_rewritten_in_place_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    table = pq.read_table(f"{SMOKE_SF_DIR}/region.parquet")
    pq.write_table(table, path)
    assert "r_extra" not in load_table(spark, str(tmp_path), "region").columns
    pq.write_table(
        table.append_column("r_extra", pa.array(range(table.num_rows))), path
    )
    reloaded = load_table(spark, str(tmp_path), "region")
    assert "r_extra" in reloaded.columns
    assert sorted(r.r_extra for r in reloaded.collect()) == list(
        range(table.num_rows)
    )


def test_warm_query_build_launches_no_job(spark):
    """Regression guard: once the tables are known, building these plans
    is lazy. q21 loads lineitem three times and its build analyzes the
    self-joins, so it also proves each memoized load gets fresh attribute
    ids."""
    queries = all_queries()
    names = ["q2_min_cost_supplier", "q21_waiting_supplier", "jn_asof_event_order"]
    for name in names:
        queries[name](spark, SMOKE_SF_DIR)  # warm
    jobs = {
        name: _jobs_launched(spark, lambda: queries[name](spark, SMOKE_SF_DIR))
        for name in names
    }
    assert jobs == dict.fromkeys(names, 0)
