"""Schema-only (zero-row) input sweep: EVERY registered query must run
against empty copies of all ten tables without crashing. Empty partitions
are routine at 100 TB — a backfill day with no data, a tenant with no
rows, a filter that eliminates a source — and an engine whose operators
throw on them (instead of returning empty results) fails in production
at exactly the wrong moment. Hardened classes this sweep caught when
introduced: VOID-typed empty map literals in the two-phase rank/cumsum,
schema inference on zero-row parquet writes, corpus tiles that were
never written, and divide-by-zero in iterative loops."""

from __future__ import annotations

import pytest

from sealnet_etl_spark.registry import all_queries


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("testdata_empty")
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        src = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        src.limit(0).coalesce(1).write.mode("overwrite").parquet(
            str(base / f"{t}.parquet")
        )
    return str(base)


@pytest.mark.full  # all-query sweep: exhaustive tier (VERDICT r12 #2)
def test_every_query_survives_empty_tables(spark, empty_sf_dir):
    # collect(), not count(): count() lets Catalyst prune computed columns
    # whose evaluation can throw under ANSI mode (element_at past the end,
    # divide-by-zero), silently weakening the no-crash invariant.
    failures = {}
    for name, fn in all_queries().items():
        try:
            assert len(fn(spark, empty_sf_dir).collect()) >= 0
        except Exception as exc:  # noqa: BLE001 - collecting the sweep
            failures[name] = f"{type(exc).__name__}: {exc}"[:160]
    assert not failures, failures


def test_ivf_family_survives_empty_embeddings(spark, empty_sf_dir):
    """With no embeddings there are no seed cells. The assignment kernel
    must then return what its Catalyst reference returns (no rows), and
    every IVF-family query must build and run instead of failing to
    unpack an empty seed matrix."""
    from sealnet_etl_spark.operators.similarity import (
        _ivf_assign_cells,
        _ivf_assign_cells_catalyst,
        _ivf_frozen_seeds,
        _ivf_int_vectors,
    )

    ei = _ivf_int_vectors(spark, empty_sf_dir)
    seeds = _ivf_frozen_seeds(spark, ei)
    assert seeds.count() == 0
    for keep_vec in (False, True):
        kernel = _ivf_assign_cells(ei, seeds, keep_vec=keep_vec)
        reference = _ivf_assign_cells_catalyst(ei, seeds, keep_vec=keep_vec)
        assert kernel.collect() == reference.collect() == []
        assert kernel.columns[:3] == reference.columns[:3]
    failures = {}
    for name, fn in all_queries().items():
        if "ivf" not in name:
            continue
        try:
            fn(spark, empty_sf_dir).collect()
        except Exception as exc:  # noqa: BLE001 - collecting the family
            failures[name] = f"{type(exc).__name__}: {exc}"[:160]
    assert not failures, failures


@pytest.fixture(scope="module")
def nulled_sf_dir(spark, tmp_path_factory):
    """~10% deterministic nulls injected into the nullable payload columns
    (text, embedding, value, props, prices) — the dirty-feed shape."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("testdata_nulled")
    null_cols = {
        "documents": ["text"],
        "embeddings": ["embedding"],
        "events": ["value", "props"],
        "orders": ["o_totalprice"],
        "lineitem": ["l_discount"],
    }
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        df = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        for c in null_cols.get(t, []):
            key = F.col(df.columns[0]).cast("bigint")
            df = df.withColumn(
                c, F.when(key % 10 == 3, None).otherwise(F.col(c))
            )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(base / f"{t}.parquet")
        )
    return str(base)


@pytest.mark.full  # all-query sweep: exhaustive tier (VERDICT r12 #2)
def test_every_query_survives_null_payloads(spark, nulled_sf_dir):
    """No operator may crash on null text/embedding/value cells: JVM-side
    expressions are null-safe by construction, and every Python kernel
    must drop or bucket null payloads (similarity kernels drop null
    vectors — llm_embedding_qa is the operator that REPORTS them; the
    compression kernel buckets null text with empty text)."""
    failures = {}
    for name, fn in all_queries().items():
        try:
            assert len(fn(spark, nulled_sf_dir).collect()) >= 0
        except Exception as exc:  # noqa: BLE001 - collecting the sweep
            failures[name] = f"{type(exc).__name__}: {exc}"[:160]
    assert not failures, failures
