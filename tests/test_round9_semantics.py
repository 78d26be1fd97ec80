"""Semantic/property tests for the round-9 additions — invariants the
per-query oracles cannot state (cross-query consistency, batch-vs-full
restriction, per-chunk-vs-static reconciliation)."""

from __future__ import annotations

import pytest

from sealnet_etl_spark.registry import all_queries

from .conftest import SF_DIR as SF


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_hard_negatives_batch_is_anchor_restriction(spark, queries):
    """llm_hard_negatives_batch must equal llm_hard_negatives filtered to
    the md5-first HN_BATCH anchors — same kernel, same corpus, smaller
    anchor stream. Verifies the serving-shape claim (only the anchor
    side changes) instead of trusting the shared code path."""
    import hashlib

    from sealnet_etl_spark.operators.similarity import HN_BATCH

    full = {
        (r.src_id, r.nbr_id): (r.src_label, r.cos_sim)
        for r in queries["llm_hard_negatives"](spark, SF).collect()
    }
    batch_rows = queries["llm_hard_negatives_batch"](spark, SF).collect()
    anchors_full = sorted({s for s, _ in full})
    expected_anchors = set(
        sorted(
            anchors_full,
            key=lambda v: (hashlib.md5(f"hnb:{v}".encode()).hexdigest(), v),
        )[:HN_BATCH]
    )
    got_anchors = {r.src_id for r in batch_rows}
    assert got_anchors == expected_anchors
    for r in batch_rows:
        assert full[(r.src_id, r.nbr_id)] == (r.src_label, r.cos_sim)
    # and the batch emits every full-run row for its anchors
    n_full_for_batch = sum(1 for s, _ in full if s in expected_anchors)
    assert len(batch_rows) == n_full_for_batch


def test_streaming_contamination_reconciles_with_batch_report(
    spark, queries
):
    """The streaming monitor's per-(chunk, source) rows must SUM to
    llm_contamination_report's per-source totals: chunks partition the
    training population (doc_id % 3) and every batch probes the same
    static eval postings, so counts and shared-shingle mass are
    additive across chunks. The rate column is per-chunk and checked
    for internal consistency instead."""
    from collections import defaultdict

    static = {
        r.source: (r.n_train_docs, r.n_contaminated, r.n_shared_shingles)
        for r in queries["llm_contamination_report"](spark, SF).collect()
    }
    summed: dict = defaultdict(lambda: [0, 0, 0])
    for r in queries["str_contamination_monitor"](spark, SF).collect():
        assert 0 <= r.chunk <= 2
        assert (
            r.contamination_micro
            == r.n_contaminated * 1_000_000 // r.n_train_docs
        )
        acc = summed[r.source]
        acc[0] += r.n_train_docs
        acc[1] += r.n_contaminated
        acc[2] += r.n_shared_shingles
    assert {s: tuple(v) for s, v in summed.items()} == static


def test_quality_dedup_crosstab_reconciles_with_parents(spark, queries):
    """Crosstab columns must agree with the parents they join:
    n_pass per source == llm_quality_trend's n_pass (a <3-word doc can
    never pass, so the differing denominators don't move the numerator),
    n_near_dup_docs per source == distinct endpoint count of the
    verified pair list joined to sources, and the cross cell is bounded
    by both margins."""
    trend = {
        r.source: r.n_pass
        for r in queries["llm_quality_trend"](spark, SF).collect()
    }
    pairs = queries["llm_minhash_near_dup_pairs"](spark, SF).collect()
    from sealnet_etl_spark.sources import load_table

    src = {
        r.doc_id: r.source
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "source")
        .collect()
    }
    dup_by_source: dict = {}
    dup_ids = {p.doc_a for p in pairs} | {p.doc_b for p in pairs}
    for d in dup_ids:
        dup_by_source[src[d]] = dup_by_source.get(src[d], 0) + 1
    rows = queries["llm_quality_dedup_crosstab"](spark, SF).collect()
    assert {r.source: r.n_pass for r in rows} == trend
    assert {r.source: r.n_near_dup_docs for r in rows} == {
        s: dup_by_source.get(s, 0) for s in {r.source for r in rows}
    }
    for r in rows:
        assert r.n_dirty_and_dup <= r.n_near_dup_docs
        assert r.n_dirty_and_dup <= r.n_docs - r.n_pass


def test_streaming_quality_reconciles_with_batch_trend(spark, queries):
    """str_quality_monitor's per-(chunk, source) rows must SUM to
    llm_quality_trend's per-source totals: chunks partition the gated
    population and the gates are per-doc (no cross-batch state), so
    every count column is additive across chunks."""
    from collections import defaultdict

    trend = {
        r.source: (
            r.n_docs,
            r.n_pass,
            r.n_len_fail,
            r.n_lang_fail,
            r.n_rep_fail,
            r.n_wlen_fail,
        )
        for r in queries["llm_quality_trend"](spark, SF).collect()
    }
    summed: dict = defaultdict(lambda: [0] * 6)
    for r in queries["str_quality_monitor"](spark, SF).collect():
        assert 0 <= r.chunk <= 2
        assert r.pass_rate_micro == r.n_pass * 1_000_000 // r.n_docs
        acc = summed[r.source]
        for i, v in enumerate(
            (
                r.n_docs,
                r.n_pass,
                r.n_len_fail,
                r.n_lang_fail,
                r.n_rep_fail,
                r.n_wlen_fail,
            )
        ):
            acc[i] += v
    assert {s: tuple(v) for s, v in summed.items()} == trend


def test_effective_tokens_reconciles_with_parents(spark, queries):
    """llm_effective_tokens must agree with its parents: per-source raw
    token totals equal the fertility report's (summed over langs), the
    dropped set is a subset of the crosstab's near-dup endpoints, and
    the identity columns add up."""
    from collections import defaultdict

    fert: dict = defaultdict(int)
    for r in queries["llm_tokenizer_fertility"](spark, SF).collect():
        fert[r.source] += r.n_tokens
    dup_docs = {
        r.source: r.n_near_dup_docs
        for r in queries["llm_quality_dedup_crosstab"](spark, SF).collect()
    }
    rows = queries["llm_effective_tokens"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_tokens == fert[r.source]
        assert r.n_dropped_tokens + r.effective_tokens == r.n_tokens
        assert r.n_dropped_docs <= dup_docs[r.source]
        assert r.retention_micro == r.effective_tokens * 1_000_000 // r.n_tokens
