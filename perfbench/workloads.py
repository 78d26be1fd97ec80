"""The benchmark's workloads: which registered queries each one runs, and why.

Both are closed loops with one client: the benchmark calls one
query's callable, runs its action to completion, then moves to the next.
The seed permutes the query order within each warm pass; the first pass
keeps the listed order.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "sql_analytics",
            (
                "q2_min_cost_supplier",
                "q4_order_priority",
                "q12_priority_class",
                "q13_customer_distribution",
                "q16_supplier_part_count",
                "q18_large_orders",
                "q21_waiting_supplier",
                "wn_sessionize_events",
                "jn_asof_event_order",
            ),
            "Pure Catalyst TPC-H, window and join plans: plan build, scans, "
            "exchanges, outer/semi and as-of joins; no Python workers, no streams.",
        ),
        Workload(
            "corpus_ingest",
            (
                "llm_exact_dedup",
                "llm_tfidf",
                "llm_bpe_train",
                "str_quality_monitor",
                "str_foreach_batch_upsert",
                "etl_incremental_merge",
                "llm_ivf_index_refresh",
            ),
            "Corpus dedup, TF-IDF, BPE and IVF Arrow kernels, then micro-batch "
            "triggers and sink writes: the Python, driver-loop and streaming code "
            "sql_analytics never runs.",
        ),
    )
}

#: Modules whose registered queries get per-layer metrics, named as in
#: ``QuerySpec.fn.__module__`` without the package prefix.
MODULES: tuple[str, ...] = (
    "plans.flagship",
    "operators.joins",
    "operators.windows",
    "operators.similarity",
    "operators.dedup",
    "operators.textstats",
    "operators.trainprep",
    "operators.etl",
    "streaming.incremental",
    "streaming.queries_str",
)
