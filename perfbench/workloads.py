"""The benchmark's workloads: which registry queries run, over which data.
Why each was chosen is in BENCHMARK.json and README.md.

Each workload is a closed loop of one client: one query at a time, in a
seed-chosen order per pass, each query constructed, executed through the
noop sink and its tracked persists released before the next starts.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    copies: int    # fact-table replicas of the fixtures (the x N tier); 1 = as they are
    # layer counters a traced run must see move: zero calls means a
    # wrapper was bypassed (a name bound before the wrappers went in)
    layers: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    "relational_x10": Workload(
        queries=(
            "word_count", "pricing_summary", "revenue_by_nation", "top_orders",
            "left_outer_order_counts", "window_top_customers", "events_daily",
            "sessionize_events", "text_stats", "salted_supplier_revenue",
            "promo_revenue_ratio", "min_cost_supplier", "sole_blame_suppliers",
        ),
        copies=10,
        layers=("tables.load_table.calls", "planmemo.hits",
                "caching.release_tracked.calls"),
    ),
    "llm_serve": Workload(
        queries=(
            "dedup_minhash_lsh", "similarity_topk_pandas", "similarity_ivf_topk",
            "bm25_topk", "semantic_dedup", "streaming_lsh_serve",
            "distributed_logreg_train",
        ),
        copies=1,
        layers=("tables.load_table.calls", "staging.read_staged.calls",
                "staging.keyed_staging_dir.builds", "planmemo.hits",
                "caching.persist_tracked.calls", "caching.release_tracked.calls",
                "streaming.batches"),
    ),
}
