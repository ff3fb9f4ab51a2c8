"""The benchmark's workloads: which registered queries run, on what inputs."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sizes: dict[str, int]


#: Row counts for the generated tables (lineitem follows orders at about
#: four lines per order).
SF001 = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
SF0001 = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "events": 1000,
    "documents": 300,
    "embeddings": 300,
}

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # Sub-second relational queries bound by driver work: building,
        # Catalyst planning and job launch.
        Workload(
            "olap_interactive",
            (
                "flagship_filter_join_limit",
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_regional_revenue",
                "q6_forecast_revenue",
                "window_topk_per_group",
                "asof_join_last_purchase",
                "tumbling_window_counts",
                "cosine_topk_embeddings",
                "exact_dedup_docs",
            ),
            SF001,
        ),
        # Iterative operators: tens of jobs per query with a lineage cut
        # between rounds.
        Workload(
            "driver_loops",
            (
                "bfs_reachability_copurchase",
                "kmeans_train_embeddings",
                "streaming_tumbling_window_counts",
            ),
            SF0001,
        ),
    )
}

#: Tiny inputs for the self-test smoke runs.
SMOKE_SIZES = {
    "customer": 60,
    "supplier": 5,
    "part": 40,
    "orders": 200,
    "events": 200,
    "documents": 60,
    "embeddings": 60,
}
