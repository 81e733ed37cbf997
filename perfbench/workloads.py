"""The benchmark's workloads: named query mixes from the engine's registry.

Each workload is one closed-loop client running its mix in a seeded order,
pass after pass, on one ``local[nproc]`` session.  The event-log stream
drain rides in the report mix rather than forming a workload of drains: it
exercises the ``sources`` write side and the ``streaming`` layer next to
the batch work, and a run of every workload stays short.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # SAAF-style ETL and report traffic: scans, aggregates, joins and windows
    # with a per-query fixed floor, plus an event-log stream drain
    "report_etl": (
        "tlq_transform",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "report_full",
        "report_multi_group",
        "inspector_nested_poll_agg",
        "pipeline_cumulative",
        "window_rank_topk",
        "events_session_window",
        "streaming_available_now",
    ),
    # LLM-data curation: dedup and similarity folds heavy in executor CPU and
    # in Python-driven eager job loops
    "curation": (
        "dedup_minhash_lsh",
        "dedup_winnow_clusters",
        "similarity_bruteforce_topk",
    ),
}
