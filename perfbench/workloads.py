"""Workload design: which registry keys each workload runs, and why.

Every workload is a closed loop with one client: one driver thread
calls the keys one after another in a ``local[nproc]`` session, and
the next call starts only when the previous forced write returned.
The seed orders the keys in each pass and seeds the corpus.

Key lists are subsets of the registry families named per workload,
sized so one pass fits the run budget (the full families take 20-40 s
per pass at this scale). Every key of the per-key watch list in
``run.WATCH_KEYS`` is in exactly one workload.
"""

from __future__ import annotations

from dataclasses import dataclass

# Corpus scale for every workload: sf0.01 (60k lineitem rows, 500
# documents/embeddings). Per-key fixed cost dominates at this size,
# which is the regime the engine's construction-side work shows in.
SF = 0.01


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    why: str
    stresses: str
    bypasses: str
    # benchmark-defined Pipeline.run calls (see run.pipeline_calls)
    pipelines: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    "etl_relational_sf001": Workload(
        keys=(
            "tpch_q1",
            "tpch_q5",
            "tpch_q8",
            "join_asof",
            "win_rank",
            "etl_backfill_dynamic_overwrite",
            "sink_parquet_partitioned",
            "scan_python_datasource",
            "stream_state_store_read",
            "pipeline_orders_daily",
        ),
        why=(
            "TPC-H, join, window, ETL, sink and stream keys plus direct "
            "Pipeline.run calls on one-file tables: per-key fixed cost "
            "(schema-inference jobs, planning, construction) and writes"
        ),
        stresses=(
            "io (one load job per table), plans and operators construction, "
            "pipeline and sink writes, streaming checkpoints, Python data source"
        ),
        bypasses="memo (no key caches a relation), the iterative LLM loops",
        pipelines=("run_pipeline_parquet", "run_pipeline_json"),
    ),
    "llm_iterative_sf001": Workload(
        keys=(
            "graph_bfs_hops",
            "graph_degree_distribution",
            "dedup_clusters",
            "dedup_containment",
            "dedup_near",
            "text_cooccurrence_topk",
            "agg_percentile_exact_distributed",
            "agg_bootstrap_means",
        ),
        why=(
            "dedup, text, graph and distributed-aggregate keys: driver-side "
            "construction (collects, checkpoints, loops), memo builds and "
            "hits between keys, single-task heavy keys"
        ),
        stresses="llm construction, memo (cleared at each pass start), single-task stages",
        bypasses="sinks and the pipeline layer",
    ),
}
