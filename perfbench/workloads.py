"""The benchmark's named workloads: which declared queries each runs.

A workload names queries outright and may take every query of a
module, in registration order. Resolution runs against the live
registry, so a renamed or removed query fails the run loudly instead
of silently shrinking the workload.
"""

from __future__ import annotations

from dataclasses import dataclass

PKG = "etl_finance_spark."


@dataclass(frozen=True)
class Workload:
    why: str
    names: tuple[str, ...] = ()
    modules: tuple[str, ...] = ()

    def resolve(self, specs: dict) -> list[str]:
        missing = [n for n in self.names if n not in specs]
        if missing:
            raise KeyError(f"workload names undeclared queries: {missing}")
        mods = {PKG + m for m in self.modules}
        picked = list(self.names)
        picked += [n for n, s in specs.items()
                   if s.fn.__module__ in mods and n not in picked]
        return picked


# Two workloads, each with a cold pass of about 25 s on a 4-core host:
# passes of 8-10 s swung by 16-18% between runs on a shared host, while
# the 23 s iterative pass held within 6% as long as the host's speed did.
# So the relational reads and the ingest writes share one batch window,
# and the per-package per-layer metrics keep them apart. README.md lists
# the queries left out.
WORKLOADS = {
    "batch": Workload(
        why="the paper's analytics surface beside its ingest path: windowed "
            "indicators and TPC-H joins over the fact tables, then partition, "
            "checkpoint and microbatch writes and the Python lane",
        names=("q_pct_change_hourly", "q_pct_change_lag",
               "q_backfill_partitions", "q_incremental_ingest",
               "q_stream_tumbling", "q_stream_sliding", "q_stream_session",
               "q_stream_pair_join", "q_stream_pair_outer",
               "q_rollup_merge", "q_multimodal_features",
               "q_multimodal_frames", "q_multimodal_meta"),
        modules=("plans.finance", "plans.tpch3", "functions.udfs"),
    ),
    "iterative": Workload(
        why="driver- and scheduling-bound: lineage cuts, eager jobs before "
            "the first action and shared memo builds whose payer the seed "
            "picks",
        names=("q_dedup_clusters", "q_pagerank", "q_copurchase_pairs",
               "q_recursive_bfs", "q_ann_ivf_topk", "q_ivfpq_topk",
               "q_semantic_dedup", "q_minhash_lsh"),
    ),
}

# Warm-up queries run during set-up through the same sink protocol. None
# belongs to a workload, so no measured query is pre-warmed; together they
# cover the scan, shuffle-aggregate and window shapes, and start the
# Python workers.
WARMUP_JVM = ("q_agg_groupby", "q_win_rownum")
WARMUP_PYTHON = ("q_frequent_items",)   # mapInPandas


def package(module: str) -> str:
    """Top-level package of a query module: plans, operators, llm, ..."""
    return module[len(PKG):].split(".", 1)[0] if module.startswith(PKG) else module
