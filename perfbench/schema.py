"""Metric names, units and bounds of the benchmark's output.

``BENCHMARK.json`` at the repository root lists the same names; the
schema test keeps the two in step.
"""

from __future__ import annotations

WORKLOADS = {
    "cooc-x16-shuffle": "shuffle tier: 16 relabeled replicas, PageRank then WCC over one "
    "ShuffleGraph; packs, joins and materialize dominate",
    "edgelist-louvain": "text edge-list ingest, multi-level Louvain with per-level "
    "checkpoints, gather-tier k-core, text vertex sink: read and write paths",
}

#: name -> (unit, better, bound as a share of the parent's median)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "job_s": ("s", "lower", 0.25),
    "converge_s": ("s", "lower", 0.25),
    "edges_per_s": ("edges/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
}

#: layers with a self time and a failed-task count in the traced run
LAYERS = (
    "repo_table", "edges", "gather", "adjacency", "iteration",
    "checkpoint", "sinks", "pagerank", "wcc", "kcore", "louvain",
)
#: per-layer metrics of the traced run: name -> unit
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_python_job_s": "s",
    "session.empty_job_s": "s",
    "repo_table.edge_build_s": "s",
    "repo_table.jobs": "count",
    "repo_table.shuffle_write_mb": "MB",
    "edges.read_edge_list_s": "s",
    "edges.lines_per_s": "1/s",
    "gather.graph_build_s": "s",
    "gather.adjacency_build_s": "s",
    "gather.supersteps": "count",
    "gather.superstep_s.p50": "s",
    "gather.superstep_s.p90": "s",
    "gather.jobs_per_superstep": "count",
    "gather.task_skew": "ratio",
    "adjacency.out_pack_s": "s",
    "adjacency.in_pack_s": "s",
    "adjacency.vertices_s": "s",
    "adjacency.shuffle_write_mb": "MB",
    "iteration.supersteps": "count",
    "iteration.superstep_s.p50": "s",
    "iteration.superstep_s.p90": "s",
    "iteration.jobs_per_superstep": "count",
    "iteration.shuffle_write_mb": "MB",
    "iteration.gc_s": "s",
    "iteration.spill_mb": "MB",
    "pagerank.s": "s",
    "pagerank.iterations": "count",
    "pagerank.gather_tier": "bool",
    "wcc.s": "s",
    "wcc.iterations": "count",
    "wcc.gather_tier": "bool",
    "kcore.s": "s",
    "kcore.iterations": "count",
    "kcore.gather_tier": "bool",
    "louvain.s": "s",
    "louvain.levels": "count",
    "louvain.cycles": "count",
    "checkpoint.saves": "count",
    "checkpoint.save_s": "s",
    "checkpoint.written_mb": "MB",
    "sinks.write_s": "s",
    "sinks.written_mb": "MB",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    **{f"{layer}.failed_tasks": "count" for layer in LAYERS},
    "trace.covered_s": "s",
    "trace.remainder_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
}

#: per-layer metrics where higher is better (all others: lower)
HIGHER_IS_BETTER = ("edges.lines_per_s", "trace.coverage")

#: per-layer counts that must repeat exactly when one seed is run again
EXACT_COUNTS = (
    "gather.supersteps",
    "gather.jobs_per_superstep",
    "iteration.supersteps",
    "iteration.jobs_per_superstep",
    "pagerank.iterations",
    "wcc.iterations",
    "kcore.iterations",
    "louvain.levels",
    "louvain.cycles",
    "checkpoint.saves",
)
