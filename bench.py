"""Benchmark harness: PageRank + WCC edges/sec to convergence on the
repo co-occurrence edge table (BASELINE.json primary metric).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-phase sec...}, "sf": ..., "edges": N,
   "edges_per_sec": {...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).

The timed region starts at the materialized edge table (the metric is
defined over the edge table; the co-occurrence build is reported
separately as edge_build).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark import StorageLevel


def main() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from distributed_graph_analytics_spark.session import get_spark
    from distributed_graph_analytics_spark.operators.pagerank import pagerank
    from distributed_graph_analytics_spark.operators.wcc import (
        weakly_connected_components,
    )
    from __spark_entry__ import load_edges

    spark = get_spark(
        "dga-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    edges = load_edges(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = edges.count()
    t_build = time.time() - t0

    # data-aware task sizing: 3 waves per core (standard 2-3x sizing;
    # probed at x64, BENCH/BASELINE.md round 3 — cuts the
    # adjacency-pack builds 36-45% and the 4-core superstep loop 13%)
    # but never below ~40k edges per task — at sf0.1/local[32] the
    # graph is 1.2M edges and stage-launch overhead dominates, so
    # extra waves only add fixed cost there
    n_part = min(3 * cpus, max(cpus, n_edges // 40_000))
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))

    # one GatherGraph serves both operators when the gather tier
    # applies (dictionary + in-adjacency shared, the way a pipeline
    # runs two analytics over one encoded graph); the tier is decided
    # inside the PageRank timed window so the dictionary cost stays measured
    from distributed_graph_analytics_spark.plans.gather import resolve_tier

    t0 = time.time()
    g = resolve_tier(edges, "auto", "pagerank")
    tier = "shuffle" if g is None else "auto"
    ranks, pr_stats = pagerank(edges, gather_graph=g, strategy=tier)
    n_ranked = ranks.count()
    t_pr = time.time() - t0

    t0 = time.time()
    # co-occurrence build guarantees unique src < dst pairs
    comps, wcc_stats = weakly_connected_components(
        edges, edges_canonical=True, gather_graph=g, strategy=tier
    )
    n_comp = comps.select("component").distinct().count()
    t_wcc = time.time() - t0

    # informational extra (not part of the headline metric): k-core
    # decomposition to convergence on the same edge table
    from distributed_graph_analytics_spark.operators.kcore import core_numbers

    t0 = time.time()
    # shares the same GatherGraph (dictionary + in-adjacency already
    # paid by PR/WCC; kcore derives its merged sym blobs from it)
    cores, kc_stats = core_numbers(
        edges, edges_canonical=True, gather_graph=g, strategy=tier
    )
    cores.count()
    t_kcore = time.time() - t0

    total = t_pr + t_wcc
    result = {
        "metric": "pagerank+wcc seconds to convergence (repo co-occurrence edge table)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {
            "edge_build": round(t_build, 3),
            "pagerank": round(t_pr, 3),
            "wcc": round(t_wcc, 3),
            "kcore": round(t_kcore, 3),
        },
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "cpus": cpus,
        "edges": n_edges,
        "vertices": n_ranked,
        "components": n_comp,
        "pr_iterations": pr_stats.iterations,
        "wcc_iterations": wcc_stats.iterations,
        "kcore_iterations": kc_stats.iterations,
        # "driver" when the gather tier's graph fits the driver budget
        # (plans/gather.py::resolve_tier), else "spark"
        "placement": {
            "pagerank": pr_stats.placement,
            "wcc": wcc_stats.placement,
            "kcore": kc_stats.placement,
        },
        "edges_per_sec": {
            "pagerank": round(n_edges * pr_stats.iterations / t_pr),
            "wcc": round(n_edges * wcc_stats.iterations / t_wcc),
            "combined_to_convergence": round(n_edges / total),
        },
    }
    spark.stop()
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
