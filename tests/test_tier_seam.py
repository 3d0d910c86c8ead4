"""The one tier decision (plans/gather.py::resolve_tier) and the one
gather-tier driver loop (plans/iteration.py::IterationController.run_gather):

- every entry point that takes ``strategy`` rejects an unknown value
  with a ValueError naming it, and ``strategy="shuffle"`` decides with
  no HLL pre-check and no dictionary build or edge collect;
- a run that converged on one tier resumes on the other from the same
  checkpoint directory and gives the fresh shuffle-tier result, with
  the gather tier in either placement;
- the placement: driver arrays strictly under the byte budget, no edge
  collect above it, and driver-built results in a bounded number of
  partitions.
"""

from __future__ import annotations

import pytest

from tests.conftest import edges_df, gather_placements
from tests import fixture_graphs as G
from distributed_graph_analytics_spark.operators.closeness import (
    closeness_centrality,
)
from distributed_graph_analytics_spark.operators.hits import hits, weighted_pagerank
from distributed_graph_analytics_spark.operators.kcore import core_numbers
from distributed_graph_analytics_spark.operators.leaf_compression import (
    leaf_compression,
)
from distributed_graph_analytics_spark.operators.louvain import louvain
from distributed_graph_analytics_spark.operators.lpa import label_propagation
from distributed_graph_analytics_spark.operators.pagerank import (
    pagerank,
    personalized_pagerank,
)
from distributed_graph_analytics_spark.operators.sssp import sssp
from distributed_graph_analytics_spark.operators.wcc import (
    weakly_connected_components,
)
from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager


def _sources(edges):
    return edges.sparkSession.createDataFrame([(1,)], "id long")


#: entry point → call with small budgets; every one takes ``strategy``
ENTRY_POINTS = {
    pagerank: lambda e, s: pagerank(e, max_iterations=2, strategy=s),
    personalized_pagerank: lambda e, s: personalized_pagerank(
        e, _sources(e), max_iterations=2, strategy=s
    ),
    weakly_connected_components: lambda e, s: weakly_connected_components(
        e, max_iterations=2, strategy=s
    ),
    core_numbers: lambda e, s: core_numbers(e, max_iterations=2, strategy=s),
    label_propagation: lambda e, s: label_propagation(
        e, max_iterations=2, strategy=s
    ),
    hits: lambda e, s: hits(e, iterations=1, strategy=s),
    weighted_pagerank: lambda e, s: weighted_pagerank(e, iterations=1, strategy=s),
    sssp: lambda e, s: sssp(e, 1, max_iterations=2, strategy=s),
    closeness_centrality: lambda e, s: closeness_centrality(
        e, num_pivots=1, max_rounds=2, strategy=s
    ),
    leaf_compression: lambda e, s: leaf_compression(e, max_iterations=2, strategy=s),
    louvain: lambda e, s: louvain(e, max_levels=1, strategy=s),
}


@pytest.mark.parametrize(
    "entry", list(ENTRY_POINTS), ids=[f.__name__ for f in ENTRY_POINTS]
)
def test_strategy_validated_and_shuffle_skips_tier_probe(spark, monkeypatch, entry):
    import distributed_graph_analytics_spark.plans.gather as gather

    run = ENTRY_POINTS[entry]
    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    with pytest.raises(ValueError, match=rf"unknown {entry.__name__} strategy 'bogus'"):
        run(edges, "bogus")

    def boom(*a, **k):
        raise AssertionError("tier probe ran under strategy='shuffle'")

    monkeypatch.setattr(gather, "gather_tier_applies", boom)
    monkeypatch.setattr(gather.GatherGraph, "build", classmethod(boom))
    monkeypatch.setattr(gather.GatherGraph, "build_local", classmethod(boom))
    # a budget that would place the graph on the driver, had the probe run
    monkeypatch.setattr(gather, "_LOCAL_LEVEL_BYTES", 1 << 40)
    run(edges, "shuffle")  # no HLL check, dictionary or edge collect runs


def test_seam_precedence(spark, monkeypatch):
    """resolve_tier's order: a shared graph wins over auto, the shuffle
    tier over a shared graph, a fractional weight column keeps auto on
    the shuffle tier, and the cap counts per-vertex vectors."""
    from distributed_graph_analytics_spark.plans.gather import GatherGraph, resolve_tier

    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    g = GatherGraph.build(edges)
    n = g.n
    assert resolve_tier(edges, "auto", "op", gather_graph=g) is g
    assert resolve_tier(edges, "shuffle", "op", gather_graph=g) is None
    assert resolve_tier(edges, "auto", "op", shuffle_graph=object()) is None
    frac = edges.withColumn("weight", edges["weight"].cast("double"))
    assert resolve_tier(frac, "auto", "op", weight="weight") is None
    for placement, _ in gather_placements(monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_GATHER_MAX_V", raising=False)
        got = resolve_tier(frac, "auto", "op")
        assert (got.n, got.placement) == (n, placement)
        assert (got.uniq == g.uniq).all()
        monkeypatch.setenv("SPARK_GRAFT_GATHER_MAX_V", str(3 * n))
        got = resolve_tier(edges, "auto", "op", per_vertex_vectors=3)
        assert (got.n, got.placement) == (n, placement)
        assert resolve_tier(edges, "auto", "op", per_vertex_vectors=4) is None
        # forced "gather" skips the cap and always places on Spark
        got = resolve_tier(edges, "gather", "op", per_vertex_vectors=4)
        assert (got.n, got.placement) == (n, "spark")


#: the checkpointing operators: (call, result column, tolerance). A
#: run resumed from a converged save takes one more superstep than the
#: fresh run, which moves a float result by less than its halting bound
CHECKPOINTED = {
    "pagerank": (
        lambda e, s, m: pagerank(e, epsilon=0.01, checkpoint_manager=m, strategy=s),
        "rank",
        dict(rel=0.01),
    ),
    "ppr": (
        lambda e, s, m: personalized_pagerank(
            e, _sources(e), epsilon=1e-4, checkpoint_manager=m, strategy=s
        ),
        "rank",
        dict(abs=1e-4),
    ),
    "wcc": (
        lambda e, s, m: weakly_connected_components(
            e, checkpoint_manager=m, strategy=s
        ),
        "component",
        None,
    ),
    "kcore": (
        lambda e, s, m: core_numbers(e, checkpoint_manager=m, strategy=s),
        "core",
        None,
    ),
}


@pytest.mark.parametrize("first,second", [("gather", "shuffle"), ("shuffle", "gather")])
@pytest.mark.parametrize("name", list(CHECKPOINTED))
def test_converged_checkpoint_resumes_on_other_tier(
    spark, tmp_path, monkeypatch, name, first, second
):
    run, col, tol = CHECKPOINTED[name]
    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    want = {r["id"]: r[col] for r in run(edges, "shuffle", None)[0].collect()}
    for placement, strategy in gather_placements(monkeypatch):
        tiers = [strategy if t == "gather" else t for t in (first, second)]
        d = str(tmp_path / placement)
        _, st = run(edges, tiers[0], CheckpointManager(spark, d))
        assert st.converged
        out, st = run(edges, tiers[1], CheckpointManager(spark, d))
        assert st.converged
        assert st.placement == (placement if second == "gather" else "spark")
        got = {r["id"]: r[col] for r in out.collect()}
        if tol is None:
            assert got == want
        else:
            assert got.keys() == want.keys()
            for v in want:
                assert got[v] == pytest.approx(want[v], **tol), v


def test_driver_budget_is_strict(spark, monkeypatch):
    """Both directions of the edge rows at 16 B each must be strictly
    under the budget: exactly at it the graph stays on Spark."""
    import distributed_graph_analytics_spark.plans.gather as gather

    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    at = 2 * edges.count() * gather._PAIR_BYTES
    for budget, placement in ((at, "spark"), (at + 1, "driver")):
        monkeypatch.setattr(gather, "_LOCAL_LEVEL_BYTES", budget)
        assert gather.resolve_tier(edges, "auto", "op").placement == placement


def test_above_budget_auto_run_never_collects_edges(spark, monkeypatch):
    """Above the budget an auto run builds on Spark: neither the driver
    graph's nor a Louvain level's edge collect runs."""
    import importlib

    import distributed_graph_analytics_spark.plans.gather as gather

    L = importlib.import_module("distributed_graph_analytics_spark.operators.louvain")

    def boom(cls, *a):
        raise AssertionError("edge table collected above the driver budget")

    monkeypatch.setattr(gather, "_LOCAL_LEVEL_BYTES", 0)
    monkeypatch.setattr(gather.GatherGraph, "build_local", classmethod(boom))
    monkeypatch.setattr(L._LocalGraph, "collect", classmethod(boom))
    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    for run in (weakly_connected_components, core_numbers):
        _, st = run(edges)
        assert (st.kernel, st.placement) == ("gather", "spark")
    assert {lv.kernel for lv in louvain(edges, min_progress=1).levels} == {"gather"}


def test_driver_results_keep_bounded_partitions(spark, monkeypatch):
    """A driver-built result of more than one 10,000-row Arrow batch
    comes back in at most spark.sql.shuffle.partitions partitions."""
    import distributed_graph_analytics_spark.plans.gather as gather

    monkeypatch.setattr(gather, "_LOCAL_LEVEL_BYTES", 1 << 40)
    edges = edges_df(spark, [(2 * i, 2 * i + 1) for i in range(6_000)])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        comps, st = weakly_connected_components(edges)
        res = louvain(edges, min_progress=1)
        assert st.placement == "driver" and res.levels[0].kernel == "local"
        for df in (comps, res.level0, res.final):
            assert df.rdd.getNumPartitions() == 1
        assert comps.count() == res.final.count() == 12_000
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
