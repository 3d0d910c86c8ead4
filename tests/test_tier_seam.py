"""The one tier decision (plans/gather.py::resolve_tier) and the one
gather-tier driver loop (plans/iteration.py::IterationController.run_gather):

- every entry point that takes ``strategy`` rejects an unknown value
  with a ValueError naming it, and ``strategy="shuffle"`` decides with
  no HLL pre-check and no dictionary build;
- a run that converged on one tier resumes on the other from the same
  checkpoint directory and gives the fresh shuffle-tier result.
"""

from __future__ import annotations

import pytest

from tests.conftest import edges_df
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
    run(edges, "shuffle")  # neither the HLL check nor the dictionary runs


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
    assert resolve_tier(frac, "auto", "op").n == n
    monkeypatch.setenv("SPARK_GRAFT_GATHER_MAX_V", str(3 * n))
    assert resolve_tier(edges, "auto", "op", per_vertex_vectors=3).n == n
    assert resolve_tier(edges, "auto", "op", per_vertex_vectors=4) is None
    assert resolve_tier(edges, "gather", "op", per_vertex_vectors=4).n == n


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
def test_converged_checkpoint_resumes_on_other_tier(spark, tmp_path, name, first, second):
    run, col, tol = CHECKPOINTED[name]
    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    want = {r["id"]: r[col] for r in run(edges, "shuffle", None)[0].collect()}
    d = str(tmp_path / "ck")
    _, st = run(edges, first, CheckpointManager(spark, d))
    assert st.converged
    out, st = run(edges, second, CheckpointManager(spark, d))
    assert st.converged
    got = {r["id"]: r[col] for r in out.collect()}
    if tol is None:
        assert got == want
    else:
        assert got.keys() == want.keys()
        for v in want:
            assert got[v] == pytest.approx(want[v], **tol), v
