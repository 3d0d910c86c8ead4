"""Gather-tier parity: the broadcast-gather kernels (plans/gather.py)
must produce identical results through the identical iteration
trajectory as the plan-pinned shuffle kernels, in both placements
(Spark jobs over blobs, driver arrays), and the auto tier must dispatch
by |V| against the SPARK_GRAFT_GATHER_MAX_V cap."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_graph_analytics_spark.operators.pagerank import pagerank
from distributed_graph_analytics_spark.operators.wcc import (
    weakly_connected_components,
)
from tests.conftest import gather_placements


@pytest.fixture(scope="module")
def graph(spark):
    # two components, parallel edges, a self-loop, a dangling sink and
    # a small hub — every structural edge case the kernels dispatch on
    e = spark.createDataFrame(
        [
            (1, 2, 1.0),
            (2, 3, 1.0),
            (3, 1, 1.0),
            (3, 4, 1.0),
            (3, 4, 1.0),  # parallel edge: counted twice in out_deg
            (4, 4, 1.0),  # self-loop
            (5, 6, 1.0),  # second component, 6 dangling
            (10, 11, 1.0),
            (10, 12, 1.0),
            (10, 13, 1.0),
            (13, 5, 1.0),
        ],
        "src long, dst long, weight double",
    ).persist()
    e.count()
    return e


def _ranks(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def _as_placed(edges, placement):
    """``edges`` for a weighted operator's run in ``placement``: "auto"
    keeps a double-typed weight column on the shuffle tier, so the
    driver leg casts the (integral) weights to long."""
    if placement == "spark":
        return edges
    return edges.withColumn("weight", F.col("weight").cast("long"))


def test_pagerank_gather_matches_shuffle(graph, monkeypatch):
    s_ranks, s_stats = pagerank(graph, strategy="shuffle")
    assert s_stats.kernel == "shuffle" and s_stats.placement == "spark"
    sr = _ranks(s_ranks)
    for placement, strategy in gather_placements(monkeypatch):
        g_ranks, g_stats = pagerank(graph, strategy=strategy)
        assert g_stats.kernel == "gather" and g_stats.placement == placement
        # identical trajectory: same halt iteration, same per-iter deltas
        assert g_stats.iterations == s_stats.iterations
        assert g_stats.converged == s_stats.converged
        for gh, sh in zip(g_stats.history, s_stats.history):
            assert gh["max_delta"] == pytest.approx(sh["max_delta"], abs=1e-12)
        gr = _ranks(g_ranks)
        assert gr.keys() == sr.keys()
        for k in gr:
            assert gr[k] == pytest.approx(sr[k], abs=1e-12), k
        assert dict(g_ranks.dtypes) == {"id": "bigint", "rank": "double"}


def test_pagerank_gather_fixed_iterations(graph, monkeypatch):
    s_ranks, _ = pagerank(graph, epsilon=0.0, max_iterations=4, strategy="shuffle")
    sr = _ranks(s_ranks)
    for _, strategy in gather_placements(monkeypatch):
        g_ranks, _ = pagerank(graph, epsilon=0.0, max_iterations=4, strategy=strategy)
        gr = _ranks(g_ranks)
        for k in gr:
            assert gr[k] == pytest.approx(sr[k], abs=1e-14), k


@pytest.mark.parametrize("min_label", [False, True])
def test_wcc_gather_matches_shuffle_exactly(graph, monkeypatch, min_label):
    s_comp, s_stats = weakly_connected_components(
        graph, strategy="shuffle", min_label=min_label
    )
    assert s_stats.kernel == "shuffle"
    want = sorted(map(tuple, s_comp.collect()))
    for placement, strategy in gather_placements(monkeypatch):
        g_comp, g_stats = weakly_connected_components(
            graph, strategy=strategy, min_label=min_label
        )
        assert g_stats.kernel == "gather" and g_stats.placement == placement
        assert sorted(map(tuple, g_comp.collect())) == want
        # bit-exact integer merge → identical trajectory incl. changed counts
        assert g_stats.iterations == s_stats.iterations
        assert [h["changed"] for h in g_stats.history] == [
            h["changed"] for h in s_stats.history
        ]
        assert dict(g_comp.dtypes) == {"id": "bigint", "component": "bigint"}


def test_auto_tier_dispatch(graph, monkeypatch):
    for placement, _ in gather_placements(monkeypatch):
        _, stats = weakly_connected_components(graph)
        # 12 vertices, far under the cap
        assert stats.kernel == "gather" and stats.placement == placement
        monkeypatch.setenv("SPARK_GRAFT_GATHER_MAX_V", "3")
        _, stats = weakly_connected_components(graph)
        assert stats.kernel == "shuffle"  # forced over the cap
        _, stats = pagerank(graph)
        assert stats.kernel == "shuffle"
        monkeypatch.delenv("SPARK_GRAFT_GATHER_MAX_V")
        _, stats = pagerank(graph)
        assert stats.kernel == "gather" and stats.placement == placement


def test_auto_dispatch_never_builds_dictionary_above_cap(graph, monkeypatch):
    """Above the cap, auto mode must decide from the HLL pre-check
    alone — neither GatherGraph.build's distinct+collect (8·|V| bytes
    to the driver) nor the driver placement's edge collect may run for
    a graph the cap rejects."""
    import distributed_graph_analytics_spark.plans.gather as G

    monkeypatch.setenv("SPARK_GRAFT_GATHER_MAX_V", "3")

    def boom(cls, edges):
        raise AssertionError("dictionary built for an above-cap graph")

    monkeypatch.setattr(G.GatherGraph, "build", classmethod(boom))
    monkeypatch.setattr(G.GatherGraph, "build_local", classmethod(boom))
    for _ in gather_placements(monkeypatch):
        _, stats = weakly_connected_components(graph)
        assert stats.kernel == "shuffle"
        _, stats = pagerank(graph)
        assert stats.kernel == "shuffle"


def test_gather_batch_split_partial_merge(spark, monkeypatch):
    """A hub's run of equal keys split across tiny blob chunks and tiny
    Arrow batches yields partials that merge driver-side — scores must
    not depend on the chunking."""
    import importlib

    gather_mod = importlib.import_module(
        "distributed_graph_analytics_spark.plans.gather"
    )

    edges = spark.createDataFrame(
        [(100, d, 1.0) for d in range(1, 12)]
        + [(d, 100, 1.0) for d in range(1, 12)],
        "src long, dst long, weight double",
    )
    base = _ranks(pagerank(edges, max_iterations=5, strategy="gather")[0])
    monkeypatch.setattr(gather_mod, "CHUNK_EDGES", 4)
    monkeypatch.setattr(gather_mod, "BLOB_BATCH_ROWS", 2)
    for _, strategy in gather_placements(monkeypatch):
        split = _ranks(pagerank(edges, max_iterations=5, strategy=strategy)[0])
        assert base.keys() == split.keys()
        for k in base:
            assert base[k] == pytest.approx(split[k], abs=1e-12), k
        comp = weakly_connected_components(edges, strategy=strategy)[0]
        assert {r["component"] for r in comp.collect()} == {100}


def test_gather_checkpoint_resume(spark, tmp_path, graph, monkeypatch):
    """A gather run killed mid-convergence resumes from the durable
    checkpoint and finishes with the full run's exact scores."""
    from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager

    for placement, strategy in gather_placements(monkeypatch):
        full, _ = pagerank(graph, strategy=strategy)
        mgr = CheckpointManager(spark, str(tmp_path / placement))
        partial, st1 = pagerank(
            graph, strategy=strategy, checkpoint_manager=mgr, checkpoint_every=2,
            max_iterations=4, epsilon=0.0,
        )
        assert st1.iterations == 4
        mgr2 = CheckpointManager(spark, str(tmp_path / placement))
        resumed, st2 = pagerank(
            graph, strategy=strategy, checkpoint_manager=mgr2, checkpoint_every=2
        )
        assert st2.iterations > 4  # picked up past the saved iteration
        fr, rr = _ranks(full), _ranks(resumed)
        for k in fr:
            assert fr[k] == pytest.approx(rr[k], abs=1e-12), k


def test_gather_cross_tier_resume(spark, tmp_path, graph, monkeypatch):
    """A shuffle-tier checkpoint resumes under the gather tier (and the
    state schemas stay interchangeable)."""
    from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager

    full, _ = weakly_connected_components(graph, strategy="shuffle")
    want = sorted(map(tuple, full.collect()))
    for placement, strategy in gather_placements(monkeypatch):
        mgr = CheckpointManager(spark, str(tmp_path / placement))
        weakly_connected_components(
            graph, strategy="shuffle", checkpoint_manager=mgr, checkpoint_every=1,
            max_iterations=1,
        )
        mgr2 = CheckpointManager(spark, str(tmp_path / placement))
        resumed, st = weakly_connected_components(
            graph, strategy=strategy, checkpoint_manager=mgr2
        )
        assert st.placement == placement
        assert sorted(map(tuple, resumed.collect())) == want


def test_shared_gather_graph(graph, monkeypatch):
    """One GatherGraph serves PageRank then WCC (the scaling worker's
    shape): results identical to standalone runs, dictionary and
    in-adjacency built once."""
    from distributed_graph_analytics_spark.plans.gather import GatherGraph

    for placement, strategy in gather_placements(monkeypatch):
        build = GatherGraph.build if placement == "spark" else GatherGraph.build_local
        g = build(graph)
        ranks_shared, st_pr = pagerank(graph, gather_graph=g)
        in_adj_after_pr = g._in_adj
        comp_shared, st_wcc = weakly_connected_components(graph, gather_graph=g)
        assert st_pr.kernel == "gather" and st_wcc.kernel == "gather"
        assert st_pr.placement == st_wcc.placement == placement
        # WCC's sym adjacency reused PR's in-adjacency (same object, not rebuilt)
        assert g._in_adj is in_adj_after_pr and in_adj_after_pr is not None
        gr = _ranks(ranks_shared)
        sr = _ranks(pagerank(graph, strategy=strategy)[0])
        for k in gr:
            assert gr[k] == pytest.approx(sr[k], abs=1e-12), k
        assert sorted(map(tuple, comp_shared.collect())) == sorted(
            map(tuple, weakly_connected_components(graph, strategy=strategy)[0].collect())
        )
        g.release()


def test_gather_empty_graph(spark, monkeypatch):
    e = spark.createDataFrame([], "src long, dst long, weight double")
    for _, strategy in gather_placements(monkeypatch):
        ranks, st = pagerank(e, strategy=strategy)
        assert ranks.count() == 0 and st.converged
        comp, st = weakly_connected_components(e, strategy=strategy)
        assert comp.count() == 0 and st.converged


def test_gather_duplicate_edges_defensive_distinct(spark, monkeypatch):
    """Without edges_canonical the symmetric table dedups — parity with
    the shuffle kernel's defensive distinct (labels are unaffected
    either way; this pins the code path runs)."""
    e = spark.createDataFrame(
        [(1, 2, 1.0), (1, 2, 1.0), (2, 1, 1.0)], "src long, dst long, weight double"
    )
    for _, strategy in gather_placements(monkeypatch):
        for canonical in (False, True):
            comp, _ = weakly_connected_components(
                e, strategy=strategy, edges_canonical=canonical
            )
            assert {r["component"] for r in comp.collect()} == {2}


def _kcore_matches_shuffle(df, monkeypatch):
    """k-core in both placements against the frontier shuffle kernel:
    identical cores, changed-count trajectory and per-superstep
    frontier size (``recomputed``); returns the iteration count."""
    from distributed_graph_analytics_spark.operators.kcore import core_numbers

    s_res, s_stats = core_numbers(df, strategy="shuffle")
    want = {(r["id"], r["core"]) for r in s_res.collect()}
    for placement, strategy in gather_placements(monkeypatch):
        g_res, g_stats = core_numbers(df, strategy=strategy)
        assert g_stats.placement == placement
        assert {(r["id"], r["core"]) for r in g_res.collect()} == want
        assert g_stats.iterations == s_stats.iterations
        for metric in ("changed", "recomputed"):
            assert [h[metric] for h in g_stats.history] == [
                h[metric] for h in s_stats.history
            ], (placement, metric)
    return s_stats.iterations


def test_kcore_gather_matches_shuffle_exactly(graph, monkeypatch):
    """Gather-tier k-core: identical core numbers AND identical
    iteration trajectory (changed counts, halt round) as the frontier
    shuffle kernel — integer h-index arithmetic is bit-exact, the
    merged sym-adjacency dedupes parallel edges exactly like the
    shuffle kernel's distinct(), and a full recompute of a clean
    vertex reproduces its old value."""
    _kcore_matches_shuffle(graph, monkeypatch)


def test_kcore_gather_wavefront_fixture(spark, monkeypatch):
    """The path+clique fixture that pins the shuffle frontier: the
    gather tier must walk the identical many-round wavefront
    trajectory and land on the identical coreness."""
    path = [(i, i + 1) for i in range(100, 140)]
    clique = [(i, j) for i in range(1, 7) for j in range(i + 1, 7)]
    df = spark.createDataFrame(path + clique, ["src", "dst"])
    assert _kcore_matches_shuffle(df, monkeypatch) > 5


def test_kcore_gather_hub_chunk_split(spark, monkeypatch):
    """A hub whose neighbor run spans many blob chunks (and therefore
    several Arrow batches) exercises the cross-batch tail carry of
    whole key runs — h-index is not partial-mergeable, so this is the
    correctness-critical path."""
    import distributed_graph_analytics_spark.plans.gather as gather

    monkeypatch.setattr(gather, "CHUNK_EDGES", 8)
    monkeypatch.setattr(gather, "BLOB_BATCH_ROWS", 2)
    hub = [(0, i) for i in range(1, 60)]
    tri = [(1, 2), (2, 3), (1, 3)]
    _kcore_matches_shuffle(spark.createDataFrame(hub + tri, ["src", "dst"]), monkeypatch)


def test_sssp_gather_matches_shuffle_exactly(graph, monkeypatch):
    """Gather-tier SSSP over the weighted sym adjacency: identical
    distances (exact int64) and identical changed-count trajectory as
    the frontier shuffle kernel, including the weighted canonical
    merge (parallel edge 3-4 sums to weight 2)."""
    from distributed_graph_analytics_spark.operators.sssp import sssp

    weighted = graph.select(
        "src", "dst", F.col("weight").cast("long").alias("weight")
    )
    for source in (1, 10, 6):
        s_res, s_stats = sssp(weighted, source, strategy="shuffle")
        want = {(r["id"], r["dist"]) for r in s_res.collect()}
        for placement, strategy in gather_placements(monkeypatch):
            g_res, g_stats = sssp(weighted, source, strategy=strategy)
            assert g_stats.placement == placement
            got = {(r["id"], r["dist"]) for r in g_res.collect()}
            assert got == want, source
            assert g_stats.iterations == s_stats.iterations
            assert [h["changed"] for h in g_stats.history] == [
                h["changed"] for h in s_stats.history
            ]


def test_sssp_gather_absent_source(spark, monkeypatch):
    """A source with only self-loops disappears from the canonical
    graph: both tiers return exactly [(source, 0)]."""
    from distributed_graph_analytics_spark.operators.sssp import sssp

    df = spark.createDataFrame(
        [(7, 7, 1), (1, 2, 3)], "src long, dst long, weight long"
    )
    strategies = ["shuffle"] + [s for _, s in gather_placements(monkeypatch)]
    for strat in strategies:
        rows = {(r["id"], r["dist"]) for r in sssp(df, 7, strategy=strat)[0].collect()}
        assert rows == {(7, 0)}, strat


def test_hits_gather_matches_shuffle(graph, monkeypatch):
    """Gather-tier HITS: same scores to float summation order (the
    tier-parity tolerance), same vertex set."""
    from distributed_graph_analytics_spark.operators.hits import hits

    s_rows = {r["id"]: (r["hub"], r["authority"])
              for r in hits(graph, strategy="shuffle").collect()}
    for _, strategy in gather_placements(monkeypatch):
        g_rows = {r["id"]: (r["hub"], r["authority"])
                  for r in hits(graph, strategy=strategy).collect()}
        assert set(g_rows) == set(s_rows)
        for vid in s_rows:
            for a, b in zip(g_rows[vid], s_rows[vid]):
                assert abs(a - b) <= 1e-12 * max(1.0, abs(b)), (vid, a, b)


def test_weighted_pagerank_gather_matches_shuffle(graph, monkeypatch):
    """Gather-tier weighted PageRank: same per-term arithmetic, scores
    agree to float summation order."""
    from distributed_graph_analytics_spark.operators.hits import (
        weighted_pagerank,
    )

    weighted = graph.select(
        "src", "dst", F.col("weight").cast("long").alias("weight")
    )
    s_rows = {r["id"]: r["rank"]
              for r in weighted_pagerank(weighted, strategy="shuffle").collect()}
    for _, strategy in gather_placements(monkeypatch):
        g_rows = {r["id"]: r["rank"]
                  for r in weighted_pagerank(weighted, strategy=strategy).collect()}
        assert set(g_rows) == set(s_rows)
        for vid, want in s_rows.items():
            assert abs(g_rows[vid] - want) <= 1e-12 * max(1.0, abs(want)), vid


def test_closeness_gather_matches_shuffle(graph, monkeypatch):
    """Gather-tier closeness: identical integer reached/sum_dist and
    harmonic to summation order, identical sha2 pivot set."""
    from distributed_graph_analytics_spark.operators.closeness import (
        closeness_centrality,
    )

    def run(strat):
        return {
            r["id"]: (r["reached"], r["sum_dist"], round(r["harmonic"], 9))
            for r in closeness_centrality(
                graph, num_pivots=3, seed=7, hash_family="sha2",
                strategy=strat,
            ).collect()
        }

    want = run("shuffle")
    for _, strategy in gather_placements(monkeypatch):
        assert run(strategy) == want


def test_lpa_gather_matches_shuffle_exactly(graph, monkeypatch):
    """Gather-tier LPA: identical labels and changed-count trajectory
    (integer vote sums, same (votes, label) tie-break) — weighted and
    unweighted."""
    from distributed_graph_analytics_spark.operators.lpa import (
        label_propagation,
    )

    for weighted in (True, False):
        s_res, s_stats = label_propagation(
            graph, strategy="shuffle", weighted=weighted
        )
        want = {(r["id"], r["label"]) for r in s_res.collect()}
        for placement, strategy in gather_placements(monkeypatch):
            g_res, g_stats = label_propagation(
                _as_placed(graph, placement), strategy=strategy, weighted=weighted
            )
            assert g_stats.placement == placement
            assert {(r["id"], r["label"]) for r in g_res.collect()} == want, weighted
            assert g_stats.iterations == s_stats.iterations
            assert [h["changed"] for h in g_stats.history] == [
                h["changed"] for h in s_stats.history
            ]


def test_ppr_gather_matches_shuffle(graph, monkeypatch):
    """Gather-tier personalized PageRank: same per-edge arithmetic,
    seed-masked teleport, abs-delta halt — scores within summation
    order, identical iteration count."""
    from distributed_graph_analytics_spark.operators.pagerank import (
        personalized_pagerank,
    )

    spark = graph.sparkSession
    seeds = spark.createDataFrame([(1,), (10,)], "id long")
    s_res, s_stats = personalized_pagerank(
        graph, seeds, epsilon=0.0, max_iterations=6, strategy="shuffle"
    )
    s_rows = {r["id"]: r["rank"] for r in s_res.collect()}
    for placement, strategy in gather_placements(monkeypatch):
        g_res, g_stats = personalized_pagerank(
            graph, seeds, epsilon=0.0, max_iterations=6, strategy=strategy
        )
        assert g_stats.placement == placement
        g_rows = {r["id"]: r["rank"] for r in g_res.collect()}
        assert set(g_rows) == set(s_rows)
        assert g_stats.iterations == s_stats.iterations == 6
        for vid, want in s_rows.items():
            assert abs(g_rows[vid] - want) <= 1e-12 * max(1.0, abs(want)), vid


def test_leaf_compression_gather_matches_shuffle(graph, monkeypatch):
    """Gather-tier leaf compression: identical surviving vertex/edge
    sets and identical per-round survivor-count trajectory."""
    from distributed_graph_analytics_spark.operators.leaf_compression import (
        leaf_compression,
    )

    s_v, s_e, s_stats = leaf_compression(graph, strategy="shuffle")
    want_v = {r["id"] for r in s_v.collect()}
    want_e = {(r["src"], r["dst"]) for r in s_e.collect()}
    for placement, strategy in gather_placements(monkeypatch):
        g_v, g_e, g_stats = leaf_compression(graph, strategy=strategy)
        assert g_stats.placement == placement
        assert {r["id"] for r in g_v.collect()} == want_v
        assert {(r["src"], r["dst"]) for r in g_e.collect()} == want_e
        assert g_stats.iterations == s_stats.iterations
        assert [h["vertices"] for h in g_stats.history] == [
            h["vertices"] for h in s_stats.history
        ]


def test_leaf_compression_gather_chain_fixture(spark, monkeypatch):
    """A leaf chain hanging off a clique: pruning cascades one hop per
    round — both tiers walk the same multi-round trajectory."""
    from distributed_graph_analytics_spark.operators.leaf_compression import (
        leaf_compression,
    )
    from distributed_graph_analytics_spark.sources.edges import (
        reverse_duplicate,
    )

    clique = [(i, j, 1) for i in range(1, 5) for j in range(i + 1, 5)]
    chain = [(4, 10, 1), (10, 11, 1), (11, 12, 1)]
    df = reverse_duplicate(
        spark.createDataFrame(clique + chain, "src long, dst long, weight long")
    )
    s_v, _, s_stats = leaf_compression(df, strategy="shuffle")
    want = {r["id"] for r in s_v.collect()}
    for _, strategy in gather_placements(monkeypatch):
        g_v, _, g_stats = leaf_compression(df, strategy=strategy)
        assert {r["id"] for r in g_v.collect()} == want
        assert g_stats.iterations == s_stats.iterations > 2
        assert [h["vertices"] for h in g_stats.history] == [
            h["vertices"] for h in s_stats.history
        ]


def test_louvain_level_gather_matches_shuffle_exactly(graph, spark, monkeypatch):
    """Gather-tier Louvain level: bit-identical state (community,
    σ_tot, internal/node weights, changed flags), cycle count, and
    modularity — the m-scaled integer ΔQ and the (ΔQ, community)
    struct-max tie-break replicate the join kernel exactly, in cid
    space (a monotone image of id space, so every comparison and the
    even/odd gate agree)."""
    from distributed_graph_analytics_spark.operators.louvain import (
        louvain_level,
    )
    from tests import fixture_graphs as G
    from tests.conftest import edges_df

    inputs = [
        graph,
        edges_df(spark, G.TWO_CLIQUES_BRIDGED),
        edges_df(spark, G.WCC_MULTI),
    ]
    key = lambda r: (
        r["id"],
        r["community"],
        r["sigma_tot"],
        r["internal_w"],
        r["node_w"],
        r["changed"],
    )
    for edges in inputs:
        for fixed in (None, 4):
            q_s, st_s, c_s = louvain_level(
                edges, fixed_cycles=fixed, strategy="shuffle"
            )
            want = sorted(map(key, st_s.collect()))
            for placement, strategy in gather_placements(monkeypatch):
                q_g, st_g, c_g = louvain_level(
                    _as_placed(edges, placement), fixed_cycles=fixed, strategy=strategy
                )
                assert sorted(map(key, st_g.collect())) == want
                assert c_g == c_s
                assert abs(q_g - q_s) < 1e-9


def test_louvain_q_counts_zero_weight_edge_vertices_on_both_tiers(spark, monkeypatch):
    """A vertex whose only edge weighs 0 but whose internal weight is
    positive has node_w == 0 yet still has an incident edge, so it is
    in the modularity sum on both tiers (the join kernel's msgs
    semijoin), and a fully-internal vertex with no edge is in neither."""
    from distributed_graph_analytics_spark.operators.louvain import (
        _louvain_level_with_internal,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 1), (4, 5, 2), (10, 11, 0)],
        "src long, dst long, weight long",
    )
    internal = spark.createDataFrame(
        [(1, 2), (10, 6), (11, 4), (20, 8)], "id long, internal_w long"
    )
    q_s, _, c_s = _louvain_level_with_internal(
        edges, internal, 1, 1, strategy="shuffle"
    )
    assert q_s > 0
    for _, strategy in gather_placements(monkeypatch):
        q_g, _, c_g = _louvain_level_with_internal(
            edges, internal, 1, 1, strategy=strategy
        )
        assert c_g == c_s
        assert abs(q_g - q_s) < 1e-12


def test_louvain_multilevel_auto_matches_shuffle(spark, monkeypatch):
    """Multi-level louvain() with auto dispatch (gather or in-process
    level kernels on these tiny graphs, by placement) reproduces the
    forced-shuffle level-0/final labels and per-level Q values."""
    from distributed_graph_analytics_spark.operators.louvain import louvain
    from tests import fixture_graphs as G
    from tests.conftest import edges_df

    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    want = louvain(edges, min_progress=1, strategy="shuffle")
    for placement, _ in gather_placements(monkeypatch):
        got = louvain(edges, min_progress=1)  # auto
        assert got.levels[0].kernel == ("gather" if placement == "spark" else "local")
        assert sorted(
            (r["id"], r["community"]) for r in got.level0.collect()
        ) == sorted((r["id"], r["community"]) for r in want.level0.collect())
        assert sorted(
            (r["id"], r["community"]) for r in got.final.collect()
        ) == sorted((r["id"], r["community"]) for r in want.final.collect())
        assert [round(l.q, 9) for l in got.levels] == [
            round(l.q, 9) for l in want.levels
        ]


def test_balanced_pid_values_match_spark_hash(spark):
    """The driver-side Murmur3 used to pre-balance the bucket exchange
    must agree bit-for-bit with Spark's F.hash on IntegerType — and
    the remap must land exactly one bucket per partition."""
    from pyspark.sql import functions as F

    from distributed_graph_analytics_spark.plans.gather import (
        _mm3_int32,
        balanced_pid_values,
    )

    rows = (
        spark.range(0, 512)
        .select(F.col("id").cast("int").alias("i"))
        .select("i", F.hash("i").alias("h"))
        .collect()
    )
    assert all(r["h"] == _mm3_int32(r["i"]) for r in rows)
    for n in (1, 2, 3, 4, 8, 32, 97):
        t = balanced_pid_values(n)
        assert [(_mm3_int32(v) % n) for v in t] == list(range(n))
