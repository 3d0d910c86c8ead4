"""Round-5 hardening pins (ADVICE r4 items):

- kcore gather CONVERGED checkpoints keep the cross-tier
  (id, core, changed) state shape, so a shuffle-tier run can resume
  from one;
- personalized PageRank's gather path honors
  checkpoint_manager/checkpoint_every (save + resume, cross-tier);
- fractional edge weights never silently truncate in the gather
  tier's int64 blob packs: auto dispatch routes them to the shuffle
  kernel, forced "gather" raises;
- closeness's auto dispatch scales the gather-tier broadcast budget
  by the pivot count (K·n, not n);
- ShuffleGraph.vertices() no longer forces the full in-pack build for
  out-only consumers;
- catalog manifests surface the count of data files without harvested
  bounds (pruning-selectivity observability).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import edges_df
from tests import fixture_graphs as G
from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager


def test_kcore_shuffle_resumes_from_gather_converged_checkpoint(spark, tmp_path):
    """The CONVERGED gather checkpoint must carry `changed` — a
    shuffle-tier resume filters on it (state.where("changed"))."""
    from distributed_graph_analytics_spark.operators.kcore import core_numbers

    path = [(i, i + 1) for i in range(100, 130)]
    clique = [(i, j) for i in range(1, 7) for j in range(i + 1, 7)]
    df = spark.createDataFrame(path + clique, ["src", "dst"])
    want = {
        (r["id"], r["core"])
        for r in core_numbers(df, strategy="shuffle")[0].collect()
    }
    d = str(tmp_path / "gather_converged")
    _, s1 = core_numbers(
        df,
        strategy="gather",
        checkpoint_manager=CheckpointManager(spark, d),
        checkpoint_every=3,
    )
    assert s1.converged
    # resume on the OTHER tier from the converged save: must not crash
    # on a missing `changed` column and must reproduce the cores
    res, s2 = core_numbers(
        df,
        strategy="shuffle",
        checkpoint_manager=CheckpointManager(spark, d),
    )
    assert {(r["id"], r["core"]) for r in res.collect()} == want


def test_ppr_gather_checkpoints_and_resumes(spark, tmp_path):
    from distributed_graph_analytics_spark.operators.pagerank import (
        personalized_pagerank,
    )

    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    sources = spark.createDataFrame([(1,)], "id long")
    want, _ = personalized_pagerank(
        edges, sources, epsilon=0.0, max_iterations=8, strategy="gather"
    )
    want = {r["id"]: r["rank"] for r in want.collect()}

    mgr = CheckpointManager(spark, str(tmp_path))
    _, s1 = personalized_pagerank(
        edges,
        sources,
        epsilon=0.0,
        max_iterations=4,
        checkpoint_manager=mgr,
        checkpoint_every=2,
        strategy="gather",
    )
    assert s1.iterations == 4
    assert mgr.latest("ppr") is not None

    resumed, s2 = personalized_pagerank(
        edges,
        sources,
        epsilon=0.0,
        max_iterations=8,
        checkpoint_manager=mgr,
        checkpoint_every=2,
        strategy="gather",
    )
    assert s2.iterations == 8
    got = {r["id"]: r["rank"] for r in resumed.collect()}
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])


def test_ppr_cross_tier_resume(spark, tmp_path):
    """Gather-tier ppr checkpoints carry the shuffle state's (id,
    rank, seed) shape, so either tier resumes the other's save."""
    from distributed_graph_analytics_spark.operators.pagerank import (
        personalized_pagerank,
    )

    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    sources = spark.createDataFrame([(1,), (2,)], "id long")
    want, _ = personalized_pagerank(
        edges, sources, epsilon=0.0, max_iterations=8, strategy="shuffle"
    )
    want = {r["id"]: r["rank"] for r in want.collect()}
    for first, second in (("gather", "shuffle"), ("shuffle", "gather")):
        d = str(tmp_path / f"{first}_{second}")
        personalized_pagerank(
            edges,
            sources,
            epsilon=0.0,
            max_iterations=4,
            checkpoint_manager=CheckpointManager(spark, d),
            checkpoint_every=2,
            strategy=first,
        )
        res, st = personalized_pagerank(
            edges,
            sources,
            epsilon=0.0,
            max_iterations=8,
            checkpoint_manager=CheckpointManager(spark, d),
            checkpoint_every=2,
            strategy=second,
        )
        assert st.iterations == 8
        got = {r["id"]: r["rank"] for r in res.collect()}
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, (first, second, v)


def _double_weight_edges(spark):
    rows = [(1, 2, 1.5), (2, 3, 2.5), (3, 1, 0.5), (1, 3, 1.0), (4, 1, 3.5)]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def test_fractional_weights_route_lpa_to_shuffle(spark):
    from distributed_graph_analytics_spark.operators.lpa import label_propagation

    edges = _double_weight_edges(spark)
    want = {
        (r["id"], r["label"])
        for r in label_propagation(edges, strategy="shuffle")[0].collect()
    }
    got = {
        (r["id"], r["label"])
        for r in label_propagation(edges, strategy="auto")[0].collect()
    }
    assert got == want
    # forced gather must fail loudly at the encode kernel, not truncate
    with pytest.raises(Exception, match="integral"):
        label_propagation(edges, strategy="gather")


def test_fractional_weights_route_weighted_pr_to_shuffle(spark):
    from distributed_graph_analytics_spark.operators.hits import weighted_pagerank

    edges = _double_weight_edges(spark)
    want = {
        r["id"]: r["rank"]
        for r in weighted_pagerank(edges, iterations=4, strategy="shuffle").collect()
    }
    got = {
        r["id"]: r["rank"]
        for r in weighted_pagerank(edges, iterations=4, strategy="auto").collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12
    with pytest.raises(Exception, match="integral"):
        weighted_pagerank(edges, strategy="gather")


def test_closeness_auto_cap_scales_by_pivots(spark, monkeypatch):
    """With K·n over the tier cap (but n under it), auto dispatch must
    take the shuffle kernel — the (K, n) broadcast matrix is K× the
    per-vector budget the bare |V| check models."""
    from distributed_graph_analytics_spark.operators import closeness as C

    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    n = (
        edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .distinct()
        .count()
    )
    want = {
        (r["id"], r["reached"], r["sum_dist"], round(r["harmonic"], 9))
        for r in C.closeness_centrality(
            edges, num_pivots=4, strategy="shuffle"
        ).collect()
    }
    # cap chosen so n fits (with gather_tier_applies' 0.9 margin) but
    # 4·n does not
    monkeypatch.setenv("SPARK_GRAFT_GATHER_MAX_V", str(2 * n))

    def boom(*a, **k):  # the gather path must NOT be taken
        raise AssertionError("gather tier chosen despite K*n over cap")

    monkeypatch.setattr(C, "_closeness_gather", boom)
    got = {
        (r["id"], r["reached"], r["sum_dist"], round(r["harmonic"], 9))
        for r in C.closeness_centrality(
            edges, num_pivots=4, strategy="auto"
        ).collect()
    }
    assert got == want


def test_shuffle_graph_vertices_without_in_pack(spark):
    """An out-only consumer gets the vertex set from one dst scan —
    the in pack must not be built as a side effect."""
    from distributed_graph_analytics_spark.plans.adjacency import ShuffleGraph

    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    sg = ShuffleGraph(edges)
    sg.out_adjacency()
    verts = {r["id"] for r in sg.vertices().collect()}
    want = {
        r["id"]
        for r in edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .distinct()
        .collect()
    }
    assert verts == want
    assert sg._in is None, "vertices() must not force the in-pack build"
    sg.release()


def test_shuffle_graph_vertices_with_in_pack_unchanged(spark):
    """Pipeline consumers (both packs built) still get the pack-derived
    O(|V|) key-scan vertex set."""
    from distributed_graph_analytics_spark.plans.adjacency import ShuffleGraph

    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    sg = ShuffleGraph(edges)
    sg.out_adjacency()
    sg.in_adjacency()
    verts = {r["id"] for r in sg.vertices().collect()}
    want = {
        r["id"]
        for r in edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .distinct()
        .collect()
    }
    assert verts == want
    sg.release()


def test_catalog_manifest_counts_files_without_bounds(spark, tmp_path):
    from distributed_graph_analytics_spark.sources.catalog import SnapshotTable

    root = str(tmp_path / "tbl")
    cat = SnapshotTable(root)
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    cat.commit(df)
    import json

    meta = cat._current_metadata()
    manifest = cat._manifest(meta["current_snapshot_id"])
    assert manifest["files_without_bounds"] == 0
    assert all(e["bounds"] for e in manifest["files"])


def test_catalog_file_entry_without_stats_is_unpruned_but_counted(
    spark, tmp_path
):
    """A parquet file written without statistics harvests no bounds —
    sound (never pruned) and now visible via the manifest count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_graph_analytics_spark.sources.catalog import SnapshotTable

    root = str(tmp_path / "tbl")
    cat = SnapshotTable(root)
    df = spark.range(10).select(F.col("id"))
    cat.commit(df)

    os.makedirs(cat.data_dir, exist_ok=True)
    name = "nostats.parquet"
    pq.write_table(
        pa.table({"id": list(range(50))}),
        os.path.join(cat.data_dir, name),
        write_statistics=False,
    )
    entry = cat._file_entry(name, df.schema)
    assert entry["rows"] == 50
    assert entry["bounds"] == {}


def test_fastdaemon_gating(monkeypatch):
    """fastdaemon is enabled only when this process launches the JVM:
    local master, not opted out, and no pre-existing spark-submit
    gateway (whose daemon would fail to import the module)."""
    from distributed_graph_analytics_spark.session import _fastdaemon_enabled

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_FAST_DAEMON", raising=False)
    assert _fastdaemon_enabled("local[4]")
    assert not _fastdaemon_enabled("yarn")
    monkeypatch.setenv("SPARK_GRAFT_FAST_DAEMON", "0")
    assert not _fastdaemon_enabled("local[4]")
    monkeypatch.delenv("SPARK_GRAFT_FAST_DAEMON", raising=False)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert not _fastdaemon_enabled("local[4]")


def test_fastdaemon_keeps_stock_setup_on_unknown_pyspark(monkeypatch):
    """The fast setup_spark_files reimplements one pyspark line's wire
    protocol: on any other version _install warns and leaves the stock
    function in place; on the known line it swaps the fast one in."""
    import pyspark
    import pyspark.worker as worker
    import pyspark.worker_util as wu

    def stock(infile):  # stands in for the installed function
        raise AssertionError("not called")

    # set before the import so teardown restores the real function
    # even though importing fastdaemon installs its variant
    monkeypatch.setattr(wu, "setup_spark_files", stock)
    monkeypatch.setattr(worker, "setup_spark_files", stock, raising=False)
    from distributed_graph_analytics_spark import fastdaemon

    monkeypatch.setattr(wu, "setup_spark_files", stock)
    monkeypatch.setattr(worker, "setup_spark_files", stock, raising=False)
    monkeypatch.setattr(pyspark, "__version__", "9.0.0")
    with pytest.warns(UserWarning, match="9.0.0"):
        fastdaemon._install()
    assert wu.setup_spark_files is stock
    assert worker.setup_spark_files is stock

    monkeypatch.setattr(pyspark, "__version__", fastdaemon._PROTOCOL_VERSION + "2")
    fastdaemon._install()
    assert wu.setup_spark_files is fastdaemon._setup_spark_files_fast
