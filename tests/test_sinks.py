"""Output-format parity (S6), Louvain level persistence/resume
(S10/S11), and HBSE run artifacts (S12)."""

import importlib
import math
import os

import pytest

from tests.conftest import edges_df
from tests import fixture_graphs as G
from tests.test_louvain import EXAMPLE9

from distributed_graph_analytics_spark.operators.hbse import hbse, save_hbse_run
from distributed_graph_analytics_spark.operators.louvain import louvain
from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager
from distributed_graph_analytics_spark.sinks import edge_lines, vertex_lines

gather_module = importlib.import_module("distributed_graph_analytics_spark.plans.gather")


@pytest.fixture()
def fmt_graph(spark):
    # DGAEdgeTDTOutputFormatTest.java:55-75 fixture: vertex 34
    # (value 10.43433333389) with edges → 12 (value 1) and → 6 (value 4)
    edges = spark.createDataFrame(
        [(34, 12, 1), (34, 6, 4)], "src long, dst long, weight long"
    )
    vv = spark.createDataFrame([(34, 10.43433333389)], "id long, value double")
    return edges, vv


def lines(df):
    return {r["value"] for r in df.collect()}


def test_edge_sink_default(spark, fmt_graph):
    edges, _ = fmt_graph
    assert lines(edge_lines(edges)) == {"34,12", "34,6"}


def test_edge_sink_edge_value_and_delimiter(spark, fmt_graph):
    # DGAEdgeTDTOutputFormatTest.java:88-100 golden "34:12:1"/"34:6:4"
    edges, _ = fmt_graph
    got = lines(edge_lines(edges, delimiter=":", write_edge_value=True))
    assert got == {"34:12:1", "34:6:4"}


def test_edge_sink_vertex_value(spark, fmt_graph):
    # :121-133 golden "34,12,10.43433333389"
    edges, vv = fmt_graph
    got = lines(edge_lines(edges, write_vertex_value=True, vertex_values=vv))
    assert got == {"34,12,10.43433333389", "34,6,10.43433333389"}


def test_edge_sink_both_values(spark, fmt_graph):
    # :148-170 goldens "34:12:10.43433333389:1" and comma twin
    edges, vv = fmt_graph
    got = lines(
        edge_lines(
            edges,
            delimiter=":",
            write_vertex_value=True,
            write_edge_value=True,
            vertex_values=vv,
        )
    )
    assert got == {"34:12:10.43433333389:1", "34:6:10.43433333389:4"}
    got2 = lines(
        edge_lines(
            edges, write_vertex_value=True, write_edge_value=True, vertex_values=vv
        )
    )
    assert got2 == {"34,12,10.43433333389,1", "34,6,10.43433333389,4"}


def test_vertex_sink(spark, fmt_graph):
    _, vv = fmt_graph
    assert lines(vertex_lines(vv, delimiter="\t")) == {"34\t10.43433333389"}


# ---- Louvain per-level checkpoints + resume (S10/S11) ----

def _label_sets(df):
    comm = {}
    for r in df.collect():
        comm.setdefault(r["community"], set()).add(r["id"])
    return {frozenset(v) for v in comm.values()}


def test_louvain_level_checkpoint_resume(spark, tmp_path, monkeypatch):
    edges = edges_df(spark, EXAMPLE9)
    ckpt = CheckpointManager(spark, str(tmp_path / "local"))
    # simulate a run killed right after level 0 completed + compressed
    partial = louvain(edges, max_levels=1, checkpoint_manager=ckpt)
    assert partial.resumed_from == -1
    assert ckpt.latest("louvain_vertices")[1] == 0
    assert ckpt.latest("louvain_mapping")[1] == 0
    assert ckpt.latest("louvain_level0")[1] == 0

    resumed = louvain(edges, checkpoint_manager=ckpt, resume=True)
    assert resumed.resumed_from == 0  # did NOT redo level 0
    # level 0's kernel comes back from the q-history (the default
    # budget places level 0 on the driver); the saved level-1 input
    # (one community pair) passes the size guard, so level 1 runs in
    # process
    assert [lv.kernel for lv in resumed.levels] == ["local", "local"]
    full = louvain(edges)
    assert [lv.kernel for lv in full.levels] == ["local", "local"]
    assert _label_sets(resumed.final) == _label_sets(full.final)
    assert _label_sets(resumed.level0) == _label_sets(full.level0)
    got_q = [(lv.level, round(lv.q, 9)) for lv in resumed.levels]
    want_q = [(lv.level, round(lv.q, 9)) for lv in full.levels]
    assert got_q == want_q
    # the last level's q-history audit covers every level of the
    # resumed run, and level 0 was saved once, not again per level
    _, manifest = ckpt.try_resume_at("louvain_vertices", resumed.levels[-1].level)
    rows = {(lv["level"], round(lv["q"], 9)) for lv in manifest["metrics"]["q_history"]}
    assert rows == set(want_q)
    assert ckpt.latest("louvain_level0")[1] == 0

    # with the in-process limit at 0 the same resume runs level 1 on
    # the DataFrame path, with the same results
    monkeypatch.setattr(gather_module, "_LOCAL_LEVEL_BYTES", 0)
    ckpt_df = CheckpointManager(spark, str(tmp_path / "frames"))
    louvain(edges, max_levels=1, checkpoint_manager=ckpt_df)
    resumed_df = louvain(edges, checkpoint_manager=ckpt_df, resume=True)
    assert resumed_df.resumed_from == 0
    assert [lv.kernel for lv in resumed_df.levels] == ["gather", "gather"]
    assert [(lv.level, lv.q, lv.cycles) for lv in resumed_df.levels] == [
        (lv.level, lv.q, lv.cycles) for lv in resumed.levels
    ]
    assert _label_sets(resumed_df.final) == _label_sets(full.final)
    assert _label_sets(resumed_df.level0) == _label_sets(full.level0)


def test_driver_placed_checkpoints_run_no_write_job(spark, tmp_path, monkeypatch):
    """An auto run on a driver-placed graph writes every checkpoint in
    process: the Spark parquet writer is never called, and each level
    leaves one valid vertices checkpoint."""
    import glob

    from pyspark.sql.readwriter import DataFrameWriter

    from distributed_graph_analytics_spark.operators.wcc import weakly_connected_components

    def no_job(*_a, **_k):
        raise AssertionError("Spark parquet write of a driver-array checkpoint")

    monkeypatch.setattr(DataFrameWriter, "parquet", no_job)
    edges = edges_df(spark, EXAMPLE9)
    ckpt = CheckpointManager(spark, str(tmp_path))
    res = louvain(edges, checkpoint_manager=ckpt)
    assert {lv.kernel for lv in res.levels} == {"local"}
    valid = glob.glob(str(tmp_path / "louvain_vertices" / "*" / "_VALID"))
    assert len(valid) == len(res.levels)
    for name in ("louvain_mapping", "louvain_next_edges", "louvain_next_internal", "louvain_level0"):
        assert ckpt.latest(name) is not None, name
    _, st = weakly_connected_components(edges, checkpoint_manager=ckpt)
    assert (st.placement, st.converged) == ("driver", True)
    assert ckpt.latest("wcc") is not None


def test_louvain_resume_without_checkpoint_is_fresh(spark, tmp_path):
    edges = edges_df(spark, EXAMPLE9)
    ckpt = CheckpointManager(spark, str(tmp_path))
    res = louvain(edges, checkpoint_manager=ckpt, resume=True)  # nothing saved yet
    assert res.resumed_from == -1
    assert math.isclose(res.levels[0].q, 0.4134948096885813, rel_tol=1e-9)


# ---- HBSE run artifacts (S12) ----

def test_hbse_run_artifacts(spark, tmp_path):
    btwn, top, stats = hbse(edges_df(spark, G.TWO_CLIQUES_BRIDGED), k=3)
    out = str(tmp_path / "hbse")
    save_hbse_run(out, btwn, top, stats, delimiter=":")
    # final_set.csv: stabilized top-K ids in order
    want_ids = [r["id"] for r in top.collect()]
    with open(os.path.join(out, "final_set.csv")) as f:
        got_ids = [int(x) for x in f.read().split()]
    assert got_ids == want_ids
    # stats.csv: the reference's key lines (incl. its 'supsersteps' key)
    with open(os.path.join(out, "stats.csv")) as f:
        kv = dict(line.split(": ") for line in f.read().strip().splitlines())
    assert set(kv) == {
        "k", "delta p", "cutoff", "counter", "pivots selected",
        "percent of graph selected", "supsersteps", "cycles", "run time",
    }
    assert int(kv["k"]) == 3
    assert int(kv["pivots selected"]) == stats.pivots_used
    assert int(kv["cycles"]) == stats.batches
    assert int(kv["supsersteps"]) == stats.supersteps > 0
    # betweenness: one id:value line per vertex
    import glob

    n_lines = 0
    for part in glob.glob(os.path.join(out, "betweenness", "part-*")):
        with open(part) as f:
            for line in f:
                vid, val = line.strip().split(":")
                int(vid), float(val)
                n_lines += 1
    assert n_lines == btwn.count()
