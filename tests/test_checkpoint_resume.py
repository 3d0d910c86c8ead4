import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager
from distributed_graph_analytics_spark.operators.pagerank import pagerank
from tests.conftest import edges_df
from tests import fixture_graphs as G


def test_save_manifest_and_resume(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, rank double")
    path = mgr.save("t", df, 7, {"max_delta": 0.5})
    manifest = json.load(open(os.path.join(path, "manifest.json")))
    assert manifest["iteration"] == 7
    assert manifest["rows"] == 100
    want_hash = df.agg(F.bit_xor(F.xxhash64("id", "rank"))).first()[0]
    assert manifest["value_hash"] == str(want_hash)
    resumed, it = mgr.try_resume("t")
    assert it == 7
    assert sorted(map(tuple, resumed.collect())) == sorted(map(tuple, df.collect()))


def test_resume_picks_latest_valid(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    df = spark.createDataFrame([(1, 1.0)], "id long, rank double")
    mgr.save("t", df, 5, {})
    mgr.save("t", df, 10, {})
    # a torn write (no _VALID marker) must be ignored
    os.makedirs(os.path.join(str(tmp_path), "t", "iter_000015"), exist_ok=True)
    _, it = mgr.try_resume("t")
    assert it == 10


def test_corrupt_checkpoint_detected(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    df = spark.createDataFrame([(i, 0.0) for i in range(10)], "id long, rank double")
    path = mgr.save("t", df, 1, {})
    manifest = json.load(open(os.path.join(path, "manifest.json")))
    manifest["rows"] += 5
    json.dump(manifest, open(os.path.join(path, "manifest.json"), "w"))
    with pytest.raises(ValueError, match="corrupt"):
        mgr.try_resume("t")


def _rewrite_one_value(data_files: list[str]) -> None:
    """Change the rank of one row in the first non-empty parquet file,
    keeping its row count. The local filesystem's .crc sidecar goes
    too, so the read reaches the rows (object stores keep none)."""
    for f in data_files:
        table = pq.read_table(f)
        if table.num_rows:
            ranks = table.column("rank").to_pylist()
            ranks[0] += 1.0
            i = table.schema.get_field_index("rank")
            table = table.set_column(i, table.schema.field(i), pa.array(ranks))
            pq.write_table(table, f)
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            return
    raise AssertionError("no rows written")


def test_changed_row_with_same_count_refused(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    df = spark.createDataFrame([(i, float(i)) for i in range(20)], "id long, rank double")
    path = mgr.save("t", df, 3, {})
    _rewrite_one_value(sorted(glob.glob(os.path.join(path, "state", "*.parquet"))))
    with pytest.raises(ValueError, match="corrupt"):
        mgr.try_resume("t")


def test_catalog_checkpoint_hash_verified(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path), catalog=True)
    df = spark.createDataFrame([(i, float(i)) for i in range(20)], "id long, rank double")
    mgr.save("t", df, 1, {})
    resumed, _ = mgr.try_resume("t")
    assert resumed.count() == 20
    data = os.path.join(str(tmp_path), "t", "_table", "data", "*.parquet")
    _rewrite_one_value(sorted(glob.glob(data)))
    with pytest.raises(ValueError, match="corrupt"):
        mgr.try_resume("t")


def test_empty_state_roundtrip(spark, tmp_path):
    mgr = CheckpointManager(spark, str(tmp_path))
    empty = spark.createDataFrame([], "id long, rank double")
    path = mgr.save("t", empty, 0, {})
    manifest = json.load(open(os.path.join(path, "manifest.json")))
    assert (manifest["rows"], manifest["value_hash"]) == (0, None)
    resumed, it = mgr.try_resume("t")
    assert it == 0
    assert resumed.count() == 0
    assert resumed.columns == ["id", "rank"]


def test_pagerank_resumes_mid_convergence(spark, tmp_path):
    """north rule: jobs resume mid-convergence from checkpoint."""
    edges = edges_df(spark, G.TWO_CLIQUES_BRIDGED)
    # full run for the golden result
    full, _ = pagerank(edges)
    want = {r["id"]: r["rank"] for r in full.collect()}

    # phase 1: stop after 4 iterations, checkpointing every 2
    mgr = CheckpointManager(spark, str(tmp_path))
    partial, stats1 = pagerank(
        edges, max_iterations=4, checkpoint_manager=mgr, checkpoint_every=2
    )
    assert stats1.iterations == 4
    assert mgr.latest("pagerank") is not None

    # phase 2: fresh invocation resumes from the checkpoint, not iter 0
    resumed, stats2 = pagerank(edges, checkpoint_manager=mgr, checkpoint_every=2)
    got = {r["id"]: r["rank"] for r in resumed.collect()}
    assert stats2.iterations > 4  # continued from the checkpointed iteration
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def test_kcore_resumes_mid_convergence(spark, tmp_path):
    from distributed_graph_analytics_spark.operators.kcore import core_numbers

    # a path: degree-2 interior but core 1 — the correction sweeps in
    # from the endpoints one hop per round, so convergence takes ~n/2
    # rounds and a 1-round checkpoint genuinely resumes mid-flight
    path = [(i, i + 1) for i in range(1, 12)]
    edges = edges_df(spark, path)
    full, full_stats = core_numbers(edges)
    want = {(r["id"], r["core"]) for r in full.collect()}
    assert full_stats.iterations > 2

    mgr = CheckpointManager(spark, str(tmp_path))
    _, s1 = core_numbers(
        edges, max_iterations=1, checkpoint_manager=mgr, checkpoint_every=1
    )
    assert s1.iterations == 1
    resumed, s2 = core_numbers(
        edges, checkpoint_manager=mgr, checkpoint_every=1
    )
    assert {(r["id"], r["core"]) for r in resumed.collect()} == want


def test_kcore_cross_tier_resume(spark, tmp_path):
    """A kcore run checkpointed on one tier resumes on the other (both
    directions): the saved (id, core, changed) state is the shared
    contract, and the resumed run converges to the full-run coreness."""
    from distributed_graph_analytics_spark.operators.kcore import core_numbers
    from distributed_graph_analytics_spark.plans.checkpoint import (
        CheckpointManager,
    )

    path = [(i, i + 1) for i in range(100, 140)]
    clique = [(i, j) for i in range(1, 7) for j in range(i + 1, 7)]
    df = spark.createDataFrame(path + clique, ["src", "dst"])
    want = {
        (r["id"], r["core"])
        for r in core_numbers(df, strategy="shuffle")[0].collect()
    }
    for first, second in (("gather", "shuffle"), ("shuffle", "gather")):
        d = str(tmp_path / f"{first}_{second}")
        core_numbers(
            df,
            strategy=first,
            checkpoint_manager=CheckpointManager(spark, d),
            checkpoint_every=3,
            max_iterations=5,
        )
        res, st = core_numbers(
            df,
            strategy=second,
            checkpoint_manager=CheckpointManager(spark, d),
        )
        assert {(r["id"], r["core"]) for r in res.collect()} == want
        assert st.iterations == 21
