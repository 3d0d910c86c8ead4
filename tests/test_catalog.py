"""Iceberg-style snapshot table (sources/catalog.py): commits, time
travel, metadata-layer pruning soundness + selectivity, torn-commit
invisibility, schema contract."""

import json
import os

import pytest
from pyspark.sql import functions as F

from distributed_graph_analytics_spark.sources.catalog import SnapshotTable


def _docs(spark, n=200, tag="a"):
    return spark.range(n).selectExpr(
        "id",
        f"concat('{tag}_', cast(id as string)) AS name",
        "CASE WHEN id % 5 = 0 THEN 'py' WHEN id % 5 = 1 THEN 'java' "
        "WHEN id % 5 = 2 THEN 'scala' WHEN id % 5 = 3 THEN 'go' "
        "ELSE 'rs' END AS lang",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_roundtrip(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = _docs(spark)
    t.commit(df, mode="append")
    assert _rows(t.read(spark)) == _rows(df)
    # append accumulates
    df2 = _docs(spark, tag="b").where("id < 50")
    t.commit(df2, mode="append")
    assert t.read(spark).count() == 250
    assert len(t.snapshots()) == 2


def test_overwrite_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(_docs(spark, n=100), mode="append")
    s2 = t.commit(_docs(spark, n=10, tag="new"), mode="overwrite")
    assert t.read(spark).count() == 10  # current = overwrite
    assert t.read(spark, snapshot_id=s1).count() == 100  # by id
    # as-of timestamp: between the two commits → first snapshot
    log = t.snapshots()
    assert [s["snapshot_id"] for s in log] == [s1, s2]
    mid = (log[0]["committed_at"] + log[1]["committed_at"]) / 2
    assert t.read(spark, as_of=mid).count() == 100
    with pytest.raises(ValueError):
        t.read(spark, as_of=log[0]["committed_at"] - 1)
    with pytest.raises(ValueError):
        t.read(spark, snapshot_id=123456)


def test_pruning_sound_and_selective(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    # cluster by lang → tight per-file bounds on the pruning column
    # (16 buckets: 5 langs rarely collide into fewer than 4 files)
    t.commit(
        _docs(spark, n=1000), mode="append", cluster_by=("lang",), num_files=16
    )
    full = _docs(spark, n=1000)
    for filters, sql in [
        ([("lang", "=", "py")], "lang = 'py'"),
        ([("id", "<", 100)], "id < 100"),
        ([("id", ">=", 990)], "id >= 990"),
        ([("lang", "=", "py"), ("id", "<=", 10)], "lang = 'py' AND id <= 10"),
    ]:
        got = t.read(spark, filters=filters)
        assert _rows(got) == _rows(full.where(sql)), filters
    # selectivity: the lang predicate must eliminate manifest entries
    kept, total = t.scan_files(filters=[("lang", "=", "py")])
    assert total >= 3 and kept < total
    # a no-op predicate keeps everything
    kept_all, _ = t.scan_files(filters=[("id", ">=", 0)])
    assert kept_all == total


def test_pruning_empty_result(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_docs(spark, n=50), mode="append")
    out = t.read(spark, filters=[("id", ">", 10_000)])
    assert out.count() == 0
    assert out.schema == _docs(spark, n=1).schema


def test_torn_commit_invisible(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(_docs(spark, n=30), mode="append")
    # simulate a commit that died after writing manifest+metadata but
    # before flipping the version hint: the reader must keep serving s1
    meta_dir = str(tmp_path / "t" / "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json")) as f:
        v1 = json.load(f)
    torn = dict(v1, version=2, current_snapshot_id=999)
    with open(os.path.join(meta_dir, "v2.metadata.json"), "w") as f:
        json.dump(torn, f)
    assert t.read(spark).count() == 30
    assert t.snapshots()[-1]["snapshot_id"] == s1


def test_schema_contract(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_docs(spark, n=10), mode="append")
    with pytest.raises(ValueError, match="schema change"):
        t.commit(spark.range(5), mode="append")
    # fresh read from a never-committed table
    with pytest.raises(FileNotFoundError):
        SnapshotTable(str(tmp_path / "missing")).read(spark)


def test_checkpoint_manager_catalog_mode(spark, tmp_path):
    """catalog=True routes vertex-state checkpoints through the
    snapshot table: atomic commits, row count and value hash recorded, and
    try_resume_at reads the exact committed snapshot even after later
    iterations overwrite the table (time travel on the resume path)."""
    from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path / "ckpt"), catalog=True)
    s1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, rank double")
    s2 = spark.createDataFrame([(1, 11.0), (2, 19.0)], "id long, rank double")
    cm.save("pr", s1, iteration=1, metrics={"max_delta": 0.5})
    cm.save("pr", s2, iteration=2, metrics={"max_delta": 0.1})

    df, it = cm.try_resume("pr")
    assert it == 2 and _rows(df) == _rows(s2)
    old, manifest = cm.try_resume_at("pr", 1)
    assert _rows(old) == _rows(s1)
    assert manifest["metrics"]["max_delta"] == 0.5
    assert manifest["snapshot_id"] is not None
    assert manifest["rows"] == 2
    assert manifest["value_hash"] == str(
        s1.agg(F.bit_xor(F.xxhash64("id", "rank"))).first()[0]
    )
    # the underlying table's snapshot log is the iteration history
    t = cm._table("pr")
    assert len(t.snapshots()) == 2


def test_repo_table_through_catalog(spark, tmp_path):
    """The input_hint ingest path over a cataloged repo table: commit
    the synthesized (repo,path,commit,lang,content) table, read one
    lang partition back with pruning, run the sha256 ingest pass."""
    from distributed_graph_analytics_spark.sources.repo_table import (
        ingest_repo_table,
        synthesize_repo_table,
    )

    repo = synthesize_repo_table(spark, "/root/testdata/sf0.001").limit(500)
    t = SnapshotTable(str(tmp_path / "repos"))
    t.commit(repo, mode="append", cluster_by=("lang",), num_files=16)
    scanned = t.read(spark, filters=[("lang", "=", "py")])
    ing = ingest_repo_table(scanned)
    rows = ing.select("lang", "content_sha256").collect()
    assert rows and all(r["lang"] == "py" and len(r["content_sha256"]) == 64 for r in rows)
    kept, total = t.scan_files(filters=[("lang", "=", "py")])
    assert kept < total


def test_incremental_read_appends_only(spark, tmp_path):
    """read_incremental returns exactly the rows appended after
    from_snapshot — the streaming-pipeline tail-read."""
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(_docs(spark, n=100, tag="a"), mode="append")
    s2 = t.commit(_docs(spark, n=40, tag="b"), mode="append")
    s3 = t.commit(_docs(spark, n=10, tag="c"), mode="append")
    # increment s1 -> current (s3): batches b and c only
    inc = t.read_incremental(spark, from_snapshot=s1)
    got_tags = {r["name"].split("_")[0] for r in inc.collect()}
    assert got_tags == {"b", "c"} and inc.count() == 50
    # bounded increment s1 -> s2: batch b only
    assert t.read_incremental(spark, s1, s2).count() == 40
    # empty increment
    assert t.read_incremental(spark, s3).count() == 0
    # metadata pruning applies to the added files
    pruned = t.read_incremental(spark, s1, filters=[("lang", "=", "py")])
    rows = pruned.collect()
    assert rows and all(r["lang"] == "py" for r in rows)


def test_incremental_read_refuses_overwrite_history(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(_docs(spark, n=50, tag="a"), mode="append")
    t.commit(_docs(spark, n=20, tag="b"), mode="overwrite")
    with pytest.raises(ValueError, match="overwrite"):
        t.read_incremental(spark, from_snapshot=s1)
    # and unknown / inverted ranges are rejected
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read_incremental(spark, from_snapshot=999)


def test_incremental_read_after_overwrite_restart(spark, tmp_path):
    """An overwrite starts a fresh lineage: increments WITHIN the
    post-overwrite appends still work."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_docs(spark, n=50, tag="a"), mode="append")
    s2 = t.commit(_docs(spark, n=20, tag="b"), mode="overwrite")
    t.commit(_docs(spark, n=5, tag="c"), mode="append")
    inc = t.read_incremental(spark, from_snapshot=s2)
    assert inc.count() == 5
    assert {r["name"].split("_")[0] for r in inc.collect()} == {"c"}


def test_additive_schema_evolution(spark, tmp_path):
    """New nullable columns may be added by a later commit; old files
    read back with nulls for the added column (no rewrite)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_docs(spark, n=30, tag="a"), mode="append")
    evolved = _docs(spark, n=10, tag="b").selectExpr(
        "id", "name", "lang", "cast(id * 2 as bigint) AS stars"
    )
    t.commit(evolved, mode="append")
    out = t.read(spark)
    assert out.columns == ["id", "name", "lang", "stars"]
    assert out.count() == 40
    by_tag = {
        r["name"].split("_")[0]: r["stars"] is None for r in out.collect()
    }
    assert by_tag == {"a": True, "b": False}
    # non-additive changes still refused
    with pytest.raises(ValueError, match="additive"):
        t.commit(_docs(spark, n=5).select("id", "name"), mode="append")
    with pytest.raises(ValueError, match="additive"):
        t.commit(
            _docs(spark, n=5).selectExpr("cast(id as int) id", "name", "lang"),
            mode="append",
        )


def test_compact_preserves_rows_and_prunability(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for tag in ("a", "b", "c"):
        t.commit(_docs(spark, n=50, tag=tag), mode="append",
                 cluster_by=("lang",), num_files=8)
    before = _rows(t.read(spark))
    _, total_before = t.scan_files()
    t.compact(spark, target_files=5)
    assert _rows(t.read(spark)) == before
    kept, total_after = t.scan_files(filters=[("lang", "=", "py")])
    assert total_after <= 5 < total_before
    assert kept < total_after  # cluster_by survived compaction


def test_expire_snapshots(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(_docs(spark, n=30, tag="a"), mode="append")
    t.commit(_docs(spark, n=20, tag="b"), mode="overwrite")
    s3 = t.commit(_docs(spark, n=10, tag="c"), mode="append")
    n_data_before = len(os.listdir(str(tmp_path / "t" / "data")))
    expired, deleted = t.expire_snapshots(keep_last=2)
    assert expired == 1 and deleted > 0
    # s1's files (not referenced by s2/s3) are gone from disk
    assert len(os.listdir(str(tmp_path / "t" / "data"))) == n_data_before - deleted
    # current read unaffected; expired snapshot no longer resolvable
    assert t.read(spark).count() == 30
    assert t.read(spark, snapshot_id=s3).count() == 30
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read(spark, snapshot_id=s1)
    # idempotent when nothing to expire
    assert t.expire_snapshots(keep_last=5) == (0, 0)


def test_time_travel_across_evolution(spark, tmp_path):
    """Reading a pre-evolution snapshot id under the evolved table
    schema yields nulls for the added column (Iceberg reads resolve
    columns by name against the current schema)."""
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.commit(_docs(spark, n=20, tag="a"), mode="append")
    t.commit(
        _docs(spark, n=10, tag="b").selectExpr(
            "id", "name", "lang", "id * 3 AS stars"
        ),
        mode="append",
    )
    old = t.read(spark, snapshot_id=s1)
    assert old.columns == ["id", "name", "lang", "stars"]
    rows = old.collect()
    assert len(rows) == 20 and all(r["stars"] is None for r in rows)
    # incremental read across the evolution sees only the new batch,
    # with its stars populated
    inc = t.read_incremental(spark, from_snapshot=s1).collect()
    assert len(inc) == 10 and all(r["stars"] == r["id"] * 3 for r in inc)
