"""Durable checkpoints with verified totals + metrics (resume point).

The reference persists cross-job state as HDFS text files and marker
files (HDFSLouvainRunner.scala:47-69 level checkpoints;
LouvainRunner.java:85-127 `_COMPLETE`/`_q_<n>` markers). Here the
equivalent is a parquet snapshot of the vertex-state DataFrame every k
iterations plus a JSON manifest carrying iteration number, driver
metrics, and two totals of the written rows — ``rows`` and
``value_hash`` (XOR-fold of per-row ``xxhash64``) — enough to (a)
resume mid-convergence and (b) refuse a checkpoint whose rows changed
since they were written. Each save is ONE Spark job: the totals ride
the write through ``Observation``. They are order-independent, so
they hold however a re-read partitions the rows; per-partition
entries would not (partition ids do not survive a re-read).

On a real cluster the writes target an Iceberg table (atomic snapshot
commit); parquet-per-iteration keeps the sandbox dependency-free while
exercising the identical write/read/verify path. ``catalog=True``
additionally routes each iteration's state through
``sources/catalog.py::SnapshotTable`` — the Iceberg-style table format
modeled over parquet — so every checkpoint is an atomic snapshot
commit (version-hint flipped last) on ONE table whose snapshot log is
the iteration history: the shape a real Iceberg deployment gives the
resume path.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, catalog: bool = False):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str, iteration: int) -> str:
        return os.path.join(self.root, name, f"iter_{iteration:06d}")

    def _table(self, name: str):
        from distributed_graph_analytics_spark.sources.catalog import SnapshotTable

        return SnapshotTable(os.path.join(self.root, name, "_table"))

    def save(self, name: str, state: DataFrame, iteration: int, metrics: dict) -> str:
        path = self._dir(name, iteration)
        # the totals ride the write itself: one Spark job per save
        obs = Observation()
        observed = state.observe(obs, *_totals(state.columns))
        snapshot_id = None
        if self.catalog:
            # one Iceberg-style table per state name: each iteration is
            # an atomic overwrite snapshot; the snapshot log IS the
            # iteration history and old iterations stay time-travelable
            snapshot_id = self._table(name).commit(observed, mode="overwrite")
            os.makedirs(path, exist_ok=True)
        else:
            observed.write.mode("overwrite").parquet(os.path.join(path, "state"))
        totals = obs.get
        manifest = {
            "name": name,
            "iteration": iteration,
            "written_at": time.time(),
            "snapshot_id": snapshot_id,
            "metrics": _jsonable(metrics),
            "rows": totals["rows"],
            "value_hash": _hash_str(totals["value_hash"]),
            "schema": state.schema.jsonValue(),
        }
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        # marker file last → a torn write is never latest (reference's
        # `_COMPLETE` marker discipline, LouvainRunner.java:67-71)
        with open(os.path.join(path, "_VALID"), "w") as f:
            f.write(str(iteration))
        return path

    def latest(self, name: str) -> tuple[str, int] | None:
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return None
        valid = sorted(
            d for d in os.listdir(base)
            if d.startswith("iter_") and os.path.exists(os.path.join(base, d, "_VALID"))
        )
        if not valid:
            return None
        it = int(valid[-1].split("_")[1])
        return os.path.join(base, valid[-1]), it

    def try_resume(self, name: str) -> tuple[DataFrame, int] | None:
        """Load the latest valid checkpoint, verifying its row count and
        value hash against the manifest totals."""
        found = self.latest(name)
        if found is None:
            return None
        path, iteration = found
        df, _manifest = self._load_verified(path)
        return df, iteration

    def try_resume_at(self, name: str, iteration: int) -> tuple[DataFrame, dict] | None:
        """Load one specific valid checkpoint; returns (df, manifest)."""
        path = self._dir(name, iteration)
        if not os.path.exists(os.path.join(path, "_VALID")):
            return None
        return self._load_verified(path)

    def _load_verified(self, path: str) -> tuple[DataFrame, dict]:
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
        if "value_hash" not in manifest:
            raise ValueError(
                f"checkpoint {path} has no row/hash totals (older manifest "
                "format); clear it and rerun"
            )
        if manifest.get("snapshot_id") is not None:
            # catalog mode: the manifest self-describes its snapshot, so
            # a resume reads the exact committed snapshot (time travel),
            # independent of later iterations' commits to the same table
            df = self._table(manifest["name"]).read(
                self.spark, snapshot_id=manifest["snapshot_id"]
            )
        else:
            df = self.spark.read.parquet(os.path.join(path, "state"))
        # hash the columns the save hashed: a catalog read may carry
        # columns a later commit added to the table
        cols = [f["name"] for f in manifest["schema"]["fields"]]
        got = df.select(*cols).agg(*_totals(cols)).first()
        want = (manifest["rows"], manifest["value_hash"])
        have = (got["rows"], _hash_str(got["value_hash"]))
        if have != want:
            raise ValueError(
                f"checkpoint {path} corrupt: manifest (rows, value_hash) "
                f"{want} != read {have}"
            )
        return df, manifest

    def clear(self, name: str) -> None:
        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)


def _totals(cols: list[str]) -> list:
    # XOR-fold of per-row hashes: order-independent and, unlike sum(),
    # can't hit ANSI-mode long overflow on big states
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*cols)).alias("value_hash"),
    ]


def _hash_str(h) -> str | None:
    # a string keeps all 64 bits exact in any JSON reader; None = no rows
    return None if h is None else str(h)


def _jsonable(d: dict) -> dict:
    out = {}
    for k, v in d.items():
        try:
            json.dumps(v)
            out[k] = v
        except TypeError:
            out[k] = str(v)
    return out
