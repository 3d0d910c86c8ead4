"""Durable checkpoints with verified totals + metrics (resume point).

The reference persists cross-job state as HDFS text files and marker
files (HDFSLouvainRunner.scala:47-69 level checkpoints;
LouvainRunner.java:85-127 `_COMPLETE`/`_q_<n>` markers). Here the
equivalent is a parquet snapshot of the vertex-state DataFrame every k
iterations plus a JSON manifest carrying iteration number, driver
metrics, and two totals of the written rows — ``rows`` and
``value_hash`` (XOR-fold of per-row ``xxhash64``) — enough to (a)
resume mid-convergence and (b) refuse a checkpoint whose rows changed
since they were written. A DataFrame save is ONE Spark job: the
totals ride the write through ``Observation``. A ``pyarrow.Table``
save (state held in driver arrays) runs no Spark job: the table is
written as one parquet file in process and the same totals are
computed in numpy by a port of Spark's ``XxHash64`` (``_table_totals``),
which every resume re-checks against Spark's own hash. The totals are
order-independent, so they hold however a re-read partitions the rows;
per-partition entries would not (partition ids do not survive a
re-read).

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

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


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

    def save(
        self, name: str, state: DataFrame | pa.Table, iteration: int, metrics: dict
    ) -> str:
        """Persist ``state`` as iteration ``iteration`` of ``name`` and
        return its ``iter_N`` directory. A ``pyarrow.Table`` (driver
        arrays, no nulls; long, int, double and boolean columns) is
        written in process with no Spark job, except under ``catalog``,
        where it becomes a DataFrame for the snapshot commit."""
        path = self._dir(name, iteration)
        snapshot_id = None
        if isinstance(state, pa.Table) and self.catalog:
            state = self.spark.createDataFrame(state)
        if isinstance(state, pa.Table):
            totals, schema = _table_totals(state), _table_schema(state)
            # overwrite semantics of the DataFrame write: a second save
            # into the same iter_N leaves only its own rows
            data = os.path.join(path, "state")
            shutil.rmtree(data, ignore_errors=True)
            os.makedirs(data)
            pq.write_table(state, os.path.join(data, "part-00000.parquet"))
        else:
            # the totals ride the write itself: one Spark job per save
            obs = Observation()
            observed = state.observe(obs, *_totals(state.columns))
            if self.catalog:
                # one Iceberg-style table per state name: each iteration is
                # an atomic overwrite snapshot; the snapshot log IS the
                # iteration history and old iterations stay time-travelable
                snapshot_id = self._table(name).commit(observed, mode="overwrite")
                os.makedirs(path, exist_ok=True)
            else:
                observed.write.mode("overwrite").parquet(os.path.join(path, "state"))
            totals, schema = obs.get, state.schema.jsonValue()
        manifest = {
            "name": name,
            "iteration": iteration,
            "written_at": time.time(),
            "snapshot_id": snapshot_id,
            "metrics": _jsonable(metrics),
            "rows": totals["rows"],
            "value_hash": _hash_str(totals["value_hash"]),
            "schema": schema,
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


# Spark's XxHash64 (org.apache.spark.sql.catalyst.expressions.XXH64)
# on uint64 arrays, which wrap mod 2^64 as Java longs do
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
#: xxhash64(*cols)'s seed (Spark's XxHash64 default)
_XXHASH_SEED = 42
#: Double.doubleToLongBits of every NaN
_CANONICAL_NAN = np.uint64(0x7FF8000000000000)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(bits: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(bits * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_int(bits: np.ndarray, seed: np.ndarray) -> np.ndarray:
    # ``bits`` holds the int's unsigned 32-bit pattern (input & 0xFFFFFFFFL)
    h = seed + _P5 + np.uint64(4)
    h = h ^ (bits * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _double_bits(a: np.ndarray) -> np.ndarray:
    # Spark hashes -0.0 as 0.0, and doubleToLongBits folds every NaN
    # payload into the canonical NaN
    bits = np.where(a == 0.0, 0.0, a).view(np.uint64)
    return np.where(np.isnan(a), _CANONICAL_NAN, bits)


#: Arrow type of a driver-array column → (Spark type, its bits as
#: uint64, the XXH64 routine Spark's xxhash64 applies to it)
_ARROW_TYPES = {
    pa.int64(): (T.LongType(), lambda a: a.view(np.uint64), _hash_long),
    pa.int32(): (T.IntegerType(), lambda a: a.view(np.uint32).astype(np.uint64), _hash_int),
    pa.bool_(): (T.BooleanType(), lambda a: a.astype(np.uint64), _hash_int),
    pa.float64(): (T.DoubleType(), _double_bits, _hash_long),
}


def _arrow_type(table: pa.Table, name: str) -> tuple:
    field = table.schema.field(name)
    if field.type not in _ARROW_TYPES:
        raise TypeError(
            f"checkpoint column {name!r} has Arrow type {field.type}; a table "
            f"save takes {', '.join(map(str, _ARROW_TYPES))}"
        )
    if table.column(name).null_count:
        raise ValueError(f"checkpoint column {name!r} holds nulls; a table save takes none")
    return _ARROW_TYPES[field.type]


def _table_totals(table: pa.Table) -> dict:
    """``count(1)`` and ``bit_xor(xxhash64(*cols))`` of ``table``, equal
    to what Spark computes over the same rows (``_totals``)."""
    h = np.full(table.num_rows, _XXHASH_SEED, dtype=np.uint64)
    for name in table.column_names:
        _, bits, hash_fn = _arrow_type(table, name)
        h = hash_fn(bits(table.column(name).to_numpy()), h)
    value_hash = int(np.bitwise_xor.reduce(h).view(np.int64)) if len(h) else None
    return {"rows": table.num_rows, "value_hash": value_hash}


def _table_schema(table: pa.Table) -> dict:
    """The Spark schema JSON a DataFrame of ``table`` carries."""
    return T.StructType(
        [T.StructField(n, _arrow_type(table, n)[0], True) for n in table.column_names]
    ).jsonValue()


def _jsonable(d: dict) -> dict:
    out = {}
    for k, v in d.items():
        try:
            json.dumps(v)
            out[k] = v
        except TypeError:
            out[k] = str(v)
    return out
