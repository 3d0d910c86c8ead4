"""Broadcast-gather superstep tier: vectorized per-vertex kernels over a
key-sorted dense-id adjacency, with the O(|V|) state vector on the
driver.

The north star prescribes "a broadcast-or-shuffle hash join of messages
against a partitioned vertex-state DataFrame with vectorized
pandas/Arrow UDFs for per-vertex update kernels". This module is the
*broadcast* arm taken to its vectorized conclusion — the same shape as
MLlib's gradient loops (driver-held coefficient vector, broadcast each
iteration, partial aggregates streamed back).

Kernels. Every superstep kernel is a module-level array function
``f(keys, nbrs, wgts, state) -> (keys, partials)`` over key-sorted
(key, neighbor[, weight]) cid entries, declared as a :class:`Kernel`
with its merge: a ufunc with its identity (partials of one key combine
with it, so a key's run may split anywhere), or "whole key runs,
assign" for the non-mergeable per-key kernels (k-core's h-index, the
LPA and Louvain votes). :func:`run_kernel` is the one executor: it owns
the broadcast, the cross-batch carry of split key runs
(``_whole_key_runs``), the ``(kb, rb)`` partial rows and the driver
merge. The ``gather_*`` functions name the kernels for the operators.

Placement. :func:`resolve_tier` places a ``strategy="auto"`` graph:

- **driver**, when both directions of its edges fit
  ``_LOCAL_LEVEL_BYTES`` at ``_PAIR_BYTES`` each (the edge rows are
  counted in the HLL pre-check's aggregate, so the decision costs no
  job). ``GatherGraph.build_local`` collects the edge columns with one
  ``toArrow()``, the dictionary is an ``np.unique``, every adjacency is
  a key-sorted :class:`Pairs` of arrays, and each pass calls the array
  function once in process — no Spark job per superstep;
- **spark** otherwise, and always for a forced ``strategy="gather"``:
  the O(|E|) half stays distributed as CSR-style **blob chunks** —
  rows of ``(kb binary, vb binary[, wb binary])`` holding ~8k
  dictionary-encoded int32 pairs each, range-partitioned by key and
  sorted within each partition. Spark's row⇄Arrow bridge pays a
  per-ROW cost (76.5M two-int rows cost ~25 s per superstep at 4
  cores in conversion alone), and a ``collect_list`` pack pays an
  ObjectHashAggregate holding every group's growing array; a blob row
  crosses the bridge as one memcpy and numpy reads it back zero-copy.
  The build never aggregates in the JVM: one Arrow pass dictionary-
  encodes ids (``np.searchsorted`` against the broadcast sorted id
  vector) and range-buckets them into blobs, ONE exchange moves the
  buckets, and a second Arrow pass merge-sorts each bucket. Each
  superstep is one shuffle-free ``mapInArrow`` stage whose tasks
  return their partials as one blob row per Arrow batch.

Tier boundary: the broadcast vector costs 8·|V| bytes on every
executor, so the tier is capped at ``SPARK_GRAFT_GATHER_MAX_V``
vertices (default 2^25 ≈ 33.5M → 256 MB). Every operator that takes
``strategy`` decides its tier in :func:`resolve_tier`: above the cap
``strategy="auto"`` falls back to the shuffle-join kernels (plan shape
pinned by tests/test_adjacency_plan.py). Both tiers and both placements
produce identical results (pinned by tests/test_gather_tier.py and
tests/test_tier_seam.py).

Dense ids: vertex ids are dictionary-encoded once per job to [0, |V|):
cid IS the rank in the sorted id vector ``uniq``, so ``cid_of`` is a
searchsorted and ``orig_id`` is the vector itself. On Spark a JVM
``distinct`` collects the id set (the raw edges cross the row-Arrow
bridge once, in the encode pass); the second adjacency direction
derives from the first direction's blobs by a swap + re-bucket.

Skew: range bucketing by cid spreads hubs' *receiving* work across the
key space; a single hub's in-segment lives in one partition but is
processed as a streaming reduceat, and partials split across Arrow
batches merge driver-side. The bucket exchange emits pid values
pre-mapped through a driver-side Murmur3 (``balanced_pid_values``) so
it lands exactly one range bucket per shuffle partition.

Operators: PageRank, personalized PageRank, WCC, k-core and LPA run
their supersteps in ``plans/iteration.py::IterationController.run_gather``;
SSSP, HITS, weighted PageRank, leaf compression, closeness and the
Louvain levels (operators/louvain.py) call the kernels in their own
loops.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: broadcast-vector cap: 2^25 vertices = 256 MB of float64 per executor
DEFAULT_MAX_GATHER_VERTICES = 1 << 25

#: Arrow rows per batch when a gather pass reads RAW edge rows (the
#: session default of 10k would hand the numpy kernels crumbs)
RAW_BATCH_ROWS = 1 << 21

#: Arrow rows per batch when a pass reads blob rows (each blob row
#: carries CHUNK_EDGES edges, so 256 rows ≈ 2M edges ≈ 16 MB)
BLOB_BATCH_ROWS = 256

#: edges per blob chunk (64 KB of int32 per column)
CHUNK_EDGES = 1 << 13

#: byte budget under which a gather-tier graph (and a compressed
#: Louvain level) is held and run on driver arrays, at _PAIR_BYTES per
#: adjacency entry. Sized on 4 cores (local[4], 8 shuffle partitions):
#: one Louvain vote pass breaks even between Spark and in process near
#: 400k pairs (6 MB), and 16 MB admits passes up to ~2x a Spark pass
#: because a Spark placement also pays ~1 s of fixed jobs (dictionary,
#: blob exchange, result joins); BENCH/BASELINE.md records the
#: break-even of an h-index and a PageRank pass as well.
_LOCAL_LEVEL_BYTES = 16 << 20
_PAIR_BYTES = 16


def max_gather_vertices() -> int:
    return int(
        os.environ.get("SPARK_GRAFT_GATHER_MAX_V", str(DEFAULT_MAX_GATHER_VERTICES))
    )


def fits_driver(pairs: int) -> bool:
    """Whether ``pairs`` adjacency entries run on driver arrays (strict,
    so a budget of 0 keeps everything on Spark). Read at call time."""
    return pairs * _PAIR_BYTES < _LOCAL_LEVEL_BYTES


def integral_weight(df: DataFrame, col: str = "weight") -> bool:
    """True when ``col`` is an integral TYPE. The weighted packs store
    weights as int64, so a fractional weight value would be silently
    truncated — and the shuffle kernels sum the NATIVE value, breaking
    tier parity. Auto dispatchers use this static check to route
    fractional-TYPED weight columns to the shuffle tier without a data
    pass; a float-typed column whose VALUES are all integral still
    packs exactly (``_as_int64_weights`` verifies at run time and
    raises instead of truncating)."""
    from pyspark.sql import types as T

    return isinstance(
        df.schema[col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )


def _as_int64_weights(w: np.ndarray) -> np.ndarray:
    """Weight column → int64, REFUSING lossy casts: a float weight is
    accepted only when every value round-trips through int64 exactly.
    Truncation here would silently diverge from the shuffle kernels,
    which sum the native value (tier-parity contract)."""
    if w.dtype.kind in "iu":
        return w.astype(np.int64, copy=False)
    wi = w.astype(np.int64)
    if not np.array_equal(wi.astype(w.dtype), w):
        raise ValueError(
            "gather-tier weighted adjacency requires integral edge "
            "weights: int64 blob packing would truncate fractional "
            "values and silently diverge from the shuffle tier. Cast "
            "the weights to long, or use strategy='shuffle'."
        )
    return wi


def gather_tier_applies(edges: DataFrame) -> int | None:
    """Cheap pre-check for ``strategy="auto"``: is |V| under the tier
    cap? One aggregate-only scan (``approx_count_distinct``, HLL
    sketch — partial-agg, bytes through the exchange, nothing to the
    driver) with a 10% safety margin under the cap. Without this, auto
    dispatch would run ``GatherGraph.build``'s distinct+collect — an
    8·|V|-byte driver transfer that a 10^9-vertex graph turns into
    gigabytes — only to discard it above the cap. The same aggregate
    counts the edge endpoints (2 per edge row), which decide the
    placement. Returns that count under the cap, None above it."""
    row = (
        edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .agg(
            F.approx_count_distinct("id").alias("n"),
            F.count(F.lit(1)).alias("endpoints"),
        )
        .collect()[0]
    )
    return int(row["endpoints"]) if row["n"] <= int(0.9 * max_gather_vertices()) else None


STRATEGIES = ("auto", "gather", "shuffle")


def resolve_tier(
    edges: DataFrame,
    strategy: str,
    operator: str,
    *,
    gather_graph: GatherGraph | None = None,
    shuffle_graph=None,
    weight: str | None = None,
    per_vertex_vectors: int = 1,
    build=None,
) -> GatherGraph | None:
    """The tier and placement decision of every operator that takes
    ``strategy``: a GatherGraph to run the gather kernels on, or None
    for the shuffle tier. In order:

    1. an unknown ``strategy`` raises ``ValueError`` naming ``operator``;
    2. ``"shuffle"`` or a ``shuffle_graph`` → None, with no Spark job;
    3. a ``gather_graph`` is returned as is (the caller keeps it);
    4. ``"auto"`` with a fractional-typed ``weight`` column → None (the
       int64 packs would truncate; forced ``"gather"`` goes on and
       raises in ``_as_int64_weights``);
    5. ``"auto"`` runs the HLL pre-check before any dictionary is
       collected; its edge endpoint count places the graph on the
       driver when it ``fits_driver``, else on Spark. Forced
       ``"gather"`` always places it on Spark;
    6. ``build(edges, driver)`` (default: ``GatherGraph.build_local``
       on the driver, ``GatherGraph.build`` on Spark, looked up at call
       time), then the cap ``n · per_vertex_vectors ≤
       SPARK_GRAFT_GATHER_MAX_V`` — forced ``"gather"`` skips it.
    """
    if strategy not in STRATEGIES:
        raise ValueError(
            f"unknown {operator} strategy {strategy!r}; expected one of "
            f"{', '.join(STRATEGIES)}"
        )
    if strategy == "shuffle" or shuffle_graph is not None:
        return None
    if gather_graph is not None:
        return gather_graph
    forced = strategy == "gather"
    driver = False
    if not forced:
        if weight is not None and not integral_weight(edges, weight):
            return None
        endpoints = gather_tier_applies(edges)
        if endpoints is None:
            return None
        driver = fits_driver(endpoints)
    if build is not None:
        g = build(edges, driver)
    else:
        g = GatherGraph.build_local(edges) if driver else GatherGraph.build(edges)
    if forced or g.n * per_vertex_vectors <= max_gather_vertices():
        return g
    return None


@contextmanager
def arrow_batch(spark, rows: int):
    """Scoped spark.sql.execution.arrow.maxRecordsPerBatch (read at
    execution time, so it must wrap the ACTION, not the plan build)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(rows))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _col_np(batch, i):
    return batch.column(i).to_numpy(zero_copy_only=False)


def _concat_blobs(batch, col, dtype):
    """All binary cells of a column as one numpy array (zero-copy views
    of each cell, one concatenation)."""
    column = batch.column(col)
    parts = [np.frombuffer(column[i].as_buffer(), dtype=dtype) for i in range(len(column))]
    if not parts:
        return np.empty(0, dtype=dtype)
    return np.concatenate(parts) if len(parts) > 1 else parts[0]


def _cat(parts):
    return np.concatenate(parts) if len(parts) > 1 else parts[0]


def _mm3_int32(i: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of one IntegerType value (Murmur3 x86 32-bit,
    seed 42) — the hash `repartition(n, col)` routes by. Implemented
    from the public algorithm so bucket ids can be chosen DRIVER-SIDE
    to land one bucket per shuffle partition (verified bit-equal to
    ``F.hash`` by tests/test_gather_tier.py)."""
    M = 0xFFFFFFFF
    k1 = (i * 0xCC9E2D51) & M
    k1 = ((k1 << 15) | (k1 >> 17)) & M
    k1 = (k1 * 0x1B873593) & M
    h1 = (seed ^ k1) & M
    h1 = ((h1 << 13) | (h1 >> 19)) & M
    h1 = (h1 * 5 + 0xE6546B64) & M
    h1 ^= 4  # fmix with length 4 bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1  # as int32


_PID_REMAP_CACHE: dict[int, list[int]] = {}


def balanced_pid_values(n_part: int) -> list[int]:
    """pid values v[b] such that ``pmod(hash(v[b]), n_part) == b`` —
    one bucket per shuffle partition, EXACTLY. A plain
    ``repartition(n_part, "pid")`` of pids 0..n_part-1 is a
    balls-in-bins throw (Murmur3 collisions leave ~1/e of partitions
    empty and pile 2-4 buckets on others — measured per-task kernel
    skew [0.04, 0.04, 0.9, 1.9] s on a 4-partition x8 superstep), so
    the tier's parallelism was collision-bounded at every core count.
    Emitting remapped pid values makes the one bucket exchange land
    perfectly balanced, with zero extra jobs."""
    got = _PID_REMAP_CACHE.get(n_part)
    if got is not None:
        return got
    remap: dict[int, int] = {}
    v = 0
    while len(remap) < n_part:
        p = _mm3_int32(v) % n_part  # Python % is already non-negative
        if p not in remap:
            remap[p] = v
        v += 1
    table = [remap[b] for b in range(n_part)]
    _PID_REMAP_CACHE[n_part] = table
    return table


# ------------------------------------------------------------------ build


def _sort_pairs(k: np.ndarray, v: np.ndarray):
    """Sort (k, v) by k via ONE packed-int64 radix sort (np stable sort
    on ints): an argsort materializes an 8-byte index array and pays
    two random fancy-gathers to apply it — the pack is one sequential
    radix pass plus vectorized shifts, about half the memory traffic.
    Within a key's run this orders by v instead of input order: the
    gather reducers are commutative, so results differ only by float
    summation order (≤1e-14, inside the tier-parity pins)."""
    packed = (k.astype(np.int64) << 32) | v.astype(np.int64)
    packed.sort(kind="stable")
    return (packed >> 32).astype(np.int32), (packed & 0x7FFFFFFF).astype(np.int32)


def _sort(k, v, w=None, dedupe=False):
    """Key-sorted (k, v, w): the packed sort without weights, else a
    stable argsort (weights ride along). ``dedupe`` drops repeated
    (k, v) pairs of an unweighted table — the gather twin of the
    shuffle kernels' defensive ``distinct()``, needed by per-key
    multiset kernels (k-core's h-index counts each neighbor once)."""
    if w is not None:
        order = np.argsort(k, kind="stable")
        return k[order], v[order], w[order]
    k, v = _sort_pairs(k, v)
    if dedupe and len(k):
        keep = np.ones(len(k), dtype=bool)
        keep[1:] = (k[1:] != k[:-1]) | (v[1:] != v[:-1])
        k, v = k[keep], v[keep]
    return k, v, None


def _chunk_cells(a: np.ndarray) -> list[bytes]:
    """CHUNK_EDGES-sized blob cells of one array."""
    return [a[lo:lo + CHUNK_EDGES].tobytes() for lo in range(0, len(a), CHUNK_EDGES)]


def _blob_batches(cells, pids=None):
    """Record batches of BLOB_BATCH_ROWS blob rows: the parallel cell
    lists ``cells`` (kb, vb[, wb]), led by a ``pid`` column when
    ``pids`` gives one per row."""
    names = ["kb", "vb", "wb"][: len(cells)]
    if pids is not None:
        cells, names = [pids] + cells, ["pid"] + names
    for lo in range(0, len(cells[0]), BLOB_BATCH_ROWS):
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(c[lo:lo + BLOB_BATCH_ROWS], type=pa.int32() if name == "pid" else pa.binary())
                for c, name in zip(cells, names)
            ],
            names,
        )


def _emit_buckets(k, v, w, width: int, n_part: int):
    """Sort (k, v[, w]) by k, cut into range buckets (pid = k // width)
    and emit (pid, kb, vb[, wb]) blob rows for the bucket exchange. The
    pid VALUES are pre-mapped (``balanced_pid_values``) so the hash
    exchange lands exactly one bucket per partition."""
    cols = [c for c in _sort(k, v, w) if c is not None]
    pid_of = balanced_pid_values(n_part)
    bounds = np.concatenate(([0], np.searchsorted(cols[0], np.arange(1, n_part) * width), [len(k)]))
    pids, cells = [], [[] for _ in cols]
    for b in range(n_part):
        lo, hi = bounds[b], bounds[b + 1]
        if hi > lo:
            for out, c in zip(cells, cols):
                out.extend(_chunk_cells(c[lo:hi]))
            pids.extend([pid_of[b]] * (len(cells[0]) - len(pids)))
    yield from _blob_batches(cells, pids)


def _read_blobs(batches, first: int):
    """One partition of a blob table as concatenated (k, v[, w]) arrays
    (blob columns from index ``first``), or None when it is empty."""
    parts = [
        [
            _concat_blobs(b, i, np.int64 if i - first == 2 else np.int32)
            for i in range(first, b.num_columns)
        ]
        for b in batches
    ]
    cols = [_cat(list(c)) for c in zip(*parts)] if parts else None
    return cols if cols and len(cols[0]) else None


def _encode_bucket_fn(uniq_bc, n_part: int, directions):
    """Build pass A: dictionary-encode the raw (src, dst[, weight]) rows
    with one searchsorted per column, key each row once per
    ``directions`` entry ((key column, neighbor column): (1, 0) keys by
    dst, both entries emit both directions from the one raw pass), and
    cut the partition into range buckets emitted as blob rows. The
    buckets, not the edges, are what the one exchange moves."""

    def fn(batches):
        uniq = uniq_bc.value
        width = -(-len(uniq) // n_part) or 1  # ceil; >=1 guards n < n_part
        ks, vs, ws = [], [], []
        for batch in batches:
            ends = [np.searchsorted(uniq, _col_np(batch, i)).astype(np.int32) for i in (0, 1)]
            w = _as_int64_weights(_col_np(batch, 2)) if batch.num_columns > 2 else None
            for a, b in directions:
                ks.append(ends[a])
                vs.append(ends[b])
                if w is not None:
                    ws.append(w)
        if ks:
            yield from _emit_buckets(_cat(ks), _cat(vs), _cat(ws) if ws else None, width, n_part)

    return fn


def _rebucket_fn(n: int, n_part: int, swap: bool):
    """Re-bucket ALREADY-BUILT unweighted blobs of one direction,
    optionally swapping so the neighbor column becomes the key: a
    blob-speed re-shuffle of ~|E| already-encoded int32 pairs, with no
    second raw-edge bridge pass or dictionary encode."""
    width = -(-n // n_part) or 1

    def fn(batches):
        cols = _read_blobs(batches, 0)
        if cols is not None:
            k, v = cols[::-1] if swap else cols
            yield from _emit_buckets(k, v, None, width, n_part)

    return fn


def _merge_sort_fn(dedupe: bool = False):
    """Build pass B: concatenate the bucket's blob runs and sort once by
    key (see ``_sort``), emitting the partition's final sorted blob
    chunks."""

    def fn(batches):
        cols = _read_blobs(batches, 1)
        if cols is not None:
            yield from _blob_batches([_chunk_cells(c) for c in _sort(*cols, dedupe=dedupe) if c is not None])

    return fn


def _exchange(bucketed: DataFrame, n_part: int, rows: int, dedupe=False) -> DataFrame:
    """The one bucket exchange plus per-bucket merge-sort, checkpointed
    eagerly while Arrow batches hold ``rows`` input rows."""
    blobs = "kb binary, vb binary" + (", wb binary" if "wb" in bucketed.columns else "")
    out = bucketed.repartition(n_part, "pid").mapInArrow(_merge_sort_fn(dedupe), blobs)
    with arrow_batch(bucketed.sparkSession, rows):
        return out.localCheckpoint(eager=True)


@dataclass
class Pairs:
    """A driver-placed adjacency table: (key, neighbor[, weight]) cid
    arrays sorted by key — what a blob table holds, as one array run."""

    keys: np.ndarray
    nbrs: np.ndarray
    wgts: np.ndarray | None = None


def _local_pairs(k, v, w=None, dedupe=False) -> Pairs:
    return Pairs(*_sort(k, v, w, dedupe))


#: (key column, neighbor column) of each adjacency: 0 = src, 1 = dst
_IN, _OUT, _BOTH = ((1, 0),), ((0, 1),), ((0, 1), (1, 0))


@dataclass
class GatherGraph:
    """Dense-id view of an edge table.

    ``uniq``: sorted distinct original ids (int64) — cid IS the rank in
    this vector, so ``orig_id`` is ``uniq`` itself and ``cid_of`` is a
    searchsorted. ``pairs`` holds the encoded (src, dst, weight or
    None) edge arrays of a driver-placed graph (None on Spark); each
    adjacency method returns :class:`Pairs` then, else a blob table.
    Adjacency tables build lazily and are shared when one graph serves
    several operators over the same edges (the dictionary and the
    in-adjacency are built once).
    """

    edges: DataFrame
    uniq: np.ndarray
    n: int
    pairs: tuple | None = field(default=None, repr=False)
    _in_adj: DataFrame | Pairs | None = field(default=None, repr=False)
    _out_adj: DataFrame | Pairs | None = field(default=None, repr=False)
    _sym_adj: DataFrame | Pairs | None = field(default=None, repr=False)
    _sym_w_adj: DataFrame | Pairs | None = field(default=None, repr=False)
    _in_w_adj: DataFrame | Pairs | None = field(default=None, repr=False)
    _deg: np.ndarray | None = field(default=None, repr=False)

    @classmethod
    def build(cls, edges: DataFrame) -> "GatherGraph":
        """Spark placement: the id set through a JVM ``distinct``."""
        ids = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .toPandas()["id"]
            .to_numpy()
        )
        uniq = np.sort(ids) if len(ids) else ids.astype(np.int64)
        return cls(edges=edges, uniq=uniq, n=len(uniq))

    @classmethod
    def build_local(cls, edges: DataFrame) -> "GatherGraph":
        """Driver placement: one ``toArrow()`` collect of the edge
        columns and an ``np.unique`` dictionary (the same cids)."""
        cols = [c for c in ("src", "dst", "weight") if c in edges.columns]
        tbl = edges.select(*cols).toArrow()
        src, dst = (tbl.column(c).to_numpy().astype(np.int64, copy=False) for c in cols[:2])
        uniq, inv = np.unique(np.concatenate((src, dst)), return_inverse=True)
        inv = inv.astype(np.int32)
        w = tbl.column("weight").to_numpy() if len(cols) > 2 else None
        return cls(edges=edges, uniq=uniq, n=len(uniq), pairs=(inv[: len(src)], inv[len(src):], w))

    @property
    def placement(self) -> str:
        return "spark" if self.pairs is None else "driver"

    @property
    def orig_id(self) -> np.ndarray:
        return self.uniq

    def cid_of(self, ids: np.ndarray) -> np.ndarray:
        """Original id → cid, driver-side (checkpoint resume path)."""
        return np.searchsorted(self.uniq, ids).astype(np.int64)

    def _adjacency(self, directions, n_part: int, weighted=False, dedupe=False):
        """An adjacency of the raw edges keyed per ``directions``: driver
        arrays, or the Spark blob build (encode + bucket, one exchange,
        merge-sort per bucket)."""
        if weighted and "weight" not in self.edges.columns:
            raise ValueError("weighted gather adjacency needs a weight column")
        if self.pairs is not None:
            ends = self.pairs[:2]
            w = _as_int64_weights(self.pairs[2]) if weighted else None
            return _local_pairs(
                _cat([ends[a] for a, _ in directions]),
                _cat([ends[b] for _, b in directions]),
                _cat([w] * len(directions)) if weighted else None,
                dedupe,
            )
        cols = ["src", "dst"] + (["weight"] if weighted else [])
        return self._blob_table(self.edges.select(*cols), directions, n_part)

    def _blob_table(self, raw: DataFrame, directions, n_part: int) -> DataFrame:
        spark = self.edges.sparkSession
        blobs = "pid int, kb binary, vb binary" + (", wb binary" if len(raw.columns) > 2 else "")
        uniq_bc = spark.sparkContext.broadcast(self.uniq)
        try:
            return _exchange(
                raw.mapInArrow(_encode_bucket_fn(uniq_bc, n_part, directions), blobs),
                n_part,
                RAW_BATCH_ROWS,
            )
        finally:
            # blocks referencing the broadcast are materialized by the
            # eager checkpoint; the driver copy can go
            uniq_bc.destroy()

    def in_adjacency(self, n_part: int):
        """(k=receiver, v=sender), each key's run in exactly one
        partition, partitions sorted by k. PageRank gathers Σ w[v] per
        k here."""
        if self._in_adj is None:
            self._in_adj = self._adjacency(_IN, n_part)
        return self._in_adj

    def out_adjacency(self, n_part: int):
        """(k=sender, v=receiver). On Spark, when the in-adjacency is
        already built, derived from its blobs by a swap + re-bucket."""
        if self._out_adj is None:
            if self._in_adj is not None and self.pairs is None:
                self._out_adj = _exchange(
                    self._in_adj.mapInArrow(
                        _rebucket_fn(self.n, n_part, swap=True), "pid int, kb binary, vb binary"
                    ),
                    n_part,
                    BLOB_BATCH_ROWS,
                )
            else:
                self._out_adj = self._adjacency(_OUT, n_part)
        return self._out_adj

    def sym_adjacency_merged(self, n_part: int):
        """Both directions MERGED into one sorted, deduped table — each
        key's full undirected neighbor run contiguous in exactly one
        partition. Required by per-key multiset kernels (k-core's
        h-index needs every neighbor value of a key together, and counts
        each neighbor once — the shuffle twin's ``distinct()``). On
        Spark built from the in-adjacency blobs (identity + swap
        re-buckets through one exchange, merge-sort-dedupe per bucket)."""
        if self._sym_adj is None:
            if self.pairs is not None:
                self._sym_adj = self._adjacency(_BOTH, n_part, dedupe=True)
            else:
                base = self.in_adjacency(n_part)
                ident, swapped = (
                    base.mapInArrow(_rebucket_fn(self.n, n_part, swap), "pid int, kb binary, vb binary")
                    for swap in (False, True)
                )
                self._sym_adj = _exchange(ident.union(swapped), n_part, BLOB_BATCH_ROWS, dedupe=True)
        return self._sym_adj

    def sym_weighted_adjacency(self, n_part: int):
        """Both directions of the WEIGHTED edge table (k, v, w int64),
        each key's run contiguous in one partition. Requires a
        ``weight`` column (the canonical merged edge table). Serves the
        min-plus kernel (SSSP relaxation)."""
        if self._sym_w_adj is None:
            self._sym_w_adj = self._adjacency(_BOTH, n_part, weighted=True)
        return self._sym_w_adj

    def in_weighted_adjacency(self, n_part: int):
        """Directed in-keyed weighted entries (k=dst, v=src, w int64) —
        weighted PageRank's message gather side."""
        if self._in_w_adj is None:
            self._in_w_adj = self._adjacency(_IN, n_part, weighted=True)
        return self._in_w_adj

    def receiver_weighted_adjacency(self, view: DataFrame, n_part: int):
        """Weighted entries keyed by the RECEIVER over a caller-supplied
        (u receiver, v neighbor, w) view (e.g. LPA's merged undirected
        vote view), each key's run contiguous in one partition. Not
        cached (the view is operator-specific); a driver-placed graph
        collects the view with one ``toArrow()``."""
        if self.pairs is not None:
            tbl = view.select("u", "v", "w").toArrow()
            u, v = (np.searchsorted(self.uniq, tbl.column(c).to_numpy()).astype(np.int32) for c in "uv")
            return _local_pairs(u, v, _as_int64_weights(tbl.column("w").to_numpy()))
        raw = view.select(F.col("v").alias("src"), F.col("u").alias("dst"), F.col("w").alias("weight"))
        return self._blob_table(raw, _IN, n_part)

    def sym_adjacency(self, n_part: int):
        """Both directions, parallel edges NOT deduped (max/min/sum
        merges absorb duplicates): on Spark a narrow union of the two
        sorted blob tables (per-partition sortedness survives)."""
        if self.pairs is not None:
            return self._adjacency(_BOTH, n_part)
        return self.in_adjacency(n_part).union(self.out_adjacency(n_part))

    def out_degree(self, n_part: int) -> np.ndarray:
        """float64[n] out-degrees: neighbor counts over the
        in-adjacency (no JVM aggregation)."""
        if self._deg is None:
            self._deg = run_kernel(self.in_adjacency(n_part), None, NBR_SUMS, self.n).astype(np.float64)
        return self._deg

    def release(self) -> None:
        """Drop references; localCheckpoint blocks are freed by the
        ContextCleaner after the next periodic GC."""
        self._in_adj = self._out_adj = self._sym_adj = None
        self._sym_w_adj = self._in_w_adj = None
        self._deg = None


# --------------------------------------------------------------- executor


@dataclass(frozen=True)
class Kernel:
    """A superstep kernel: ``fn(keys, nbrs, wgts, state) -> (keys,
    partials)`` over key-sorted entries (``wgts`` None on unweighted
    tables; returned keys distinct within one call), and its merge —
    ``ufunc`` combines the partials of one key from ``identity``, so a
    key's run may split anywhere; ``ufunc=None`` means whole key runs
    whose partials are assigned (keys without a run keep
    ``identity``)."""

    fn: Callable
    dtype: type
    identity: object
    ufunc: np.ufunc | None = None
    key_dtype: type = np.int32


def _batch_runs(batches):
    """(keys, nbrs, wgts) of each non-empty Arrow batch of a blob table."""
    for batch in batches:
        keys = _concat_blobs(batch, 0, np.int32)
        if len(keys):
            yield (
                keys,
                _concat_blobs(batch, 1, np.int32),
                _concat_blobs(batch, 2, np.int64) if batch.num_columns > 2 else None,
            )


def _whole_key_runs(batches):
    """``_batch_runs`` with every key's run whole: the tail run of each
    Arrow batch carries into the next and flushes at iterator end (keys
    never span partitions on a range-bucketed table), so a kernel that
    is not partial-mergeable stays one shuffle-free pass."""
    pend = None
    for arrs in _batch_runs(batches):
        if pend is not None:
            arrs = tuple(a if a is None else np.concatenate((p, a)) for p, a in zip(pend, arrs))
        keys = arrs[0]
        cut = np.flatnonzero(keys != keys[-1])
        cut = int(cut[-1]) + 1 if len(cut) else 0
        pend = tuple(a if a is None else a[cut:] for a in arrs)
        if cut:
            yield tuple(a if a is None else a[:cut] for a in arrs)
    if pend is not None:
        yield pend


def _pass_fn(kernel: Kernel, state_bc):
    """mapInArrow fn of one Spark pass: one (kb, rb) partial row per
    Arrow batch (per whole-run group for assign kernels)."""

    def fn(batches):
        state = state_bc.value
        runs = _batch_runs(batches) if kernel.ufunc is not None else _whole_key_runs(batches)
        for keys, nbrs, wgts in runs:
            k, r = kernel.fn(keys, nbrs, wgts, state)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([k.astype(kernel.key_dtype, copy=False).tobytes()], type=pa.binary()),
                    pa.array([np.asarray(r, dtype=kernel.dtype).tobytes()], type=pa.binary()),
                ],
                ["kb", "rb"],
            )

    return fn


def run_kernel(adj, state, kernel: Kernel, n):
    """One pass of ``kernel`` over an adjacency with ``state``: one call
    on driver :class:`Pairs`, or one ``mapInArrow`` job over a blob
    table (``state`` broadcast, partial rows collected). Partials merge
    into ``np.full(n, identity)`` — ``n`` may be a shape whose last
    axis is the vertex — or, with ``n=None``, into (sorted distinct
    keys, Σ partials)."""
    if isinstance(adj, Pairs):
        parts = [kernel.fn(adj.keys, adj.nbrs, adj.wgts, state)] if len(adj.keys) else []
    else:
        spark = adj.sparkSession
        state_bc = spark.sparkContext.broadcast(state)
        try:
            with arrow_batch(spark, BLOB_BATCH_ROWS):
                pdf = adj.mapInArrow(_pass_fn(kernel, state_bc), "kb binary, rb binary").toPandas()
        finally:
            state_bc.destroy()
        parts = [
            (np.frombuffer(kb, dtype=kernel.key_dtype), np.frombuffer(rb, dtype=kernel.dtype))
            for kb, rb in zip(pdf["kb"], pdf["rb"])
        ]
    if n is None:
        empty = np.zeros(0, dtype=np.int64)
        return sum_by_key(
            np.concatenate([empty] + [k for k, _ in parts]),
            np.concatenate([empty] + [r for _, r in parts]).astype(kernel.dtype),
        )
    out = np.full(n, kernel.identity, dtype=kernel.dtype)
    for k, r in parts:
        r = np.reshape(r, out.shape[:-1] + (len(k),))
        out[..., k] = r if kernel.ufunc is None else kernel.ufunc(out[..., k], r)
    return out


# ---------------------------------------------------------------- kernels


def _starts(keys: np.ndarray) -> np.ndarray:
    """Start index of each run of equal (sorted) keys."""
    return np.concatenate((np.zeros(1, dtype=np.int64), np.flatnonzero(keys[1:] != keys[:-1]) + 1))


def nbr_sum(keys, nbrs, wgts, w):
    """Σ w[nbr] per key."""
    s = _starts(keys)
    return keys[s], np.add.reduceat(w[nbrs], s)


def nbr_max(keys, nbrs, wgts, w):
    s = _starts(keys)
    return keys[s], np.maximum.reduceat(w[nbrs], s)


def nbr_min(keys, nbrs, wgts, w):
    s = _starts(keys)
    return keys[s], np.minimum.reduceat(w[nbrs], s)


def hindex(keys, nbrs, wgts, state):
    """Per dirty key, the h-index of the capped neighbor values
    ``min(w[nbr], w[key])`` over the key's whole run: order values
    descending, then H = max_i min(value_i, i+1) — one packed sort +
    reduceat, no per-row Python. ``state`` is (w, changed): a key is
    dirty when at least one neighbor has ``changed`` set (the
    Montresor et al. frontier — estimates only fall, so a clean key's
    H is its old value); clean keys are left out of the result."""
    w, changed = state
    s = _starts(keys)
    dirty = np.logical_or.reduceat(changed[nbrs], s)
    if not dirty.all():
        keep = np.repeat(dirty, np.diff(np.concatenate((s, [len(keys)]))))
        keys, nbrs = keys[keep], nbrs[keep]
        if not len(keys):
            return keys, np.zeros(0, dtype=np.int64)
    vals = np.minimum(w[nbrs], w[keys])
    # (key asc, val desc) via ONE packed int64 radix sort (~4x a
    # lexsort): capped vals are < n <= 2^25 (deduped degree bound under
    # the tier cap) and keys < 2^25, so key<<31 | (2^31-1 - val) is
    # exact and collision-free
    packed = (keys.astype(np.int64) << 31) | (0x7FFFFFFF - vals.astype(np.int64))
    packed.sort(kind="stable")
    sk = (packed >> 31).astype(np.int32)
    sv = 0x7FFFFFFF - (packed & 0x7FFFFFFF)
    s = _starts(sk)
    counts = np.diff(np.concatenate((s, [len(sk)])))
    ranks = np.arange(len(sk), dtype=np.int64) - np.repeat(s, counts)
    return sk[s], np.maximum.reduceat(np.minimum(sv, ranks + 1), s)


_SSSP_INF = 1 << 62


def min_plus(keys, nbrs, wgts, d):
    """Per key, min over (nbr, weight) of ``d[nbr] + weight`` — one
    Bellman-Ford relaxation; unreached neighbors carry the _SSSP_INF
    sentinel and are masked out."""
    cand = d[nbrs]
    cand = np.where(cand < _SSSP_INF, cand + wgts, _SSSP_INF)
    s = _starts(keys)
    return keys[s], np.minimum.reduceat(cand, s)


def weighted_sum(keys, nbrs, wgts, q):
    """Σ q[nbr]·weight per key."""
    s = _starts(keys)
    return keys[s], np.add.reduceat(q[nbrs] * wgts, s)


def rank_msgs(keys, nbrs, wgts, state):
    """Σ rank[nbr]·w / sw[nbr] per key — the weighted-PageRank message
    sum, with the shuffle kernel's per-term order ((rank·w)/sw)."""
    rank, sw = state
    s = _starts(keys)
    return keys[s], np.add.reduceat(rank[nbrs] * wgts / sw[nbrs], s)


def min_rows(keys, nbrs, wgts, D):
    """Column-wise min of the (K, n) matrix ``D[:, nbr]`` per key — K
    multi-source BFS vectors in one pass."""
    s = _starts(keys)
    return keys[s], np.minimum.reduceat(D[:, nbrs], s, axis=1)


def nbr_sums(keys, nbrs, wgts, _state):
    """Σ weight (1 per entry when unweighted) per NEIGHBOR, exact int64."""
    return sum_by_key(nbrs, np.ones(len(nbrs), dtype=np.int64) if wgts is None else wgts)


def key_sums(keys, nbrs, wgts, _state):
    """Σ weight per key."""
    s = _starts(keys)
    return keys[s], np.add.reduceat(wgts, s)


_LPA_NONE = -(1 << 62)


def lpa_votes(keys, nbrs, wgts, L):
    """Per key, the neighbor label with (max Σ vote weight, then max
    label) — LPA's deterministic tie-break, over whole key runs."""
    lab = L[nbrs]
    order = np.lexsort((lab, keys))
    sk, sl, sw = keys[order], lab[order], wgts[order]
    gstart = np.concatenate(
        (np.zeros(1, dtype=np.int64), np.flatnonzero((sk[1:] != sk[:-1]) | (sl[1:] != sl[:-1])) + 1)
    )
    votes = np.add.reduceat(sw, gstart)
    gkey, glab = sk[gstart], sl[gstart]
    kstart = _starts(gkey)
    counts = np.diff(np.concatenate((kstart, [len(gkey)])))
    maxv = np.maximum.reduceat(votes, kstart)
    cand = np.where(votes == np.repeat(maxv, counts), glab, _LPA_NONE)
    return gkey[kstart], np.maximum.reduceat(cand, kstart)


def louvain_best(keys, nbrs, wgts, state):
    """Per-key Louvain best-community argmax over receiver-keyed
    weighted entries in which every key's run is whole (any order);
    ``state`` is (comm, sigma, k_vec, internal, M). For each key i and
    each distinct neighbor community c: w_to = Σ edge weight into c,
    then the m-scaled integer ΔQ of the shuffle kernel
    (operators/louvain.py::_best_community — LouvainCore.scala:253-267
    semantics):

        k_i    = node_w[i] + internal_w[i]
        k_i_in = w_to (+ internal_w[i] when c == community[i])
        σ      = sigma[c] (− k_i when c == community[i])
        ΔQ     = 0 when (c == cur and σ == 0) else k_i_in·M − k_i·σ

    Candidates need ΔQ > 0; the winner is max (ΔQ, then community) —
    the exact integer arithmetic and the (dq, comm) struct-max
    tie-break of the shuffle kernel, so trajectories are identical
    (the caller guards against int64 overflow: max_k·M < 2^62).
    One packed sort orders the entries by (key, community); the
    winner then falls out of two segmented max reductions over each
    key's run of groups (max ΔQ, then max community among the groups
    that reach it), with no second sort. Returns (distinct keys,
    winner — _LPA_NONE where no candidate has ΔQ > 0)."""
    comm, sigma, k_vec, internal, M = state
    lab = comm[nbrs]
    # (key, community) group order via ONE packed int64 argsort (both
    # are cids < 2^25 under the tier cap, so key<<31 | lab is exact)
    packed = (keys.astype(np.int64) << 31) | lab
    order = np.argsort(packed, kind="stable")
    sk, sl, sw = keys[order], lab[order], wgts[order]
    gb = np.flatnonzero((sk[1:] != sk[:-1]) | (sl[1:] != sl[:-1])) + 1
    gstart = np.concatenate((np.zeros(1, dtype=np.int64), gb))
    w_to = np.add.reduceat(sw, gstart)
    gkey = sk[gstart]
    glab = sl[gstart]
    cur = comm[gkey]
    is_cur = glab == cur
    ki = k_vec[gkey]
    kiin = np.where(is_cur, w_to + internal[gkey], w_to)
    sig = np.where(is_cur, sigma[glab] - ki, sigma[glab])
    dq = kiin * M - ki * sig
    dq = np.where(is_cur & (sig == 0), 0, dq)
    # gkey is sorted: each key's groups form one run
    kstart = _starts(gkey)
    counts = np.diff(np.concatenate((kstart, [len(gkey)])))
    maxdq = np.repeat(np.maximum.reduceat(dq, kstart), counts)
    cand = np.where((dq == maxdq) & (dq > 0), glab, _LPA_NONE)
    return gkey[kstart], np.maximum.reduceat(cand, kstart)


def louvain_own_weight(keys, nbrs, wgts, comm):
    """Per key run: Σ weight of the entries whose neighbor shares the
    key's community — Louvain's k_i_in term for the modularity sum."""
    s = _starts(keys)
    return keys[s], np.add.reduceat(np.where(comm[nbrs] == comm[keys], wgts, 0), s)


#: low 31 bits of a packed (community << 31 | community) pair key
PAIR_MASK = (1 << 31) - 1


def sum_by_key(keys: np.ndarray, w: np.ndarray):
    """(sorted distinct keys, Σ w per key): one sort + ``reduceat``."""
    if len(keys) == 0:
        return keys, w
    order = np.argsort(keys, kind="stable")
    k, w = keys[order], w[order]
    s = _starts(k)
    return k[s], np.add.reduceat(w, s)


def louvain_relabel_pairs(keys, nbrs, wgts, comm):
    """Louvain compression of receiver-keyed weighted entries that
    carry each merged edge once per direction: relabel both ends to
    their community and keep the entries with comm[k] ≤ comm[v] as the
    packed int64 key ``comm[k] << 31 | comm[v]``, summing weights per
    key. A cross-community edge survives in exactly one direction (the
    reference's (min, max) re-key); an intra-community edge survives in
    both, so the diagonal keys ``c << 31 | c`` carry the reference's
    ×2 internal weight (compressGraph, LouvainCore.scala:273-342)."""
    ck = comm[keys]
    cv = comm[nbrs]
    keep = ck <= cv
    return sum_by_key((ck[keep] << 31) | cv[keep], wgts[keep])


_I64 = np.iinfo(np.int64)
SUM = Kernel(nbr_sum, np.float64, 0.0, np.add)
MAX = Kernel(nbr_max, np.int64, _I64.min, np.maximum)
MIN = Kernel(nbr_min, np.int64, _I64.max, np.minimum)
HINDEX = Kernel(hindex, np.int64, _I64.max)
MIN_PLUS = Kernel(min_plus, np.int64, _SSSP_INF, np.minimum)
WEIGHTED_SUM = Kernel(weighted_sum, np.float64, 0.0, np.add)
RANK_MSGS = Kernel(rank_msgs, np.float64, 0.0, np.add)
#: unreached-distance sentinel for multi-source BFS matrices
_BFS_INF = 1 << 62
MIN_ROWS = Kernel(min_rows, np.int64, _BFS_INF, np.minimum)
NBR_SUMS = Kernel(nbr_sums, np.int64, 0, np.add)
KEY_SUMS = Kernel(key_sums, np.int64, 0, np.add)
LPA_VOTES = Kernel(lpa_votes, np.int64, _LPA_NONE)
LOUVAIN_VOTES = Kernel(louvain_best, np.int64, _LPA_NONE)
OWN_WEIGHT = Kernel(louvain_own_weight, np.int64, 0, np.add)
RELABEL = Kernel(louvain_relabel_pairs, np.int64, 0, np.add, key_dtype=np.int64)


# The operators call these names, looked up at call time. ``adj`` is
# any adjacency a GatherGraph returns; results are per-vertex vectors.


def gather_sum(adj, w: np.ndarray, n: int) -> np.ndarray:
    """Σ w[v] per key → float64[n] (zeros for keys without entries)."""
    return run_kernel(adj, w, SUM, n)


def gather_extreme(adj, w: np.ndarray, n: int, minimum: bool = False) -> np.ndarray:
    """max (or min) of w[v] per key → int64[n]; keys without entries
    keep the reducer's identity."""
    return run_kernel(adj, w, MIN if minimum else MAX, n)


def gather_hindex(adj, w: np.ndarray, changed: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """One k-core superstep over a MERGED sym adjacency
    (``sym_adjacency_merged``), scoring only the keys with a neighbor
    whose ``changed`` flag is set: per such key k,
    ``min(w[k], H({min(w[u], w[k]) : u in N(k)}))``; every other key
    keeps w. Returns (int64[n], number of keys scored)."""
    h = run_kernel(adj, (w, changed), HINDEX, n)
    return np.minimum(w, h), int(np.count_nonzero(h != HINDEX.identity))


def gather_min_plus(adj, d: np.ndarray, n: int) -> np.ndarray:
    """One SSSP relaxation over ``sym_weighted_adjacency``:
    ``min(d[k], min over (u, w) in N(k) of d[u] + w)`` — int64[n] with
    the _SSSP_INF sentinel for unreached vertices."""
    return np.minimum(d, run_kernel(adj, d, MIN_PLUS, n))


def gather_weighted_sum(adj, q: np.ndarray, n: int) -> np.ndarray:
    """Σ q[u]·w over each key's weighted entries → float64[n]."""
    return run_kernel(adj, q, WEIGHTED_SUM, n)


def gather_in_weight_sums(adj, n: int) -> np.ndarray:
    """int64[n] out-weight sums (Σ w over out-edges per vertex) from the
    in-keyed weighted entries — weighted PageRank's denominator."""
    return run_kernel(adj, None, NBR_SUMS, n)


def gather_weighted_rank_msgs(adj, rank: np.ndarray, sw: np.ndarray, n: int) -> np.ndarray:
    """One weighted-PageRank superstep over ``in_weighted_adjacency``:
    per key, ``Σ over in-edges (u, w) of rank[u]·w / sw[u]`` —
    float64[n]. ``sw`` is never read for vertices without out-edges."""
    return run_kernel(adj, (rank, sw.astype(np.float64)), RANK_MSGS, n)


def gather_min_rows(adj, D: np.ndarray, n: int) -> np.ndarray:
    """(K, n) int64 in, (K, n) RAW per-key neighbor minima out (keys
    without entries hold _BFS_INF). K-source BFS is then
    ``D' = min(D, where(minima < _BFS_INF, minima + 1, _BFS_INF))``."""
    return run_kernel(adj, D, MIN_ROWS, D.shape)


def gather_lpa_votes(adj, L: np.ndarray, n: int) -> np.ndarray:
    """One LPA voting superstep over ``receiver_weighted_adjacency``:
    per key the winning neighbor label — int64[n], _LPA_NONE for keys
    without entries (callers keep the old label there)."""
    return run_kernel(adj, L, LPA_VOTES, n)


def gather_louvain_votes(adj, comm, sigma, k_vec, internal, m_total: int, n: int) -> np.ndarray:
    """One Louvain move-candidate superstep (``louvain_best``) — int64[n],
    _LPA_NONE for keys with no positive-ΔQ candidate or no entries."""
    return run_kernel(adj, (comm, sigma, k_vec, internal, np.int64(m_total)), LOUVAIN_VOTES, n)


def gather_own_comm_weight(adj, comm: np.ndarray, n: int) -> np.ndarray:
    """int64[n]: per key, Σ weight of entries whose neighbor shares the
    key's community."""
    return run_kernel(adj, comm, OWN_WEIGHT, n)


def gather_louvain_relabel(adj, comm: np.ndarray):
    """A finished Louvain level's compressed (packed community pair,
    Σ weight) table, diagonal keys included (``louvain_relabel_pairs``)
    — O(communities²) bytes at most back through the collect."""
    return run_kernel(adj, comm, RELABEL, None)


def gather_key_weight_sums(adj, n: int) -> np.ndarray:
    """int64[n] per-key weight sums — Louvain's node weight when the
    view carries both directions."""
    return run_kernel(adj, None, KEY_SUMS, n)


def frame(spark, table: pa.Table) -> DataFrame:
    """DataFrame of a driver-built Arrow table, coalesced to
    ``spark.sql.shuffle.partitions``: ``createDataFrame`` makes one
    partition per 10,000-row Arrow batch, so a 2^25-vertex result would
    otherwise reach its callers as ~3,400 partitions."""
    out = spark.createDataFrame(table)
    return out.coalesce(int(spark.conf.get("spark.sql.shuffle.partitions")))


def vector_table(orig_id: np.ndarray, values: np.ndarray, name: str, dtype: str) -> pa.Table:
    """(id LONG, <name> <dtype>) Arrow table of driver vectors (``dtype``
    "long" or "double"): the state a checkpoint saves without a Spark
    job, and through :func:`vector_to_df` the tier's result."""
    np_type = {"long": np.int64, "double": np.float64}[dtype]
    return pa.table({"id": np.asarray(orig_id, np.int64), name: np.asarray(values, np_type)})


def vector_to_df(
    spark, orig_id: np.ndarray, values: np.ndarray, name: str, dtype: str
) -> DataFrame:
    """(id LONG, <name> <dtype>) DataFrame from driver vectors — the
    tier's exit back to the public DataFrame contract."""
    return frame(spark, vector_table(orig_id, values, name, dtype))
