"""Broadcast-gather superstep tier: vectorized per-vertex kernels over a
partitioned blob-chunked adjacency, with the O(|V|) state vector
broadcast per superstep.

The north star prescribes "a broadcast-or-shuffle hash join of messages
against a partitioned vertex-state DataFrame with vectorized
pandas/Arrow UDFs for per-vertex update kernels". This module is the
*broadcast* arm taken to its vectorized conclusion — the same shape as
MLlib's gradient loops (driver-held coefficient vector, broadcast each
iteration, partial aggregates streamed back):

- the O(|E|) half stays distributed as CSR-style **blob chunks**: rows
  of ``(kb binary, vb binary)`` holding ~8k dictionary-encoded int32
  (key, neighbor) pairs each, range-partitioned by key and sorted
  within each partition. Why blobs: Spark's row⇄Arrow bridge pays a
  per-ROW cost, so 76.5M two-int rows cost ~25 s per superstep at 4
  cores just in conversion (measured — the v2 flat-row design), and a
  ``collect_list`` array pack pays an ObjectHashAggregate holding every
  group's growing array in per-task hash maps (v1: the pack dominated
  the whole job, 206s/68.6s at 76.5M edges with 10-21% GC). A blob row
  crosses the bridge as one memcpy; numpy reads it back zero-copy with
  ``np.frombuffer``. ~9k rows carry 76.5M edges;
- the adjacency build never aggregates in the JVM: one Arrow pass
  dictionary-encodes ids (``np.searchsorted`` against the broadcast
  sorted id vector) and range-buckets them into per-bucket blobs, ONE
  exchange moves those blobs (a shuffle of ~thousands of fat rows, not
  |E| skinny ones), and a second Arrow pass merge-sorts each bucket;
- the O(|V|) half (one float64/int64 per vertex) is broadcast as a raw
  numpy vector — ~8 bytes/vertex, NOT a per-row HashedRelation (a
  per-superstep broadcast join rebuilt a driver-side hash relation of
  Rows at ~5 s/iteration; a pickled 10 MB ndarray ships in ~10s of ms);
- each superstep is ONE shuffle-free stage: mapInArrow streams the
  blob chunks, ``reduceat`` over the run boundaries computes every
  vertex's message reduction vectorized (no per-row Python), and each
  task returns its partials as ONE blob row — the whole superstep
  moves O(|V|) bytes through one Arrow collect. Message reduction that
  the shuffle tier does in a groupBy+exchange costs zero exchanges and
  zero per-row bridging here.

Tier boundary (the 100 TB honesty): the broadcast vector costs
8·|V| bytes on every executor, so the tier is capped at
``SPARK_GRAFT_GATHER_MAX_V`` vertices (default 2^25 ≈ 33.5M → 256 MB —
comfortably inside one executor, far below what a 10^12-edge /
10^9-vertex graph would need). Every operator that takes ``strategy``
decides its tier in one place, :func:`resolve_tier`: above the cap
``strategy="auto"`` falls back to the shuffle-join kernels (plan shape
pinned by tests/test_adjacency_plan.py). Both tiers produce identical
results (pinned by tests/test_gather_tier.py).

Dense ids: gather indexes numpy vectors, so vertex ids are dictionary-
encoded once per job to [0, |V|): a JVM ``distinct`` (map-side partial
aggregation — only ~|V| rows reach the exchange, and the raw edges
never cross the row-Arrow bridge for this) collects the id set, the
driver sorts it, and cid IS the rank in that sorted vector, so
``cid_of`` is a searchsorted and ``orig_id`` is the vector itself.
An Arrow per-partition ``np.unique`` variant was probed and REJECTED:
it pays a full raw-edge bridge pass (~25s/4 cores at 76.5M edges) on
top of the one pass A already pays — the whole build's dominant cost
is exactly that bridge, so it must be paid once, not twice. The second
adjacency direction never re-reads the raw edges either: it derives
from the first direction's blobs by a swap + re-bucket
(``_swap_bucket_fn``).

Skew: range bucketing by cid spreads hubs' *receiving* work across the
key space like any key partitioning; a single hub's in-segment lives in
one partition but is processed as a streaming reduceat, not a hash map,
and partials split across Arrow batches merge driver-side — no
single-row array materialization anywhere.

Kernels served (round 4): associative reductions (``gather_sum`` /
``gather_extreme`` / ``gather_min_plus`` / ``gather_weighted_rank_msgs``
/ ``gather_min_rows`` — partials merge driver-side with the same
ufunc, batch splits are free) power PageRank, personalized PageRank,
WCC, SSSP, HITS, weighted PageRank, leaf compression and closeness;
NON-mergeable per-key kernels (``gather_hindex`` for k-core,
``gather_lpa_votes`` for LPA, ``gather_louvain_votes`` for the Louvain
move phase) ride the MERGED single-table adjacencies (each key's run
contiguous in one partition) with a cross-batch tail carry inside the
pass. Eleven entry points reach these kernels through
``resolve_tier``, all parity-pinned by tests/test_gather_tier.py.
PageRank, personalized PageRank, WCC, k-core and LPA run their
supersteps in one driver loop,
``plans/iteration.py::IterationController.run_gather``.
``gather_louvain_relabel`` compresses a finished Louvain level in one
more pass; the per-batch array functions (``louvain_best``,
``louvain_own_weight``, ``louvain_relabel_pairs``) also run the later,
compressed levels in the driver process (operators/louvain.py).

Placement (round 5): the bucket exchange emits pid values pre-mapped
through a driver-side Murmur3 (``balanced_pid_values``) so the hash
repartition lands exactly one range bucket per shuffle partition —
a plain ``repartition(n_part, "pid")`` is a balls-in-bins throw that
left ~1/e of partitions empty and the tier collision-bounded at every
core count.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field

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


def max_gather_vertices() -> int:
    return int(
        os.environ.get("SPARK_GRAFT_GATHER_MAX_V", str(DEFAULT_MAX_GATHER_VERTICES))
    )


def integral_weight(df: DataFrame, col: str = "weight") -> bool:
    """True when ``col`` is an integral TYPE. The weighted blob packs
    store weights as int64, so a fractional weight value would be
    silently truncated — and the shuffle kernels sum the NATIVE value,
    breaking tier parity. Auto dispatchers use this static check to
    route fractional-TYPED weight columns to the shuffle tier without
    a data pass; a float-typed column whose VALUES are all integral
    (common in ad-hoc test data) still packs exactly — the encode
    kernel (``_as_int64_weights``) verifies value-integrality at run
    time and raises instead of truncating."""
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


def gather_tier_applies(edges: DataFrame) -> bool:
    """Cheap pre-check for ``strategy="auto"``: is |V| under the tier
    cap? Uses one aggregate-only scan (``approx_count_distinct``, HLL
    sketch — partial-agg, bytes through the exchange, nothing to the
    driver) with a 10% safety margin under the cap. Without this, auto
    dispatch would run ``GatherGraph.build``'s distinct+collect — an
    8·|V|-byte driver transfer that a 10^9-vertex graph turns into
    gigabytes — only to discard it above the cap. The margin makes the
    5%-rsd sketch conservative; a graph that slips through marginally
    over the cap still runs correctly (the broadcast vector is just a
    few % larger than the cap's budget)."""
    approx_n = (
        edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .agg(F.approx_count_distinct("id").alias("n"))
        .collect()[0]["n"]
    )
    return approx_n <= int(0.9 * max_gather_vertices())


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
    """The tier decision of every operator that takes ``strategy``: a
    GatherGraph to run the gather kernel on, or None for the shuffle
    tier. In order:

    1. an unknown ``strategy`` raises ``ValueError`` naming ``operator``;
    2. ``"shuffle"`` or a ``shuffle_graph`` → None, with no Spark job;
    3. a ``gather_graph`` is returned as is (the caller keeps it);
    4. ``"auto"`` with a fractional-typed ``weight`` column → None (the
       int64 blob packs would truncate; forced ``"gather"`` goes on and
       raises in ``_as_int64_weights``);
    5. ``"auto"`` runs the HLL pre-check before any dictionary is
       collected;
    6. ``build(edges)`` (default ``GatherGraph.build``), then the cap:
       ``n · per_vertex_vectors ≤ SPARK_GRAFT_GATHER_MAX_V`` — forced
       ``"gather"`` skips it.
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
    if not forced and (
        (weight is not None and not integral_weight(edges, weight))
        or not gather_tier_applies(edges)
    ):
        return None
    g = (build or GatherGraph.build)(edges)
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


def _blob_np(cell, dtype):
    """Zero-copy numpy view of one binary cell (pyarrow scalar)."""
    return np.frombuffer(cell.as_buffer(), dtype=dtype)


def _concat_blobs(batch, col, dtype):
    """All binary cells of a column as one numpy array."""
    column = batch.column(col)
    parts = [_blob_np(column[i], dtype) for i in range(len(column))]
    if not parts:
        return np.empty(0, dtype=dtype)
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
    the gather tier's parallelism was collision-bounded at every core
    count. Emitting remapped pid values makes the one bucket exchange
    land perfectly balanced, with zero extra jobs (the hash is
    computed driver-side)."""
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


def _chunk_rows(k: np.ndarray, v: np.ndarray, extra=None):
    """Slice two parallel arrays into CHUNK_EDGES-sized blob rows."""
    pids, kbs, vbs = [], [], []
    for lo in range(0, len(k), CHUNK_EDGES):
        sl = slice(lo, lo + CHUNK_EDGES)
        kbs.append(k[sl].tobytes())
        vbs.append(v[sl].tobytes())
        if extra is not None:
            pids.append(extra)
    return pids, kbs, vbs


def _encode_bucket_fn(uniq_bc, key_is_dst: bool, n_part: int):
    """Build pass A: dictionary-encode the raw (src, dst) rows with one
    searchsorted per column, sort the partition by the key cid, and cut
    it into range buckets (pid = key // bucket_width) emitted as blob
    rows. The buckets, not the edges, are what the one exchange moves."""

    def fn(batches):
        uniq = uniq_bc.value
        n = len(uniq)
        width = -(-n // n_part) or 1  # ceil; >=1 guards n < n_part
        ks, vs = [], []
        for batch in batches:
            src = np.searchsorted(uniq, _col_np(batch, 0)).astype(np.int32)
            dst = np.searchsorted(uniq, _col_np(batch, 1)).astype(np.int32)
            ks.append(dst if key_is_dst else src)
            vs.append(src if key_is_dst else dst)
        if not ks:
            return
        k = np.concatenate(ks) if len(ks) > 1 else ks[0]
        v = np.concatenate(vs) if len(vs) > 1 else vs[0]
        yield from _emit_buckets(k, v, width, n_part)

    return fn


def _sort_pairs(k: np.ndarray, v: np.ndarray):
    """Sort (k, v) by k via ONE packed-int64 radix sort (np stable sort
    on ints): an argsort materializes an 8-byte index array and pays
    two random fancy-gathers to apply it — the pack is one sequential
    radix pass plus vectorized shifts, about half the memory traffic,
    which is what the 4-concurrent-task build legs are bound by. Within
    a key's run this orders by v instead of input order: the gather
    reducers (sum/max/min) are commutative, so results differ only by
    float summation order (≤1e-14, inside the tier-parity pins)."""
    packed = (k.astype(np.int64) << 32) | v.astype(np.int64)
    packed.sort(kind="stable")
    return (packed >> 32).astype(np.int32), (packed & 0x7FFFFFFF).astype(np.int32)


def _emit_buckets(k: np.ndarray, v: np.ndarray, width: int, n_part: int):
    """Sort (k, v) by k, cut into range buckets (pid = k // width), and
    emit (pid, kb, vb) blob rows batched for the bucket exchange. The
    emitted pid VALUES are pre-mapped (``balanced_pid_values``) so the
    hash exchange lands exactly one bucket per partition."""
    k, v = _sort_pairs(k, v)
    pid_of = balanced_pid_values(n_part)
    # bucket boundaries in the sorted key array
    cuts = np.searchsorted(k, np.arange(1, n_part) * width)
    pids_all, kbs_all, vbs_all = [], [], []
    for pid, (lo, hi) in enumerate(
        zip(np.concatenate(([0], cuts)), np.concatenate((cuts, [len(k)])))
    ):
        if hi > lo:
            _, kbs, vbs = _chunk_rows(k[lo:hi], v[lo:hi])
            pids_all.extend([pid_of[pid]] * len(kbs))
            kbs_all.extend(kbs)
            vbs_all.extend(vbs)
    for lo in range(0, len(kbs_all), BLOB_BATCH_ROWS):
        sl = slice(lo, lo + BLOB_BATCH_ROWS)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(pids_all[sl], type=pa.int32()),
                pa.array(kbs_all[sl], type=pa.binary()),
                pa.array(vbs_all[sl], type=pa.binary()),
            ],
            ["pid", "kb", "vb"],
        )


def _chunk_rows_weighted(k, v, w):
    """Slice three parallel arrays into CHUNK_EDGES-sized blob rows."""
    kbs, vbs, wbs = [], [], []
    for lo in range(0, len(k), CHUNK_EDGES):
        sl = slice(lo, lo + CHUNK_EDGES)
        kbs.append(k[sl].tobytes())
        vbs.append(v[sl].tobytes())
        wbs.append(w[sl].tobytes())
    return kbs, vbs, wbs


def _emit_buckets_weighted(k, v, w, width: int, n_part: int):
    """Weighted twin of _emit_buckets: stable-sort by key (weights
    ride along), cut into range buckets, emit (pid, kb, vb, wb) with
    the same balanced pid-value remap."""
    order = np.argsort(k, kind="stable")
    k, v, w = k[order], v[order], w[order]
    pid_of = balanced_pid_values(n_part)
    cuts = np.searchsorted(k, np.arange(1, n_part) * width)
    pids_all, kbs_all, vbs_all, wbs_all = [], [], [], []
    for pid, (lo, hi) in enumerate(
        zip(np.concatenate(([0], cuts)), np.concatenate((cuts, [len(k)])))
    ):
        if hi > lo:
            kbs, vbs, wbs = _chunk_rows_weighted(k[lo:hi], v[lo:hi], w[lo:hi])
            pids_all.extend([pid_of[pid]] * len(kbs))
            kbs_all.extend(kbs)
            vbs_all.extend(vbs)
            wbs_all.extend(wbs)
    for lo in range(0, len(kbs_all), BLOB_BATCH_ROWS):
        sl = slice(lo, lo + BLOB_BATCH_ROWS)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(pids_all[sl], type=pa.int32()),
                pa.array(kbs_all[sl], type=pa.binary()),
                pa.array(vbs_all[sl], type=pa.binary()),
                pa.array(wbs_all[sl], type=pa.binary()),
            ],
            ["pid", "kb", "vb", "wb"],
        )


def _encode_bucket_weighted_fn(uniq_bc, n_part: int, symmetric: bool = True):
    """Weighted build pass: dictionary-encode the canonical
    (src, dst, weight) rows and emit range-bucketed weighted blobs —
    BOTH directions from the one raw pass when ``symmetric``
    (k=src,v=dst,w and k=dst,v=src,w — SSSP's undirected relaxation),
    else the directed in-keyed single direction (k=dst,v=src,w —
    weighted PageRank's message gather). The raw Arrow bridge and the
    encode are paid once either way."""

    def fn(batches):
        uniq = uniq_bc.value
        n = len(uniq)
        width = -(-n // n_part) or 1
        ks, vs, ws = [], [], []
        for batch in batches:
            src = np.searchsorted(uniq, _col_np(batch, 0)).astype(np.int32)
            dst = np.searchsorted(uniq, _col_np(batch, 1)).astype(np.int32)
            wgt = _as_int64_weights(_col_np(batch, 2))
            if symmetric:
                ks.append(np.concatenate((src, dst)))
                vs.append(np.concatenate((dst, src)))
                ws.append(np.concatenate((wgt, wgt)))
            else:
                ks.append(dst)
                vs.append(src)
                ws.append(wgt)
        if not ks:
            return
        k = np.concatenate(ks) if len(ks) > 1 else ks[0]
        v = np.concatenate(vs) if len(vs) > 1 else vs[0]
        w = np.concatenate(ws) if len(ws) > 1 else ws[0]
        yield from _emit_buckets_weighted(k, v, w, width, n_part)

    return fn


def _merge_sort_weighted_fn(batches):
    """Weighted build pass B: concatenate the bucket's blob runs and
    stable-sort by key once (weights ride along)."""
    ks, vs, ws = [], [], []
    for batch in batches:
        ks.append(_concat_blobs(batch, 1, np.int32))
        vs.append(_concat_blobs(batch, 2, np.int32))
        ws.append(_concat_blobs(batch, 3, np.int64))
    if not ks:
        return
    k = np.concatenate(ks) if len(ks) > 1 else ks[0]
    v = np.concatenate(vs) if len(vs) > 1 else vs[0]
    w = np.concatenate(ws) if len(ws) > 1 else ws[0]
    if len(k) == 0:
        return
    order = np.argsort(k, kind="stable")
    k, v, w = k[order], v[order], w[order]
    kbs, vbs, wbs = _chunk_rows_weighted(k, v, w)
    for lo in range(0, len(kbs), BLOB_BATCH_ROWS):
        sl = slice(lo, lo + BLOB_BATCH_ROWS)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(kbs[sl], type=pa.binary()),
                pa.array(vbs[sl], type=pa.binary()),
                pa.array(wbs[sl], type=pa.binary()),
            ],
            ["kb", "vb", "wb"],
        )


def _rebucket_fn(n: int, n_part: int, swap: bool):
    """Re-bucket ALREADY-BUILT blobs of one direction, optionally
    swapping so the neighbor column becomes the key. The raw-edge Arrow
    bridge and the dictionary encode are paid once per graph (on the
    first direction); a re-bucket pass is a blob-speed re-shuffle of
    ~|E| already-encoded int32 pairs."""
    width = -(-n // n_part) or 1

    def fn(batches):
        ks, vs = [], []
        for batch in batches:
            ks.append(_concat_blobs(batch, 0, np.int32))
            vs.append(_concat_blobs(batch, 1, np.int32))
        if not ks:
            return
        k = np.concatenate(ks) if len(ks) > 1 else ks[0]
        v = np.concatenate(vs) if len(vs) > 1 else vs[0]
        if swap:
            k, v = v, k
        if len(k) == 0:
            return
        yield from _emit_buckets(k, v, width, n_part)

    return fn


def _swap_bucket_fn(n: int, n_part: int):
    """Reverse-direction build pass: see ``_rebucket_fn``."""
    return _rebucket_fn(n, n_part, swap=True)


def _merge_sort_dedupe_fn(batches):
    """Build pass B with adjacent-duplicate elimination: after the
    per-partition sort, drop repeated (k, v) pairs — the gather twin of
    the shuffle kernels' defensive ``distinct()`` on the symmetric
    view. Needed by per-key MULTISET kernels (k-core's h-index counts
    each neighbor once); max/min/sum kernels keep using
    ``_merge_sort_fn``."""
    ks, vs = [], []
    for batch in batches:
        ks.append(_concat_blobs(batch, 1, np.int32))
        vs.append(_concat_blobs(batch, 2, np.int32))
    if not ks:
        return
    k = np.concatenate(ks) if len(ks) > 1 else ks[0]
    v = np.concatenate(vs) if len(vs) > 1 else vs[0]
    if len(k) == 0:
        return
    k, v = _sort_pairs(k, v)
    keep = np.ones(len(k), dtype=bool)
    keep[1:] = (k[1:] != k[:-1]) | (v[1:] != v[:-1])
    k, v = k[keep], v[keep]
    _, kbs, vbs = _chunk_rows(k, v)
    for lo in range(0, len(kbs), BLOB_BATCH_ROWS):
        sl = slice(lo, lo + BLOB_BATCH_ROWS)
        yield pa.RecordBatch.from_arrays(
            [pa.array(kbs[sl], type=pa.binary()), pa.array(vbs[sl], type=pa.binary())],
            ["kb", "vb"],
        )


def _merge_sort_fn(batches):
    """Build pass B: concatenate the bucket's blob runs and sort once,
    emitting the partition's final sorted blob chunks."""
    ks, vs = [], []
    for batch in batches:
        ks.append(_concat_blobs(batch, 1, np.int32))
        vs.append(_concat_blobs(batch, 2, np.int32))
    if not ks:
        return
    k = np.concatenate(ks) if len(ks) > 1 else ks[0]
    v = np.concatenate(vs) if len(vs) > 1 else vs[0]
    if len(k) == 0:
        return
    k, v = _sort_pairs(k, v)
    _, kbs, vbs = _chunk_rows(k, v)
    for lo in range(0, len(kbs), BLOB_BATCH_ROWS):
        sl = slice(lo, lo + BLOB_BATCH_ROWS)
        yield pa.RecordBatch.from_arrays(
            [pa.array(kbs[sl], type=pa.binary()), pa.array(vbs[sl], type=pa.binary())],
            ["kb", "vb"],
        )


def _deg_fn(n: int):
    """Out-degree partials over the in-adjacency blobs: bincount the
    neighbor column per partition, emit the nonzero (cid, count) pairs
    as one blob row."""

    def fn(batches):
        acc = np.zeros(n, dtype=np.int64)
        got = False
        for batch in batches:
            got = True
            acc += np.bincount(_concat_blobs(batch, 1, np.int32), minlength=n)
        if got:
            nz = np.flatnonzero(acc)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([nz.astype(np.int32).tobytes()], type=pa.binary()),
                    pa.array([acc[nz].tobytes()], type=pa.binary()),
                ],
                ["kb", "cb"],
            )

    return fn


@dataclass
class GatherGraph:
    """Dense-id view of an edge table: the distributed half of the tier.

    ``uniq``: sorted distinct original ids (int64) — cid IS the rank in
    this vector, so ``orig_id`` is ``uniq`` itself and ``cid_of`` is a
    searchsorted. Adjacency tables build lazily and are shared when one
    ``GatherGraph`` serves several operators over the same edges (the
    scaling worker runs PageRank then WCC on one graph: the dictionary
    and the in-adjacency are built once).
    """

    edges: DataFrame
    uniq: np.ndarray
    n: int
    _in_adj: DataFrame | None = field(default=None, repr=False)
    _out_adj: DataFrame | None = field(default=None, repr=False)
    _sym_adj: DataFrame | None = field(default=None, repr=False)
    _sym_w_adj: DataFrame | None = field(default=None, repr=False)
    _in_w_adj: DataFrame | None = field(default=None, repr=False)
    _deg: np.ndarray | None = field(default=None, repr=False)

    @classmethod
    def build(cls, edges: DataFrame) -> "GatherGraph":
        ids = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .toPandas()["id"]
            .to_numpy()
        )
        uniq = np.sort(ids) if len(ids) else ids.astype(np.int64)
        return cls(edges=edges, uniq=uniq, n=len(uniq))

    @property
    def orig_id(self) -> np.ndarray:
        return self.uniq

    def cid_of(self, ids: np.ndarray) -> np.ndarray:
        """Original id → cid, driver-side (checkpoint resume path)."""
        return np.searchsorted(self.uniq, ids).astype(np.int64)

    def _build_adj(self, key_is_dst: bool, n_part: int) -> DataFrame:
        spark = self.edges.sparkSession
        uniq_bc = spark.sparkContext.broadcast(self.uniq)
        try:
            bucketed = (
                self.edges.select("src", "dst")
                .mapInArrow(
                    _encode_bucket_fn(uniq_bc, key_is_dst, n_part),
                    "pid int, kb binary, vb binary",
                )
                .repartition(n_part, "pid")
                .mapInArrow(_merge_sort_fn, "kb binary, vb binary")
            )
            with arrow_batch(spark, RAW_BATCH_ROWS):
                return bucketed.localCheckpoint(eager=True)
        finally:
            # blocks referencing the broadcast are materialized by the
            # eager checkpoint; the driver copy can go
            uniq_bc.destroy()

    def in_adjacency(self, n_part: int) -> DataFrame:
        """Blob chunks of (k=receiver, v=sender), keys range-bucketed so
        each key lives in exactly one partition, partitions sorted by k.
        PageRank gathers Σ w[v] per k here."""
        if self._in_adj is None:
            self._in_adj = self._build_adj(key_is_dst=True, n_part=n_part)
        return self._in_adj

    def out_adjacency(self, n_part: int) -> DataFrame:
        """(k=sender, v=receiver) blobs. When the in-adjacency is
        already built (the WCC-after-PageRank pipeline), derived from
        its blobs by a swap + re-bucket — no second raw-edge bridge
        pass, no second dictionary encode."""
        if self._out_adj is None:
            if self._in_adj is not None:
                spark = self.edges.sparkSession
                bucketed = (
                    self._in_adj.mapInArrow(
                        _swap_bucket_fn(self.n, n_part),
                        "pid int, kb binary, vb binary",
                    )
                    .repartition(n_part, "pid")
                    .mapInArrow(_merge_sort_fn, "kb binary, vb binary")
                )
                with arrow_batch(spark, BLOB_BATCH_ROWS):
                    self._out_adj = bucketed.localCheckpoint(eager=True)
            else:
                self._out_adj = self._build_adj(key_is_dst=False, n_part=n_part)
        return self._out_adj

    def sym_adjacency_merged(self, n_part: int) -> DataFrame:
        """Both directions MERGED into one sorted, deduped blob table —
        each key's full undirected neighbor run lives contiguously in
        exactly one partition. Required by per-key multiset kernels
        (k-core's h-index needs every neighbor value of a key together,
        and counts each neighbor once — the shuffle twin's
        ``distinct()`` semantics); the cheaper un-merged
        ``sym_adjacency`` union serves max/min/sum kernels. Built from
        the in-adjacency blobs (identity + swap re-buckets through one
        blob exchange, merge-sort-dedupe per bucket) — the raw edges
        are never re-read."""
        if self._sym_adj is None:
            spark = self.edges.sparkSession
            base = self.in_adjacency(n_part)
            ident = base.mapInArrow(
                _rebucket_fn(self.n, n_part, swap=False),
                "pid int, kb binary, vb binary",
            )
            swapped = base.mapInArrow(
                _rebucket_fn(self.n, n_part, swap=True),
                "pid int, kb binary, vb binary",
            )
            merged = (
                ident.union(swapped)
                .repartition(n_part, "pid")
                .mapInArrow(_merge_sort_dedupe_fn, "kb binary, vb binary")
            )
            with arrow_batch(spark, BLOB_BATCH_ROWS):
                self._sym_adj = merged.localCheckpoint(eager=True)
        return self._sym_adj

    def sym_weighted_adjacency(self, n_part: int) -> DataFrame:
        """Both directions of the WEIGHTED edge table as one sorted
        blob table of (kb int32, vb int32, wb int64) — each key's
        weighted neighbor run contiguous in exactly one partition.
        Requires a ``weight`` column (pass the canonical merged edge
        table, e.g. sources.edges.canonicalize_edges output). Serves
        min-plus kernels (SSSP relaxation) — the min reduction is
        associative, so runs split across batches/partitions merge
        driver-side and no tail carry is needed."""
        if self._sym_w_adj is None:
            if "weight" not in self.edges.columns:
                raise ValueError(
                    "sym_weighted_adjacency needs a weight column"
                )
            spark = self.edges.sparkSession
            uniq_bc = spark.sparkContext.broadcast(self.uniq)
            try:
                bucketed = (
                    self.edges.select("src", "dst", "weight")
                    .mapInArrow(
                        _encode_bucket_weighted_fn(uniq_bc, n_part),
                        "pid int, kb binary, vb binary, wb binary",
                    )
                    .repartition(n_part, "pid")
                    .mapInArrow(
                        _merge_sort_weighted_fn,
                        "kb binary, vb binary, wb binary",
                    )
                )
                with arrow_batch(spark, RAW_BATCH_ROWS):
                    self._sym_w_adj = bucketed.localCheckpoint(eager=True)
            finally:
                uniq_bc.destroy()
        return self._sym_w_adj

    def in_weighted_adjacency(self, n_part: int) -> DataFrame:
        """Directed in-keyed weighted blobs (kb=dst int32, vb=src
        int32, wb int64) — weighted PageRank's message gather side.
        Requires a ``weight`` column on the edge table."""
        if self._in_w_adj is None:
            if "weight" not in self.edges.columns:
                raise ValueError(
                    "in_weighted_adjacency needs a weight column"
                )
            spark = self.edges.sparkSession
            uniq_bc = spark.sparkContext.broadcast(self.uniq)
            try:
                bucketed = (
                    self.edges.select("src", "dst", "weight")
                    .mapInArrow(
                        _encode_bucket_weighted_fn(
                            uniq_bc, n_part, symmetric=False
                        ),
                        "pid int, kb binary, vb binary, wb binary",
                    )
                    .repartition(n_part, "pid")
                    .mapInArrow(
                        _merge_sort_weighted_fn,
                        "kb binary, vb binary, wb binary",
                    )
                )
                with arrow_batch(spark, RAW_BATCH_ROWS):
                    self._in_w_adj = bucketed.localCheckpoint(eager=True)
            finally:
                uniq_bc.destroy()
        return self._in_w_adj

    def receiver_weighted_adjacency(
        self, view: DataFrame, n_part: int
    ) -> DataFrame:
        """Weighted blobs keyed by the RECEIVER over a caller-supplied
        (u receiver, v neighbor, w) view (e.g. LPA's merged undirected
        vote view) — (kb=u int32, vb=v int32, wb int64), each key's
        run contiguous in one partition, sorted by key. Not cached on
        the graph (the view is operator-specific)."""
        spark = self.edges.sparkSession
        uniq_bc = spark.sparkContext.broadcast(self.uniq)
        try:
            bucketed = (
                view.select(
                    F.col("v").alias("src"),
                    F.col("u").alias("dst"),
                    F.col("w").alias("weight"),
                )
                .mapInArrow(
                    _encode_bucket_weighted_fn(uniq_bc, n_part, symmetric=False),
                    "pid int, kb binary, vb binary, wb binary",
                )
                .repartition(n_part, "pid")
                .mapInArrow(
                    _merge_sort_weighted_fn,
                    "kb binary, vb binary, wb binary",
                )
            )
            with arrow_batch(spark, RAW_BATCH_ROWS):
                out = bucketed.localCheckpoint(eager=True)
        finally:
            uniq_bc.destroy()
        return out

    def sym_adjacency(self, n_part: int) -> DataFrame:
        """Both directions as one DataFrame: a narrow union of the two
        sorted blob tables (partitions stay intact, so per-partition
        sortedness — all reduceat needs — survives). Parallel edges are
        NOT deduped: max/min merges absorb duplicates bit-identically,
        so WCC's defensive ``distinct`` is unnecessary in this tier."""
        return self.in_adjacency(n_part).union(self.out_adjacency(n_part))

    def out_degree(self, n_part: int) -> np.ndarray:
        """float64[n] out-degrees, from one bincount pass over the
        cached in-adjacency blobs (no JVM aggregation)."""
        if self._deg is None:
            spark = self.edges.sparkSession
            adj = self.in_adjacency(n_part)
            with arrow_batch(spark, BLOB_BATCH_ROWS):
                pdf = adj.mapInArrow(_deg_fn(self.n), "kb binary, cb binary").toPandas()
            deg = np.zeros(self.n, dtype=np.float64)
            for kb, cb in zip(pdf["kb"], pdf["cb"]):
                np.add.at(
                    deg,
                    np.frombuffer(kb, dtype=np.int32),
                    np.frombuffer(cb, dtype=np.int64),
                )
            self._deg = deg
        return self._deg

    def release(self) -> None:
        """Drop references; localCheckpoint blocks are freed by the
        ContextCleaner after the next periodic GC."""
        self._in_adj = self._out_adj = self._sym_adj = None
        self._sym_w_adj = self._in_w_adj = None
        self._deg = None


def _segment_reduce(reducer):
    """Build a mapInArrow fn: reduce the broadcast vector over each run
    of equal keys in the sorted blob chunks — ``reducer.reduceat`` at
    the run boundaries, fully vectorized. Each Arrow batch returns ONE
    blob row of (distinct keys, partials); runs split across batches
    or partitions merge driver-side with the same ufunc."""

    def make(w_bc, out_dtype):
        def fn(batches):
            w = w_bc.value
            for batch in batches:
                keys = _concat_blobs(batch, 0, np.int32)
                if len(keys) == 0:
                    continue
                starts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
                starts = np.concatenate((np.zeros(1, dtype=np.int64), starts))
                out = reducer.reduceat(
                    w[_concat_blobs(batch, 1, np.int32)], starts
                ).astype(out_dtype, copy=False)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([keys[starts].tobytes()], type=pa.binary()),
                        pa.array([out.tobytes()], type=pa.binary()),
                    ],
                    ["kb", "rb"],
                )

        return fn

    return make


_sum_reduce = _segment_reduce(np.add)
_max_reduce = _segment_reduce(np.maximum)
_min_reduce = _segment_reduce(np.minimum)


def _run_gather(adj, w, n, make, out_dtype, init, merge_ufunc):
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(w)
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(make(w_bc, out_dtype), "kb binary, rb binary").toPandas()
    finally:
        w_bc.destroy()
    out = np.full(n, init, dtype=out_dtype)
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        merge_ufunc.at(
            out, np.frombuffer(kb, dtype=np.int32), np.frombuffer(rb, dtype=out_dtype)
        )
    return out


def gather_sum(adj: DataFrame, w: np.ndarray, n: int) -> np.ndarray:
    """One shuffle-free superstep: Σ w[v] per k → float64[n]."""
    return _run_gather(adj, w, n, _sum_reduce, np.float64, 0.0, np.add)


def gather_extreme(
    adj: DataFrame, w: np.ndarray, n: int, minimum: bool = False
) -> np.ndarray:
    """max (or min) of w[v] per k → int64[n]; vertices with no adjacency
    row keep the reducer's identity value."""
    if minimum:
        return _run_gather(
            adj, w, n, _min_reduce, np.int64, np.iinfo(np.int64).max, np.minimum
        )
    return _run_gather(
        adj, w, n, _max_reduce, np.int64, np.iinfo(np.int64).min, np.maximum
    )


def _hindex_fn(w_bc):
    """mapInArrow fn: per-key h-index of the capped neighbor values
    ``min(w[nbr], w[key])`` over a MERGED sym-adjacency (each key's run
    entirely inside one partition, sorted). Runs may still split across
    Arrow batches inside the partition, so the tail run of every batch
    is carried into the next and flushed at iterator end — h-index is
    not partial-mergeable, and this carry is what lets the kernel stay
    one shuffle-free pass. Within a run: order values descending, then
    H = max_i min(value_i, i+1) — vectorized with one lexsort +
    reduceat per batch, no per-row Python."""

    def fn(batches):
        w = w_bc.value

        def run_hindex(keys, nbrs):
            vals = np.minimum(w[nbrs], w[keys])
            # (key asc, val desc) via ONE packed int64 radix sort
            # (~4x a lexsort — same trick as _sort_pairs): capped vals
            # are < n <= 2^25 (deduped degree bound under the tier
            # cap) and keys < 2^25, so key<<31 | (2^31-1 - val) is
            # exact and collision-free
            packed = (keys.astype(np.int64) << 31) | (
                0x7FFFFFFF - vals.astype(np.int64)
            )
            packed.sort(kind="stable")
            sk = (packed >> 31).astype(np.int32)
            sv = 0x7FFFFFFF - (packed & 0x7FFFFFFF)
            starts = np.flatnonzero(sk[1:] != sk[:-1]) + 1
            starts = np.concatenate((np.zeros(1, dtype=np.int64), starts))
            counts = np.diff(np.concatenate((starts, [len(sk)])))
            ranks = np.arange(len(sk), dtype=np.int64) - np.repeat(starts, counts)
            cand = np.minimum(sv, ranks + 1)
            h = np.maximum.reduceat(cand, starts)
            return sk[starts].astype(np.int32), h.astype(np.int64)

        def emit(keys, nbrs):
            rk, rh = run_hindex(keys, nbrs)
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([rk.tobytes()], type=pa.binary()),
                    pa.array([rh.tobytes()], type=pa.binary()),
                ],
                ["kb", "rb"],
            )

        pend_k = pend_v = None
        for batch in batches:
            keys = _concat_blobs(batch, 0, np.int32)
            nbrs = _concat_blobs(batch, 1, np.int32)
            if len(keys) == 0:
                continue
            if pend_k is not None and len(pend_k):
                keys = np.concatenate((pend_k, keys))
                nbrs = np.concatenate((pend_v, nbrs))
            # hold back the (possibly continuing) last run
            cut = np.flatnonzero(keys != keys[-1])
            cut = int(cut[-1]) + 1 if len(cut) else 0
            pend_k, pend_v = keys[cut:], nbrs[cut:]
            if cut == 0:
                continue
            yield emit(keys[:cut], nbrs[:cut])
        if pend_k is not None and len(pend_k):
            yield emit(pend_k, pend_v)

    return fn


def gather_hindex(adj: DataFrame, w: np.ndarray, n: int) -> np.ndarray:
    """One shuffle-free k-core superstep over a MERGED sym adjacency
    (``GatherGraph.sym_adjacency_merged``): per key k,
    ``min(w[k], H({min(w[u], w[k]) : u in N(k)}))`` — int64[n];
    keys with no adjacency row keep w. Keys are unique across the
    returned partials (merged table: one run per key, one partition
    per key), so the driver merge is a plain indexed assignment."""
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(w)
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(_hindex_fn(w_bc), "kb binary, rb binary").toPandas()
    finally:
        w_bc.destroy()
    out = w.copy()
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        k = np.frombuffer(kb, dtype=np.int32)
        out[k] = np.minimum(out[k], np.frombuffer(rb, dtype=np.int64))
    return out


_SSSP_INF = 1 << 62


def _min_plus_fn(w_bc):
    """mapInArrow fn: per-key min over (nbr, weight) of
    ``d[nbr] + weight`` over weighted sym blobs — one Bellman-Ford
    relaxation. min is associative, so per-batch partials merge
    driver-side; unreached neighbors carry the _SSSP_INF sentinel and
    are masked out (sentinel + weight stays far below int64 overflow
    for any real weight)."""

    def fn(batches):
        d = w_bc.value
        for batch in batches:
            keys = _concat_blobs(batch, 0, np.int32)
            if len(keys) == 0:
                continue
            nbrs = _concat_blobs(batch, 1, np.int32)
            wgts = _concat_blobs(batch, 2, np.int64)
            cand = d[nbrs]
            reached = cand < _SSSP_INF
            cand = np.where(reached, cand + wgts, _SSSP_INF)
            starts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate((np.zeros(1, dtype=np.int64), starts))
            out = np.minimum.reduceat(cand, starts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([keys[starts].tobytes()], type=pa.binary()),
                    pa.array([out.tobytes()], type=pa.binary()),
                ],
                ["kb", "rb"],
            )

    return fn


def gather_min_plus(adj: DataFrame, d: np.ndarray, n: int) -> np.ndarray:
    """One shuffle-free SSSP relaxation over
    ``GatherGraph.sym_weighted_adjacency`` blobs:
    ``min(d[k], min over (u, w) in N(k) of d[u] + w)`` — int64[n] with
    the _SSSP_INF sentinel for unreached vertices."""
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(d)
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(_min_plus_fn(w_bc), "kb binary, rb binary").toPandas()
    finally:
        w_bc.destroy()
    out = d.copy()
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        k = np.frombuffer(kb, dtype=np.int32)
        np.minimum.at(out, k, np.frombuffer(rb, dtype=np.int64))
    return out


def _weighted_sum_fn(w_bc):
    """mapInArrow fn: per-key Σ q[src]·w over weighted directed blobs
    (q broadcast float64). Sum is associative — per-batch partials
    merge driver-side with np.add, no carry."""

    def fn(batches):
        q = w_bc.value
        for batch in batches:
            keys = _concat_blobs(batch, 0, np.int32)
            if len(keys) == 0:
                continue
            nbrs = _concat_blobs(batch, 1, np.int32)
            wgts = _concat_blobs(batch, 2, np.int64)
            contrib = q[nbrs] * wgts
            starts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate((np.zeros(1, dtype=np.int64), starts))
            out = np.add.reduceat(contrib, starts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([keys[starts].tobytes()], type=pa.binary()),
                    pa.array([out.tobytes()], type=pa.binary()),
                ],
                ["kb", "rb"],
            )

    return fn


def gather_weighted_sum(adj: DataFrame, q: np.ndarray, n: int) -> np.ndarray:
    """One shuffle-free weighted-message superstep over
    ``GatherGraph.in_weighted_adjacency`` blobs: per key k,
    ``Σ over (u, w) in N_in(k) of q[u]·w`` — float64[n], zeros for
    keys with no in-edges."""
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(q)
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(
                _weighted_sum_fn(w_bc), "kb binary, rb binary"
            ).toPandas()
    finally:
        w_bc.destroy()
    out = np.zeros(n, dtype=np.float64)
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        np.add.at(
            out,
            np.frombuffer(kb, dtype=np.int32),
            np.frombuffer(rb, dtype=np.float64),
        )
    return out


def _in_weight_sums_fn(n: int):
    """Σ weight per SRC over the in-keyed weighted blobs (vb = src,
    wb = weight): per-partition int64 partials, exact."""

    def fn(batches):
        acc = np.zeros(n, dtype=np.int64)
        got = False
        for batch in batches:
            got = True
            np.add.at(
                acc,
                _concat_blobs(batch, 1, np.int32),
                _concat_blobs(batch, 2, np.int64),
            )
        if got:
            nz = np.flatnonzero(acc)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([nz.astype(np.int32).tobytes()], type=pa.binary()),
                    pa.array([acc[nz].tobytes()], type=pa.binary()),
                ],
                ["kb", "cb"],
            )

    return fn


def gather_in_weight_sums(adj: DataFrame, n: int) -> np.ndarray:
    """int64[n] out-weight sums (Σ w over out-edges per vertex) from
    one pass over the in-keyed weighted blobs — weighted PageRank's
    rank-splitting denominator, computed like ``out_degree``."""
    spark = adj.sparkSession
    with arrow_batch(spark, BLOB_BATCH_ROWS):
        pdf = adj.mapInArrow(_in_weight_sums_fn(n), "kb binary, cb binary").toPandas()
    sw = np.zeros(n, dtype=np.int64)
    for kb, cb in zip(pdf["kb"], pdf["cb"]):
        np.add.at(
            sw,
            np.frombuffer(kb, dtype=np.int32),
            np.frombuffer(cb, dtype=np.int64),
        )
    return sw


def _weighted_rank_msg_fn(w_bc):
    """mapInArrow fn: per-key Σ rank[src]·w / sw[src] over the
    in-keyed weighted blobs — the weighted-PageRank message sum, with
    the same per-term arithmetic order as the shuffle kernel
    ((rank·w)/sw). Broadcast carries the stacked (rank, sw) float64
    pair."""

    def fn(batches):
        rank, sw = w_bc.value
        for batch in batches:
            keys = _concat_blobs(batch, 0, np.int32)
            if len(keys) == 0:
                continue
            nbrs = _concat_blobs(batch, 1, np.int32)
            wgts = _concat_blobs(batch, 2, np.int64)
            contrib = rank[nbrs] * wgts / sw[nbrs]
            starts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate((np.zeros(1, dtype=np.int64), starts))
            out = np.add.reduceat(contrib, starts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([keys[starts].tobytes()], type=pa.binary()),
                    pa.array([out.tobytes()], type=pa.binary()),
                ],
                ["kb", "rb"],
            )

    return fn


def gather_weighted_rank_msgs(
    adj: DataFrame, rank: np.ndarray, sw: np.ndarray, n: int
) -> np.ndarray:
    """One shuffle-free weighted-PageRank superstep over
    ``GatherGraph.in_weighted_adjacency``: per key k,
    ``Σ over in-edges (u, w) of rank[u]·w / sw[u]`` — float64[n],
    zeros for keys with no in-edges. ``sw`` entries are never read for
    vertices without out-edges (they appear in no blob's src column),
    so zeros there are safe."""
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(
        (rank, sw.astype(np.float64))
    )
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(
                _weighted_rank_msg_fn(w_bc), "kb binary, rb binary"
            ).toPandas()
    finally:
        w_bc.destroy()
    out = np.zeros(n, dtype=np.float64)
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        np.add.at(
            out,
            np.frombuffer(kb, dtype=np.int32),
            np.frombuffer(rb, dtype=np.float64),
        )
    return out


def _min_rows_fn(w_bc):
    """mapInArrow fn: K-row min gather — broadcast a (K, n) int64
    distance matrix, compute per key the column-wise min of
    D[:, nbrs] over each run (``np.minimum.reduceat`` on axis=1).
    Min is associative: per-batch partials merge driver-side, no
    carry. The multi-source-BFS workhorse (closeness centrality's K
    pivot distance vectors ride one pass)."""

    def fn(batches):
        D = w_bc.value
        for batch in batches:
            keys = _concat_blobs(batch, 0, np.int32)
            if len(keys) == 0:
                continue
            nbrs = _concat_blobs(batch, 1, np.int32)
            starts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate((np.zeros(1, dtype=np.int64), starts))
            out = np.minimum.reduceat(D[:, nbrs], starts, axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([keys[starts].tobytes()], type=pa.binary()),
                    pa.array([out.tobytes()], type=pa.binary()),
                ],
                ["kb", "rb"],
            )

    return fn


#: unreached-distance sentinel for multi-source BFS matrices
_BFS_INF = 1 << 62


def gather_min_rows(adj: DataFrame, D: np.ndarray, n: int) -> np.ndarray:
    """One shuffle-free multi-vector min gather: (K, n) int64 in,
    (K, n) RAW per-key neighbor minima out (keys with no adjacency
    rows hold the _BFS_INF sentinel). K-source BFS is then
    ``D' = min(D, where(minima < _BFS_INF, minima + 1, _BFS_INF))``."""
    spark = adj.sparkSession
    K = D.shape[0]
    w_bc = spark.sparkContext.broadcast(D)
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(
                _min_rows_fn(w_bc), "kb binary, rb binary"
            ).toPandas()
    finally:
        w_bc.destroy()
    out = np.full_like(D, _BFS_INF)
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        k = np.frombuffer(kb, dtype=np.int32)
        r = np.frombuffer(rb, dtype=np.int64).reshape(K, len(k))
        np.minimum.at(out, (slice(None), k), r)
    return out


_LPA_NONE = -(1 << 62)


def _whole_key_runs(batches):
    """Yield (keys, nbrs, wgts) from merged receiver-keyed weighted
    blobs with every key's run whole: per-key vote sums are not
    partial-mergeable, so the tail run of each Arrow batch carries into
    the next and flushes at iterator end (keys never span partitions on
    the merged table)."""
    pend = None
    for batch in batches:
        keys = _concat_blobs(batch, 0, np.int32)
        if len(keys) == 0:
            continue
        nbrs = _concat_blobs(batch, 1, np.int32)
        wgts = _concat_blobs(batch, 2, np.int64)
        if pend is not None:
            keys = np.concatenate((pend[0], keys))
            nbrs = np.concatenate((pend[1], nbrs))
            wgts = np.concatenate((pend[2], wgts))
        cut = np.flatnonzero(keys != keys[-1])
        cut = int(cut[-1]) + 1 if len(cut) else 0
        pend = (keys[cut:], nbrs[cut:], wgts[cut:])
        if cut:
            yield keys[:cut], nbrs[:cut], wgts[:cut]
    if pend is not None and len(pend[0]):
        yield pend


def _partial_row(keys: np.ndarray, vals: np.ndarray) -> pa.RecordBatch:
    """One (kb, rb) blob row of per-key partials."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array([keys.tobytes()], type=pa.binary()),
            pa.array([vals.tobytes()], type=pa.binary()),
        ],
        ["kb", "rb"],
    )


def _lpa_votes_fn(w_bc):
    """mapInArrow fn: per-key weighted label vote argmax over merged
    receiver-keyed weighted blobs. For each key: sum weights per
    neighbor label, pick the label with (max votes, then max label) —
    LPA's deterministic tie-break, over whole key runs
    (``_whole_key_runs``)."""

    def fn(batches):
        L = w_bc.value

        def run_votes(keys, nbrs, wgts):
            lab = L[nbrs]
            order = np.lexsort((lab, keys))
            sk, sl, sw = keys[order], lab[order], wgts[order]
            gb = np.flatnonzero((sk[1:] != sk[:-1]) | (sl[1:] != sl[:-1])) + 1
            gstart = np.concatenate((np.zeros(1, dtype=np.int64), gb))
            votes = np.add.reduceat(sw, gstart)
            gkey = sk[gstart]
            glab = sl[gstart]
            kb = np.flatnonzero(gkey[1:] != gkey[:-1]) + 1
            kstart = np.concatenate((np.zeros(1, dtype=np.int64), kb))
            counts = np.diff(np.concatenate((kstart, [len(gkey)])))
            maxv = np.maximum.reduceat(votes, kstart)
            cand = np.where(votes == np.repeat(maxv, counts), glab, _LPA_NONE)
            best = np.maximum.reduceat(cand, kstart)
            return gkey[kstart].astype(np.int32), best.astype(np.int64)

        for keys, nbrs, wgts in _whole_key_runs(batches):
            yield _partial_row(*run_votes(keys, nbrs, wgts))

    return fn


def gather_lpa_votes(adj: DataFrame, L: np.ndarray, n: int) -> np.ndarray:
    """One shuffle-free LPA voting superstep over
    ``GatherGraph.receiver_weighted_adjacency`` blobs: per key, the
    (max weighted votes, then max label) winning neighbor label —
    int64[n], _LPA_NONE sentinel for keys with no adjacency rows
    (callers keep the old label there). Keys are unique across
    partials (merged table, one partition per key)."""
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(L)
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(
                _lpa_votes_fn(w_bc), "kb binary, rb binary"
            ).toPandas()
    finally:
        w_bc.destroy()
    out = np.full(n, _LPA_NONE, dtype=np.int64)
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        out[np.frombuffer(kb, dtype=np.int32)] = np.frombuffer(
            rb, dtype=np.int64
        )
    return out


def louvain_best(keys, nbrs, wgts, comm, sigma, k_vec, internal, M):
    """Per-key Louvain best-community argmax over receiver-keyed
    weighted entries in which every key's run is whole (any order).
    For each key i and each distinct neighbor community c:
    w_to = Σ edge weight into c, then the m-scaled integer ΔQ of the
    shuffle kernel (operators/louvain.py::_best_community —
    LouvainCore.scala:253-267 semantics):

        k_i    = node_w[i] + internal_w[i]
        k_i_in = w_to (+ internal_w[i] when c == community[i])
        σ      = sigma[c] (− k_i when c == community[i])
        ΔQ     = 0 when (c == cur and σ == 0) else k_i_in·M − k_i·σ

    Candidates need ΔQ > 0; the winner is max (ΔQ, then community) —
    the exact integer arithmetic and the (dq, comm) struct-max
    tie-break of the shuffle kernel, so trajectories are identical
    (the caller guards against int64 overflow: max_k·M < 2^62).
    Returns (distinct keys int32, winner int64 — _LPA_NONE where no
    candidate has ΔQ > 0). The mapInArrow pass
    (``gather_louvain_votes``) and the in-process Louvain levels
    (operators/louvain.py) both call it."""
    lab = comm[nbrs]
    # (key, community) group order via ONE packed int64 argsort (both
    # are cids < 2^25 under the tier cap, so key<<31 | lab is exact) —
    # the weights column still needs the permutation, so this argsorts
    # the pack (~2x a two-key lexsort) instead of value-sorting it
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
    pos = dq > 0
    out_k = np.unique(gkey).astype(np.int32)
    best = np.full(len(out_k), _LPA_NONE, dtype=np.int64)
    if np.any(pos):
        pk, pl, pd = gkey[pos], glab[pos], dq[pos]
        o2 = np.lexsort((pl, pd, pk))
        pk, pl = pk[o2], pl[o2]
        ends = np.concatenate((np.flatnonzero(pk[1:] != pk[:-1]), [len(pk) - 1]))
        idx = np.searchsorted(out_k, pk[ends])
        best[idx] = pl[ends]
    return out_k, best


def _louvain_votes_fn(bc):
    """mapInArrow fn: ``louvain_best`` over whole key runs of
    receiver-keyed weighted blobs. The even/odd move gate is applied
    driver-side on the returned vector."""

    def fn(batches):
        comm, sigma, k_vec, internal, M = bc.value
        for keys, nbrs, wgts in _whole_key_runs(batches):
            yield _partial_row(
                *louvain_best(keys, nbrs, wgts, comm, sigma, k_vec, internal, M)
            )

    return fn


def gather_louvain_votes(
    adj: DataFrame,
    comm: np.ndarray,
    sigma: np.ndarray,
    k_vec: np.ndarray,
    internal: np.ndarray,
    m_total: int,
    n: int,
) -> np.ndarray:
    """One shuffle-free Louvain move-candidate superstep over
    ``GatherGraph.receiver_weighted_adjacency`` blobs: per key, the
    (max m-scaled integer ΔQ, then max community) winning candidate —
    int64[n], _LPA_NONE for keys with no positive-ΔQ candidate or no
    adjacency rows. Keys are unique across partials (merged table)."""
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(
        (comm, sigma, k_vec, internal, np.int64(m_total))
    )
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(
                _louvain_votes_fn(w_bc), "kb binary, rb binary"
            ).toPandas()
    finally:
        w_bc.destroy()
    out = np.full(n, _LPA_NONE, dtype=np.int64)
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        out[np.frombuffer(kb, dtype=np.int32)] = np.frombuffer(
            rb, dtype=np.int64
        )
    return out


def louvain_own_weight(keys, nbrs, wgts, comm):
    """Per key run (keys sorted): Σ weight of the entries whose
    neighbor shares the key's community — Louvain's k_i_in term for
    the modularity sum. Returns (distinct keys, sums); associative, so
    runs split across batches merge by addition."""
    contrib = np.where(comm[nbrs] == comm[keys], wgts, 0)
    starts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate((np.zeros(1, dtype=np.int64), starts))
    return keys[starts], np.add.reduceat(contrib, starts)


def _own_comm_weight_fn(w_bc):
    """mapInArrow fn: ``louvain_own_weight`` per batch of
    receiver-keyed weighted blobs; partials merge driver-side, no tail
    carry."""

    def fn(batches):
        comm = w_bc.value
        for batch in batches:
            keys = _concat_blobs(batch, 0, np.int32)
            if len(keys) == 0:
                continue
            yield _partial_row(
                *louvain_own_weight(
                    keys,
                    _concat_blobs(batch, 1, np.int32),
                    _concat_blobs(batch, 2, np.int64),
                    comm,
                )
            )

    return fn


def gather_own_comm_weight(
    adj: DataFrame, comm: np.ndarray, n: int
) -> np.ndarray:
    """int64[n]: per key, Σ weight of edges whose neighbor shares the
    key's community (zeros for keys with no adjacency rows)."""
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(comm)
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(
                _own_comm_weight_fn(w_bc), "kb binary, rb binary"
            ).toPandas()
    finally:
        w_bc.destroy()
    out = np.zeros(n, dtype=np.int64)
    for kb, rb in zip(pdf["kb"], pdf["rb"]):
        np.add.at(
            out,
            np.frombuffer(kb, dtype=np.int32),
            np.frombuffer(rb, dtype=np.int64),
        )
    return out


#: low 31 bits of a packed (community << 31 | community) pair key
PAIR_MASK = (1 << 31) - 1


def sum_by_key(keys: np.ndarray, w: np.ndarray):
    """(sorted distinct keys, Σ w per key): one sort + ``reduceat``."""
    if len(keys) == 0:
        return keys, w
    order = np.argsort(keys, kind="stable")
    k, w = keys[order], w[order]
    starts = np.flatnonzero(k[1:] != k[:-1]) + 1
    starts = np.concatenate((np.zeros(1, dtype=np.int64), starts))
    return k[starts], np.add.reduceat(w, starts)


def louvain_relabel_pairs(keys, nbrs, wgts, comm):
    """Louvain compression of receiver-keyed weighted entries that
    carry each merged edge once per direction: relabel both ends to
    their community and keep the entries with comm[k] ≤ comm[v] as the
    packed int64 key ``comm[k] << 31 | comm[v]``, summing weights per
    key. A cross-community edge survives in exactly one direction (the
    reference's (min, max) re-key); an intra-community edge survives in
    both, so the diagonal keys ``c << 31 | c`` carry the reference's
    ×2 internal weight (compressGraph, LouvainCore.scala:273-342).
    Returns (sorted packed keys, sums); merging outputs is another
    ``sum_by_key`` over their concatenation."""
    ck = comm[keys]
    cv = comm[nbrs]
    keep = ck <= cv
    return sum_by_key((ck[keep] << 31) | cv[keep], wgts[keep])


def _relabel_fn(w_bc):
    """mapInArrow fn: ``louvain_relabel_pairs`` per batch, merged per
    partition into ONE (kb packed int64, rb int64) blob row."""

    def fn(batches):
        comm = w_bc.value
        ks, ws = [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            k, w = louvain_relabel_pairs(
                _concat_blobs(batch, 0, np.int32),
                _concat_blobs(batch, 1, np.int32),
                _concat_blobs(batch, 2, np.int64),
                comm,
            )
            ks.append(k)
            ws.append(w)
        if ks:
            yield _partial_row(*sum_by_key(np.concatenate(ks), np.concatenate(ws)))

    return fn


def gather_louvain_relabel(adj: DataFrame, comm: np.ndarray):
    """One shuffle-free pass over ``receiver_weighted_adjacency``
    blobs: the level's compressed (packed community pair, Σ weight)
    table, diagonal keys included (see ``louvain_relabel_pairs``) —
    O(communities²) bytes at most back through the collect."""
    spark = adj.sparkSession
    w_bc = spark.sparkContext.broadcast(comm)
    try:
        with arrow_batch(spark, BLOB_BATCH_ROWS):
            pdf = adj.mapInArrow(_relabel_fn(w_bc), "kb binary, rb binary").toPandas()
    finally:
        w_bc.destroy()
    empty = np.zeros(0, dtype=np.int64)
    return sum_by_key(
        np.concatenate([empty] + [np.frombuffer(b, dtype=np.int64) for b in pdf["kb"]]),
        np.concatenate([empty] + [np.frombuffer(b, dtype=np.int64) for b in pdf["rb"]]),
    )


def gather_key_weight_sums(adj: DataFrame, n: int) -> np.ndarray:
    """int64[n] per-KEY weight sums (Σ w over each key's adjacency
    run) from one pass over receiver-keyed weighted blobs — Louvain's
    node weight (Σ incident edge weight, both directions, when the
    view carries both directions)."""

    def fn(batches):
        acc = np.zeros(n, dtype=np.int64)
        got = False
        for batch in batches:
            got = True
            np.add.at(
                acc,
                _concat_blobs(batch, 0, np.int32),
                _concat_blobs(batch, 2, np.int64),
            )
        if got:
            nz = np.flatnonzero(acc)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([nz.astype(np.int32).tobytes()], type=pa.binary()),
                    pa.array([acc[nz].tobytes()], type=pa.binary()),
                ],
                ["kb", "cb"],
            )

    spark = adj.sparkSession
    with arrow_batch(spark, BLOB_BATCH_ROWS):
        pdf = adj.mapInArrow(fn, "kb binary, cb binary").toPandas()
    out = np.zeros(n, dtype=np.int64)
    for kb, cb in zip(pdf["kb"], pdf["cb"]):
        np.add.at(
            out,
            np.frombuffer(kb, dtype=np.int32),
            np.frombuffer(cb, dtype=np.int64),
        )
    return out


def vector_to_df(
    spark, orig_id: np.ndarray, values: np.ndarray, name: str, dtype: str
) -> DataFrame:
    """(id LONG, <name> <dtype>) DataFrame from driver vectors — the
    tier's exit back to the public DataFrame contract (Arrow-batched;
    bounded by the tier cap, so ≤ a few hundred MB)."""
    import pandas as pd

    pdf = pd.DataFrame({"id": orig_id, name: values})
    return spark.createDataFrame(pdf, schema=f"id long, {name} {dtype}")
