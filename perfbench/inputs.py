"""Seeded benchmark inputs, written under the benchmark's cache directory.

Two input families:

- a TPC-H-shaped ``lineitem.parquet`` (``l_orderkey``, ``l_partkey``,
  ``l_suppkey``) that ``__spark_entry__.load_edges`` turns into the repo
  co-occurrence edge table;
- a planted-partition graph in the reference's ``src,dst,weight`` text
  edge-list format.

Both structures are fixed (generated from ``BASE_SEED``); the run seed
draws the vertex ids, keeping their order, so hash and bucket placement
move while every iteration count and check stays the same.

Generation happens outside every timed region and is cached per seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

#: structure seed of the co-occurrence input (the run seed relabels it)
BASE_SEED = 20240611


@dataclass(frozen=True)
class CoocShape:
    orders: int
    parts: int
    items_per_order: float = 4.0


@dataclass(frozen=True)
class PlantedShape:
    vertices: int
    communities: int
    lines: int
    intra: float = 0.8
    max_weight: int = 5


#: relabeled part keys are drawn from [0, parts * ID_SPREAD)
ID_SPREAD = 64


def part_bijection(seed: int, parts: int) -> np.ndarray:
    """Seeded, order-preserving relabeling of the part keys
    ``0..parts-1``: sorted distinct draws from a wider id range. Every
    pair keeps src < dst and the same direction, so iteration counts
    and checks do not depend on the seed, while the ids, and with them
    hash and bucket placement, do. Seed 0 is the identity."""
    if seed == 0:
        return np.arange(parts, dtype=np.int64)
    rng = np.random.default_rng(seed % (1 << 63))  # any int seed, negative too
    return np.sort(rng.choice(parts * ID_SPREAD, size=parts, replace=False)).astype(np.int64)


def cooc_incidence(shape: CoocShape) -> tuple[np.ndarray, np.ndarray]:
    """(orderkey, partkey) rows before relabeling. Items per order are
    Poisson (at least 1) and parts uniform, as in TPC-H ``lineitem``;
    an order lists each part at most once after the engine's dedup."""
    rng = np.random.default_rng(BASE_SEED)
    sizes = np.maximum(rng.poisson(shape.items_per_order, shape.orders), 1)
    orders = np.repeat(np.arange(shape.orders, dtype=np.int64), sizes)
    parts = rng.integers(0, shape.parts, size=len(orders), dtype=np.int64)
    return orders, parts


def write_cooc(cache: str, seed: int, shape: CoocShape) -> str:
    """Directory holding ``lineitem.parquet`` for ``seed`` (created once)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = "-".join(str(v) for v in vars(shape).values())
    out = os.path.join(cache, f"cooc-{fields}-s{seed}")
    path = os.path.join(out, "lineitem.parquet")
    if os.path.exists(path):
        return out
    orders, parts = cooc_incidence(shape)
    parts = part_bijection(seed, shape.parts)[parts]
    table = pa.table(
        {
            "l_orderkey": orders,
            "l_partkey": parts,
            "l_suppkey": orders % 1000,
        }
    )
    os.makedirs(out, exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return out


def cooc_edges_np(shape: CoocShape, seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The co-occurrence edge table the engine should build, computed in
    numpy: files sharing an order are connected (src < dst), weight =
    number of shared orders. (The engine keys commits by (repo, order);
    an order lives in exactly one repo, so orders are the groups.)"""
    orders, parts = cooc_incidence(shape)
    parts = part_bijection(seed, shape.parts)[parts]
    span = shape.parts * ID_SPREAD  # above every relabeled key
    inc = np.unique(orders * span + parts)
    o, p = inc // span, inc % span
    starts = np.flatnonzero(np.r_[True, o[1:] != o[:-1]])
    sizes = np.diff(np.r_[starts, len(o)])
    src, dst = [], []
    for k in range(2, int(sizes.max()) + 1):
        grp = starts[sizes == k]
        if not len(grp):
            continue
        block = p[grp[:, None] + np.arange(k)]  # sorted within each order
        i, j = np.triu_indices(k, 1)
        src.append(block[:, i].ravel())
        dst.append(block[:, j].ravel())
    src = np.concatenate(src)
    dst = np.concatenate(dst)
    key, weight = np.unique(src * span + dst, return_counts=True)
    return key // span, key % span, weight.astype(np.int64)


def planted_edges(shape: PlantedShape, seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Unique undirected weighted edges (src < dst, no self loops) of a
    planted-partition graph: ``intra`` of the lines stay inside one of
    ``communities`` equal blocks. The structure comes from ``BASE_SEED``
    with vertex ids scattered over a sparse range, so ids carry no block
    order; the run seed then draws the ids themselves, keeping their
    order, so Louvain's trajectory (its id-ordered tie-breaks and move
    gates included) is the same for every seed."""
    rng = np.random.default_rng(BASE_SEED)
    size = shape.vertices // shape.communities
    n = size * shape.communities
    # draw with headroom, then keep the first `lines` unique pairs
    m = int(shape.lines * 1.1) + 16
    block = rng.integers(0, shape.communities, m)
    u = block * size + rng.integers(0, size, m)
    intra = rng.random(m) < shape.intra
    v = np.where(intra, block * size + rng.integers(0, size, m), rng.integers(0, n, m))
    keep = u != v
    a, b = np.minimum(u, v)[keep], np.maximum(u, v)[keep]
    _, first = np.unique(a * n + b, return_index=True)
    first = np.sort(first)[: shape.lines]
    w = rng.integers(1, shape.max_weight + 1, len(first))
    rank = rng.permutation(n)  # vertex -> position in id order
    ids_rng = np.random.default_rng(seed % (1 << 63))
    ids = np.sort(ids_rng.choice(np.int64(n) * ID_SPREAD, size=n, replace=False))
    src, dst = ids[rank[a[first]]], ids[rank[b[first]]]
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    return lo.astype(np.int64), hi.astype(np.int64), w.astype(np.int64)


def write_edge_list(cache: str, seed: int, shape: PlantedShape) -> str:
    """Path of the ``src,dst,weight`` text file for ``seed`` (created once)."""
    fields = "-".join(str(v) for v in vars(shape).values())
    path = os.path.join(cache, f"planted-{fields}-s{seed}.csv")
    if os.path.exists(path):
        return path
    src, dst, w = planted_edges(shape, seed)
    os.makedirs(cache, exist_ok=True)
    tmp = path + ".tmp"
    np.savetxt(tmp, np.stack([src, dst, w], axis=1), fmt="%d", delimiter=",")
    os.replace(tmp, path)
    return path
