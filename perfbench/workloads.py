"""The benchmark jobs, their inputs and their output checks.

A job is what one CLI invocation of DGA does: ingest, analytics to
convergence, collect or write the result. ``run`` times it; ``check``
compares its outputs with references computed in numpy/networkx from
the same seeded inputs, outside every timed region. ``processes`` is
how many fresh processes, one job each, a run measures at least.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import inputs

#: base of the replicated shuffle-tier input (≈93k edges over 2,000
#: files) and its replica count
COOC_BASE = inputs.CoocShape(orders=12_000, parts=2_000)
REPLICAS = 16
#: ids of replica r are offset by r * REPLICA_OFFSET (above any part key)
REPLICA_OFFSET = 10_000_000
#: planted-partition edge list for Louvain: a tenth of a 1M-line,
#: 200,000-vertex graph, with communities of 40 (four Louvain levels)
PLANTED = inputs.PlantedShape(vertices=20_000, communities=500, lines=100_000)


@dataclass
class JobResult:
    """One job's timings and collected outputs."""

    job_s: float
    converge_s: float
    edges: int
    #: analytic calls attempted / raised
    attempted: int = 0
    raised: int = 0
    error: str = ""
    outputs: dict = field(default_factory=dict)
    iterations: dict = field(default_factory=dict)
    kernels: dict = field(default_factory=dict)


def partitions(n_edges: int, cpus: int) -> int:
    """bench.py's task sizing: three waves per core, but never below
    ~40k edges per task."""
    return min(3 * cpus, max(cpus, n_edges // 40_000))


def _collect(df, cols):
    pdf = df.select(*cols).toPandas().sort_values(cols[0])
    return tuple(pdf[c].to_numpy() for c in cols)


class _Ops:
    """Runs analytic calls in order, counting attempts and failures; a
    raised call ends the job and the calls after it count as failed."""

    def __init__(self, res: JobResult, planned: int):
        self.res = res
        self.planned = planned

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc is None:
            self.res.attempted = self.planned
            return False
        if not isinstance(exc, Exception):
            return False
        self.res.attempted = self.planned
        self.res.raised = self.planned - len(self.res.iterations)
        self.res.error = f"{exc_type.__name__}: {exc}"[:500]
        return True


def check_ranks(ids, rank, iters, ids_ref, ranks_ref, iters_ref) -> list[str]:
    """PageRank equals the power iteration: same vertices, ranks within
    relative 1e-6, same total, same superstep count. Dangling vertices
    keep no mass under Giraph semantics, so the total is the
    reference's, not 1."""
    bad = []
    if not np.array_equal(ids, ids_ref):
        bad.append("pagerank: vertex set differs")
    elif not np.allclose(rank, ranks_ref, rtol=1e-6, atol=0):
        err = float(np.max(np.abs(rank - ranks_ref) / ranks_ref))
        bad.append(f"pagerank: ranks differ from the power iteration (max rel err {err:.3g})")
    if abs(float(rank.sum()) - float(ranks_ref.sum())) > 1e-6:
        bad.append(f"pagerank: rank mass {rank.sum()} != {ranks_ref.sum()}")
    if iters != iters_ref:
        bad.append(f"pagerank: {iters} iterations, power iteration took {iters_ref}")
    return bad


def pagerank_np(src, dst, ids, damping=0.85, epsilon=0.001, max_iterations=100):
    """Giraph-semantics PageRank (operators/pagerank.py docstring): the
    teleport term is (1-d)/N, dangling vertices send nothing, stop when
    max relative change < ε after at least two updates."""
    n = len(ids)
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    inv = np.where(out_deg > 0, 1.0 / np.maximum(out_deg, 1.0), 0.0)
    rank = np.full(n, 1.0 / n)
    for i in range(1, max_iterations + 1):
        new = (1.0 - damping) / n + damping * np.bincount(d, weights=(rank * inv)[s], minlength=n)
        delta = float(np.max(np.abs(new - rank) / rank))
        rank = new
        if i >= 2 and delta < epsilon:
            return rank, i
    return rank, max_iterations


def nx_graph(src, dst):
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    return g


def cooc_reference(src, dst) -> dict:
    import networkx as nx

    ids = np.unique(np.concatenate([src, dst]))
    ranks, iters = pagerank_np(src, dst, ids)
    ref = {"ids": ids, "ranks": ranks, "pr_iterations": iters, "edges": len(src)}
    comp = np.empty(len(ids), dtype=np.int64)
    components = list(nx.connected_components(nx_graph(src, dst)))
    for members in components:
        m = np.fromiter(members, dtype=np.int64)
        comp[np.searchsorted(ids, m)] = m.max()
    ref["components"] = comp
    ref["n_components"] = len(components)
    return ref


# ------------------------------------------------------- cooc-x16-shuffle


class CoocShuffle:
    name = "cooc-x16-shuffle"
    ops = 2
    processes = 2

    def prepare(self, cache: str, seed: int) -> dict:
        return {"dir": inputs.write_cooc(cache, seed, COOC_BASE), "seed": seed}

    def run(self, spark, inp: dict, tracer, cpus: int) -> JobResult:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from __spark_entry__ import load_edges
        from distributed_graph_analytics_spark.operators.pagerank import pagerank
        from distributed_graph_analytics_spark.operators.wcc import (
            weakly_connected_components,
        )
        from distributed_graph_analytics_spark.plans.adjacency import ShuffleGraph

        res = JobResult(0.0, 0.0, 0)
        t0 = time.perf_counter()
        with tracer.span("repo_table", "edge_build"):
            # REPLICAS disjoint copies, ids offset per copy (as the
            # scaling worker replicates)
            rep = F.explode(F.sequence(F.lit(0).cast("long"), F.lit(REPLICAS - 1).cast("long")))
            off = F.col("rep") * F.lit(REPLICA_OFFSET).cast("long")
            edges = (
                load_edges(spark, inp["dir"])
                .select("src", "dst", "weight", rep.alias("rep"))
                .select((F.col("src") + off).alias("src"), (F.col("dst") + off).alias("dst"), "weight")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            res.edges = edges.count()
        n_part = partitions(res.edges, cpus)
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        t1 = time.perf_counter()
        sg = None
        with _Ops(res, self.ops):
            sg = ShuffleGraph(edges, num_partitions=n_part)
            # both packs are used (WCC needs the reverse one): build it
            # up front so vertices() derives from the two packs' keys
            sg.in_adjacency()
            with tracer.span("pagerank"):
                ranks, st = pagerank(edges, shuffle_graph=sg, strategy="shuffle")
                res.outputs["ranks"] = _collect(ranks, ["id", "rank"])
            res.iterations["pagerank"], res.kernels["pagerank"] = st.iterations, st.kernel
            with tracer.span("wcc"):
                comps, st = weakly_connected_components(
                    edges, edges_canonical=True, shuffle_graph=sg, strategy="shuffle"
                )
                res.outputs["components"] = _collect(comps, ["id", "component"])
            res.iterations["wcc"], res.kernels["wcc"] = st.iterations, st.kernel
        t2 = time.perf_counter()
        res.job_s, res.converge_s = t2 - t0, t2 - t1
        if sg is not None:
            sg.release()
        edges.unpersist()
        return res

    def reference(self, inp: dict) -> dict:
        src, dst, _w = inputs.cooc_edges_np(COOC_BASE, inp["seed"])
        return cooc_reference(src, dst)

    def check(self, res: JobResult, ref: dict) -> list[str]:
        bad = []
        if res.edges != REPLICAS * ref["edges"]:
            bad.append(f"edge table has {res.edges} rows, expected {REPLICAS * ref['edges']}")
        if "ranks" in res.outputs:
            ids, rank = res.outputs["ranks"]
            replica = ids // REPLICA_OFFSET
            for r in range(REPLICAS):
                sel = replica == r
                found = check_ranks(ids[sel] - r * REPLICA_OFFSET, rank[sel],
                                    res.iterations.get("pagerank"), ref["ids"],
                                    ref["ranks"] / REPLICAS, ref["pr_iterations"])
                if found:
                    bad += [f"replica {r}: {b}" for b in found]
                    break
        if "components" in res.outputs:
            ids, comp = res.outputs["components"]
            n_comp = len(np.unique(comp))
            if n_comp != REPLICAS * ref["n_components"]:
                bad.append(f"wcc: {n_comp} components, expected {REPLICAS * ref['n_components']}")
            expected = ref["components"][np.searchsorted(ref["ids"], ids % REPLICA_OFFSET)]
            if not np.array_equal(comp, expected + (ids // REPLICA_OFFSET) * REPLICA_OFFSET):
                bad.append("wcc: labels differ from the connected components")
        return bad


# ------------------------------------------------------- edgelist-louvain


class EdgelistLouvain:
    name = "edgelist-louvain"
    ops = 3  # louvain, k-core, vertex sink write
    processes = 2

    def prepare(self, cache: str, seed: int) -> dict:
        return {
            "path": inputs.write_edge_list(cache, seed, PLANTED),
            "seed": seed,
            "work": os.path.join(cache, f"louvain-work-{os.getpid()}"),
        }

    def run(self, spark, inp: dict, tracer, cpus: int) -> JobResult:
        from pyspark import StorageLevel

        from distributed_graph_analytics_spark import sinks
        from distributed_graph_analytics_spark.operators.kcore import core_numbers
        from distributed_graph_analytics_spark.operators.louvain import louvain
        from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager
        from distributed_graph_analytics_spark.sources.edges import read_edge_list

        shutil.rmtree(inp["work"], ignore_errors=True)
        ckpt_dir = os.path.join(inp["work"], "checkpoints")
        sink_dir = os.path.join(inp["work"], "communities")
        res = JobResult(0.0, 0.0, 0)
        t0 = time.perf_counter()
        with tracer.span("edges", "read_edge_list"):
            edges = read_edge_list(spark, inp["path"]).persist(StorageLevel.MEMORY_AND_DISK)
            res.edges = edges.count()
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions(res.edges, cpus)))
        t1 = time.perf_counter()
        t2 = t1
        with _Ops(res, self.ops):
            with tracer.span("louvain"):
                # the reference CLI's min_progress (2000) is 1% of a
                # 200,000-vertex graph; keep that share at this size
                out = louvain(
                    edges,
                    min_progress=max(1, PLANTED.vertices // 100),
                    checkpoint_manager=CheckpointManager(spark, ckpt_dir),
                )
            res.iterations["louvain"] = len(out.levels)
            res.outputs["levels"] = [(lv.q, lv.cycles) for lv in out.levels]
            with tracer.span("kcore"):
                cores, st = core_numbers(edges, edges_canonical=True, strategy="auto")
                res.outputs["cores"] = _collect(cores, ["id", "core"])
            res.iterations["kcore"], res.kernels["kcore"] = st.iterations, st.kernel
            t2 = time.perf_counter()
            sinks.write_vertex_sink(out.final, sink_dir)
            res.iterations["sink"] = 1
        res.job_s, res.converge_s = time.perf_counter() - t0, t2 - t1
        res.outputs["sink_dir"] = sink_dir
        res.outputs["checkpoint_dir"] = ckpt_dir
        edges.unpersist()
        return res

    def reference(self, inp: dict) -> dict:
        import networkx as nx

        src, dst, w = inputs.planted_edges(PLANTED, inp["seed"])
        ids = np.unique(np.concatenate([src, dst]))
        core = nx.core_number(nx_graph(src, dst))
        cores = np.array([core[int(v)] for v in ids], dtype=np.int64)
        return {"src": src, "dst": dst, "w": w, "ids": ids, "cores": cores}

    def check(self, res: JobResult, ref: dict) -> list[str]:
        bad = []
        if res.edges != len(ref["src"]):
            bad.append(f"edge list has {res.edges} rows, expected {len(ref['src'])}")
        if "cores" in res.outputs:
            ids, core = res.outputs["cores"]
            if not (np.array_equal(ids, ref["ids"]) and np.array_equal(core, ref["cores"])):
                bad.append("kcore: core numbers differ from networkx.core_number")
        if "sink" not in res.iterations:
            return bad
        levels = res.outputs["levels"]
        comm = read_vertex_sink(res.outputs["sink_dir"])
        q = modularity(ref["src"], ref["dst"], ref["w"], comm)
        if q is None:
            bad.append("louvain: written sink misses vertices")
        elif abs(q - levels[-1][0]) > 1e-6:
            bad.append(f"louvain: sink modularity {q:.9f} != reported Q {levels[-1][0]:.9f}")
        saved = checkpointed_levels(res.outputs["checkpoint_dir"])
        if saved != len(levels):
            bad.append(f"louvain: {saved} checkpointed levels, {len(levels)} levels run")
        return bad


def read_vertex_sink(path: str) -> dict:
    comm = {}
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as f:
                for line in f:
                    v, c = line.rstrip("\n").split(",")
                    comm[int(v)] = int(c)
    return comm


def modularity(src, dst, w, comm: dict) -> float | None:
    """Newman modularity of an undirected weighted partition:
    Σ_c [ L_c / W − (d_c / 2W)² ]."""
    try:
        cs = np.fromiter((comm[int(v)] for v in src), dtype=np.int64, count=len(src))
        cd = np.fromiter((comm[int(v)] for v in dst), dtype=np.int64, count=len(dst))
    except KeyError:
        return None
    wf = w.astype(np.float64)
    total = wf.sum()
    labels, inv = np.unique(np.concatenate([cs, cd]), return_inverse=True)
    deg = np.bincount(inv, weights=np.concatenate([wf, wf]), minlength=len(labels))
    internal = wf[cs == cd].sum()
    return float(internal / total - np.sum((deg / (2 * total)) ** 2))


def checkpointed_levels(ckpt_dir: str) -> int:
    base = os.path.join(ckpt_dir, "louvain_vertices")
    if not os.path.isdir(base):
        return 0
    return sum(os.path.exists(os.path.join(base, d, "_VALID")) for d in os.listdir(base))


WORKLOADS = {w.name: w for w in (CoocShuffle(), EdgelistLouvain())}
