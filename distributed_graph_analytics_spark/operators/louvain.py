"""Louvain modularity — parallel community move + graph compression.

A faithful DataFrame re-expression of the reference's GraphX Louvain
(dga-graphx louvain/LouvainCore.scala:40-342 and the multi-level driver
AbstractLouvainRunner.scala:43-74):

- vertex state (id, community, sigma_tot, internal_w, node_w, changed)
  = LouvainData (LouvainData.scala:27-33), numeric ids only;
- node weight = Σ incident edge weight, both directions
  (createLouvainGraph, LouvainCore.scala:46-52); parallel (src,dst)
  edges merged up front (groupEdges, :58);
- per cycle, each vertex gathers per-neighbor-community
  (community, sigma_tot) → Σ edge weight (sendCommunityData /
  mergeCommunityMessages, :189-210) — here one triplets join + one
  groupBy (the map-union merge IS the groupBy);
- best-community choice: ΔQ = k_i_in − k_i·σ_tot/M with σ_tot
  excluding the vertex when evaluating its current community
  (q(), :253-267); candidates require ΔQ > 0; ties broken toward the
  larger community id (:226). ΔQ is compared in the exact m-scaled
  integer form (decimal(38,0)) — order-identical to the reference's
  BigDecimal k_i_in − k_i·σ/M (:221) but free of decimal-division
  rounding, hence bit-reproducible across engines;
- oscillation damping: even cycles only allow moves to lower community
  ids, odd cycles to higher (code at :234 — note the comment in the
  reference says the opposite of what its code does; we follow the
  code);
- community σ_tot recompute = groupBy(community).sum(node_w +
  internal_w) joined back to members (:105-122);
- progress halt: changed-vertex count accumulated per even+odd pair,
  compared against the previous pair minus minProgress; stop after
  progressCounter consecutive low-progress pairs or zero moves
  (:145-152);
- modularity Q = Σ_v max(0, k_i_in/M − σ_tot·k_i/M²) over vertices
  with neighbors (:157-179);
- compression: self-community edges ×2 → community internal weight;
  cross-community edges re-keyed (min,max) and summed; communities
  become vertices (compressGraph, :273-342). After a gather-tier or
  in-process level this is ONE relabel pass over the level's
  receiver-keyed adjacency (``gather_louvain_relabel``: packed
  ``comm<<31 | comm`` pair keys, sort + ``reduceat``); after a
  shuffle-kernel level, or when the compressed level might not fit
  plans/gather.py's ``_LOCAL_LEVEL_BYTES``, it is the three-join
  DataFrame compressGraph;
- outer loop: repeat while Q improves by > 0.001
  (AbstractLouvainRunner.scala:63).

Three kernels run a level (``LouvainLevel.kernel``): "shuffle" is
joins + aggregations, the ΔQ argmax a single max(struct(...))
aggregate; "gather" runs one shuffle-free vectorized Arrow pass per
move cycle over blob adjacency (plans/gather.py); "local" runs the
same gather kernels (``louvain_best``, ``louvain_own_weight``,
``louvain_relabel_pairs``) on driver arrays — a level 0 that the seam
places on the driver, and every level after a relabel-merge
compression that fits the same byte budget, where a Spark job per
pass would cost more than the work. All three give the same
communities and cycle counts, and Q up to float summation order
("gather" and "local" bit for bit).

The per-level checkpoints (``checkpoint_manager``) of a level held on
driver arrays — a "gather" or "local" level, its relabel compression
and an array mapping — are Arrow tables that plans/checkpoint.py
writes and hashes in process, with no Spark job; only a level on the
DataFrame path saves DataFrames.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from distributed_graph_analytics_spark.plans import gather
from distributed_graph_analytics_spark.plans.gather import (
    PAIR_MASK,
    _LPA_NONE,
    GatherGraph,
    _as_int64_weights,
    _local_pairs,
    fits_driver,
    frame,
    integral_weight,
    resolve_tier,
    sum_by_key,
    vector_table,
    vector_to_df,
)
from distributed_graph_analytics_spark.plans.iteration import materialize, truncate


_DEC = "decimal(38,12)"
#: exact integer arithmetic for the m-scaled ΔQ comparison
_DEC0 = "decimal(38,0)"


@dataclass
class LouvainLevel:
    level: int
    q: float
    cycles: int
    #: community assignment of this level's (possibly compressed) vertices
    assignment: DataFrame = None
    #: kernel that ran the level: "shuffle", "gather" or "local" (in
    #: process); "" for a level resumed from a manifest without it
    kernel: str = ""


@dataclass
class LouvainResult:
    #: per original vertex: community id at level 0
    level0: DataFrame = None
    #: per original vertex: community id after the final level (folded)
    final: DataFrame = None
    levels: list[LouvainLevel] = field(default_factory=list)
    wall_seconds: float = 0.0
    #: level index this run resumed AFTER (-1 = fresh run)
    resumed_from: int = -1


def _community_messages(state: DataFrame, edges: DataFrame) -> DataFrame:
    """Per (vertex, neighboring community): Σ edge weight + that
    community's current σ_tot (sendCommunityData/mergeCommunityMessages).
    """
    src_info = state.select(
        F.col("id").alias("src"),
        F.col("community").alias("src_comm"),
        F.col("sigma_tot").alias("src_sigma"),
    )
    dst_info = state.select(
        F.col("id").alias("dst"),
        F.col("community").alias("dst_comm"),
        F.col("sigma_tot").alias("dst_sigma"),
    )
    triplets = edges.join(src_info, "src").join(dst_info, "dst")
    msgs = triplets.select(
        F.col("src").alias("id"),
        F.col("dst_comm").alias("comm"),
        F.col("dst_sigma").alias("comm_sigma"),
        "weight",
    ).unionByName(
        triplets.select(
            F.col("dst").alias("id"),
            F.col("src_comm").alias("comm"),
            F.col("src_sigma").alias("comm_sigma"),
            "weight",
        )
    )
    return msgs.groupBy("id", "comm", "comm_sigma").agg(
        F.sum("weight").alias("w_to_comm")
    )


def _best_community(state: DataFrame, msgs: DataFrame, m_total: int, even: bool) -> DataFrame:
    """One move cycle: pick argmax-ΔQ community per vertex, gated by the
    even/odd direction rule; returns the new state (changed flags set).
    """
    cand = msgs.join(state, "id")
    is_cur = F.col("comm") == F.col("community")
    # ΔQ compared in the m-scaled integer form: the reference's
    # BigDecimal q() is k_i_in − k_i·σ/M (LouvainCore.scala:253-267);
    # multiplying every candidate by the positive constant M preserves
    # the argmax, the >0 gate, and every tie EXACTLY, while replacing
    # decimal division (engine-dependent scale/rounding) with exact
    # integer arithmetic in decimal(38,0) — bit-reproducible in any
    # engine, which is what lets DuckDB re-run the kernel as an oracle.
    k_i = (F.col("node_w") + F.col("internal_w")).cast(_DEC0)
    k_i_in = F.when(is_cur, F.col("w_to_comm") + F.col("internal_w")).otherwise(
        F.col("w_to_comm")
    ).cast(_DEC0)
    sigma = F.when(is_cur, F.col("comm_sigma").cast(_DEC0) - k_i).otherwise(
        F.col("comm_sigma").cast(_DEC0)
    )
    m_dec = F.lit(int(m_total)).cast(_DEC0)
    delta_q = F.when(is_cur & (sigma == 0), F.lit(0).cast(_DEC0)).otherwise(
        k_i_in * m_dec - k_i * sigma
    )
    best = (
        cand.select("id", "comm", delta_q.alias("dq"))
        .where(F.col("dq") > 0)
        .groupBy("id")
        .agg(F.max(F.struct("dq", "comm")).alias("b"))
        .select("id", F.col("b.comm").alias("best_comm"))
    )
    gate = (
        (F.lit(even) & (F.col("community") > F.col("best_comm")))
        | (~F.lit(even) & (F.col("community") < F.col("best_comm")))
    )
    moved = state.join(best, "id", "left_outer").select(
        "id",
        "internal_w",
        "node_w",
        F.when(
            F.col("best_comm").isNotNull()
            & (F.col("best_comm") != F.col("community"))
            & gate,
            F.col("best_comm"),
        )
        .otherwise(F.col("community"))
        .alias("community"),
        (
            F.col("best_comm").isNotNull()
            & (F.col("best_comm") != F.col("community"))
            & gate
        ).alias("changed"),
    )
    # recompute σ_tot per community and map back to members
    # (LouvainCore.scala:105-122)
    sigma_update = moved.groupBy("community").agg(
        F.sum(F.col("node_w") + F.col("internal_w")).alias("sigma_tot")
    )
    return moved.join(sigma_update, "community").select(
        "id", "community", "sigma_tot", "internal_w", "node_w", "changed"
    )


def louvain_level(
    edges: DataFrame,
    min_progress: int = 1,
    progress_counter: int = 1,
    fixed_cycles: int | None = None,
    strategy: str = "auto",
) -> tuple[float, DataFrame, int]:
    """One Louvain level to progress-halt; returns (Q, state, passes).

    Mirrors LouvainCore.louvain() on an uncompressed graph (internal
    weights start at 0). ``fixed_cycles`` disables the progress halt
    and runs exactly that many move cycles — the deterministic,
    SQL-unrollable variant used by the driver oracle.

    ``strategy`` picks the tier (plans/gather.py::resolve_tier, with
    the level's vertex dictionary); the gather kernel also declines a
    level whose m-scaled integer ΔQ could overflow int64.
    """
    return _louvain_level_with_internal(
        edges, None, min_progress, progress_counter, fixed_cycles, strategy
    )


#: checkpoint names for the per-level Louvain sinks (S10/S11): the
#: level's clustered vertices, whose manifest carries the cumulative
#: q-history (HDFSLouvainRunner.saveLevel's vertices + qvalues,
#: HDFSLouvainRunner.scala:47-56), and the resume set — cumulative
#: original→community mapping, the NEXT level's compressed edge/
#: internal-weight input (LouvainVertexOutputFormat.java:52-69's
#: "community:internalWeight:nodeWeight" re-ingest path), and the
#: level-0 assignment, saved once at level 0.
_CKPT_VERTICES = "louvain_vertices"
_CKPT_MAPPING = "louvain_mapping"
_CKPT_NEXT_EDGES = "louvain_next_edges"
_CKPT_NEXT_INTERNAL = "louvain_next_internal"
_CKPT_LEVEL0 = "louvain_level0"
_RESUME_NAMES = (_CKPT_MAPPING, _CKPT_NEXT_EDGES, _CKPT_NEXT_INTERNAL)


def _try_resume_louvain(ckpt) -> tuple | None:
    """Latest level L for which the FULL resume set is valid (a kill
    between the per-name writes leaves a partial level, which is simply
    ignored in favor of the previous complete one), plus the level-0
    assignment; returns (L, {name: (df, manifest)}) or None."""
    names = _RESUME_NAMES + (_CKPT_LEVEL0,)
    latests = [ckpt.latest(n) for n in names]
    if any(x is None for x in latests):
        return None
    level = min(it for _, it in latests[:-1])
    # level 0 is saved once, so it is read at its own iteration
    at = [level] * len(_RESUME_NAMES) + [latests[-1][1]]
    frames = {}
    for n, it in zip(names, at):
        loaded = ckpt.try_resume_at(n, it)
        if loaded is None:
            return None
        frames[n] = loaded
    return level, frames


@dataclass
class _LocalGraph:
    """A level held on the driver: sorted vertex (community) ids,
    distinct directed cid pairs with their summed weight (``src < dst``
    after a compression), and per-cid internal weight."""

    ids: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    w: np.ndarray
    internal_w: np.ndarray

    @property
    def n(self) -> int:
        return len(self.ids)

    def tables(self) -> tuple[pa.Table, pa.Table]:
        """(edges, internal) tables — the checkpointed resume set."""
        edges = pa.table({"src": self.ids[self.src], "dst": self.ids[self.dst], "weight": self.w})
        return edges, vector_table(self.ids, self.internal_w, "internal_w", "long")

    def frames(self, spark) -> tuple[DataFrame, DataFrame]:
        """(edges, internal) DataFrames — the DataFrame path's input."""
        edges, internal = self.tables()
        return frame(spark, edges), frame(spark, internal)

    @classmethod
    def collect(cls, edges: DataFrame, internal: DataFrame | None = None) -> "_LocalGraph":
        """A level's driver placement: one ``toArrow()`` collect of its
        edges, parallel (src, dst) rows merged as the DataFrame level's
        groupBy does, and of ``internal``, whose ids join the dictionary
        (a fully-internal community has no edge but stays a vertex)."""
        e = edges.select("src", "dst", "weight").toArrow()
        src, dst = (e.column(c).to_numpy().astype(np.int64, copy=False) for c in ("src", "dst"))
        i = internal.select("id", "internal_w").toArrow() if internal is not None else None
        i_ids = [] if i is None else [i.column("id").to_numpy().astype(np.int64, copy=False)]
        ids = np.unique(np.concatenate([src, dst] + i_ids))
        internal_w = np.zeros(len(ids), dtype=np.int64)
        if i is not None:
            internal_w[np.searchsorted(ids, i_ids[0])] = i.column("internal_w").to_numpy()
        pk, pw = sum_by_key(
            (np.searchsorted(ids, src) << 31) | np.searchsorted(ids, dst),
            _as_int64_weights(e.column("weight").to_numpy()),
        )
        return cls(ids=ids, src=pk >> 31, dst=pk & PAIR_MASK, w=pw, internal_w=internal_w)


@dataclass
class _Level:
    """One finished level. A "shuffle" level holds its state
    DataFrame; "gather" and "local" levels hold driver arrays in cid
    space (``ids`` sorted, cid = rank) plus the receiver-keyed
    adjacency a relabel compression reads (``adj``: the gather level's
    blobs, or the local level's driver Pairs)."""

    q: float
    passes: int
    kernel: str
    state: DataFrame | None = None
    ids: np.ndarray | None = None
    comm: np.ndarray | None = None
    sigma: np.ndarray | None = None
    internal_w: np.ndarray | None = None
    node_w: np.ndarray | None = None
    changed: np.ndarray | None = None
    adj: object = None

    def table(self) -> pa.Table:
        """An array level's vertex state (id, community, sigma_tot,
        internal_w, node_w, changed)."""
        return pa.table(
            {
                "id": self.ids,
                "community": self.ids[self.comm],
                "sigma_tot": self.sigma[self.comm],
                "internal_w": self.internal_w,
                "node_w": self.node_w,
                "changed": self.changed,
            }
        )

    def frame(self, spark) -> DataFrame:
        """The level's vertex state as a DataFrame (see :meth:`table`)."""
        if self.state is None:
            self.state = frame(spark, self.table())
        return self.state

    def compress(self) -> _LocalGraph:
        """Relabel-merge compression to the next level's arrays: one
        relabel pass over the level's adjacency (a Spark job over gather
        blobs, one call on driver Pairs)."""
        pk, pw = gather.gather_louvain_relabel(self.adj, self.comm)
        self.adj = None
        a, b = pk >> 31, pk & PAIR_MASK
        diag = a == b
        internal = np.zeros(len(self.ids), dtype=np.int64)
        np.add.at(internal, self.comm, self.internal_w)
        np.add.at(internal, a[diag], pw[diag])
        ucomm = np.unique(self.comm)
        return _LocalGraph(
            ids=self.ids[ucomm],
            src=np.searchsorted(ucomm, a[~diag]),
            dst=np.searchsorted(ucomm, b[~diag]),
            w=pw[~diag],
            internal_w=internal[ucomm],
        )


def _labels_frame(spark, labels) -> DataFrame:
    """(id, community) DataFrame of an (ids, communities) array pair;
    a DataFrame passes through."""
    if isinstance(labels, DataFrame):
        return labels
    return vector_to_df(spark, *labels, "community", "long")


def _labels_state(labels) -> DataFrame | pa.Table:
    """What a checkpoint saves of (id, community) labels: the Arrow
    table of an array pair (written with no Spark job), or the
    DataFrame itself."""
    if isinstance(labels, DataFrame):
        return labels
    return vector_table(*labels, "community", "long")


def louvain(
    edges: DataFrame,
    min_progress: int = 2000,
    progress_counter: int = 1,
    max_levels: int = 20,
    checkpoint_manager=None,
    resume: bool = False,
    strategy: str = "auto",
) -> LouvainResult:
    """Full multi-level Louvain (AbstractLouvainRunner.run).

    Returns per-original-vertex level-0 and final community labels plus
    per-level Q values. Defaults match the reference CLI
    (DGARunner.scala:53-55: minProgress=2000, progressCounter=1).

    With ``checkpoint_manager`` each completed level persists its
    clustered vertices with the cumulative q-history in their manifest
    and — for levels that improve Q — the next level's compressed input
    + cumulative mapping (HDFSLouvainRunner.saveLevel parity). With
    ``resume=True`` a killed multi-level run restarts from its last
    completed level instead of level 0.

    ``strategy`` dispatches each level's move kernel (see
    :func:`louvain_level`) — per-level, so a level-0 graph over the
    gather-tier cap takes the join kernel while its compressed
    successors (a few thousand community vertices) take the
    vectorized gather kernel.

    In-process levels (``kernel == "local"``): the gather kernels'
    vote, own-weight and relabel functions called once per pass on the
    whole level's driver arrays, with no Spark job. Under
    ``strategy="auto"`` level 0 takes the seam's placement
    (plans/gather.py::resolve_tier): when both directions of its edge
    rows fit ``_LOCAL_LEVEL_BYTES`` at 16 B each, the edges are
    collected once and every level runs in process. Otherwise, once a
    level has run on the gather tier, it is compressed by one relabel
    pass over its blobs and the later levels run in process. DataFrames
    are created only for each level's ``assignment`` and
    ``level0``/``final``; the checkpoint saves of array levels are
    Arrow tables, written with no Spark job. The guard of a compressed
    level needs no job: a level with C communities compresses to at
    most C·(C−1)/2 pairs (and no more than its own edge rows, when a
    DataFrame compression or the resumed ``louvain_next_edges``
    manifest counted them); at 16 B a pair that bound must stay under
    the budget, or the level keeps the DataFrame compressGraph and the
    next one runs in Spark again. A resume whose ``louvain_next_edges``
    rows pass the guard continues in process. ``strategy="shuffle"``
    never runs a level in process and forced ``"gather"`` keeps level 0
    on Spark. An in-process level that the gather tier would decline
    (total weight ≤ 0, or max_k·M ≥ 2^62) falls back to the DataFrame
    path. Each level's ``kernel`` says which of "shuffle", "gather" and
    "local" ran it.
    """
    t0 = time.time()
    spark = edges.sparkSession
    result = LouvainResult()

    # level state: the DataFrame path's edge table + per-vertex
    # internal weight carried between levels (level-0 vertices have
    # internal weight 0), or the in-process level's arrays
    cur_edges = edges
    internal: DataFrame | None = None  # (id, internal_w) for level > 0
    local: _LocalGraph | None = None
    #: rows of cur_edges when counted for free (bounds the next pairs)
    edge_rows: int | None = None
    # original id -> current-level vertex id: (ids, community) arrays
    # while every level ran on arrays, else a DataFrame
    mapping = None
    q_prev = -1.0
    level = -1
    if checkpoint_manager is not None and resume:
        found = _try_resume_louvain(checkpoint_manager)
        if found is not None:
            level, frames = found
            next_edges, next_meta = frames[_CKPT_NEXT_EDGES]
            edge_rows = int(next_meta["rows"])
            next_internal = frames[_CKPT_NEXT_INTERNAL][0]
            mapping_df, mapping_meta = frames[_CKPT_MAPPING]
            if (
                strategy != "shuffle"
                and fits_driver(edge_rows)
                and integral_weight(next_edges)
                and integral_weight(next_internal, "internal_w")
            ):
                local = _LocalGraph.collect(next_edges, next_internal)
            else:
                cur_edges = truncate(next_edges)
                internal = truncate(next_internal)
            result.level0 = truncate(frames[_CKPT_LEVEL0][0])
            result.resumed_from = level
            q_prev = float(mapping_meta["metrics"]["q"])
            for lv in mapping_meta["metrics"].get("q_history", []):
                result.levels.append(
                    LouvainLevel(
                        level=int(lv["level"]), q=float(lv["q"]),
                        cycles=int(lv["cycles"]), kernel=lv.get("kernel", ""),
                    )
                )
            # the mapping stays on arrays when every level so far ran on
            # arrays, as in a run that was never stopped
            if local is not None and all(
                x.kernel in ("gather", "local") for x in result.levels
            ):
                pdf = mapping_df.toPandas()
                mapping = pdf["id"].to_numpy(np.int64), pdf["community"].to_numpy(np.int64)
            else:
                mapping = truncate(mapping_df)
    while level + 1 < max_levels:
        level += 1
        lv = None
        if local is not None:
            lv = _louvain_level_local(local, min_progress, progress_counter)
            if lv is None:  # the gather tier would decline it too
                cur_edges, internal = local.frames(spark)
            local = None
        if lv is None:
            lv = _run_level(cur_edges, internal, min_progress, progress_counter, strategy=strategy)
        if lv.ids is None:
            assignment = truncate(lv.state.select("id", "community"))
        else:
            assignment = _labels_frame(spark, (lv.ids, lv.ids[lv.comm]))
        result.levels.append(
            LouvainLevel(level=level, q=lv.q, cycles=lv.passes, assignment=assignment, kernel=lv.kernel)
        )
        if level == 0:
            result.level0 = assignment
            mapping = assignment if lv.ids is None else (lv.ids, lv.ids[lv.comm])
        elif isinstance(mapping, tuple) and lv.ids is not None:
            m_ids, m_comm = mapping
            mapping = m_ids, lv.ids[lv.comm[np.searchsorted(lv.ids, m_comm)]]
        else:
            mapping = truncate(
                _labels_frame(spark, mapping)
                .withColumnRenamed("community", "prev")
                .join(
                    assignment.withColumnRenamed("id", "prev"),
                    "prev",
                )
                .select("id", "community")
            )
        if checkpoint_manager is not None:
            # per-level audit sink (HDFSLouvainRunner.saveLevel parity):
            # the level's clustered vertex data; the manifest's
            # q_history is the reference's cumulative qvalues table
            hist = [
                {"level": x.level, "q": x.q, "cycles": x.cycles, "kernel": x.kernel}
                for x in result.levels
            ]
            checkpoint_manager.save(
                _CKPT_VERTICES,
                (lv.state if lv.ids is None else lv.table()).select(
                    ["id", "community", "internal_w", "node_w", "sigma_tot"]
                ),
                level,
                {"q": lv.q, "cycles": lv.passes, "q_history": hist},
            )
        if not (lv.q > q_prev + 0.001):
            break
        q_prev = lv.q
        if lv.kernel == "local" or (
            lv.kernel == "gather"
            and fits_driver(_pairs_bound(len(np.unique(lv.comm)), edge_rows))
        ):
            local = lv.compress()
            edge_rows = len(local.src)
        else:
            cur_edges, internal, edge_rows = _compress_frames(
                lv.frame(spark), cur_edges
            )
        if checkpoint_manager is not None:
            # resume set: a killed run restarts from this level's output;
            # driver arrays are saved as tables, with no Spark job
            labels = _labels_state(mapping)
            next_edges, next_internal = (
                local.tables() if local is not None else (cur_edges, internal)
            )
            checkpoint_manager.save(
                _CKPT_MAPPING, labels, level, {"q": lv.q, "q_history": hist}
            )
            checkpoint_manager.save(_CKPT_NEXT_EDGES, next_edges, level, {})
            checkpoint_manager.save(_CKPT_NEXT_INTERNAL, next_internal, level, {})
            if level == 0:
                # the cumulative mapping of level 0 is its assignment
                checkpoint_manager.save(_CKPT_LEVEL0, labels, level, {})
    result.final = _labels_frame(spark, mapping)
    result.wall_seconds = time.time() - t0
    return result


def _pairs_bound(communities: int, edge_rows: int | None) -> int:
    """Upper bound on a compressed level's distinct community pairs."""
    bound = communities * (communities - 1) // 2
    return bound if edge_rows is None else min(bound, edge_rows)


def _compress_frames(
    state: DataFrame, cur_edges: DataFrame
) -> tuple[DataFrame, DataFrame, int]:
    """compressGraph as DataFrame joins: returns the next level's
    (edges, internal) and the edge row count, observed on the edge
    table's own materialize job."""
    comm = state.select("id", "community", "internal_w")
    src_c = comm.select(F.col("id").alias("src"), F.col("community").alias("src_comm"))
    dst_c = comm.select(F.col("id").alias("dst"), F.col("community").alias("dst_comm"))
    triplets = (
        cur_edges.groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .join(src_c, "src")
        .join(dst_c, "dst")
    )
    internal_edge_w = (
        triplets.where(F.col("src_comm") == F.col("dst_comm"))
        .groupBy(F.col("src_comm").alias("community"))
        .agg((F.lit(2) * F.sum("weight")).alias("w_self"))
    )
    internal_node_w = comm.groupBy("community").agg(
        F.sum("internal_w").alias("w_members")
    )
    internal = truncate(
        internal_node_w.join(internal_edge_w, "community", "left_outer")
        .select(
            F.col("community").alias("id"),
            (F.col("w_members") + F.coalesce("w_self", F.lit(0))).alias(
                "internal_w"
            ),
        )
    )
    next_edges, obs = materialize(
        triplets.where(F.col("src_comm") != F.col("dst_comm"))
        .select(
            F.least("src_comm", "dst_comm").alias("src"),
            F.greatest("src_comm", "dst_comm").alias("dst"),
            "weight",
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight")),
        {"rows": F.count(F.lit(1))},
    )
    return next_edges, internal, int(obs["rows"])


def _louvain_level_with_internal(
    edges: DataFrame,
    internal: DataFrame | None,
    min_progress: int,
    progress_counter: int,
    fixed_cycles: int | None = None,
    strategy: str = "auto",
) -> tuple[float, DataFrame, int]:
    """louvain_level, but seeding per-vertex internal weights from the
    previous compression (compressGraph's newVertices carry
    internalWeight; node weight is recomputed from the level's edges).
    Isolated communities (all edges internal) still appear as vertices.
    """
    lv = _run_level(edges, internal, min_progress, progress_counter, fixed_cycles, strategy)
    return lv.q, lv.frame(edges.sparkSession), lv.passes


def _run_level(
    edges: DataFrame,
    internal: DataFrame | None,
    min_progress: int,
    progress_counter: int,
    fixed_cycles: int | None = None,
    strategy: str = "auto",
) -> _Level:
    """One level from DataFrames: the gather tier when it applies and
    accepts — on driver arrays when the seam places it there — else
    the join kernel."""
    g = resolve_tier(
        edges, strategy, "louvain", weight="weight",
        build=lambda e, driver: (
            _LocalGraph.collect(e, internal) if driver else _LevelGraph.build_level(e, internal)
        ),
    )
    lv = None
    if isinstance(g, _LocalGraph):
        lv = _louvain_level_local(g, min_progress, progress_counter, fixed_cycles)
    elif g is not None:
        lv = _louvain_level_gather(g, internal, min_progress, progress_counter, fixed_cycles)
    if lv is not None:
        return lv
    return _louvain_level_shuffle(
        edges, internal, min_progress, progress_counter, fixed_cycles
    )


def _louvain_level_shuffle(
    edges: DataFrame,
    internal: DataFrame | None,
    min_progress: int,
    progress_counter: int,
    fixed_cycles: int | None,
) -> _Level:
    """The join-agg kernel (LouvainCore.louvain as DataFrame joins)."""
    merged = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    node_w = (
        merged.select(F.col("src").alias("id"), "weight")
        .unionByName(merged.select(F.col("dst").alias("id"), "weight"))
        .groupBy("id")
        .agg(F.sum("weight").alias("node_w"))
    )
    if internal is not None:
        base = internal.join(node_w, "id", "full_outer").select(
            "id",
            F.coalesce("internal_w", F.lit(0)).alias("internal_w"),
            F.coalesce("node_w", F.lit(0)).alias("node_w"),
        )
    else:
        base = node_w.select("id", F.lit(0).cast("long").alias("internal_w"), "node_w")
    state = truncate(
        base.select(
            "id",
            F.col("id").alias("community"),
            (F.col("node_w") + F.col("internal_w")).alias("sigma_tot"),
            "internal_w",
            "node_w",
            F.lit(False).alias("changed"),
        )
    )
    merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
    m_total = int(
        state.agg(F.sum(F.col("internal_w") + F.col("node_w"))).first()[0] or 0
    )

    halt = _Halt(min_progress, progress_counter, fixed_cycles)
    while True:
        even = halt.next_pass()
        msgs = _community_messages(state, merged)
        new_state = truncate(_best_community(state, msgs, m_total, even))
        state.unpersist()
        state = new_state
        if halt.done(lambda: state.where("changed").count()):
            break

    msgs = _community_messages(state, merged)
    own_comm_w = (
        msgs.join(state.select("id", "community"), "id")
        .where(F.col("comm") == F.col("community"))
        .groupBy("id")
        .agg(F.sum("w_to_comm").alias("w_own"))
    )
    with_msgs = msgs.select("id").distinct()
    q_df = (
        state.join(with_msgs, "id", "left_semi")
        .join(own_comm_w, "id", "left_outer")
        .select(
            (
                (F.col("internal_w") + F.coalesce("w_own", F.lit(0)))
                / F.lit(float(m_total))
                - (
                    F.col("sigma_tot")
                    * (F.col("node_w") + F.col("internal_w"))
                    / F.lit(float(m_total) ** 2)
                )
            ).alias("q_i")
        )
        .select(F.when(F.col("q_i") < 0, 0.0).otherwise(F.col("q_i")).alias("q_i"))
    )
    q = float(q_df.agg(F.sum("q_i")).first()[0] or 0.0)
    merged.unpersist()
    return _Level(q=q, passes=halt.count // 2, kernel="shuffle", state=state)


class _Halt:
    """The progress halt (LouvainCore.scala:145-152): moved-vertex
    counts accumulate per even+odd pass pair and are compared against
    the previous pair minus minProgress; the level stops after
    progressCounter low-progress pairs or a pair without moves.
    ``fixed_cycles`` instead runs exactly that many passes."""

    def __init__(self, min_progress: int, progress_counter: int, fixed_cycles: int | None):
        self.min_progress = min_progress
        self.progress_counter = progress_counter
        self.fixed_cycles = fixed_cycles
        self.count = 0
        self.updated = -min_progress
        self.updated_last_phase = 0
        self.stop = 0

    def next_pass(self) -> bool:
        """Count one move pass; True for an even pass (moves only to
        lower community ids), False for an odd one."""
        self.count += 1
        return self.count % 2 == 1

    def done(self, moved) -> bool:
        """After a pass: ``moved()`` gives its moved-vertex count
        (not called under ``fixed_cycles``)."""
        if self.fixed_cycles is not None:
            return self.count >= self.fixed_cycles
        even = self.count % 2 == 1
        if even:
            self.updated = 0
        self.updated += moved()
        if not even:
            if self.updated >= self.updated_last_phase - self.min_progress:
                self.stop += 1
            self.updated_last_phase = self.updated
        return not (
            self.stop <= self.progress_counter
            and (even or (self.updated > 0 and self.count < 100_000))
        )


@dataclass
class _LevelGraph(GatherGraph):
    """A level's GatherGraph over its parallel-merged edges, whose
    dictionary also holds the internal-only vertices (a fully-internal
    community from the previous compression has no edges but must stay
    a vertex — the shuffle kernel's full_outer), each flagged with
    whether it has ≥ 1 incident edge."""

    has_edge: np.ndarray | None = field(default=None, repr=False)

    @classmethod
    def build_level(cls, edges: DataFrame, internal: DataFrame | None):
        merged = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
        flag = F.lit(True).alias("has_edge")
        ids = merged.select(F.col("src").alias("id"), flag).union(
            merged.select(F.col("dst").alias("id"), flag)
        )
        if internal is not None:
            ids = ids.union(internal.select("id", F.lit(False).alias("has_edge")))
        dictionary = (
            ids.groupBy("id").agg(F.max("has_edge").alias("has_edge")).toPandas()
            .sort_values("id")
        )
        uniq = dictionary["id"].to_numpy().astype(np.int64)
        return cls(
            edges=merged, uniq=uniq, n=len(uniq),
            has_edge=dictionary["has_edge"].to_numpy(dtype=bool),
        )


def _louvain_level_gather(
    g: _LevelGraph,
    internal: DataFrame | None,
    min_progress: int,
    progress_counter: int,
    fixed_cycles: int | None,
) -> _Level | None:
    """Gather-tier Louvain level (plans/gather.py): identical move
    semantics and cycle trajectory as the join kernel — the m-scaled
    integer ΔQ, the (ΔQ, community) struct-max tie-break, the even/odd
    move gate, exact integer σ_tot recompute, and the same progress
    halt, so per-cycle communities and changed counts match the
    shuffle kernel bit-for-bit (community ids and the gate compare in
    cid space, a monotone image of the original id space, so every
    comparison agrees). Each move cycle is ONE shuffle-free vectorized
    pass (``gather_louvain_votes``) over receiver-keyed weighted blobs
    of the parallel-merged undirected view; σ_tot and the move
    application are O(|V|) driver vector ops.

    Returns None to decline (driver falls back to the join kernel)
    when the graph is degenerate (no vertices / zero total weight), or
    the m-scaled ΔQ could overflow int64 (max_k·M ≥ 2^62 — the join
    kernel's decimal(38,0) has headroom this tier lacks; at that weight
    scale the graph is far past the cap anyway).
    """
    n = g.n
    if n == 0:
        return None
    n_part = int(g.edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    merged = g.edges
    view = merged.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("weight").alias("w")
    ).unionByName(
        merged.select(
            F.col("dst").alias("u"),
            F.col("src").alias("v"),
            F.col("weight").alias("w"),
        )
    )
    adj = g.receiver_weighted_adjacency(view, n_part)
    internal_w = np.zeros(n, dtype=np.int64)
    if internal is not None:
        pdf = internal.toPandas()
        internal_w[g.cid_of(pdf["id"].to_numpy())] = pdf[
            "internal_w"
        ].to_numpy()
    lv = _arrays_level(
        "gather", adj, g.orig_id, internal_w, g.has_edge,
        min_progress, progress_counter, fixed_cycles,
    )
    g.release()
    return lv


def _louvain_level_local(
    g: _LocalGraph,
    min_progress: int,
    progress_counter: int,
    fixed_cycles: int | None = None,
) -> _Level | None:
    """One level in the driver process on a level's arrays: the
    receiver-keyed view is both directions of the pairs as driver
    Pairs, so each pass is one call of the gather kernel's array
    function on the whole level. Same trajectory and Q bit for bit as
    the gather kernel on the same level; declines (None) where it
    does."""
    adj = _local_pairs(
        np.concatenate((g.src, g.dst)),
        np.concatenate((g.dst, g.src)),
        np.concatenate((g.w, g.w)),
    )
    has_edge = np.bincount(adj.keys, minlength=g.n) > 0
    return _arrays_level(
        "local", adj, g.ids, g.internal_w, has_edge,
        min_progress, progress_counter, fixed_cycles,
    )


def _arrays_level(
    kernel: str,
    adj,
    ids: np.ndarray,
    internal_w: np.ndarray,
    has_edge: np.ndarray,
    min_progress: int,
    progress_counter: int,
    fixed_cycles: int | None,
) -> _Level | None:
    """The move loop and modularity of a level with its state on driver
    arrays, shared by the gather and local kernels: each pass runs the
    gather kernels over ``adj`` (receiver-keyed, both directions; blobs
    or driver Pairs). Returns None (decline) on zero total weight or
    when max_k·M ≥ 2^62 would overflow the int64 ΔQ."""
    n = len(ids)
    node_w = gather.gather_key_weight_sums(adj, n)
    k_vec = node_w + internal_w
    m_total = int(k_vec.sum())
    if m_total <= 0:
        return None
    if int(k_vec.max()) * m_total >= 1 << 62:
        return None  # int64 ΔQ headroom exhausted — join kernel's decimal
    comm = np.arange(n, dtype=np.int64)
    sigma = k_vec.copy()  # one vertex per community initially
    move = np.zeros(n, dtype=bool)
    halt = _Halt(min_progress, progress_counter, fixed_cycles)
    while True:
        even = halt.next_pass()
        best = gather.gather_louvain_votes(adj, comm, sigma, k_vec, internal_w, m_total, n)
        gate = comm > best if even else comm < best
        move = (best != _LPA_NONE) & (best != comm) & gate
        comm = np.where(move, best, comm)
        sigma = np.zeros(n, dtype=np.int64)
        np.add.at(sigma, comm, k_vec)
        if halt.done(lambda: int(np.count_nonzero(move))):
            break

    # modularity over vertices with ≥1 incident edge (the join
    # kernel's msgs-semijoin — not node_w > 0, which drops a vertex
    # whose edges all weigh 0): q_i = (internal + w_own)/M − σ·k/M²,
    # negatives clamped — identical per-vertex doubles, summation
    # order absorbed by callers' tolerance (round(6) in the oracle)
    w_own = gather.gather_own_comm_weight(adj, comm, n)
    mf = float(m_total)
    q_i = (internal_w + w_own) / mf - sigma[comm] * k_vec.astype(
        np.float64
    ) / (mf * mf)
    q = float(np.sum(np.where(has_edge, np.maximum(q_i, 0.0), 0.0)))
    return _Level(
        q=q, passes=halt.count // 2, kernel=kernel, ids=ids, comm=comm,
        sigma=sigma, internal_w=internal_w, node_w=node_w, changed=move, adj=adj,
    )
