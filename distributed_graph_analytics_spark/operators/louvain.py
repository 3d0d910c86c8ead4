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
  become vertices (compressGraph, :273-342);
- outer loop: repeat while Q improves by > 0.001
  (AbstractLouvainRunner.scala:63).

Everything is joins + aggregations; the ΔQ argmax is a single
max(struct(...)) aggregate — no window, no Python in the loop.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from distributed_graph_analytics_spark.plans.iteration import truncate


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

    ``strategy``: "auto" picks the broadcast-gather kernel when |V| ≤
    the tier cap, weights are integral, and the m-scaled integer ΔQ
    fits int64 (plans/gather.py ``gather_louvain_votes`` — one
    shuffle-free vectorized argmax pass per move cycle; exact integer
    ΔQ and the (dq, community) tie-break make per-cycle communities,
    changed counts, and the progress halt identical to the join
    kernel, pinned by tests/test_gather_tier.py), else the join-agg
    kernel; "gather"/"shuffle" force a tier.
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
    """
    t0 = time.time()
    result = LouvainResult()

    # level state: edge table + per-vertex internal weight carried
    # between levels (level-0 vertices have internal weight 0)
    cur_edges = edges
    internal: DataFrame | None = None  # (id, internal_w) for level > 0
    mapping: DataFrame | None = None  # original id -> current-level vertex id
    q_prev = -1.0
    level = -1
    if checkpoint_manager is not None and resume:
        found = _try_resume_louvain(checkpoint_manager)
        if found is not None:
            level, frames = found
            mapping = truncate(frames[_CKPT_MAPPING][0])
            cur_edges = truncate(frames[_CKPT_NEXT_EDGES][0])
            internal = truncate(frames[_CKPT_NEXT_INTERNAL][0])
            result.level0 = truncate(frames[_CKPT_LEVEL0][0])
            result.resumed_from = level
            meta = frames[_CKPT_MAPPING][1]
            q_prev = float(meta["metrics"]["q"])
            for lv in meta["metrics"].get("q_history", []):
                result.levels.append(
                    LouvainLevel(level=int(lv["level"]), q=float(lv["q"]), cycles=int(lv["cycles"]))
                )
    while level + 1 < max_levels:
        level += 1
        q, state, passes = _louvain_level_with_internal(
            cur_edges, internal, min_progress, progress_counter,
            strategy=strategy,
        )
        assignment = truncate(state.select("id", "community"))
        result.levels.append(LouvainLevel(level=level, q=q, cycles=passes, assignment=assignment))
        if level == 0:
            result.level0 = assignment
            mapping = assignment  # original id -> community
        else:
            mapping = truncate(
                mapping.withColumnRenamed("community", "prev")
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
                {"level": lv.level, "q": lv.q, "cycles": lv.cycles}
                for lv in result.levels
            ]
            checkpoint_manager.save(
                _CKPT_VERTICES,
                state.select("id", "community", "internal_w", "node_w", "sigma_tot"),
                level,
                {"q": q, "cycles": passes, "q_history": hist},
            )
        if not (q > q_prev + 0.001):
            break
        q_prev = q
        # ---- compressGraph ----
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
        cur_edges = truncate(
            triplets.where(F.col("src_comm") != F.col("dst_comm"))
            .select(
                F.least("src_comm", "dst_comm").alias("src"),
                F.greatest("src_comm", "dst_comm").alias("dst"),
                "weight",
            )
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
        )
        if checkpoint_manager is not None:
            # resume set: a killed run restarts from this level's output
            checkpoint_manager.save(
                _CKPT_MAPPING, mapping, level, {"q": q, "q_history": hist}
            )
            checkpoint_manager.save(_CKPT_NEXT_EDGES, cur_edges, level, {})
            checkpoint_manager.save(_CKPT_NEXT_INTERNAL, internal, level, {})
            if level == 0:
                checkpoint_manager.save(_CKPT_LEVEL0, result.level0, level, {})
    result.final = mapping
    result.wall_seconds = time.time() - t0
    return result


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
    if strategy not in ("auto", "gather", "shuffle"):
        raise ValueError(f"unknown louvain strategy {strategy!r}")
    if strategy != "shuffle":
        from distributed_graph_analytics_spark.plans.gather import (
            gather_tier_applies,
            integral_weight,
        )

        # fractional weights can't ride the int64 blob packs (silent
        # truncation) — auto routes them to the join kernel; forced
        # "gather" falls through and raises in the weighted builder
        if strategy == "gather" or (
            integral_weight(edges) and gather_tier_applies(edges)
        ):
            res = _louvain_level_gather(
                edges, internal, min_progress, progress_counter, fixed_cycles,
                forced=strategy == "gather",
            )
            if res is not None:
                return res
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

    updated = -min_progress
    updated_last_phase = 0
    even = False
    count = 0
    stop = 0
    while True:
        count += 1
        even = not even
        msgs = _community_messages(state, merged)
        new_state = truncate(_best_community(state, msgs, m_total, even))
        state.unpersist()
        state = new_state
        if fixed_cycles is not None:
            if count >= fixed_cycles:
                break
            continue
        if even:
            updated = 0
        updated += state.where("changed").count()
        if not even:
            if updated >= updated_last_phase - min_progress:
                stop += 1
            updated_last_phase = updated
        if not (stop <= progress_counter and (even or (updated > 0 and count < 100_000))):
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
    return q, state, count // 2


def _louvain_level_gather(
    edges: DataFrame,
    internal: DataFrame | None,
    min_progress: int,
    progress_counter: int,
    fixed_cycles: int | None,
    forced: bool = False,
) -> tuple[float, DataFrame, int] | None:
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
    when |V| exceeds the tier cap (unless ``forced``), the graph is
    degenerate (no vertices / zero total weight), or the m-scaled ΔQ
    could overflow int64 (max_k·M ≥ 2^62 — the join kernel's
    decimal(38,0) has headroom this tier lacks; at that weight scale
    the graph is far past the cap anyway).
    """
    import numpy as np
    import pandas as pd

    from distributed_graph_analytics_spark.plans.gather import (
        GatherGraph,
        gather_key_weight_sums,
        gather_louvain_votes,
        gather_own_comm_weight,
        max_gather_vertices,
        _LPA_NONE,
    )

    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    merged = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    # vertex dictionary: edge endpoints ∪ internal-only vertices (a
    # fully-internal community from the previous compression has no
    # edges but must stay a vertex — the shuffle kernel's full_outer),
    # each flagged with whether it has ≥ 1 incident edge
    has_edge = F.lit(True).alias("has_edge")
    ids = merged.select(F.col("src").alias("id"), has_edge).union(
        merged.select(F.col("dst").alias("id"), has_edge)
    )
    if internal is not None:
        ids = ids.union(internal.select("id", F.lit(False).alias("has_edge")))
    dictionary = (
        ids.groupBy("id").agg(F.max("has_edge").alias("has_edge")).toPandas()
        .sort_values("id")
    )
    uniq = dictionary["id"].to_numpy()
    n = len(uniq)
    if n == 0 or (not forced and n > max_gather_vertices()):
        return None
    g = GatherGraph(edges=merged, uniq=uniq.astype(np.int64), n=n)

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
    node_w = gather_key_weight_sums(adj, n)
    internal_w = np.zeros(n, dtype=np.int64)
    if internal is not None:
        pdf = internal.toPandas()
        internal_w[g.cid_of(pdf["id"].to_numpy())] = pdf[
            "internal_w"
        ].to_numpy()
    k_vec = node_w + internal_w
    m_total = int(k_vec.sum())
    if m_total <= 0:
        return None
    if int(k_vec.max()) * m_total >= 1 << 62:
        return None  # int64 ΔQ headroom exhausted — join kernel's decimal
    comm = np.arange(n, dtype=np.int64)
    sigma = k_vec.copy()  # one vertex per community initially
    changed_mask = np.zeros(n, dtype=bool)

    updated = -min_progress
    updated_last_phase = 0
    even = False
    count = 0
    stop = 0
    while True:
        count += 1
        even = not even
        best = gather_louvain_votes(adj, comm, sigma, k_vec, internal_w, m_total, n)
        if even:
            gate = comm > best
        else:
            gate = comm < best
        move = (best != _LPA_NONE) & (best != comm) & gate
        comm = np.where(move, best, comm)
        changed_mask = move
        sigma = np.zeros(n, dtype=np.int64)
        np.add.at(sigma, comm, k_vec)
        if fixed_cycles is not None:
            if count >= fixed_cycles:
                break
            continue
        if even:
            updated = 0
        updated += int(np.count_nonzero(move))
        if not even:
            if updated >= updated_last_phase - min_progress:
                stop += 1
            updated_last_phase = updated
        if not (
            stop <= progress_counter
            and (even or (updated > 0 and count < 100_000))
        ):
            break

    # modularity over vertices with ≥1 incident edge (the join
    # kernel's msgs-semijoin — not node_w > 0, which drops a vertex
    # whose edges all weigh 0): q_i = (internal + w_own)/M − σ·k/M²,
    # negatives clamped — identical per-vertex doubles, summation
    # order absorbed by callers' tolerance (round(6) in the oracle)
    w_own = gather_own_comm_weight(adj, comm, n)
    has_msgs = dictionary["has_edge"].to_numpy(dtype=bool)
    mf = float(m_total)
    q_i = (internal_w + w_own) / mf - sigma[comm] * k_vec.astype(
        np.float64
    ) / (mf * mf)
    q = float(np.sum(np.where(has_msgs, np.maximum(q_i, 0.0), 0.0)))

    state = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": g.orig_id,
                "community": g.orig_id[comm],
                "sigma_tot": sigma[comm],
                "internal_w": internal_w,
                "node_w": node_w,
                "changed": changed_mask,
            }
        ),
        schema=(
            "id long, community long, sigma_tot long, internal_w long, "
            "node_w long, changed boolean"
        ),
    )
    g.release()
    return q, state, count // 2
